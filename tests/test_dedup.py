"""Dedup-operator tests: exact, MinHash-LSH, SimHash, n-gram Jaccard."""

import pytest
from pyspark.sql import functions as F

from intake_esm_spark.operators import dedup

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
        (3, "The  Quick Brown Fox jumps over the lazy dog near the river bank today "),  # normalized dup of 1
        (4, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup (1 word)
        (5, "completely different text about spark catalyst optimizer and shuffle plans"),
        (6, "another unrelated document describing minhash banding and jaccard similarity"),
    ]
    return spark.createDataFrame(base, ["doc_id", "text"])


def test_exact_duplicates(docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["canonical_id"] == 1
    assert g["member_ids"] == [1, 2, 3]


def test_dedup_exact_survivors(docs):
    kept = dedup.dedup_exact(docs)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 4, 5, 6]


def test_minhash_candidates(docs):
    pairs = dedup.minhash_lsh_candidates(
        docs, num_hashes=32, bands=16, shingle_n=3
    ).collect()
    pairset = {(r["id_a"], r["id_b"]) for r in pairs}
    # exact dups always collide in every band
    assert (1, 2) in pairset and (1, 3) in pairset and (2, 3) in pairset
    # near-dup (1,4) shares most shingles - with 16 bands of 2 it should collide
    assert (1, 4) in pairset
    # unrelated docs must not pair
    assert (5, 6) not in pairset


def test_jaccard_pairs(docs):
    out = dedup.jaccard_pairs(docs, shingle_n=3, threshold=0.5)
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert rows[(1, 2)] == 1.0
    assert rows[(1, 3)] == 1.0
    assert 0.5 <= rows[(1, 4)] < 1.0
    assert (5, 6) not in rows


def test_jaccard_with_candidates(docs):
    cands = dedup.minhash_lsh_candidates(docs, num_hashes=32, bands=16, shingle_n=3)
    out = dedup.jaccard_pairs(docs, shingle_n=3, threshold=0.5, candidates=cands)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in pairs and (1, 3) in pairs


def test_simhash_candidates(docs):
    pairs = dedup.simhash_candidates(docs, shingle_n=3, max_hamming=6)
    pairset = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in pairset and (1, 3) in pairset
    assert (5, 6) not in pairset


def test_real_documents_have_dups(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    kept = dedup.dedup_exact(docs).count()
    assert 0 < kept <= n


def test_doc_freq_cap_bounds_join_input(spark):
    """Adversarial boilerplate corpus: every document shares one licence
    sentence, so its internal 5-grams have doc-frequency == n_docs and the
    uncapped self-join emits O(n_docs²) rows per such shingle. The cap
    removes exactly those shingles (quantified via shingle_doc_freq), and
    the one genuinely near-duplicate pair still surfaces."""
    boiler = (
        "all rights reserved this document is provided as is "
        "without warranty of any kind express or implied"
    )
    rows = [
        (
            i,
            f"{boiler} unique content number {i} alpha beta gamma delta "
            f"epsilon zeta eta theta iota kappa",
        )
        for i in range(40)
    ]
    shared = "matching informative content one two three four five six seven eight nine ten"
    rows.append((100, f"{boiler} {shared}"))
    rows.append((101, f"{boiler} {shared} extra"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    cap = 10
    freq = dedup.shingle_doc_freq(docs, shingle_n=5)
    pair_rows = freq.select(
        (F.col("doc_freq") * (F.col("doc_freq") - 1) / 2).alias("p"), "doc_freq"
    )
    uncapped_join_rows = pair_rows.agg(F.sum("p")).collect()[0][0]
    capped_join_rows = (
        pair_rows.filter(F.col("doc_freq") <= cap).agg(F.sum("p")).collect()[0][0]
    )
    # the boilerplate shingles dominate the uncapped join; capping removes
    # the quadratic mass (42 docs share ~14 boiler shingles -> ~12k rows)
    assert uncapped_join_rows > 20 * capped_join_rows

    out = dedup.jaccard_pairs(docs, shingle_n=5, threshold=0.8, max_doc_freq=cap)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert set(pairs) == {(100, 101)}
    assert pairs[(100, 101)] >= 0.8
    # the fused LSH+verify pipeline agrees under the same cap
    fused = dedup.near_duplicates(
        docs, num_hashes=32, bands=16, shingle_n=5, threshold=0.8, max_doc_freq=cap
    )
    assert {(r["id_a"], r["id_b"]) for r in fused.collect()} == {(100, 101)}


def test_default_cap_lossless_on_testdata(spark):
    """At the default cap the capped and strict (max_doc_freq=None) plans
    agree pair-for-pair and value-for-value on the synthetic documents
    table — the cap only engages on adversarial boilerplate. The fused
    near_duplicates pipeline, run uncapped (its verify then sees uncapped
    rows), finds the same pairs with the same values."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    capped = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.jaccard_pairs(docs, shingle_n=5, threshold=0.8).collect()
    }
    strict = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.jaccard_pairs(
            docs, shingle_n=5, threshold=0.8, max_doc_freq=None
        ).collect()
    }
    fused_uncapped = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.near_duplicates(
            docs, shingle_n=5, threshold=0.8, max_doc_freq=None
        ).collect()
    }
    assert strict  # a vacuous comparison would pass on any code
    assert capped == strict
    assert fused_uncapped == strict


def test_dedup_exact_incremental(spark):
    hist = spark.createDataFrame(
        [(1, "shared history text about rivers and banks today")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (10, "shared history text about rivers and banks today"),  # dup of history
            (11, "Shared  History text about rivers and banks today"),  # normalized dup of history
            (12, "brand new content about spark plans"),
            (13, "brand new content about spark plans"),  # in-batch dup of 12
            (14, "entirely fresh third document"),
        ],
        ["doc_id", "text"],
    )
    kept = sorted(
        r["doc_id"] for r in dedup.dedup_exact_incremental(batch, hist).collect()
    )
    assert kept == [12, 14]


def test_lsh_index_incremental_matches_all_pairs(spark, tmp_path, docs):
    """The index probe + verify must return EXACTLY the strict all-pairs
    Jaccard result restricted to pairs touching the batch — including
    history-batch pairs (found via the index, without re-shingling
    history) and batch-batch pairs."""
    hist = docs.filter(F.col("doc_id") <= 3)
    batch_rows = [
        (10, "the quick brown fox jumps over the lazy dog near the river bank today"),  # dup of hist 1
        (11, "completely different text about spark catalyst optimizer and shuffle plans "),  # ~dup of hist 5? no - 5 not in hist
        (12, "a fresh batch document with its own words entirely"),
        (13, "a fresh batch document with its own words entirely okay"),  # near-dup of 12
    ]
    batch = spark.createDataFrame(batch_rows, ["doc_id", "text"])
    path = str(tmp_path / "lsh_index")
    dedup.write_lsh_index(hist, path, num_hashes=32, bands=16, shingle_n=3)
    # probe must use the INDEX's stored params (shingle_n=3), not defaults
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.near_duplicates_incremental(
            spark, path, hist, batch, threshold=0.5
        ).collect()
    }
    union = hist.unionByName(batch)
    expected = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.jaccard_pairs(
            union, shingle_n=3, threshold=0.5, max_doc_freq=None
        ).collect()
        if r["id_b"] >= 10  # touching the batch
    }
    assert got == expected
    assert (1, 10) in got  # history-batch pair found through the index
    assert (12, 13) in got  # batch-batch pair
    assert all(a >= 10 or b >= 10 for a, b in got)


def test_incremental_edge_cases(spark, tmp_path, docs):
    """Empty batch and no-candidate batch must return empty frames, not
    crash; an empty history index still surfaces in-batch pairs."""
    hist = docs.filter(F.col("doc_id") <= 4)
    path = str(tmp_path / "idx")
    dedup.write_lsh_index(hist, path, num_hashes=32, bands=16, shingle_n=3)
    empty_batch = docs.filter(F.col("doc_id") < 0)
    assert (
        dedup.near_duplicates_incremental(spark, path, hist, empty_batch).count() == 0
    )
    assert dedup.dedup_exact_incremental(empty_batch, hist).count() == 0
    unrelated = spark.createDataFrame(
        [(50, "totally novel words that no history document shares at all")],
        ["doc_id", "text"],
    )
    assert (
        dedup.near_duplicates_incremental(spark, path, hist, unrelated).count() == 0
    )
    # empty-history index: in-batch pair still found
    path2 = str(tmp_path / "idx2")
    dedup.write_lsh_index(docs.filter(F.col("doc_id") < 0), path2, shingle_n=3)
    twins = spark.createDataFrame(
        [
            (60, "identical twin text in the incoming batch only here"),
            (61, "identical twin text in the incoming batch only here"),
        ],
        ["doc_id", "text"],
    )
    got = dedup.near_duplicates_incremental(
        spark, path2, docs.filter(F.col("doc_id") < 0), twins, threshold=0.8
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(60, 61)}


def test_connected_components_transitive_chain(spark):
    """A~B, B~C (A and C never directly paired) must land all three in ONE
    component with the min id as canonical — the property the pair-local
    survivor rule lacks."""
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    cc = {
        r["doc_id"]: r["component_id"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert cc == {1: 1, 2: 1, 3: 1}


def test_connected_components_multiple_and_chain_order(spark):
    """Two disjoint components, one of them a long chain fed in descending
    order (worst case for one-hop propagation)."""
    chain = [(i + 1, i) for i in range(1, 12)]  # 1-2-3-...-12 as (hi, lo)
    other = [(100, 101), (101, 103)]
    pairs = spark.createDataFrame(chain + other, ["id_a", "id_b"])
    cc = {
        r["doc_id"]: r["component_id"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert all(cc[i] == 1 for i in range(1, 13))
    assert cc[100] == cc[101] == cc[103] == 100
    assert len(cc) == 15


def test_connected_components_vs_union_find(spark):
    """Random pair graph vs a driver-side union-find ground truth."""
    import random

    rng = random.Random(7)
    nodes = list(range(200))
    pairs = [
        (a, b)
        for a, b in (
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
        )
        if a != b
    ]
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    in_graph = {n for p in pairs for n in p}
    expected = {n: find(n) for n in in_graph}
    got = {
        r["doc_id"]: r["component_id"]
        for r in dedup.connected_components(
            spark.createDataFrame(pairs, ["id_a", "id_b"])
        ).collect()
    }
    assert got == expected


def test_connected_components_empty(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(pairs).count() == 0


def test_connected_components_chain_round_bound(spark):
    """Scale probe: a 10k-node CHAIN is the worst case for naive label
    propagation (O(diameter) = 10k rounds). Large-star/small-star must
    close it within the SoCC'14 O(log² n) bound — in practice ~log2(n)
    rounds — turning the docstring's complexity claim into a tested
    invariant."""
    n = 10_000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = dedup.connected_components(pairs)
    comps = out.select("component_id").distinct().collect()
    assert [r["component_id"] for r in comps] == [0]
    assert out.count() == n
    # ceil(log2(10k)) = 14; the exact-set confirm can add one round
    assert dedup.LAST_CC_ROUNDS is not None
    assert dedup.LAST_CC_ROUNDS <= 15, (
        f"chain graph took {dedup.LAST_CC_ROUNDS} rounds — label-propagation"
        " regression?"
    )


def test_dedup_components_cluster_canonical(spark):
    """Chain A~B~C: pair-local dedup (drop id_b per pair) would keep only
    A; cluster-canonical keeps the component min and every unpaired doc."""
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 6)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    kept = sorted(
        r["doc_id"] for r in dedup.dedup_components(docs, pairs).collect()
    )
    assert kept == [1, 4, 5]


def test_dedup_components_survivor_by_keeps_best(spark):
    """survivor_by keeps the HIGHEST-scoring member per component (not
    the min id), ties to min id; unpaired docs survive untouched."""
    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (4, 0.1), (5, 0.7)],
        ["doc_id", "score"],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedup_components(
            docs, pairs, survivor_by="score"
        ).collect()
    )
    assert kept == [2, 4, 5]  # 2 beats min-id 1 on score


def test_dedup_components_survivor_by_tie_and_null(spark):
    # component {1,2,3}: 2 and 3 tie on the max score -> min id 2 wins;
    # component {6,7}: null score loses to any scored member
    docs = spark.createDataFrame(
        [(1, 0.1), (2, 0.8), (3, 0.8), (6, None), (7, 0.0)],
        "doc_id bigint, score double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (6, 7)], "id_a bigint, id_b bigint"
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedup_components(docs, pairs, survivor_by="score").collect()
    )
    assert kept == [2, 7]


def test_dedup_components_survivor_by_frame(spark):
    # precomputed (id, score) frame form — and the all-null component
    # falls back to min id
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3)], ["doc_id", "text"]
    )
    scores = spark.createDataFrame(
        [(1, None), (2, None), (3, None)], "doc_id bigint, s double"
    )
    pairs = spark.createDataFrame([(2, 3)], "id_a bigint, id_b bigint")
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedup_components(docs, pairs, survivor_by=scores).collect()
    )
    assert kept == [1, 2]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="survivor_by"):
        dedup.dedup_components(
            docs, pairs, survivor_by=scores.withColumn("extra", scores["s"])
        )


def test_candidates_cap_is_corpus_wide(spark):
    """The doc-frequency cap under a candidate restriction must use
    CORPUS-wide frequencies: capping within the candidate subset would
    readmit boilerplate whenever the subset is small (its within-subset
    frequency dips under the cap), making jaccard values depend on the
    candidate set. Pairs among candidate docs must carry exactly the
    jaccard the all-pairs capped plan assigns them."""
    boiler = (
        "all rights reserved this document is provided as is "
        "without warranty of any kind express or implied"
    )
    rows = [
        (
            i,
            f"{boiler} unique content number {i} alpha beta gamma delta "
            f"epsilon zeta eta theta iota kappa",
        )
        for i in range(40)
    ]
    shared = "matching informative content one two three four five six seven eight nine ten"
    rows.append((100, f"{boiler} {shared}"))
    rows.append((101, f"{boiler} {shared} extra"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    cap = 20  # boiler df: 42 corpus-wide (> cap) but 12 within the subset (<= cap)
    cand = spark.createDataFrame(
        [(100, 101), (0, 1), (2, 3), (4, 5), (6, 7), (8, 9)], ["id_a", "id_b"]
    )
    full = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.jaccard_pairs(
            docs, shingle_n=5, threshold=0.3, max_doc_freq=cap
        ).collect()
    }
    sub = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.jaccard_pairs(
            docs, shingle_n=5, threshold=0.3, candidates=cand, max_doc_freq=cap
        ).collect()
    }
    cand_docs = {0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 100, 101}
    expected = {
        p: j for p, j in full.items() if p[0] in cand_docs and p[1] in cand_docs
    }
    assert sub == expected


def test_lsh_index_rejects_foreign_hash_scheme(spark, tmp_path):
    """Probing an index signatured under a DIFFERENT hash family would
    band-join to ~zero collisions and silently report no near-dups; the
    sidecar scheme stamp turns that into a loud error."""
    import json

    from intake_esm_spark.sources.tables import load_table
    from intake_esm_spark.util import write_text_sidecar

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(20)
    path = str(tmp_path / "lsh_idx")
    dedup.write_lsh_index(docs, path, num_hashes=8, bands=4)
    params = json.loads(spark.read.text(f"{path}/_lsh_params").collect()[0][0])
    assert params["hash_scheme"] == dedup.LSH_HASH_SCHEME

    params.pop("hash_scheme")  # simulate a pre-round-5 xxhash64 index
    write_text_sidecar(spark, f"{path}/_lsh_params", json.dumps(params))
    with pytest.raises(ValueError, match="hash scheme"):
        dedup.near_duplicates_incremental(spark, path, docs, docs, threshold=0.8)


def test_dedup_components_survivor_by_partial_score_frame(spark):
    """A component whose members are ALL missing from the score frame
    must still keep its min-id survivor (the score join is a LEFT join;
    an inner join would drop every member of the unscored component)."""
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 4, 5)], ["doc_id", "text"]
    )
    # component {2,3} scored, component {4,5} entirely unscored
    scores = spark.createDataFrame([(2, 1.0), (3, 9.0)], "doc_id bigint, s double")
    pairs = spark.createDataFrame([(2, 3), (4, 5)], "id_a bigint, id_b bigint")
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedup_components(docs, pairs, survivor_by=scores).collect()
    )
    # 1 untouched; 3 wins {2,3} on score; 4 survives {4,5} by min id
    assert kept == [1, 3, 4]


# --- containment_pairs ------------------------------------------------------


def test_containment_catches_quote_inside_long_doc(spark):
    """A short doc quoted wholesale inside a long one: containment 1.0
    even though Jaccard is far below any dedup threshold — the
    asymmetric modality's whole point."""
    from intake_esm_spark.operators.dedup import containment_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"filler{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    out = containment_pairs(df, threshold=0.9, shingle_n=5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["containment"] == 1.0
    assert r["jaccard"] < 0.9  # jaccard alone would have missed it


def test_containment_symmetric_on_identical_docs(spark):
    from intake_esm_spark.operators.dedup import containment_pairs

    t = "one two three four five six seven"
    df = spark.createDataFrame(
        [(1, t), (2, t), (3, "totally different words here entirely now")],
        "doc_id long, text string",
    )
    out = containment_pairs(df, threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(1, 2)]
    assert out[0]["containment"] == 1.0 and out[0]["jaccard"] == 1.0


def test_containment_threshold_validation(spark):
    import pytest as _pt

    from intake_esm_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    with _pt.raises(ValueError):
        containment_pairs(df, threshold=0.0)
