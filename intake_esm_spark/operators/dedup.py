"""Deduplication operators for training-data pipelines.

Four tiers, all expressed as DataFrame plans (no driver-side loops):

* **exact** — hash-groupBy on a normalized-text fingerprint. One shuffle on
  the 16-byte hash; the canonical survivor is min(id) per group.
* **MinHash + LSH** — shingle -> per-permutation min of an affine
  universal hash over a 60-bit md5 base (engine-portable; see
  ``perm_coeffs``) -> band hashes -> explode bands -> self-join on
  (band_idx, band_hash). The join is on short band-hash keys, so
  candidate generation scales as the number of *colliding* pairs, never
  the full n² — the standard Broder MinHash / banding construction
  (Mining of Massive Datasets ch.3).
* **SimHash** — sign-sketch of 60-bit portable shingle hashes (bits 60-63
  of the 64-bit layout are constant 0); near-dups are pairs within
  Hamming distance k, found by band-exact-match on 4 x 16-bit chunks
  (Charikar'02 / Manku et al. WWW'07 chunking trick).
* **exact n-gram Jaccard** — the verification stage for LSH candidates (or
  a standalone exact pass at small scale): explode shingles, equi-join on
  shingle, count intersections, Jaccard = |∩| / (|A|+|B|-|∩|).

Skew note: a degenerate band hash (e.g. many near-empty docs) would hot-spot
the self-join; AQE skew-join handles it at runtime, and the shingle stage
already collapses whitespace-only docs to one shingle.
"""

from __future__ import annotations

import hashlib
import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from intake_esm_spark.functions.text import (
    fingerprint_md5,
    portable_hash60,
    shingles,
    shingles_of_words,
    words_array,
)
from intake_esm_spark.util import read_text_sidecar, write_text_sidecar

from ._util import _spread

_log = logging.getLogger(__name__)

LAST_CC_ROUNDS: int | None = None
"""Rounds the most recent connected_components() run took to converge —
observable for tests/telemetry pinning the O(log²) bound (SoCC'14)."""

MERSENNE_P = (1 << 31) - 1
"""Modulus of the MinHash permutation family h_i(x) = (a_i*x + b_i) mod p.

A Mersenne prime < 2^31 keeps every intermediate product a_i * (x mod p)
below 2^62 — exact int64 arithmetic in ANY engine (Spark bigint, DuckDB
BIGINT, C int64_t), no overflow, no wrap divergence. That is the whole
point of this hash family over seeded xxhash64: the signature (and thus
every LSH candidate pair) is bit-reproducible by a plain-SQL oracle."""


def perm_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) coefficients for the MinHash permutation
    family, derived from md5 of the permutation index — no RNG state, no
    seed plumbing; the same list is regenerated identically by the engine,
    the SQL-oracle generator, and any future reimplementation.
    a_i ∈ [1, p-1], b_i ∈ [0, p-1]."""

    def _h(tag: str) -> int:
        return int.from_bytes(hashlib.md5(tag.encode()).digest()[:8], "big")

    return [
        (_h(f"minhash-a-{i}") % (MERSENNE_P - 1) + 1, _h(f"minhash-b-{i}") % MERSENNE_P)
        for i in range(num_hashes)
    ]


def _perm_min(h: Column, a: int, b: int) -> Column:
    """min-aggregatable permuted hash: (a*(h mod p) + b) mod p. ``h`` is the
    non-negative 60-bit ``portable_hash60`` of a shingle, so every term is
    non-negative and ``%`` agrees across engines (no pmod concerns)."""
    return F.min((F.lit(a) * (h % MERSENNE_P) + F.lit(b)) % MERSENNE_P)


def _shingle_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    distinct: bool = True,
    with_count: bool = False,
) -> DataFrame:
    """(id, shingle) rows — the zero-shuffle shingle pipeline.

    ``text.shingles`` extracts every overlapping n-gram with one codegen'd
    regex pass (no interpreted array lambdas, no window/sort over token
    rows — an earlier posexplode+lead formulation shuffled every token by
    id). Per-document distinctness is ``array_distinct`` INSIDE the row
    before the explode, so no stage of this operator exchanges data at
    all; downstream aggregations see shingle rows straight out of the
    scan. The history: array-lambda form ~5x slower than posexplode+lead,
    which is ~1.5x slower than this.
    """
    arr = shingles(F.col(text_col), shingle_n)
    if distinct:
        arr = F.array_distinct(arr)
    proj = _spread(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"), arr.alias("__sh_arr")
    )
    if with_count:
        # per-doc shingle count is size() of the in-row array — free here,
        # a whole window shuffle if derived after the explode
        return proj.select(
            "id", F.size("__sh_arr").alias("n_sh"), F.explode("__sh_arr").alias("sh")
        )
    return proj.select("id", F.explode("__sh_arr").alias("sh"))


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of exact duplicates (normalized): one row per duplicated
    fingerprint with the member ids and the canonical (min) id."""
    return (
        _spread(df.select(id_col, text_col))
        .select(F.col(id_col), fingerprint_md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("canonical_id"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row per distinct normalized text — the min-id survivor.

    The survivor row is selected INSIDE the fingerprint aggregation:
    ``groupBy(fp).agg(min_by(struct(*cols), id))``. The plan has exactly ONE
    exchange, keyed by the 16-byte md5 fingerprint, carrying each row once —
    there is no second pass over ``df`` and no survivors join. (The previous
    formulation — groupBy(fp) -> min(id) -> left-semi join back — was
    large-large at scale: survivors ≈ distinct docs, far beyond broadcast,
    so the whole body re-shuffled on doc_id. min_by folds the selection into
    the one shuffle the dedup fundamentally needs.) Ties cannot occur: ids
    are unique, so min_by is deterministic."""
    return _min_id_survivors(_fp_rows(df, text_col), id_col)


def _fp_rows(df: DataFrame, text_col: str) -> DataFrame:
    """``(__row, __fp)``: each row as one struct beside its normalized-text
    fingerprint — the input of :func:`_min_id_survivors`."""
    return df.select(
        F.struct(*df.columns).alias("__row"),
        fingerprint_md5(F.col(text_col)).alias("__fp"),
    )


def _min_id_survivors(rows: DataFrame, id_col: str) -> DataFrame:
    """The exact-dedup survivor rule: per ``__fp``, the ``__row`` with the
    min ``id_col``, selected inside the one fingerprint-keyed aggregation."""
    return (
        rows.groupBy("__fp")
        .agg(F.min_by(F.col("__row"), F.col(f"__row.{id_col}")).alias("__row"))
        .select("__row.*")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) that collide in >=1 LSH
    band. rows/bands: signature split into ``bands`` bands of
    ``num_hashes/bands`` rows; a pair is a candidate iff some band's hash
    matches exactly."""
    # Explode shingles ONCE (distinct=False: min over the multiset equals
    # min over the set, and skipping array_distinct is cheaper), then the
    # shared banding construction — map-side partial mins mean the shuffle
    # carries (id, num_hashes longs) per document, and the shingle/
    # normalization expression tree is evaluated once per shingle instead
    # of once per permutation (the naive form was ~100x slower at sf0.1).
    hashed = _shingle_rows(df, text_col, id_col, shingle_n, distinct=False).select(
        "id", portable_hash60(F.col("sh")).alias("h")
    )
    # r14: pin the (docs × bands)-sized banded frame — the self-join
    # references it twice and each reference re-ran the whole shingle +
    # signature subtree (the near_duplicates pin discipline)
    banded = _banded_from_hashed(hashed, num_hashes, bands).localCheckpoint(
        eager=False
    )
    return (
        _band_collisions(banded, banded, F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def _band_collisions(left: DataFrame, right: DataFrame, ids: Column) -> DataFrame:
    """The LSH band join: rows of two banded ``(id, band, band_hash)``
    frames, aliased ``l`` and ``r``, that share a band hash and satisfy
    the caller's id predicate ``ids``. Callers project and ``distinct``."""
    return left.alias("l").join(
        right.alias("r"),
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.band_hash") == F.col("r.band_hash"))
        & ids,
    )


LSH_HASH_SCHEME = "md5-60-affine-v1"
"""Identifies the MinHash base-hash + permutation family. Stamped into
every LSH index sidecar and checked on probe: signatures from different
families band-join to ~zero collisions, so probing a stale index would
silently report no near-duplicates. Bump when the family changes (it
changed once: seeded xxhash64 -> md5-60 + affine, round 5)."""

DEFAULT_MAX_DOC_FREQ = 256
"""Default document-frequency cap for the Jaccard shingle self-join.

A shingle appearing in k candidate documents contributes k·(k-1)/2 join
rows, so one boilerplate n-gram shared by 10⁵ docs alone produces 5·10⁹
rows — quadratic row COUNT that AQE skew-split can redistribute but never
reduce. Capping document frequency bounds the worst case: after the cap,
join output is at most (rows/cap)·cap² = rows·cap — LINEAR in corpus size.

Semantics with the cap: Jaccard over each document's *informative* shingles
(those appearing in <= cap documents). Deviation bound vs the full-set
Jaccard for a pair with m capped shingles in its union U: the value moves
by at most m / (|U| - m); a capped shingle is near-universal boilerplate,
so at threshold 0.8 the decision flips only for pairs whose similarity is
carried by boilerplate — exactly the pairs a dedup pipeline should NOT
merge. Pass ``max_doc_freq=None`` for strict full-set Jaccard.
"""


def shingle_doc_freq(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
) -> DataFrame:
    """(shingle, doc_freq) — in how many documents each distinct n-gram
    appears. One groupBy with map-side partial counts; the input shingle
    rows are per-doc distinct, so count(*) IS the document frequency."""
    return (
        _shingle_rows(df, text_col, id_col, shingle_n, distinct=True)
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )


def _df_capped(exploded: DataFrame, shingle_col: str, max_doc_freq: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds the cap, with ONE
    shingle-keyed exchange: ``count() over (partition by shingle)`` counts
    the per-doc-distinct rows (== doc frequency) in the same shuffle the
    downstream self-join needs, so the exchange is REUSED by every branch
    that consumes the capped rows — no separate frequency aggregation, no
    hot-set broadcast to size-manage (the hot set is never materialized)."""
    from pyspark.sql import Window

    w = Window.partitionBy(shingle_col)
    return (
        exploded.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") <= max_doc_freq)
        .drop("__df")
    )


def _capped_pairs(
    kept: DataFrame, threshold: float, score: str = "jaccard"
) -> DataFrame:
    """Pair computation over (id, shingle) rows — the ONE canonical pair
    plan (jaccard_pairs' capped path, containment_pairs and
    near_duplicates all delegate here; join shape / id tiebreak have a
    single definition to keep in sync with the SQL oracles). The rows
    arrive df-capped or not as the caller decides (``max_doc_freq=None``
    passes them uncapped), and the caller decides whether to pin them:
    near_duplicates pins its candidate-doc rows, the others do not.

    Per-doc sizes are a narrow (id, count) aggregate with map-side
    partials, joined back onto the pair aggregate (the same shape as the
    SQL oracle; both size joins are AQE-broadcastable since sizes rows are
    two integers per doc). ``score`` picks the threshold target:
    ``jaccard`` returns (id_a, id_b, jaccard); ``containment`` thresholds
    n_inter/min(n_a, n_b) and returns jaccard alongside.

    Not pinned here (r14, measured): over the all-docs cap-window rows,
    all three consumers (both self-join sides and the sizes aggregate)
    reference the identical subtree, and runtime exchange reuse already
    dedups it — an explicit localCheckpoint added a materialization pass
    and was 15% SLOWER at bench scale (paired A/B)."""
    sizes = kept.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = kept.alias("a"), kept.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    scored = (
        inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")),
            on="id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")),
            on="id_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
    )
    if score == "containment":
        return (
            scored.withColumn(
                "containment",
                F.col("n_inter") / F.least(F.col("n_a"), F.col("n_b")),
            )
            .filter(F.col("containment") >= threshold)
            .select("id_a", "id_b", "containment", "jaccard")
        )
    return scored.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for document pairs.

    Without ``candidates`` this is the all-pairs-with-shared-shingle plan
    (exact, for verification / small scale); with ``candidates`` (from LSH)
    the equi-join is semi-joined down to the candidate set first — the
    production path at 100 TB.

    ``max_doc_freq`` (default ``DEFAULT_MAX_DOC_FREQ``) drops boilerplate
    shingles before the self-join — see the constant's docstring for the
    quadratic-blowup guard and the deviation bound. Frequencies are ALWAYS
    corpus-wide, also under ``candidates``: capping within the candidate
    subset would let boilerplate slip back in whenever the subset is small
    (df within subset <= cap < corpus df), making results depend on the
    candidate set and diverge from both the all-pairs pass and the oracle.

    The all-pairs path (``candidates=None``) pins nothing: it scans and
    shingles the input once only through Spark's exchange reuse of the
    identical self-join sides (``spark.sql.exchange.reuse``, on by
    default). With reuse off, or when AQE plans the sides differently,
    the scan runs twice; the values are the same.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    """
    cand_ids = None
    if candidates is not None:
        # Reference the candidate plan (typically MinHash-LSH) exactly ONCE
        # — every extra reference would re-run the whole LSH stage. Pairs
        # are recomputed among candidate docs rather than semi-joined per
        # pair: that keeps any >=threshold pair among flagged docs (a
        # superset of the flagged pairs, subset of the exact all-pairs
        # result — strictly better recall for free).
        cand_ids = candidates.select(
            F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("id")
        ).distinct()
    if max_doc_freq is not None:
        # corpus-wide frequencies need the full shingle pass regardless, so
        # the candidate restriction applies AFTER the cap window (the
        # window's exchange is reused by the verify join either way)
        exploded = _shingle_rows(
            df, text_col, id_col, shingle_n, distinct=True
        ).select("id", F.col("sh").alias("shingle"))
        exploded = _df_capped(exploded, "shingle", max_doc_freq)
        if cand_ids is not None:
            exploded = exploded.join(F.broadcast(cand_ids), on="id", how="left_semi")
        return _capped_pairs(exploded, threshold)
    # uncapped fast path: restrict BEFORE shingling so only candidate
    # documents pay the normalization/shingle cost, and carry the per-doc
    # shingle count THROUGH the join (it is constant per id, computed
    # in-row before the explode) — one shingle-row frame self-joined once
    if cand_ids is not None:
        df = df.join(
            F.broadcast(cand_ids.withColumnRenamed("id", id_col)),
            on=id_col,
            how="left_semi",
        )
    exploded = _shingle_rows(
        df, text_col, id_col, shingle_n, distinct=True, with_count=True
    ).select("id", "n_sh", F.col("sh").alias("shingle"))
    # r14: pin — both self-join sides otherwise re-run the shingle scan.
    # Candidate-restricted only (ADVICE r15): on the candidates=None
    # all-pairs path the pin would materialize the FULL docs × shingles
    # frame to executor storage; that path is verification/small-scale
    # by contract (docstring) and leaves the two identical join-side
    # subtrees to runtime exchange reuse instead.
    if cand_ids is not None:
        exploded = exploded.localCheckpoint(eager=False)
    a = exploded.alias("a")
    b = exploded.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.min(F.col("a.n_sh")).alias("n_a"),
            F.min(F.col("b.n_sh")).alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    threshold: float = 0.8,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """The fused production near-dup pipeline: MinHash-LSH candidate
    generation + exact-Jaccard verification sharing ONE shingle-row plan.
    Returns (id_a, id_b, jaccard >= threshold).

    The shingle stage is a zero-shuffle regex scan (see ``_shingle_rows``),
    cheap enough to recompute per branch — an earlier version persisted it,
    but the cache materialization cost more than the recompute once the
    window/sort formulation was gone. The verify branch restricts to
    candidate DOCS (broadcast semi-join) before re-shingling, so only
    flagged documents pay the pair join.

    With ``max_doc_freq`` (default on — see ``DEFAULT_MAX_DOC_FREQ``) the
    corpus-wide hot-shingle set is computed ONCE and anti-joined out before
    BOTH branches: the MinHash signatures and the verify join see the same
    informative-shingle sets, so the LSH recall guarantee applies to
    exactly the sets being verified, and the verify self-join's output is
    linear in corpus size instead of quadratic per boilerplate n-gram.
    """
    assert num_hashes % bands == 0
    sh_rows = _shingle_rows(df, text_col, id_col, shingle_n, distinct=True)
    if max_doc_freq is not None:
        # one shingle-keyed exchange, reused by the signature branch, the
        # verify self-join (its join key IS the partitioning key) and the
        # sizes aggregate — the text is scanned and shingled exactly once.
        # r14: pin the capped rows — the initial plan replicates this
        # subtree (window exchange included) under every consumer branch
        # (24 scans / 24 windows observed at bench scale) and runtime
        # exchange reuse does not cover the post-window projection; the
        # pin costs one extra write of rows the window exchange already
        # shuffles in full, and buys every branch a memory rescan.
        sh_rows = _df_capped(sh_rows, "sh", max_doc_freq).localCheckpoint(
            eager=False
        )
    hashed = sh_rows.select("id", portable_hash60(F.col("sh")).alias("h"))
    # r14: the band self-join references this frame twice and the banding
    # aggregate re-runs per reference — pin the (docs × bands)-sized frame
    banded = _banded_from_hashed(hashed, num_hashes, bands).localCheckpoint(
        eager=False
    )
    cand_ids = (
        _band_collisions(banded, banded, F.col("l.id") < F.col("r.id"))
        .select(F.explode(F.array(F.col("l.id"), F.col("r.id"))).alias("id"))
        .distinct()
    )
    exploded = (
        sh_rows.join(F.broadcast(cand_ids), on="id", how="left_semi")
        .select("id", F.col("sh").alias("shingle"))
        # r14: referenced by both self-join sides AND the sizes
        # aggregate; candidate-doc-bounded, so the pin is small
        .localCheckpoint(eager=False)
    )
    # verify over the SAME (df-capped when capped) shingle sets
    return _capped_pairs(exploded, threshold)


def history_fingerprints(history_df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct normalized fingerprints of a history corpus as a one-column
    ``__fp`` frame — the probe side of incremental dedup (batch anti-join
    and streaming stream-static join). Spread first so a single-file
    history doesn't hash serially."""
    return (
        _spread(history_df.select(text_col))
        .select(fingerprint_md5(F.col(text_col)).alias("__fp"))
        .distinct()
    )


def dedup_exact_incremental(
    new_df: DataFrame,
    history_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: drop new-batch rows whose normalized
    fingerprint already exists in HISTORY, then keep the min-id survivor
    per fingerprint WITHIN the batch — the daily-ingest shape, where the
    100 TB history is never re-deduped, only probed.

    The history side is reduced to distinct 16-byte fingerprints before
    the anti-join, so the join shuffles fingerprints, not bodies; the
    within-batch pass is the same single-exchange ``min_by`` aggregation
    as :func:`dedup_exact`."""
    hist_fp = history_fingerprints(history_df, text_col)
    batch = _fp_rows(_spread(new_df), text_col)
    fresh = batch.join(hist_fp, on="__fp", how="left_anti")
    return _min_id_survivors(fresh, id_col)


def _banded_from_hashed(
    hashed: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, band_hash) from (id, h) shingle-hash rows — THE
    hash-scheme-sensitive MinHash banding construction. Every producer of
    band hashes (the candidate self-joins, the materialized index write,
    the index probe) MUST route through this one function: cross-function
    signature agreement is a correctness contract, not a style choice.
    Per-permutation mins are plain aggregates with map-side partials, so
    the shuffle carries (id, num_hashes longs) per document.

    The whole chain — ``portable_hash60`` base (callers), the
    ``perm_coeffs`` affine permutations, and the md5 band hash here — is
    engine-portable: a DuckDB oracle recomputes the exact candidate set
    (see ``__spark_entry__._minhash_oracle_sql``)."""
    assert num_hashes % bands == 0, "num_hashes must be divisible by bands"
    rows_per_band = num_hashes // bands
    coeffs = perm_coeffs(num_hashes)
    sig = hashed.groupBy("id").agg(
        *[
            _perm_min(F.col("h"), a, b).alias(f"h{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        portable_hash60(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"h{b * rows_per_band + r}").cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    ).select("id", "bh.band", "bh.band_hash")


def _banded_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """Banded signatures straight from a documents frame (per-doc
    distinct shingles, no doc-frequency cap) — the index/probe path."""
    hashed = _shingle_rows(df, text_col, id_col, shingle_n, distinct=True).select(
        "id", portable_hash60(F.col("sh")).alias("h")
    )
    return _banded_from_hashed(hashed, num_hashes, bands)


def write_lsh_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 5,
) -> None:
    """Materialize the corpus's banded MinHash signatures as a parquet LSH
    index (plus a parameter sidecar, Hadoop-FS-written like the IVF one).
    This is what makes near-dup dedup INCREMENTAL: a new batch signatures
    only itself and band-joins against the stored (id, band, band_hash)
    rows, so the history is re-shingled only for the CANDIDATE documents
    the probe actually flags (the exact-Jaccard verify needs their
    shingle sets) — never wholesale. Index size is ``bands``
    shorts-and-longs per document, ~10⁻⁴ of corpus bytes."""
    import json as _json

    banded = _banded_rows(docs, text_col, id_col, num_hashes, bands, shingle_n)
    banded.write.mode("overwrite").parquet(f"{path}/bands")

    sidecar = _json.dumps(
        {
            "num_hashes": num_hashes,
            "bands": bands,
            "shingle_n": shingle_n,
            "text_col": text_col,
            "id_col": id_col,
            "hash_scheme": LSH_HASH_SCHEME,
        }
    )
    write_text_sidecar(docs.sparkSession, f"{path}/_lsh_params", sidecar)


def near_duplicates_incremental(
    spark,
    index_path: str,
    history_df: DataFrame,
    new_df: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs TOUCHING a new batch, against a
    :func:`write_lsh_index` of the history: the batch is signatured with
    the index's stored parameters, band-joined against index ∪ batch
    bands (candidates = collisions where at least one side is new), and
    candidates are verified with exact n-gram Jaccard over history ∪
    batch text restricted to candidate documents.

    Returns (id_a, id_b, jaccard >= threshold) where id_a < id_b and at
    least one side is a new-batch document — exactly the all-pairs result
    filtered to pairs touching the batch (strict Jaccard, no
    doc-frequency cap: the cap is corpus-global state, which an
    incremental probe by design does not recompute; candidate-restricted
    verification bounds the join instead)."""
    import json as _json

    params = _json.loads(read_text_sidecar(spark, f"{index_path}/_lsh_params"))
    scheme = params.get("hash_scheme")
    if scheme != LSH_HASH_SCHEME:
        # an index signatured under a different hash family band-joins to
        # essentially ZERO collisions — near-dups would silently vanish.
        # Refuse loudly instead. A MISSING stamp means a pre-stamp index,
        # and those are all seeded-xxhash64 (the stamp was introduced with
        # the md5-60 family switch), so it is a forced-rebuild migration,
        # not a legacy spelling of the current scheme.
        detail = (
            "predates the hash scheme stamp (seeded-xxhash64 family)"
            if scheme is None
            else f"was written with hash scheme {scheme!r}"
        )
        raise ValueError(
            f"LSH index at {index_path} {detail}; this engine computes "
            f"{LSH_HASH_SCHEME!r} — rebuild the index with write_lsh_index "
            "before probing"
        )
    text_col, id_col = params["text_col"], params["id_col"]
    # checkpoint: the batch signature plan is referenced twice below
    # (inside the index∪batch union and as the probe side) — without
    # materialization the whole shingle+signature pipeline would run
    # twice per probe
    batch_banded = _banded_rows(
        new_df,
        text_col,
        id_col,
        params["num_hashes"],
        params["bands"],
        params["shingle_n"],
    ).localCheckpoint()
    idx = spark.read.parquet(f"{index_path}/bands")
    all_banded = idx.unionByName(batch_banded)
    cand = (
        _band_collisions(all_banded, batch_banded, F.col("l.id") != F.col("r.id"))
        .select(
            F.least("l.id", "r.id").alias("id_a"),
            F.greatest("l.id", "r.id").alias("id_b"),
        )
        .distinct()
    )
    union_docs = history_df.select(id_col, text_col).unionByName(
        new_df.select(id_col, text_col)
    )
    pairs = jaccard_pairs(
        union_docs,
        text_col=text_col,
        id_col=id_col,
        shingle_n=params["shingle_n"],
        threshold=threshold,
        candidates=cand,
        max_doc_freq=None,
    )
    # keep pairs with >= 1 new-batch side. Marker LEFT joins (not two
    # semi-joins unioned) so the expensive pairs plan is referenced ONCE —
    # a second reference would re-run the whole candidate+verify pipeline.
    new_ids = new_df.select(F.col(id_col).alias("__nid")).distinct()
    ma = new_ids.select(F.col("__nid").alias("id_a"), F.lit(1).alias("__ma"))
    mb = new_ids.select(F.col("__nid").alias("id_b"), F.lit(1).alias("__mb"))
    return (
        pairs.join(ma, on="id_a", how="left")
        .join(mb, on="id_b", how="left")
        .filter(F.col("__ma").isNotNull() | F.col("__mb").isNotNull())
        .drop("__ma", "__mb")
    )  # AQE broadcasts the small side (pairs) of each marker join


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    out_id: str = "doc_id",
    out_component: str = "component_id",
    max_iterations: int = 25,
) -> DataFrame:
    """Distributed connected components over a near-duplicate pair graph —
    the cluster-formation step of a production dedup pipeline (RefinedWeb/
    SlimPajama-style): ``near_duplicates`` emits pairs, this closes the
    pair graph transitively so A~B, B~C lands A, B, C in ONE cluster and
    survivor selection can be cluster-canonical instead of pair-local.

    Algorithm: alternating **large-star / small-star** (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) in pure
    DataFrame ops — converges in O(log²) rounds on any graph, vs the
    O(diameter) of naive label propagation, so a 100 TB corpus's long
    duplicate chains don't turn into hundreds of shuffle rounds. Each round
    is two groupBy-min + join stages over the (shrinking) edge list;
    ``localCheckpoint`` after every round cuts the lineage so the plan
    doesn't grow with the iteration count, and — critically — the INPUT
    pair plan (typically the whole LSH+verify pipeline) is checkpointed
    once up front instead of being re-executed every round.

    Returns one row per node of the pair graph: ``(out_id,
    out_component)`` where the component id is the MIN node id in the
    component (the canonical survivor). Nodes in no pair don't appear —
    they are their own singleton components by definition.
    """
    spark = pairs.sparkSession
    # canonical edge form (u > v), deduped; checkpoint so the (potentially
    # very expensive) pair plan runs exactly once
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("u").alias("id"))
        .union(edges.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    def _sig(df: DataFrame) -> tuple:
        """(count, order-independent hash-sum) in ONE job — the cheap
        per-round convergence probe. Equality of signatures is confirmed
        with an exact set compare before exiting, so a (astronomically
        unlikely) hash-sum collision can only cost one extra round, never
        a wrong result."""
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulate: a long sum of 64-bit hashes overflows
            # under ANSI mode
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("chk"),
        ).collect()[0]
        return row["n"], row["chk"]

    e = edges
    prev_sig = _sig(e)
    rounds = 0
    for _ in range(max_iterations):
        # large-star: for every node, attach each LARGER neighbor to the
        # min of the full neighborhood (incl. self)
        sym = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mn = sym.groupBy("u").agg(F.min("v").alias("mn"))
        e1 = (
            sym.join(mn, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("mn"), F.col("u")).alias("v"),
            )
            .distinct()
        )
        # small-star: for every node, attach each SMALLER-or-self node to
        # the min of the smaller neighborhood. e1 is already (u > v), so
        # the smaller-neighbor lists ARE its adjacency rows.
        mn2 = e1.groupBy("u").agg(F.min("v").alias("mn"))
        e2 = (
            e1.join(mn2, on="u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .union(mn2.select("u", F.col("mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        rounds += 1
        sig = _sig(e2)
        if sig == prev_sig and e2.subtract(e).isEmpty():
            e = e2
            break
        e, prev_sig = e2, sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "large-star/small-star rounds"
        )
    global LAST_CC_ROUNDS
    LAST_CC_ROUNDS = rounds
    _log.info("connected_components converged in %d rounds", rounds)
    # at the fixpoint every edge is a star edge (node -> component min);
    # roots appear only on the v side, so close over all nodes
    comp = e.groupBy("u").agg(F.min("v").alias("__comp"))
    return (
        nodes.join(comp, nodes["id"] == comp["u"], how="left")
        .select(
            F.col("id").alias(out_id),
            F.coalesce(F.col("__comp"), F.col("id")).alias(out_component),
        )
    )


def dedup_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    survivor_by=None,
) -> DataFrame:
    """Cluster-canonical near-dup removal: keep EXACTLY ONE survivor per
    connected component of the pair graph. Unlike the pair-local rule
    (drop id_b per pair), with A~B, B~C (A≁C directly) the pair-local
    rule can keep both A and C; this keeps one. Documents in no pair
    survive untouched (left_anti on the non-survivor members).

    ``survivor_by`` selects WHICH member survives:

    * ``None`` (default) — the canonical min-``id_col`` member;
    * a Column / column name — a numeric quality score evaluated
      against ``df``; the HIGHEST-scoring member survives, ties to the
      min id (production keeps the *best* copy, not the first crawled —
      pass e.g. the hashed-BoW quality logit). Null scores lose to any
      non-null score;
    * a DataFrame of ``(id_col, <score>)`` — the same rule with a
      precomputed score frame; use this when the score needs its own
      projection (``hashed_bow_logit`` wants a materialized word array
      — inlining it into a fold re-evaluates the split per element).

    Scale shape: the score join and the per-component argmax are both
    keyed exchanges (id, then component) over the *paired* membership —
    cluster-membership-sized, not corpus-sized; the argmax is one
    ``min(struct(-score, id))`` aggregate with map-side partials."""
    cc = connected_components(pairs, out_id=id_col, out_component="__comp")
    if survivor_by is None:
        dropped = cc.filter(F.col(id_col) != F.col("__comp")).select(id_col)
        return df.join(dropped, on=id_col, how="left_anti")

    if isinstance(survivor_by, DataFrame):
        other = [c for c in survivor_by.columns if c != id_col]
        if len(other) != 1:
            raise ValueError(
                f"survivor_by frame must have exactly ({id_col}, <score>) "
                f"columns, got {survivor_by.columns}"
            )
        scored = survivor_by.select(
            F.col(id_col), F.col(other[0]).alias("__score")
        )
    else:
        col = survivor_by if isinstance(survivor_by, Column) else F.col(survivor_by)
        scored = df.select(F.col(id_col), col.alias("__score"))

    # LEFT join: a member missing from the score frame must still be a
    # survivor candidate (an inner join would erase a fully-unscored
    # component — every member then lands in the anti-join drop set,
    # violating "exactly one survivor per component"); missing scores
    # behave exactly like null scores below
    memb = cc.join(scored, id_col, "left")
    # argmax score, ties to min id, as ONE min-aggregate: min of
    # (-score, id) struct — null scores coalesce to +inf so they lose
    # to any scored member (all-null components fall back to min id)
    key = F.struct(
        F.coalesce(-F.col("__score").cast("double"), F.lit(float("inf"))).alias("k"),
        F.col(id_col).alias("i"),
    )
    survivors = (
        memb.groupBy("__comp")
        .agg(F.min(key).alias("__m"))
        .select(F.col("__m.i").alias(id_col))
    )
    dropped = cc.select(id_col).join(survivors, id_col, "left_anti")
    return df.join(dropped, on=id_col, how="left_anti")


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on 4 x 16-bit chunks (a pair within
    Hamming distance 3 must agree on at least one chunk), then filter by
    exact Hamming distance via bit_count(xor)."""
    # bit votes as 64 plain codegen'd aggregates over shingle-hash rows —
    # no array lambdas anywhere (the expression form re-walks the shingle
    # pipeline per bit)
    hash_rows = _shingle_rows(df, text_col, id_col, shingle_n, distinct=True).select(
        "id", portable_hash60(F.col("sh")).alias("h")
    )
    votes = hash_rows.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    bit_cols = [
        F.shiftleft(
            F.when(F.col(f"v{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
            b,
        )
        for b in range(64)
    ]
    sh64 = bit_cols[0]
    for c in bit_cols[1:]:
        sh64 = sh64.bitwiseOR(c)
    sig = votes.select("id", sh64.alias("sh64"))
    chunks = sig.select(
        "id",
        "sh64",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("sh64"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cv"),
    ).select("id", "sh64", F.col("cv.chunk").alias("chunk"), F.col("cv.chunk_val").alias("chunk_val"))
    # r14: pin the (docs × 4)-sized chunk frame — the blocking self-join
    # references it twice and each reference re-ran the whole shingle +
    # 64-vote signature subtree (the near_duplicates pin discipline)
    chunks = chunks.localCheckpoint(eager=False)
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sh64").bitwiseXOR(F.col("b.sh64"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    threshold: float = 0.9,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Broder CONTAINMENT pairs: ``n_inter / min(|A|, |B|)`` over
    distinct shingles — the asymmetric cousin of :func:`jaccard_pairs`
    that catches a short document quoted wholesale inside a long one
    (Jaccard ≈ |short|/|long| ≈ 0 there; containment = 1). The dedup
    modality for quote-farms, syndication wrappers, and prompt/document
    concatenations.

    Same plan as the capped Jaccard verify: in-row distinct shingles,
    corpus-wide doc-frequency cap before the shingle-keyed self-join
    (the quadratic-blowup guard and its deviation bound carry over),
    AQE-broadcast size joins. Returns
    ``(id_a, id_b, containment, jaccard)`` with id_a < id_b and
    containment >= threshold — jaccard rides along so a consumer can
    tell true near-dups from one-sided containment."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0,1], got {threshold}")
    exploded = _shingle_rows(
        df, text_col, id_col, shingle_n, distinct=True
    ).select("id", F.col("sh").alias("shingle"))
    if max_doc_freq is not None:
        exploded = _df_capped(exploded, "shingle", max_doc_freq)
    return _capped_pairs(exploded, threshold, score="containment")
