"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
(or a §2.9 extension) through the intake_esm_spark engine, and
``oracle_sql()`` carries the DuckDB-equivalent ANSI SQL. Conventions that
keep the value-hash comparison deterministic:

* money/float aggregates are summed as DECIMAL(18,6) then cast back to
  double — exact and order-independent, so Spark and DuckDB agree bitwise
* every computed column is aliased identically on both sides
* timestamps are µs-truncated on both sides (events.ts arrives as
  parquet NANOS; see intake_esm_spark.sources.tables)
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from intake_esm_spark.functions import encoding as _enc
from intake_esm_spark.functions import text as tx
from intake_esm_spark.operators import dedup, grouping, simsearch
from intake_esm_spark.operators.asof import asof_join
from intake_esm_spark.plans.predicates import search as predicate_search
from intake_esm_spark.plans.query import Query
from intake_esm_spark.sources.descriptor import Assets, ESMCatalogDescriptor
from intake_esm_spark.sources.tables import load_table
from intake_esm_spark.datastore import ESMDataStore

# ---------------------------------------------------------------------------
# helpers


def _store(spark: SparkSession, sf_dir: str, table: str, key_col: str) -> ESMDataStore:
    """Wrap a synthetic table as a catalog datastore (FIXTURES.md §10: treat
    table facets as catalog columns) so queries run through the full engine
    path — QueryModel validation -> predicate compile -> division."""
    desc = ESMCatalogDescriptor(
        id=table, assets=Assets(column_name=key_col, format="parquet")
    )
    return ESMDataStore(spark, desc, load_table(spark, sf_dir, table))


def _dec_sum(expr: str, alias: str) -> F.Column:
    """Order-independent double sum: exact decimal accumulate, double out."""
    return F.sum(F.expr(f"CAST({expr} AS DECIMAL(18,6))")).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# catalog-engine operators on the TPC-H-ish tables


def q_search_eq(spark: SparkSession, sf: str) -> DataFrame:
    """P1 equality search through the datastore."""
    store = _store(spark, sf, "part", "p_partkey")
    return store.search(p_brand="Brand#13").df.select("p_partkey", "p_name", "p_brand")


def q_search_isin(spark: SparkSession, sf: str) -> DataFrame:
    """P2 IN-list (OR of values) search."""
    store = _store(spark, sf, "orders", "o_orderkey")
    return store.search(o_orderpriority=["1-URGENT", "2-HIGH"]).df.select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )


def q_search_regex(spark: SparkSession, sf: str) -> DataFrame:
    """P3 regex search (unescaped ^/$ wildcards trigger pattern mode)."""
    store = _store(spark, sf, "part", "p_partkey")
    return store.search(p_name="^small .*").df.select("p_partkey", "p_name")


def q_search_null(spark: SparkSession, sf: str) -> DataFrame:
    """P4 null predicate: nullified column searched with None."""
    df = load_table(spark, sf, "orders").withColumn(
        "o_status_nullable", F.nullif(F.col("o_orderstatus"), F.lit("F"))
    )
    q = Query.normalize({"o_status_nullable": None}, df.columns)
    return predicate_search(df, q).select("o_orderkey", "o_orderstatus")


def q_search_membership(spark: SparkSession, sf: str) -> DataFrame:
    """P5 iterable-membership: array column searched by element."""
    li = load_table(spark, sf, "lineitem")
    arr = li.groupBy("l_orderkey").agg(
        F.collect_set("l_returnflag").alias("flags")
    )
    q = Query.normalize({"flags": "R"}, arr.columns)
    return predicate_search(arr, q).select("l_orderkey")


def q_require_all_on(spark: SparkSession, sf: str) -> DataFrame:
    """J1 relational division: customers whose orders span ALL the listed
    priorities; returns the surviving order rows."""
    store = _store(spark, sf, "orders", "o_orderkey")
    res = store.search(
        o_orderpriority=["1-URGENT", "2-HIGH"], require_all_on=["o_custkey"]
    )
    return res.df.select("o_orderkey", "o_custkey", "o_orderpriority")


def q_groupby_keys(spark: SparkSession, sf: str) -> DataFrame:
    """A1/A2 group-key construction over groupby attrs."""
    li = load_table(spark, sf, "lineitem")
    return grouping.group_keys(li, ["l_returnflag", "l_linestatus"], ".")


def q_nunique(spark: SparkSession, sf: str) -> DataFrame:
    """A4 per-column count-distinct profile of orders."""
    o = load_table(spark, sf, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_custkey"),
        F.countDistinct("o_orderstatus").alias("n_orderstatus"),
        F.countDistinct("o_orderpriority").alias("n_orderpriority"),
        F.countDistinct("o_orderdate").alias("n_orderdate"),
    )


def q_unique_flat(spark: SparkSession, sf: str) -> DataFrame:
    """A3 distinct values of a column (flattened long output)."""
    li = load_table(spark, sf, "lineitem")
    return li.select(F.col("l_returnflag").alias("value")).distinct()


def q_union_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """J2 search-result union + row dedup (derived-search merge shape)."""
    store = _store(spark, sf, "part", "p_partkey")
    a = store.search(p_brand="Brand#13").df
    b = store.search(p_size=[1, 2]).df
    return a.unionByName(b).dropDuplicates().select("p_partkey", "p_brand", "p_size")


# ---------------------------------------------------------------------------
# analytics headliners (bench queries)


def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: the flagship aggregation."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum("l_quantity", "sum_qty"),
            _dec_sum("l_extendedprice", "sum_base_price"),
            _dec_sum("l_extendedprice * (1 - l_discount)", "sum_disc_price"),
            _dec_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem with selective filters; revenue per order."""
    cust = load_table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = load_table(spark, sf, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dec_sum("l_extendedprice * (1 - l_discount)", "revenue"))
    )


def q5_local_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem ⋈ supplier; revenue per
    nation. Dim tables broadcast; the only shuffle is the final groupBy."""
    region = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf, "nation")
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    orders = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-01-01"))
    )
    li = load_table(spark, sf, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_dec_sum("l_extendedprice * (1 - l_discount)", "revenue"))
    )


def q_top_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """Window rank: top-3 suppliers by revenue within each nation."""
    from pyspark.sql import Window

    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    li = load_table(spark, sf, "lineitem")
    rev = (
        li.groupBy("l_suppkey")
        .agg(_dec_sum("l_extendedprice * (1 - l_discount)", "revenue"))
    )
    joined = (
        rev.join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("revenue"), F.asc("s_suppkey"))
    return (
        joined.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("n_name", "s_suppkey", "s_name", "revenue", "rnk")
    )


def q_cube_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """A7 extension: rollup aggregation (grouping sets)."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum("l_quantity", "sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


# ---------------------------------------------------------------------------
# events: windows, sessionization, JSON, as-of


def q_events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum("value", "sum_value"),
        )
    )


def q_events_json(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
    )


def q_events_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows (30 min gap) per user — batch parity of the
    streaming session_window operator."""
    from intake_esm_spark.streaming.windows import session_windows

    ev = load_table(spark, sf, "events")
    out = session_windows(ev, gap="30 minutes", ts_col="ts", key_col="user_id")
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.round(F.col("sum_value"), 2).alias("sum_value"),
    )


def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """J6 extension: as-of join clicks -> latest earlier purchase per user."""
    ev = load_table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
        F.col("event_id").alias("purchase_event_id"),
    )
    out = asof_join(
        clicks,
        purchases,
        on="user_id",
        ts_col="ts",
        right_order_col="purchase_event_id",
    )
    return out.select("event_id", "user_id", "purchase_value")


# ---------------------------------------------------------------------------
# documents: text analysis + dedup


def q_text_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        tx.ws_token_count(F.col("text")).alias("n_tokens"),
        tx.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.length("text").alias("len_chars"),
        F.round(tx.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(tx.digit_ratio(F.col("text")), 6).alias("digit_ratio"),
    )


def q_text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select("doc_id", tx.fingerprint_md5(F.col("text")).alias("fp"))


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return dedup.dedup_exact(docs).select("doc_id", "lang", "source", "n_chars")


def q_dedup_groups(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return dedup.exact_duplicates(docs).select("fp", "n_dups", "canonical_id")


def q_dedup_prefix_groups(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate clusters by 64-char normalized-prefix fingerprint — the
    cheap canonicalization pass that catches boilerplate-prefixed docs."""
    docs = load_table(spark, sf, "documents")
    fp = F.md5(F.substring(tx.normalized_text(F.col("text")), 1, 64))
    return (
        docs.select(F.col("doc_id"), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("canonical_id"))
        .filter(F.col("n_dups") > 1)
    )


def q_dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH candidate pairs — full SQL oracle since the switch to
    the engine-portable hash family (see _minhash_oracle_sql): DuckDB
    recomputes the exact candidate set bit-for-bit."""
    docs = load_table(spark, sf, "documents")
    return dedup.minhash_lsh_candidates(docs, num_hashes=32, bands=16, shingle_n=5)


def q_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs — full SQL oracle (_simhash_oracle_sql)
    over the portable 60-bit shingle hashes."""
    docs = load_table(spark, sf, "documents")
    return dedup.simhash_candidates(docs, shingle_n=5, max_hamming=3)


def q_dedup_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 5-gram Jaccard pairs >= 0.8 — the LSH verification stage."""
    docs = load_table(spark, sf, "documents")
    out = dedup.jaccard_pairs(docs, shingle_n=5, threshold=0.8)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Broder containment pairs >= 0.5 (operators/dedup.py
    containment_pairs): n_inter/min(|A|,|B|) over capped distinct
    shingles — the asymmetric modality that catches short-doc-inside-
    long-doc syndication Jaccard misses; jaccard rides along."""
    docs = load_table(spark, sf, "documents")
    out = dedup.containment_pairs(docs, shingle_n=5, threshold=0.5)
    return out.select(
        "id_a",
        "id_b",
        F.round("containment", 6).alias("containment"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_dedup_near(spark: SparkSession, sf: str) -> DataFrame:
    """The PRODUCTION near-dup pipeline: MinHash-LSH candidates, then exact
    Jaccard verification restricted to candidates. Its correctness CONTRACT
    is exact equality with the all-pairs pass (LSH miss probability < 1e-7
    at 16 bands x 2 rows and threshold 0.8) at a fraction of the cost — so
    the oracle IS the all-pairs capped-Jaccard SQL, and a hash mismatch
    means the LSH stage dropped a real pair."""
    docs = load_table(spark, sf, "documents")
    out = dedup.near_duplicates(
        docs, num_hashes=32, bands=16, shingle_n=5, threshold=0.8
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


_INCR_SPLIT = 250
"""doc_id boundary for the incremental-dedup queries: BATCH = doc_id <
250 (half the 500-doc sf0.001 corpus, so even the smallest sf has both a
batch and a history), history = the rest — at larger sf the history grows
while the batch stays fixed, which is the production shape (small
increment, huge history)."""


def q_dedup_exact_incr(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental exact dedup: the batch (doc_id < 250) anti-joined
    against history fingerprints, min-id survivor within the batch."""
    docs = load_table(spark, sf, "documents")
    hist = docs.filter(F.col("doc_id") >= _INCR_SPLIT)
    batch = docs.filter(F.col("doc_id") < _INCR_SPLIT)
    out = dedup.dedup_exact_incremental(batch, hist)
    return out.select("doc_id", "lang", "source")


def q_dedup_near_incr(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental near-dup via the materialized LSH index: history
    signatures written once, the batch probes them; pairs touching the
    batch verified with exact Jaccard. Contract: exactly the all-pairs
    strict-Jaccard result restricted to pairs with a batch-side member
    (id_a < 250 suffices — id_a < id_b), which IS the oracle."""
    import tempfile

    docs = load_table(spark, sf, "documents")
    hist = docs.filter(F.col("doc_id") >= _INCR_SPLIT)
    batch = docs.filter(F.col("doc_id") < _INCR_SPLIT)
    # one stable per-sf dir, overwritten each call — the returned plan
    # reads the index lazily, so it can't be deleted here, and a fresh
    # mkdtemp per call would leak an index per invocation
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_lsh_oracle_{os.path.basename(sf.rstrip('/'))}"
    )
    dedup.write_lsh_index(hist, path, num_hashes=32, bands=16, shingle_n=5)
    out = dedup.near_duplicates_incremental(spark, path, hist, batch, threshold=0.8)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive near-dup clustering: the near_duplicates pair graph
    closed under connectivity (alternating large-star/small-star), emitting
    (doc_id, component_id=min id in component) — the cluster-formation
    step that makes survivor selection cluster-canonical instead of
    pair-local. Oracle: DuckDB WITH RECURSIVE min-label walk over the SAME
    all-pairs Jaccard graph."""
    docs = load_table(spark, sf, "documents")
    pairs = dedup.near_duplicates(
        docs, num_hashes=32, bands=16, shingle_n=5, threshold=0.8
    )
    return dedup.connected_components(pairs).select("doc_id", "component_id")


def q_dedup_cluster_survivors(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-canonical dedup: keep only the min-id member of each
    connected near-dup component (plus all unpaired docs)."""
    docs = load_table(spark, sf, "documents")
    pairs = dedup.near_duplicates(
        docs, num_hashes=32, bands=16, shingle_n=5, threshold=0.8
    )
    out = dedup.dedup_components(docs, pairs)
    return out.select("doc_id", "lang", "source")


def q_docs_hash_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 10% hash-threshold sample — partition-independent,
    engine-portable (md5 bucket), reproducible forever: the 100 TB
    replacement for df.sample()'s partition-dependent RNG."""
    from intake_esm_spark.operators import sampling

    docs = load_table(spark, sf, "documents")
    out = sampling.hash_sample(docs, 0.1, "doc_id")
    return out.select("doc_id", "lang", "source")


def q_docs_sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Per-stratum deterministic sampling (corpus mixing): keep all German
    docs, 20% of English, 5% of everything else."""
    from intake_esm_spark.operators import sampling

    docs = load_table(spark, sf, "documents")
    out = sampling.stratified_hash_sample(
        docs, {"en": 0.2, "de": 1.0}, "lang", "doc_id", default_fraction=0.05
    )
    return out.select("doc_id", "lang")


def q_text_vocab(spark: SparkSession, sf: str) -> DataFrame:
    """Top-100 corpus vocabulary by token frequency (deterministic
    freq-desc/token-asc boundary)."""
    from intake_esm_spark.operators import corpus

    docs = load_table(spark, sf, "documents")
    return corpus.vocab_topk(docs, k=100)


def q_docs_length_hist(spark: SparkSession, sf: str) -> DataFrame:
    """Document-length histogram in 100-char bins."""
    from intake_esm_spark.operators import corpus

    docs = load_table(spark, sf, "documents")
    return corpus.length_histogram(docs, bin_width=100)


def q_docs_sample_per_source(spark: SparkSession, sf: str) -> DataFrame:
    """Balanced corpus: deterministic 10 docs per source (hash-ordered
    rank within stratum — reproducible across runs/engines)."""
    from intake_esm_spark.operators import sampling

    docs = load_table(spark, sf, "documents")
    out = sampling.take_per_group(docs, 10, "source", "doc_id")
    return out.select("doc_id", "source")


def q_text_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII-style scrub pass: URL/email/phone spans replaced by typed
    tokens, with per-type match counts (the release-audit view). Pure
    regexp_replace/extract chains — portable to the DuckDB oracle."""
    docs = load_table(spark, sf, "documents")
    counts = tx.redaction_counts(F.col("text"))
    return docs.select(
        "doc_id",
        tx.redact_pii(F.col("text")).alias("clean"),
        counts["url"].cast("long").alias("n_urls"),
        counts["email"].cast("long").alias("n_emails"),
        counts["phone"].cast("long").alias("n_phones"),
    )


def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.round(tx.quality_score(F.col("text")), 6).alias("quality"),
        F.round(tx.stopword_ratio(F.col("text")), 6).alias("stop_ratio"),
        F.round(tx.mean_word_length(F.col("text")), 6).alias("mean_word_len"),
    )


def q_text_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        "lang",
        tx.lang_id(F.col("text")).alias("lang_pred"),
    )


def q6_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + single agg — the pushdown showcase."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01"))
            & (F.col("l_shipdate") < F.lit("1995-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_dec_sum("l_extendedprice * l_discount", "revenue"))
    )


def q_pivot_returnflag(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot: per linestatus, quantity sums per returnflag as columns."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(F.expr("CAST(l_quantity AS DECIMAL(18,6))")).cast("double"))
        .withColumnsRenamed({"A": "qty_a", "N": "qty_n", "R": "qty_r"})
    )


def q_cube_agg(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE grouping sets over two dimensions."""
    o = load_table(spark, sf, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dec_sum("o_totalprice", "sum_price"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "sum_price",
        )
    )


def q_customer_order_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Broadcast join + per-customer aggregation."""
    cust = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return (
        o.join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dec_sum("o_totalprice", "sum_price"),
        )
    )


def q_profile_numeric(spark: SparkSession, sf: str) -> DataFrame:
    """Numeric column profiling (catalog-profiling extension of reference
    nunique/unique, core.py:567-604): min/max/avg/median per measure in ONE
    aggregation pass. Determinism: averages accumulate as DECIMAL(18,6)
    (float-sum order varies across partitionings), medians use exact
    ``percentile`` — at 100 TB swap in ``approx_percentile(c, 0.5, eps)``,
    which is a mergeable sketch (one pass, no sort)."""
    li = load_table(spark, sf, "lineitem")
    aggs = []
    for c in ["l_quantity", "l_extendedprice", "l_discount"]:
        aggs += [
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
            F.round(
                F.sum(F.col(c).cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias(f"{c}_avg"),
            F.round(F.expr(f"percentile({c}, 0.5)"), 6).alias(f"{c}_p50"),
        ]
    return li.agg(*aggs)


def q_events_ab_test(spark: SparkSession, sf: str) -> DataFrame:
    """A/B readout (operators/experiment.py): users split into two
    deterministic variants (user_id parity), converted = power user
    (>= 15 purchases — "any purchase" converts 100% of this synthetic
    cohort and tests nothing); per-variant rates + the two-proportion z
    vs control 'A' — closed-form arithmetic over four exact integers,
    fully engine-portable."""
    from intake_esm_spark.operators.experiment import ab_test_report

    events = load_table(spark, sf, "events")
    units = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("__np")
        )
        .select(
            F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias(
                "variant"
            ),
            (F.col("__np") >= 15).cast("int").alias("converted"),
        )
    )
    return ab_test_report(units, "variant", "converted", control="A")


def q_lineitem_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Per-returnflag OLS trend of extended price over quantity
    (operators/profiling.py trend_lines): closed-form slope/intercept/r²
    from decimal moments in ONE partial-aggregated groupBy — the
    distributed regression-per-group, no ML-library loop."""
    from intake_esm_spark.operators.profiling import trend_lines

    li = load_table(spark, sf, "lineitem")
    return trend_lines(
        li, "l_quantity", "l_extendedprice", ["l_returnflag"]
    )


def q_lineitem_winsorized(spark: SparkSession, sf: str) -> DataFrame:
    """Per-returnflag winsorization of extended price at the p05/p95
    fences: exact type-7 percentiles from one grouped aggregation,
    broadcast back (group-cardinality frame), in-row clamp — the
    outlier-capping feature-prep step."""
    from intake_esm_spark.operators.profiling import winsorize

    li = load_table(spark, sf, "lineitem")
    out = winsorize(
        li, "l_extendedprice", ["l_returnflag"], lower=0.05, upper=0.95
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice",
        F.round("l_extendedprice_w", 6).alias("price_w"),
    )


def q_graph_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank (2 unrolled iterations, damping 0.85) over the
    customer–supplier co-purchase bipartite graph (distinct pairs via
    orders⋈lineitem, traversed both ways) — the third iterative shape
    next to connected components and k-means. Contributions quantize to
    12dp DECIMAL so the per-node accumulation is order-independent and
    the unrolled SQL replay agrees bitwise."""
    from intake_esm_spark.operators.graph import pagerank

    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return pagerank(edges, iters=2, damping=0.85)


def q_lineitem_correlations(spark: SparkSession, sf: str) -> DataFrame:
    """Exact pairwise Pearson correlations over the lineitem measures in
    ONE aggregation pass (operators/profiling.py): decimal-exact moments
    (Σx, Σx², Σxy — a double Σxy is partition-order-dependent), then
    each coefficient is closed-form arithmetic on the one aggregate row.
    The which-measures-move-together profile after profile_numeric."""
    from intake_esm_spark.operators.profiling import correlation_matrix

    li = load_table(spark, sf, "lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def q_events_sliding(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding window (1 h window, 30 min slide) batch parity."""
    from intake_esm_spark.streaming.windows import sliding_counts

    ev = load_table(spark, sf, "events")
    out = sliding_counts(ev, "1 hour", "30 minutes")
    return out.select(
        "window_start",
        "event_type",
        "n_events",
        F.round(F.col("sum_value"), 2).alias("sum_value"),
    )


def q_events_topk_user(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 events by value per user (window rank, deterministic ties)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("user_id", "event_id", "value", "rnk")
    )


def _media_frame(spark: SparkSession, sf: str) -> DataFrame:
    """Documents' text bytes standing in for opaque media payloads (no
    image/audio codecs in this container), with a deterministic typed
    metadata struct — real binary column, real metadata, fake pixels."""
    docs = load_table(spark, sf, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.struct(
            (F.col("n_chars") % 640).cast("int").alias("width"),
            (F.col("n_chars") % 480).cast("int").alias("height"),
            F.lit(3).cast("int").alias("n_channels"),
            F.lit(16000).cast("int").alias("sample_rate"),
            # every 7th-ish asset has UNKNOWN duration (null metadata, the
            # pre-probe state) so frame_sample_plan's null-marker row is
            # driver-verified, not just unit-tested
            F.when(F.col("doc_id") % 7 == 3, F.lit(None).cast("long"))
            .otherwise(F.col("n_chars").cast("long") * 10)
            .alias("duration_ms"),
        ).alias("meta"),
    )


def q_multimodal_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal JVM-only metadata pre-filter (functions.multimodal
    payload_stats) over a real binary column: byte sizes + typed metadata,
    no Python, no decode — the stage that prunes a 100 TB media table
    before any decoder runs. (crc32 is part of payload_stats but DuckDB
    has no crc32, so the oracle checks the length/metadata columns.)"""
    from intake_esm_spark.functions import multimodal

    stats = multimodal.payload_stats(_media_frame(spark, sf))
    return stats.select(
        "media_id",
        "n_bytes",
        "media_type",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
    )


def q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL stdlib decode through the production mapInPandas feature stage:
    even doc_ids become synthesized 16-bit PCM WAVs (decoded with ``wave``),
    odd doc_ids binary PGMs (pure-Python parser). The payload sample/pixel
    streams are closed-form in doc_id, so the DuckDB oracle recomputes the
    decoded features symbolically — byte-exact round-trip proof."""
    import pandas as pd

    from intake_esm_spark.functions import multimodal as mm

    docs = load_table(spark, sf, "documents").select("doc_id")

    def _gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = [
                mm.synth_wav_payload(int(d), 64 + int(d) % 64)
                if d % 2 == 0
                else mm.synth_pgm_payload(int(d))
                for d in ids
            ]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
                    "media_type": ["audio" if d % 2 == 0 else "image" for d in ids],
                }
            )

    media = docs.mapInPandas(_gen, "media_id long, payload binary, media_type string")
    feats = mm.extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        *[F.col("feature")[i].alias(f"f{i}") for i in range(8)],
    )


def q_multimodal_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Video frame-sampling plan (one row per sampled timestamp, decode
    stubbed): the declarative explode-by-sequence pattern."""
    from intake_esm_spark.functions import multimodal

    out = multimodal.frame_sample_plan(_media_frame(spark, sf), every_ms=1000)
    return out.select("media_id", "frame_ts_ms")


# ---------------------------------------------------------------------------
# embeddings: similarity search


def q_simsearch_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Cosine similarity of every corpus vector to query vec_id=0."""
    emb = load_table(spark, sf, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    scored = emb.crossJoin(
        F.broadcast(qv.select(F.col("embedding").alias("__q")))
    ).select(
        "vec_id",
        F.round(simsearch.cosine(F.col("embedding"), F.col("__q")), 6).alias("cos_sim"),
    )
    return scored


def q_simsearch_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force top-10 neighbors for 5 query vectors. The rank order is
    fully deterministic (desc cos_sim, asc vec_id), so a DuckDB
    row_number() oracle hash-checks it; cos_sim is rounded to 6dp on both
    sides (engines agree to 6dp, not to the last ulp)."""
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = simsearch.brute_force_topk(emb, queries, k=10)
    return out.select(
        "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim")
    )


def q_simsearch_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """All same-label vector pairs with cosine >= 0.3 (near-dup embedding
    detection — the pairwise-join shape of embedding dedup).

    ORACLE CROSS-CHECK ONLY: this formulation broadcasts the full
    embedding side, which is fine at oracle scale (sf<=0.1) and impossible
    at 100 TB. The production/bench pairs queries are
    ``simsearch_pairs_blocked`` (per-block GEMM) and ``simsearch_ivf``;
    this one exists so the blocked kernel has a hash-matched SQL twin."""
    emb = load_table(spark, sf, "embeddings")
    # Norms are attached per SIDE before the join (O(n) folds), so the
    # per-pair expression is a single dot fold — same quotient order as
    # simsearch.cosine, bit-identical values.
    a = simsearch.with_norm(
        emb.select(
            F.col("vec_id").alias("id_a"), F.col("label"), F.col("embedding").alias("ea")
        ),
        "ea",
        "na",
    )
    b = simsearch.with_norm(
        emb.select(
            F.col("vec_id").alias("id_b"), F.col("label"), F.col("embedding").alias("eb")
        ),
        "eb",
        "nb",
    )
    # Pair compute is quadratic while the shuffled bytes are tiny, so AQE
    # would coalesce a hash join to 1 task. Explicit round-robin on the
    # probe side (AQE keeps user-specified counts) + broadcast of the small
    # build side spreads the O(n²/labels) dot folds over every core. The
    # 100 TB path for this shape is cosine_pairs_blocked (gemm per block).
    spread = a.sparkSession.sparkContext.defaultParallelism
    pairs = (
        a.repartition(spread)
        .join(F.broadcast(b), on="label")
        .filter(F.col("id_a") < F.col("id_b"))
    )
    return (
        pairs.withColumn(
            "cos_sim",
            F.round(
                simsearch.dot(F.col("ea"), F.col("eb"))
                / (F.col("na") * F.col("nb")),
                6,
            ),
        )
        .filter(F.col("cos_sim") >= 0.3)
        .select("id_a", "id_b", "label", "cos_sim")
    )


def q_dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup removal (threshold 0.4 on this synthetic
    corpus — its max pairwise cosine is ~0.47): every vector with a
    lower-id neighbor at >= threshold is dropped, survivors returned.
    The operator's default pair plan is the blocked GEMM; this entry pins
    exact=True (fold-join baseline, 6dp-rounded) so the NOT EXISTS oracle
    hash-matches bitwise."""
    emb = load_table(spark, sf, "embeddings")
    out = simsearch.dedup_embeddings(emb, threshold=0.4, block_col="label", exact=True)
    return out.select("vec_id", "label")


def q_simsearch_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate top-10 via IVF (inverted-file) bucketing — the ANN path
    that scales past brute force. Centroids are pinned to the embeddings
    of vec_id 0..15 (an explicit, deterministic choice the oracle can
    reproduce verbatim), so bucket-assign -> probe -> top-k is exactly
    mirrored by the DuckDB SQL: assignment/probing compare 6dp-rounded
    cosines with higher-centroid-id tie-breaks on both engines."""
    emb = load_table(spark, sf, "embeddings")
    cents = [
        r["embedding"]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = simsearch.ivf_topk(emb, queries_df, k=10, nprobe=4, centroids=cents)
    return out.select("query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"))


def q_simsearch_pairs_blocked(spark: SparkSession, sf: str) -> DataFrame:
    """Same pairs via the numpy-matmul blocked kernel (one BLAS gemm per
    label block instead of n^2/2 per-pair folds) — the scale path. The
    GEMM selects the pair IDS (with a 1e-6 threshold margin so a last-ulp
    summation-order difference can't drop a boundary pair); the EMITTED
    cos_sim is then recomputed with the deterministic per-side-norm
    zip_with fold — the same expression as simsearch_pairs — and the
    threshold re-applied on the 6dp-rounded fold value. Output is
    bit-portable, so it shares simsearch_pairs' hash-checked oracle; the
    joins attaching the vectors broadcast the (pairs-scale) candidate
    side, never the corpus."""
    emb = load_table(spark, sf, "embeddings")
    cand = simsearch.cosine_pairs_blocked(
        emb, "label", threshold=0.3 - 1e-6
    ).select("id_a", "id_b")
    a = simsearch.with_norm(
        emb.select(
            F.col("vec_id").alias("id_a"), F.col("label"), F.col("embedding").alias("ea")
        ),
        "ea",
        "na",
    )
    b = simsearch.with_norm(
        emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb")),
        "eb",
        "nb",
    )
    partial = a.join(F.broadcast(cand), on="id_a")
    return (
        b.join(F.broadcast(partial), on="id_b")
        .withColumn(
            "cos_sim",
            F.round(
                simsearch.dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")),
                6,
            ),
        )
        .filter(F.col("cos_sim") >= 0.3)
        .select("id_a", "id_b", "label", "cos_sim")
    )


# ---------------------------------------------------------------------------
# training-pipeline operators (round 5): shuffle/packing, contamination,
# repetition stats


def q_multimodal_resize(spark: SparkSession, sf: str) -> DataFrame:
    """Resize through the production mapInPandas stage, proven end-to-end:
    every doc_id becomes a synthesized 16x8 binary PGM (closed-form
    pixels), resize_images scales it to 8x4 nearest-neighbor, and the
    resized raster is re-decoded by the feature stage. The DuckDB oracle
    recomputes the resized pixel stream symbolically —
    pixel(x,y) = (3*doc_id + (32*y + 2*x)*5) % 256 — so means/extrema
    match byte-exactly."""
    import pandas as pd

    from intake_esm_spark.functions import multimodal as mm

    docs = load_table(spark, sf, "documents").select("doc_id")

    def _gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": [mm.synth_pgm_payload(int(d), 16, 8) for d in ids],
                    "media_type": ["image"] * len(ids),
                }
            )

    media = docs.mapInPandas(_gen, "media_id long, payload binary, media_type string")
    resized = mm.resize_images(media, 8, 4)
    feats = mm.extract_features(
        resized.select("media_id", "payload", F.lit("image").alias("media_type"))
    )
    return feats.select(
        "media_id", *[F.col("feature")[i].alias(f"f{i}") for i in range(8)]
    )


def q_docs_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic global shuffle order — 0-based position of every
    document in the md5-keyed training order, computed with the two-phase
    distributed prefix sum (no single-task global window)."""
    from intake_esm_spark.operators import packing

    docs = load_table(spark, sf, "documents")
    out = packing.global_order_index(docs, "doc_id", salt="r5", n_buckets=64)
    return out.select("doc_id", "position")


def q_docs_pack_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget sequence packing: documents laid end-to-end in the
    deterministic shuffle order, cut into 2048-token training bins."""
    from intake_esm_spark.operators import packing

    docs = load_table(spark, sf, "documents")
    with_tok = docs.withColumn(
        "n_tokens", tx.ws_token_count(F.col("text")).cast("bigint")
    )
    out = packing.pack_token_bins(
        with_tok, "n_tokens", budget=2048, key_col="doc_id", salt="r5", n_buckets=64
    )
    return out.select("doc_id", "n_tokens", "token_offset", "bin_id")


_BENCH_BUCKETS = 50_000  # 5% of sampling.HASH_BUCKETS -> benchmark split


def q_contamination_check(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark contamination: a deterministic 5% hash-split of documents
    plays the eval set; every remaining document reports its distinct
    5-gram overlap with it (broadcast hash-join on 60-bit gram hashes)."""
    from intake_esm_spark.operators import contamination, sampling

    docs = load_table(spark, sf, "documents")
    b = sampling.hash_bucket(F.col("doc_id"), "bench")
    bench = docs.filter(b < _BENCH_BUCKETS)
    corp = docs.filter(b >= _BENCH_BUCKETS)
    return contamination.contamination_report(corp, bench, n=5, min_overlap=1)


def q_docs_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document repetition signals (top-2-gram fraction, distinct
    ratio) — computed fully in-row, zero shuffle."""
    from intake_esm_spark.operators import corpus

    docs = load_table(spark, sf, "documents")
    return corpus.repetition_stats(docs, n=2)


def q_simsearch_pairs_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate cosine pairs via banded random-hyperplane LSH: 16
    md5-derived planes in 4 bands block the corpus, the blocked-GEMM
    kernel scores within buckets (1e-6 margin), and the emitted cos_sim
    is recomputed with the deterministic per-side-norm fold + 6dp round
    (the simsearch_pairs_blocked recipe), so the pair set AND values are
    engine-exact: the oracle replays the same literal planes."""
    emb = load_table(spark, sf, "embeddings")
    cand = simsearch.cosine_pairs_lsh(
        emb, threshold=0.3 - 1e-6, n_planes=16, bands=4, dim=64
    ).select("id_a", "id_b")
    a = simsearch.with_norm(
        emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea")),
        "ea",
        "na",
    )
    b = simsearch.with_norm(
        emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb")),
        "eb",
        "nb",
    )
    partial = a.join(F.broadcast(cand), on="id_a")
    return (
        b.join(F.broadcast(partial), on="id_b")
        .withColumn(
            "cos_sim",
            F.round(
                simsearch.dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")),
                6,
            ),
        )
        .filter(F.col("cos_sim") >= 0.3)
        .select("id_a", "id_b", "cos_sim")
    )


def q_embed_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """Per-vector int8 quantization summary (scale + exact integer stats
    of the quantized vector) — the 4x-storage lever for the ANN index;
    floor(+0.5) rounding makes the integers engine-exact."""
    emb = load_table(spark, sf, "embeddings")
    out = simsearch.quantize_int8(emb)
    return out.select(
        "vec_id",
        "scale",
        F.aggregate(
            "qvec", F.lit(0).cast("bigint"), lambda a, x: a + x.cast("bigint")
        ).alias("q_sum"),
        F.array_min("qvec").alias("q_min"),
        F.array_max("qvec").alias("q_max"),
    )


def q_docs_curated(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end curation pass as ONE declarative plan — the pipeline a
    training run actually ships: exact-dedup survivors ∩ token-length
    window ∩ low-repetition ∩ decontaminated-vs-benchmark, composed from
    the individually-oracled operators (dedup_exact × docs_repetition ×
    contamination_check). Catalyst fuses the in-row stages (fingerprint,
    token count, repetition RLE) into the same scan; the only exchanges
    are the dedup's fingerprint agg, the repetition join, and the
    contamination anti-join."""
    from intake_esm_spark.operators import contamination, corpus, dedup, sampling

    docs = load_table(spark, sf, "documents")
    b = sampling.hash_bucket(F.col("doc_id"), "bench")
    bench = docs.filter(b < _BENCH_BUCKETS)
    corp = docs.filter(b >= _BENCH_BUCKETS)
    surv = dedup.dedup_exact(corp)
    rep = corpus.repetition_stats(corp, n=2).select("doc_id", "top_frac")
    bad = contamination.contaminated_ids(corp, bench, n=5)
    return (
        surv.withColumn("n_tokens", tx.ws_token_count(F.col("text")).cast("bigint"))
        .filter((F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 2000))
        .join(rep, "doc_id")
        .filter(F.col("top_frac") <= 0.3)
        .join(bad, "doc_id", "left_anti")
        .select("doc_id", "source", "n_tokens", "top_frac")
    )


def q_docs_select_best(spark: SparkSession, sf: str) -> DataFrame:
    """Data selection: the top-5 documents PER SOURCE by the hashed-BoW
    quality logit (rank on the 6dp-rounded score, doc_id ties) — the
    "keep the best N per domain" curation step that follows scoring.
    Grouped top-k window: partial-ranked before the per-source exchange,
    never a global sort."""
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    wts = tx.hashed_bow_weights(_QUALITY_BUCKETS, salt=_QUALITY_WSALT)
    words = docs.select(
        "doc_id", "source", tx.words_array(F.col("text")).alias("__w")
    )
    scored = words.select(
        "doc_id",
        "source",
        F.round(
            tx.hashed_bow_logit(F.col("__w"), wts, salt=_QUALITY_HSALT), 6
        ).alias("logit"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("logit"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "source", "logit", "rank")
    )


def q_docs_gram_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document duplication exposure: fraction of each doc's distinct
    5-grams that appear in >= 2 documents corpus-wide — catches templated
    documents assembled from corpus-common fragments that no pairwise
    Jaccard threshold would remove. Exact integer ratios, no rounding."""
    from intake_esm_spark.operators.corpus import gram_duplication

    docs = load_table(spark, sf, "documents")
    return gram_duplication(docs, n=5, min_doc_freq=2)


_BM25_TERMS = ["spark", "query", "table"]


def q_docs_bm25(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus retrieval: top-20 documents by Okapi BM25 for a 3-term
    query — one stats aggregation (N, total length, per-term document
    frequencies) broadcast back, then the whole score is in-row; ranking
    on the 6dp-rounded score with doc_id ties makes the cutoff
    engine-portable."""
    from intake_esm_spark.operators import retrieval

    docs = load_table(spark, sf, "documents")
    return retrieval.bm25_topk(docs, _BM25_TERMS, k=20)


def q_docs_bm25_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """The same BM25 top-20 answered from a MATERIALIZED inverted index
    (term-bucket-partitioned postings + stats sidecar): the probe
    partition-prunes to the query terms' buckets and reads postings, not
    corpus text — the retrieval sibling of the IVF index path. Scores
    are bit-identical to the inline operator (same IEEE expression in
    query-term order), so this entry shares docs_bm25's oracle SQL."""
    import tempfile

    from intake_esm_spark.operators import retrieval

    docs = load_table(spark, sf, "documents")
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_ii_oracle_{os.path.basename(sf.rstrip('/'))}",
    )
    # bucket count scales with the corpus (finer pruning at 100 TB);
    # 16 at test scale keeps partition-commit overhead from dominating
    retrieval.write_inverted_index(docs, path, n_term_buckets=16)
    return retrieval.bm25_topk_indexed(spark, path, _BM25_TERMS, k=20)


def q_docs_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    """Keyword extraction: top-3 characteristic terms per document by
    tf·idf (min_df=2 drops hapaxes) — the canonical distributed tf·idf
    plan: token-grain (doc, term) counts with map-side combine, term-
    grain document frequencies derived FROM the counts, term-keyed join,
    per-document top-k window on the rounded score."""
    from intake_esm_spark.operators import retrieval

    docs = load_table(spark, sf, "documents")
    return retrieval.tfidf_top_terms(docs, k=3, min_df=2)


_KMEANS_K = 8
_KMEANS_ITERS = 2


def q_embed_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed spherical k-means refinement of the IVF centroid set:
    2 full-corpus Lloyd iterations (rounded-cosine assignment, map-side-
    partial mean update — the treeAggregate-equivalent shuffle of
    partitions x k x d rows, per-iteration 6dp rounding in the plan).
    Output = the refined centroids exploded to (cid, pos, val); the
    DuckDB oracle replays both iterations exactly, including the
    empty-cluster keep-previous rule."""
    from intake_esm_spark.operators import clustering

    emb = load_table(spark, sf, "embeddings")
    cents = [
        [float(v) for v in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < _KMEANS_K).orderBy("vec_id").collect()
    ]
    refined = clustering.kmeans_refine(emb, cents, iters=_KMEANS_ITERS)
    rows = [
        (cid, pos, val)
        for cid, c in enumerate(refined)
        for pos, val in enumerate(c)
    ]
    return spark.createDataFrame(rows, "cid bigint, pos bigint, val double")


_MIX_WEIGHTS = {"src0": 3.0, "src1": 1.0, "src2": 1.0, "src3": 1.0}


def q_docs_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Source-mixture rebalancing: deterministic token-weighted
    downsampling of the corpus to a 3:1:1:1 target mix over four sources
    (sources outside the weight map drop entirely). Keep decision is the
    salted-hash filter, rates derive in-plan from per-source token
    masses — corpus never shuffles."""
    from intake_esm_spark.operators import mixing

    docs = load_table(spark, sf, "documents")
    out = mixing.apply_mixture(
        docs,
        _MIX_WEIGHTS,
        size_col=tx.ws_token_count(F.col("text")),
        salt="mix",
    )
    return out.select("doc_id", "source")


_PQ_M = 8  # 64-dim embeddings -> 8 subspaces x 8 dims, 16 codes each


def _pq_books(spark: SparkSession, sf: str):
    """Deterministic data-shaped codebooks: centroid (j, i) = subvector j
    of embedding vec_id=i, i < 16 (the IVF pinned-centroid pattern —
    replayable by the oracle straight from the table)."""
    from intake_esm_spark.operators import pq

    emb = load_table(spark, sf, "embeddings")
    sample = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    return pq.codebooks_from_rows(sample, m=_PQ_M)


def q_embed_pq_codes(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization encode (Jegou et al. 2011): each 64-dim
    vector compressed to 8 sub-space code indices (16 codes/subspace =
    4 bytes, 64x smaller than float32) — nearest centroid per subspace
    by 6dp-rounded squared-L2, ties to the lowest code, all as IN-ROW
    codegen'd folds over literal codebooks. Codes emitted as a csv
    string + checksum for the hash compare."""
    from intake_esm_spark.operators import pq

    books = _pq_books(spark, sf)
    emb = load_table(spark, sf, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("__v")
    )
    coded = vecs.select(
        "vec_id", pq.pq_encode(F.col("__v"), books).alias("__c")
    )
    return coded.select(
        "vec_id",
        F.array_join(
            F.transform(F.col("__c"), lambda c: c.cast("string")), ","
        ).alias("codes"),
        F.aggregate(
            F.col("__c"), F.lit(0).cast("bigint"), lambda a, x: a + x.cast("bigint")
        ).alias("code_sum"),
    )


def q_simsearch_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """ANN over the PQ-compressed corpus: encode once, then per query
    score the RECONSTRUCTION (ADC is exactly this with the lookup table
    precomputed) — rounded cosine, partial top-10 per query. The corpus
    scan reads 4-byte codes instead of 256-byte vectors; the decode is
    an in-row gather from literal codebooks."""
    from intake_esm_spark.operators import pq

    books = _pq_books(spark, sf)
    emb = load_table(spark, sf, "embeddings")
    from intake_esm_spark.operators._util import _spread

    # r14: spread the narrow (id, vec) rows BELOW the encode projection
    # — a single-file corpus otherwise runs the whole per-row argmin
    # encode + decode/score pipeline in ONE task (guide §2.1); the
    # round-robin placement is execution-only, scores unchanged.
    vecs = _spread(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("__v")
        )
    )
    coded = vecs.select(
        "vec_id", pq.pq_encode(F.col("__v"), books).alias("pq_codes")
    )
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq.pq_topk(coded, queries_df, books, k=10)


def _ivf_pq_index(
    spark: SparkSession, sf: str, name: str
) -> tuple[DataFrame, str, DataFrame]:
    """(embeddings, index path, queries) for the IVFPQ entries. Centroids
    pinned to vec_id 0..15, codebooks derived from the same rows. Each
    entry ``name`` writes its own index directory: the entries may be
    built concurrently, and a shared directory would be overwritten
    under a running reader."""
    import tempfile

    from intake_esm_spark.operators import pq as _pq

    emb = load_table(spark, sf, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    books = _pq.codebooks_from_rows(cents, m=_PQ_M)
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_{name}_{os.path.basename(sf.rstrip('/'))}",
    )
    simsearch.write_ivf_index_pq(emb, path, books, centroids=cents)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return emb, path, queries_df


def q_simsearch_ivf_pq(spark: SparkSession, sf: str) -> DataFrame:
    """IVFPQ end-to-end (the FAISS workhorse): coarse 16-bucket inverted
    file + 4-byte PQ codes on disk (64x smaller than float32) ->
    partition-pruned probe that decodes the reconstruction in the score
    expression. Every stage (rounded-cosine tie-high assignment, PQ
    encode argmin, probe, top-k) is exactly replayed by the DuckDB
    oracle."""
    _, path, queries_df = _ivf_pq_index(spark, sf, "ivfpq_oracle")
    out = simsearch.ivf_topk_indexed(spark, path, queries_df, k=10, nprobe=4)
    return out.select("query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"))


def q_simsearch_ivf_pq_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """The compressed-index + refine recipe end-to-end: IVFPQ probe for
    40 approximate candidates per query (4-byte codes, pruned
    partitions), then exact rescoring of ONLY those candidates against
    the full float vectors (an id-keyed candidate-set-sized join) and
    the exact top-10. How a 100 TB deployment gets exact final scores
    without exact scan costs."""
    emb, path, queries_df = _ivf_pq_index(spark, sf, "ivfpq_rerank_oracle")
    out = simsearch.ivf_topk_rerank(
        spark, path, queries_df, emb, k=10, nprobe=4
    )
    return out.select("query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"))


_FUNNEL_STEPS = ["signup", "view", "purchase"]
_FUNNEL_WITHIN = "12 hours"


def q_events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered-funnel progression (signup -> view -> purchase, each step
    within 12h of the previous): per cohort user, the step completion
    timestamps and count — the product-analytics question no plain
    groupBy answers (each step's eligible events depend on the previous
    step's per-user time). One user-keyed min-agg + join per step,
    type filters pushed to the scan."""
    from intake_esm_spark.operators.funnel import funnel

    events = load_table(spark, sf, "events")
    return funnel(events, _FUNNEL_STEPS, within=_FUNNEL_WITHIN)


def q_events_funnel_counts(spark: SparkSession, sf: str) -> DataFrame:
    """The conversion chart behind events_funnel: users surviving each
    step and the fraction of the step-1 cohort."""
    from intake_esm_spark.operators.funnel import funnel_counts

    events = load_table(spark, sf, "events")
    return funnel_counts(events, _FUNNEL_STEPS, within=_FUNNEL_WITHIN)


def q_events_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Daily cohort retention matrix: users grouped by first-active
    date; for each later day, how many came back. The classic
    product-analytics chart next to the funnel — three keyed exchanges,
    events collapsed to distinct (user, day) before anything else."""
    from intake_esm_spark.operators.retention import retention_matrix

    events = load_table(spark, sf, "events")
    return retention_matrix(events, grain_days=1)


def q_events_retention_weekly(spark: SparkSession, sf: str) -> DataFrame:
    """The same matrix at weekly grain (offset buckets of 7 days) —
    exercises the grain_days bucketing path."""
    from intake_esm_spark.operators.retention import retention_matrix

    events = load_table(spark, sf, "events")
    return retention_matrix(events, grain_days=7)


def q_events_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's
    latest click at-or-before it, within a 24h lookback — the as-of join
    (operators/asof.py, one shuffle on the user key) composed into the
    marketing-analytics shape. Out-of-window purchases keep a null
    touch (unattributed). Gap computed on exact microsecond longs so
    the double division replays bit-for-bit in the oracle."""
    from intake_esm_spark.operators.asof import asof_join

    # null users excluded on BOTH sides: the as-of window's partitionBy
    # groups NULL keys together while the oracle's equality join never
    # matches them — the sibling entries' isNotNull convention
    ev = load_table(spark, sf, "events").filter(F.col("user_id").isNotNull())
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    touches = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("ts").alias("touch_ts"),
        F.col("event_id").alias("touch_event_id"),
    )
    out = asof_join(
        purchases,
        touches,
        on="user_id",
        tolerance="24 hours",
        right_order_col="touch_event_id",
    )
    gap = (F.unix_micros("ts") - F.unix_micros("touch_ts")) / F.lit(60000000.0)
    return out.select(
        "event_id",
        "user_id",
        "value",
        "touch_event_id",
        "touch_ts",
        F.round(gap, 6).alias("gap_minutes"),
    )


_KMV_K = 32

_BS_NBOOT = 200
_BS_LEVEL = 0.95
# the EXPRESSIONS the operator computes, replayed here so the oracle
# embeds bit-identical doubles (1.0-0.95 is NOT 0.05 in IEEE — a naive
# 0.025 literal would flip ceil() at exact rank boundaries)
_BS_ALPHA = 1.0 - _BS_LEVEL
_BS_LO_P = _BS_ALPHA / 2.0
_BS_HI_P = 1.0 - _BS_ALPHA / 2.0


def _kmv_hashes_as_string(sk: DataFrame) -> DataFrame:
    """Serialize the array<bigint> sketch column to a comma-joined
    string so every entry's output schema is atomic (the driver's
    result canonicalizer hashes rows into a set and cannot handle
    list-valued cells)."""
    return sk.withColumn(
        "kmv_hashes",
        F.concat_ws(",", F.transform("kmv_hashes", lambda h: h.cast("string"))),
    )


def q_events_distinct_kmv(spark: SparkSession, sf: str) -> DataFrame:
    """KMV (bottom-k) distinct-user sketch per event type: the
    cardinality-estimation sketch with an EXACT SQL replay (unlike HLL,
    whose registers no oracle can reproduce). Keeps the 32 smallest
    md5-60 user hashes per group; estimate = (k-1)*2^60/h_k. The only
    full-data exchange is the distinct (group, hash) dedup."""
    from intake_esm_spark.operators.sketch import kmv_distinct

    events = load_table(spark, sf, "events")
    return _kmv_hashes_as_string(
        kmv_distinct(events, "user_id", ["event_type"], k=_KMV_K)
    )


def q_docs_sample_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Vassilvitskii
    A-ES): 15 docs per source drawn proportional to text length — the
    quality/importance-weighted subsampling step of a curation pipeline.
    Deterministic: score = u^(1/w) over the md5-60 hash-uniform, 12dp
    rounding + doc_id tiebreak make the selection engine-exact."""
    from intake_esm_spark.operators import sampling

    docs = load_table(spark, sf, "documents").withColumn(
        "__w", F.length("text").cast("double")
    )
    out = sampling.weighted_take_per_group(
        docs, 15, "__w", "source", "doc_id"
    )
    return out.select("doc_id", "source", F.col("__w").alias("weight"))


def q_docs_sample_prop(spark: SparkSession, sf: str) -> DataFrame:
    """Probability-proportional Bernoulli sampling: each doc kept with
    its own inclusion probability p = min(1, len/5000) — longer docs
    oversampled, zero-shuffle filter, deterministic forever."""
    from intake_esm_spark.operators import sampling

    docs = load_table(spark, sf, "documents").withColumn(
        "__p", F.least(F.lit(1.0), F.length("text").cast("double") / F.lit(5000.0))
    )
    out = sampling.weighted_bernoulli_sample(docs, "__p", "doc_id")
    return out.select("doc_id", "source", F.round("__p", 6).alias("p_keep"))


def q_events_daily_ma(spark: SparkSession, sf: str) -> DataFrame:
    """Daily purchase revenue + trailing 7-day moving average: exact
    decimal accumulation, calendar RANGE window over the day-grain
    rollup (frame bounded by the calendar, not the data)."""
    from intake_esm_spark.operators.timeseries import daily_rollup_ma

    events = load_table(spark, sf, "events")
    return daily_rollup_ma(
        events.filter(F.col("event_type") == "purchase"), window_days=7
    )


def q_events_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing z-score anomaly detection on daily purchase revenue:
    each day scored against the preceding 7 days' decimal-exact
    moments. The alerting query behind the daily_ma chart."""
    from intake_esm_spark.operators.timeseries import detect_anomalies

    events = load_table(spark, sf, "events")
    out = detect_anomalies(
        events.filter(F.col("event_type") == "purchase"),
        window_days=7,
        z_threshold=2.0,
    )
    return out.withColumn("is_anomaly", F.col("is_anomaly").cast("int"))


def q_events_session_stats(spark: SparkSession, sf: str) -> DataFrame:
    """One-row engagement summary over the 30-min session windows:
    session/user counts, mean events per session, mean event-span
    minutes (gap subtracted back out of session_window's closing pad),
    bounce rate — spans accumulate as exact epoch-micro longs."""
    from intake_esm_spark.streaming.windows import session_stats

    events = load_table(spark, sf, "events")
    return session_stats(events, gap="30 minutes", gap_minutes=30.0)


def q_events_funnel_lags(spark: SparkSession, sf: str) -> DataFrame:
    """Time-to-convert distributions per funnel transition: count, mean
    and p50/p90 lag minutes over converting users — one aggregation on
    the funnel frame, exact type-7 percentiles on identical per-user
    minute doubles (the quantile_cont parity rule)."""
    from intake_esm_spark.operators.funnel import funnel, funnel_lag_stats

    events = load_table(spark, sf, "events")
    steps = ["signup", "view", "purchase"]
    return funnel_lag_stats(
        funnel(events, steps, within="12 hours"), steps
    )


def q_events_dau_mau(spark: SparkSession, sf: str) -> DataFrame:
    """DAU / trailing-28d MAU / stickiness per day: COUNT DISTINCT over
    a range window is unsupported, so MAU uses the contribution explode
    (each user-day feeds the next 28 days' MAU) — ×28 amplification of
    the already-collapsed user-day frame, never of raw events."""
    from intake_esm_spark.operators.eventlog import dau_mau

    events = load_table(spark, sf, "events")
    return dau_mau(events, mau_days=28)


def q_basket_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket association rules over order→part baskets
    (operators/basket.py): Apriori item prefilter BEFORE the quadratic
    within-basket self-join, mega-basket guard, directional
    support/confidence/lift — "bought A also bought B" on the TPC-H
    shape. min_support 0.0002 ≈ pairs co-occurring ≥3 times here."""
    from intake_esm_spark.operators.basket import association_rules

    li = load_table(spark, sf, "lineitem")
    return association_rules(
        li, "l_orderkey", "l_partkey", min_support=0.0002
    )


def q_basket_rules3(spark: SparkSession, sf: str) -> DataFrame:
    """Level-3 Apriori (operators/basket.py association_rules3):
    frequent item TRIPLES over order→part baskets, three {x,y} → z
    rules per triple — the higher-order itemset step the r7 verdict
    asked for. The quadratic pair join runs over Apriori-prefiltered
    items, the cubic extension only over FREQUENT pairs (lossless by
    support monotonicity), so every prune is replay-free for the
    oracle. min_support 0.00013 ≈ triples co-occurring ≥2 times here."""
    from intake_esm_spark.operators.basket import association_rules3

    li = load_table(spark, sf, "lineitem")
    return association_rules3(
        li, "l_orderkey", "l_partkey", min_support=0.00013
    )


def q_lineitem_target_encoded(spark: SparkSession, sf: str) -> DataFrame:
    """Leave-one-out target encoding of return flag by extended price
    (operators/profiling.py): category sums from one partial-aggregated
    groupBy joined back on the key, global prior broadcast, encoding
    in-row — the no-leak categorical encoding for model prep."""
    from intake_esm_spark.operators.profiling import target_encode

    li = load_table(spark, sf, "lineitem")
    out = target_encode(li, "l_returnflag", "l_extendedprice")
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice",
        "l_returnflag_te",
    )


def q_events_rolling_features(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user trailing 7/30-day feature snapshot (operators/eventlog
    rolling_user_features): map-side-combined day rollup + a tiny
    day-grain re-key, all four RANGE windows sharing one sort — the
    feature-store shape a model consumes."""
    from intake_esm_spark.operators.eventlog import rolling_user_features

    events = load_table(spark, sf, "events")
    return rolling_user_features(events, windows=[7, 30])


def q_events_cusum(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM level-shift alarms on daily purchase revenue: the textbook
    recursion computed CLOSED-FORM as prefix-sum minus running-min over
    the calendar-bounded day frame (no recursion, no UDF); drifts
    quantize to decimal so the running sums are engine-exact."""
    from intake_esm_spark.operators.timeseries import detect_level_shift

    events = load_table(spark, sf, "events")
    return detect_level_shift(
        events.filter(F.col("event_type") == "purchase"),
        k_sigma=0.5,
        h_sigma=4.0,
    )


def q_lineitem_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-group quantiles: p25/p50/p75/p95 of extended price per
    return flag — Spark's sort-based exact `percentile` (type-7 linear
    interpolation, the same definition DuckDB's quantile_cont uses).
    The exact form is the oracle-able one; at 100 TB swap in
    approx_percentile (t-digest) for one-pass bounded memory."""
    from intake_esm_spark.operators.profiling import group_quantiles

    li = load_table(spark, sf, "lineitem")
    return group_quantiles(
        li,
        "l_extendedprice",
        ["l_returnflag"],
        [0.25, 0.5, 0.75, 0.95],
        out_cols=["p25", "p50", "p75", "p95"],
    )


def q7_nation_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral trade revenue between
    two nations by ship year. Dim joins (supplier, both nation sides)
    broadcast; the lineitem->orders orderkey join is the one real
    shuffle and AQE picks its strategy; decimal-exact revenue."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("__sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("__cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    j = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(
            F.broadcast(supp.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("__sn_key"))
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            cust.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("__cn_key"))
        .filter(pair)
    )
    return (
        j.withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_dec_sum("l_extendedprice * (1 - l_discount)", "revenue"))
    )


def q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item ranking): top 20 customers by
    revenue lost to returns in one quarter — fact joins keyed on
    orderkey/custkey, nation broadcast, deterministic top-k
    (revenue desc, custkey tiebreak) via TakeOrderedAndProject."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    j = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1996-04-01"))
            ).select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            cust.select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dec_sum("l_extendedprice * (1 - l_discount)", "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q_events_debounce(spark: SparkSession, sf: str) -> DataFrame:
    """Burst deduplication (operators/eventlog.py debounce_events):
    events within 60s of their predecessor per (user, type) collapse to
    the burst head — gaps-and-islands, one keyed exchange, survivors +
    burst_size. The telemetry double-fire cleaner."""
    from intake_esm_spark.operators.eventlog import debounce_events

    events = load_table(spark, sf, "events")
    out = debounce_events(events, gap="60 seconds")
    return out.select(
        "event_id", "user_id", "event_type", "ts", "value", "burst_size"
    )


def q_lineitem_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Ranking lift/gains table (operators/profiling.py lift_table):
    lineitems ranked by discount into deciles, outcome = returned flag
    — "do high-discount lines get returned more", the decile chart a
    ranking model is judged by. Total-order ntile + decimal outcome
    sums through bins AND the cumulative capture window."""
    from intake_esm_spark.operators.profiling import lift_table

    li = load_table(spark, sf, "lineitem").select(
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("__id"),
        "l_discount",
        (F.col("l_returnflag") == "R").cast("int").alias("__ret"),
    )
    return lift_table(li, "l_discount", "__ret", "__id")


def q_events_did(spark: SparkSession, sf: str) -> DataFrame:
    """Difference-in-differences readout (operators/experiment.py
    did_report): hash-assigned treatment (user_id parity), calendar
    pre/post split, per-(user, period) purchase totals as the unit
    observations — 2×2 decimal cell moments, DiD estimate + SE in one
    aggregation pass."""
    from intake_esm_spark.operators.experiment import did_report

    events = load_table(spark, sf, "events")
    units = (
        events.filter(
            (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
        )
        .groupBy(
            "user_id",
            F.when(F.col("ts") < F.lit("2024-01-16"), "pre")
            .otherwise("post")
            .alias("period"),
        )
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("obs")
        )
        .select(
            F.when(F.col("user_id") % 2 == 0, "treatment")
            .otherwise("control")
            .alias("grp"),
            "period",
            "obs",
        )
    )
    return did_report(units, "grp", "period", "obs")


def q_events_forecast_backtest(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal-naive forecast backtest (operators/timeseries.py):
    day-7 lag forecast of daily purchase revenue scored with
    MAE/RMSE/MAPE and the lag-1 naive skill ratio — decimal error
    accumulation, one corpus exchange."""
    from intake_esm_spark.operators.timeseries import seasonal_naive_backtest

    events = load_table(spark, sf, "events").filter(
        F.col("event_type") == "purchase"
    )
    return seasonal_naive_backtest(events, season=7)


def q_events_rfm(spark: SparkSession, sf: str) -> DataFrame:
    """RFM segmentation (operators/segmentation.py): per-user recency/
    frequency/monetary quintiles against the corpus-max anchor, scored
    so 555 = best — ntile over total orders (metric + user tiebreak)
    keeps every boundary engine-exact."""
    from intake_esm_spark.operators.segmentation import rfm_segments

    events = load_table(spark, sf, "events")
    return rfm_segments(events)


def q_lineitem_abc(spark: SparkSession, sf: str) -> DataFrame:
    """ABC / Pareto analysis (operators/segmentation.py): parts ranked
    by discounted revenue, decimal cumulative share, 80/95 class cuts —
    "which parts carry 80% of revenue"."""
    from intake_esm_spark.operators.segmentation import abc_classification

    li = load_table(spark, sf, "lineitem").select(
        "l_partkey",
        F.expr("l_extendedprice * (1 - l_discount)").alias("__rev"),
    )
    return abc_classification(li, "l_partkey", "__rev")


def q_graph_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node triangle counts (operators/graph.py triangle_count,
    compact-forward: id-oriented wedges + closing-edge join, each
    triangle found once at its lowest corner) over the PART co-purchase
    graph, edges kept only when the pair shares ≥2 orders. The support
    threshold is the scale story: an unthresholded co-purchase graph
    DENSIFIES toward complete as orders accumulate (measured: the
    supplier variant hits 90% density at sf0.1 and the wedge join
    degenerates to Σd² ≈ n³), while minimum-support edges stay sparse —
    the same reason basket rules carry a min_support."""
    from intake_esm_spark.operators.graph import triangle_count

    li = load_table(spark, sf, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.countDistinct("ok").alias("__n"))
        .filter(F.col("__n") >= 2)
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )
    return triangle_count(edges)


def q_graph_link_pred(spark: SparkSession, sf: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction (operators/graph.py
    link_prediction_jaccard) over the same min-support-2 PART
    co-purchase graph as graph_triangles: top-25 non-edges by shared-
    neighbor Jaccard — integer intersection counts, one final divide,
    pair tiebreak."""
    from intake_esm_spark.operators.graph import link_prediction_jaccard

    li = load_table(spark, sf, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.countDistinct("ok").alias("__n"))
        .filter(F.col("__n") >= 2)
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )
    return link_prediction_jaccard(edges, k=25)


def q_docs_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Two-word collocations by the word2vec phrase score (operators/
    corpus.py collocations): adjacent-bigram lift over the normalized
    token stream, exact integer arithmetic (no log-PMI ulp drift),
    partial top-k — the phrase-merge step before tokenizer training."""
    from intake_esm_spark.operators.corpus import collocations

    docs = load_table(spark, sf, "documents")
    return collocations(docs, min_count=5, k=50)


def q_events_attribution_multi(spark: SparkSession, sf: str) -> DataFrame:
    """Linear multi-touch attribution (operators/eventlog.py
    multi_touch_attribution): every click in the 24h lookback shares
    the purchase credit 1/n — the participation complement of the
    as-of last-touch entry. Equi-keyed range join bounded by
    touches-per-lookback; credits are exact integer-ratio doubles."""
    from intake_esm_spark.operators.eventlog import multi_touch_attribution

    events = load_table(spark, sf, "events")
    out = multi_touch_attribution(events, "purchase", "click")
    return out.select(
        "conversion_id",
        "user_id",
        "touch_event_id",
        "touch_ts",
        "conversion_value",
        "credit",
        "credited_value",
    )


def q_events_attribution_position(spark: SparkSession, sf: str) -> DataFrame:
    """Position-based (40/20/40) multi-touch attribution: first and
    last touches take 0.4 each, the middle splits the rest — the other
    standard marketing credit model, same bounded range join."""
    from intake_esm_spark.operators.eventlog import multi_touch_attribution

    events = load_table(spark, sf, "events")
    out = multi_touch_attribution(
        events, "purchase", "click", position_weights=(0.4, 0.4)
    )
    return out.select(
        "conversion_id",
        "user_id",
        "touch_event_id",
        "credit",
        "credited_value",
    )


def q_customer_dupes(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution (operators/linkage.py): candidate duplicate
    customers — same nation, name Levenshtein ≤ 1 — via the FastSS
    deletion-neighborhood index: ~|name| variant rows per record joined
    on (block, variant), LOSSLESS for distance ≤ 1 and measured 18×
    faster than the quadratic block join at sf0.1 (1.3 s vs 24.8 s,
    bit-identical output — the oracle replays the quadratic form and
    the hash compare proves the equivalence)."""
    from intake_esm_spark.operators.linkage import candidate_matches

    cust = load_table(spark, sf, "customer")
    return candidate_matches(
        cust,
        "c_custkey",
        "c_name",
        ["c_nationkey"],
        max_distance=1,
        method="deletion_index",
    )


def q_customer_profile_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Schema/distribution drift report (operators/profiling.py
    profile_drift) between the two derived customer snapshots the CDC
    entry diffs: per column null rate, distinct count, decimal-exact
    mean, and deltas — one aggregation pass per side."""
    from intake_esm_spark.operators.profiling import profile_drift

    old, new = _customer_snapshots(spark, sf)
    return profile_drift(old, new)


_EWMA_ALPHA, _EWMA_LAGS = 0.2, 14


def q_events_ewma(spark: SparkSession, sf: str) -> DataFrame:
    """Truncated EWMA of daily purchase revenue (α=0.2, 14 lags): the
    exponential-decay smoother as a FIXED in-row expression over window
    lags — no sequential recursion, so it parallelizes like any window.
    Weights are Python double literals shared verbatim with the oracle
    (repr round-trip), summed in identical lag order."""
    from intake_esm_spark.operators.timeseries import ewma_daily

    events = load_table(spark, sf, "events").filter(
        F.col("event_type") == "purchase"
    )
    return ewma_daily(events, alpha=_EWMA_ALPHA, lags=_EWMA_LAGS)


def q_events_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort LTV curves (operators/retention.py cohort_ltv): users
    cohorted by first monetized day, weekly cumulative revenue per
    cohort user — decimal accumulation through BOTH the period
    aggregate and the cumulative window, one pinned corpus scan."""
    from intake_esm_spark.operators.retention import cohort_ltv

    events = load_table(spark, sf, "events").filter(
        F.col("event_type") == "purchase"
    )
    return cohort_ltv(events, grain_days=7)


def q_lineitem_benford(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-digit screen over extended price (operators/
    profiling.py benford_profile): digit from the DECIMAL string
    rendering (a double's string can go scientific; log10/pow drift in
    the last ulp near powers of ten), one digit-keyed aggregate."""
    from intake_esm_spark.operators.profiling import benford_profile

    li = load_table(spark, sf, "lineitem")
    return benford_profile(li, "l_extendedprice")


def q13_custdist(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): orders per
    customer via left join (keeps zero-order customers), then the
    histogram of counts — two partial-aggregated exchanges, the second
    over customer-cardinality data only."""
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    per_cust = (
        cust.select("c_custkey")
        .join(
            orders.filter(F.col("o_orderpriority") != "1-URGENT").select(
                "o_custkey", "o_orderkey"
            ),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .select("c_count", "custdist")
    )


def q14_promo_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape (promo revenue share): percentage of one month's
    revenue from PROMO-type parts — conditional decimal aggregate over
    the fact ⋈ broadcast(part) join, one output row."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    j = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    ).join(
        F.broadcast(part.select("p_partkey", "p_type")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    promo = F.sum(
        F.expr(
            "CAST(CASE WHEN p_type = 'PROMO' "
            "THEN l_extendedprice * (1 - l_discount) ELSE 0 END "
            "AS DECIMAL(18,6))"
        )
    ).cast("double")
    total = F.sum(
        F.expr("CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))")
    ).cast("double")
    return j.agg(
        F.round(F.lit(100.0) * promo / total, 6).alias("promo_revenue_pct")
    )


def q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier view): per-supplier quarter
    revenue, keep the row(s) equal to the max — the view + scalar
    subquery replayed as an unpartitioned max window OVER the
    supplier-cardinality aggregate (the window sits above the groupBy,
    so the single-partition stage sees suppliers, not lineitems)."""
    from pyspark.sql import Window

    li = load_table(spark, sf, "lineitem")
    supp = load_table(spark, sf, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(_dec_sum("l_extendedprice * (1 - l_discount)", "total_revenue"))
    )
    w = Window.partitionBy()
    top = rev.withColumn("__mx", F.max("total_revenue").over(w)).filter(
        F.col("total_revenue") == F.col("__mx")
    )
    return top.join(
        F.broadcast(supp.select("s_suppkey", "s_name")),
        F.col("l_suppkey") == F.col("s_suppkey"),
    ).select(
        "s_suppkey",
        "s_name",
        F.round("total_revenue", 6).alias("total_revenue"),
    )


def q17_small_qty_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): for one brand's
    parts, revenue of lineitems below 20% of that part's average
    quantity — the correlated subquery decorrelated into a per-part
    aggregate joined back on the part key (both sides partial-agg /
    broadcastable; the fact never sees a window)."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    brand_parts = part.filter(F.col("p_brand") == "Brand#11").select(
        "p_partkey"
    )
    lib = li.join(
        F.broadcast(brand_parts), F.col("l_partkey") == F.col("p_partkey")
    )
    avg_qty = lib.groupBy("l_partkey").agg(
        (
            F.sum(F.expr("CAST(l_quantity AS DECIMAL(18,6))")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("__avg_q")
    )
    small = lib.join(
        F.broadcast(avg_qty.select(F.col("l_partkey").alias("__pk"), "__avg_q")),
        F.col("l_partkey") == F.col("__pk"),
    ).filter(F.col("l_quantity") < F.lit(0.2) * F.col("__avg_q"))
    return small.agg(
        F.round(
            F.sum(F.expr("CAST(l_extendedprice AS DECIMAL(18,6))")).cast(
                "double"
            )
            / F.lit(7.0),
            6,
        ).alias("avg_yearly")
    )


def q18_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): orders whose line
    quantities sum past 250, ranked — the HAVING-subquery replayed as a
    partial-aggregated groupBy on the fact, semi-joined back, customer
    broadcast, deterministic top-100."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.expr("CAST(l_quantity AS DECIMAL(18,6))")).alias("__sq"))
        .filter(F.col("__sq") > 250)
        .select(
            "l_orderkey", F.col("__sq").cast("double").alias("sum_qty")
        )
    )
    j = big.join(
        orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).join(
        F.broadcast(cust.select("c_custkey", "c_name")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return (
        j.select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("o_orderdate"),
            "o_totalprice",
            F.round("sum_qty", 6).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


def q22_idle_rich(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales-opportunity): customers with
    above-average positive balance and NO orders in a window — the
    scalar subquery broadcast as a 1-row frame, the NOT EXISTS as a
    left-anti join on the customer key, counts/sums per nation key
    group. (Adapted: this dataset's customers all have SOME order, so
    the anti-join window is 2000+.)"""
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.expr("CAST(c_acctbal AS DECIMAL(18,6))")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("__ab")
    )
    recent = orders.filter(F.col("o_orderdate") >= F.lit("2000-01-01")).select(
        "o_custkey"
    )
    idle = (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__ab"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dec_sum("c_acctbal", "totacctbal"),
        )
        .select(
            "c_nationkey",
            "numcust",
            F.round("totacctbal", 6).alias("totacctbal"),
        )
    )


def q2_min_cost_supp(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier). Adapted: this dataset has no
    partsupp, so the part-supplier relation is distilled from lineitem
    and cost := the average unit price that supplier charged for that
    part. The correlated MIN subquery is decorrelated into a per-part
    aggregate joined back on (part, cost); every dimension join is
    broadcast, so the fact contributes exactly one keyed exchange (the
    pair aggregate) regardless of scale."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    eu_supp = (
        supp.join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        (
            F.sum(F.expr("CAST(l_extendedprice AS DECIMAL(18,6))")).cast(
                "double"
            )
            / F.sum(F.expr("CAST(l_quantity AS DECIMAL(18,6))")).cast("double")
        ).alias("supplycost")
    )
    target = part.filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") >= 15)
    ).select("p_partkey", "p_brand")
    cand = ps.join(
        F.broadcast(target), F.col("l_partkey") == F.col("p_partkey")
    ).join(F.broadcast(eu_supp), F.col("l_suppkey") == F.col("s_suppkey"))
    minc = cand.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.min("supplycost").alias("__min_c")
    )
    return (
        cand.join(
            F.broadcast(minc),
            (F.col("l_partkey") == F.col("__pk"))
            & (F.col("supplycost") == F.col("__min_c")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "p_brand",
            F.round("supplycost", 6).alias("supplycost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q4_order_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): orders placed in one
    quarter where EXISTS a line shipped >90 days after the order date
    (late-ship proxy — this dataset has no commit/receipt dates),
    counted per priority. The EXISTS compiles to a left-semi join on
    the order key with the date predicate inside the join condition;
    the histogram is a 5-group aggregate over order-cardinality data."""
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    q = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    late = q.join(
        li.select("l_orderkey", "l_shipdate"),
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


def q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): of ECONOMY-part revenue
    sold to ASIA customers in 1996-1997, the share supplied by
    NATION_7's suppliers, per order year. Two nation joins — the
    customer side filters the market, the supplier side labels the
    numerator — all dims broadcast, one fact exchange into the
    2-row year group."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    part = load_table(spark, sf, "part")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    asia_cust = cust.join(
        F.broadcast(
            nation.join(
                F.broadcast(region.filter(F.col("r_name") == "ASIA")),
                F.col("n_regionkey") == F.col("r_regionkey"),
            ).select("n_nationkey")
        ),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey")
    supp_nation = supp.join(
        F.broadcast(
            nation.select("n_nationkey", F.col("n_name").alias("supp_nation"))
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    j = (
        li.join(
            F.broadcast(
                part.filter(F.col("p_type") == "ECONOMY").select("p_partkey")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1998-01-01"))
            ).select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(asia_cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    num = F.sum(
        F.expr(
            "CAST(CASE WHEN supp_nation = 'NATION_7' "
            "THEN l_extendedprice * (1 - l_discount) ELSE 0 END "
            "AS DECIMAL(18,6))"
        )
    ).cast("double")
    den = F.sum(
        F.expr("CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))")
    ).cast("double")
    return j.groupBy(
        F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(F.round(num / den, 6).alias("mkt_share"))


def q9_profit_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit). Adapted: supply cost has
    no partsupp source here, so profit := revenue − 0.6·p_retailprice·
    quantity (a fixed-margin cost proxy). Part-name LIKE filter,
    supplier-nation and part dims broadcast, one fact exchange into
    the (nation, year) group."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    supp = load_table(spark, sf, "supplier")
    part = load_table(spark, sf, "part")
    nation = load_table(spark, sf, "nation")
    j = (
        li.join(
            F.broadcast(
                part.filter(F.col("p_name").contains("gear")).select(
                    "p_partkey", "p_retailprice"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(
                supp.select("s_suppkey", "s_nationkey").join(
                    F.broadcast(
                        nation.select(
                            "n_nationkey", F.col("n_name").alias("nation")
                        )
                    ),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                )
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    return (
        j.groupBy(
            "nation", F.year("o_orderdate").cast("int").alias("o_year")
        )
        .agg(
            F.round(
                F.sum(
                    F.expr(
                        "CAST(l_extendedprice * (1 - l_discount) "
                        "- CAST(0.6 AS DOUBLE) * p_retailprice * l_quantity "
                        "AS DECIMAL(18,6))"
                    )
                ).cast("double"),
                6,
            ).alias("sum_profit")
        )
    )


def q11_important_stock(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification). Adapted:
    stock value has no partsupp source, so a part's value held by
    EUROPE suppliers is the extended price they shipped of it; parts
    whose value exceeds 1.5x the average part value are kept (the
    spec's 0.0001/SF fraction re-expressed scale-invariantly). The
    global scalar subquery broadcasts as a 1-row frame over the
    part-grain aggregate — the fact contributes one keyed exchange."""
    li = load_table(spark, sf, "lineitem")
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    eu = (
        supp.join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    per_part = (
        li.join(F.broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(_dec_sum("l_extendedprice", "value"))
    )
    total = per_part.agg(
        (
            F.sum(F.expr("CAST(value AS DECIMAL(18,6))")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("__avg")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.lit(1.5) * F.col("__avg"))
        .select("p_partkey", F.round("value", 6).alias("value"))
        .orderBy(F.col("value").desc(), "p_partkey")
    )


def q12_delay_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-delay priority). Adapted: no shipmode
    column, so lines shipped in 1996 are bucketed by ship delay
    (EARLY/ON_TIME/LATE vs the order date) and each bucket counts
    urgent-vs-other order priorities — the classic CASE-sum pivot over
    the fact ⋈ orders join, one exchange into a 3-row group."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    j = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    ).join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay >= 180, "LATE")
        .when(delay >= 0, "ON_TIME")
        .otherwise("EARLY")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.select(bucket.alias("delay_bucket"), high.alias("__h"))
        .groupBy("delay_bucket")
        .agg(
            F.sum(F.when(F.col("__h"), 1).otherwise(0)).alias(
                "high_line_count"
            ),
            F.sum(F.when(F.col("__h"), 0).otherwise(1)).alias(
                "low_line_count"
            ),
        )
    )


def q16_part_supplier_cnt(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape (part-supplier relationship). Adapted: the
    part-supplier relation is the distinct (part, supplier) pairs seen
    in lineitem, and 'complaint' suppliers are those with negative
    balance (no comment column). Anti-join the excluded suppliers,
    broadcast the filtered part dim, countDistinct suppliers per
    (brand, type, size) — one distinct exchange + one group exchange,
    both partial-aggregated."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    supp = load_table(spark, sf, "supplier")
    rel = li.select("l_partkey", "l_suppkey").distinct()
    bad = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    ok = rel.join(
        F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    dims = part.filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        ok.join(F.broadcast(dims), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q19_brand_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    an OR of three (brand, size-range, quantity-range) conjunctions
    over the fact ⋈ broadcast(part) join — Catalyst pushes the
    per-side conjuncts (quantity ranges to the scan, brand/size to the
    dim) and the residual OR evaluates post-join; single scalar out."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    j = li.join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    c1 = (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 20)
    )
    c2 = (
        (F.col("p_brand") == "Brand#25")
        & F.col("p_size").between(5, 25)
        & F.col("l_quantity").between(10, 35)
    )
    c3 = (
        (F.col("p_brand") == "Brand#22")
        & F.col("p_size").between(10, 50)
        & F.col("l_quantity").between(20, 50)
    )
    return j.filter(c1 | c2 | c3).agg(
        _dec_sum("l_extendedprice * (1 - l_discount)", "revenue")
    ).select(F.round("revenue", 6).alias("revenue"))


def q20_volume_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion). Adapted: availqty
    has no source table, so a supplier qualifies if it shipped >25% of
    some red-named part's total 1996 volume. The nested-IN chain
    decorrelates into: pair aggregate → per-part total joined back →
    share filter → distinct suppliers semi-joined to the dim. Two
    keyed exchanges over the filtered fact, dims broadcast."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    supp = load_table(spark, sf, "supplier")
    red = part.filter(F.col("p_name").startswith("red")).select("p_partkey")
    pairs = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(_dec_sum("l_quantity", "pair_qty"))
    )
    tot = pairs.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.sum(F.expr("CAST(pair_qty AS DECIMAL(18,6))"))
        .cast("double")
        .alias("__tot")
    )
    qualifying = (
        pairs.join(F.broadcast(tot), F.col("l_partkey") == F.col("__pk"))
        .filter(F.col("pair_qty") > F.lit(0.25) * F.col("__tot"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(
            F.broadcast(qualifying),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def q21_waiting_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): on
    finalized multi-supplier orders, count per supplier the orders
    where it was the ONLY late shipper (late := shipped >180 days
    after the order date — no receipt/commit dates here). The
    exists/not-exists self-join pair decorrelates into ONE per-order
    aggregate (distinct suppliers, distinct late suppliers, the sole
    late supplier via max-over-case) — one fact exchange instead of
    two self-joins."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    supp = load_table(spark, sf, "supplier")
    lo = li.join(
        orders.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_orderdate"
        ),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    late_supp = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 180,
        F.col("l_suppkey"),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("__n_supp"),
        F.countDistinct(late_supp).alias("__n_late"),
        F.max(late_supp).alias("__late_supp"),
    )
    qual = per_order.filter(
        (F.col("__n_supp") > 1) & (F.col("__n_late") == 1)
    )
    return (
        qual.join(
            F.broadcast(supp.select("s_suppkey", "s_name")),
            F.col("__late_supp") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


def q_graph_label_prop(spark: SparkSession, sf: str) -> DataFrame:
    """Synchronous label-propagation communities (4 rounds, self-vote,
    min-label ties — operators/graph.py label_propagation) over the
    same customer–supplier co-purchase graph PageRank ranks. Pure
    integer/string arithmetic, so the unrolled SQL replay agrees
    exactly; three keyed exchanges per round, label frame node-sized
    and checkpointed."""
    from intake_esm_spark.operators.graph import label_propagation

    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return label_propagation(edges, iters=4)


def q_parts_also_bought(spark: SparkSession, sf: str) -> DataFrame:
    """Item-to-item co-occurrence recommendations (operators/recs.py
    also_bought): top-3 cosine neighbors per part over order baskets —
    the within-basket self-join is Σ|b|²-bounded exactly like the
    basket-rules family, counts exact, cosine a fixed IEEE expression."""
    from intake_esm_spark.operators.recs import also_bought

    li = load_table(spark, sf, "lineitem")
    return also_bought(
        li, "l_orderkey", "l_partkey", top_k=3, min_pair_count=2
    )


def q_events_survival(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan-Meier churn curve (operators/survival.py km_survival):
    per-user duration = days between first and last event, censored if
    the user was still active in the final 14 days of the corpus. One
    user-keyed exchange; the at-risk/cumulative windows run over the
    duration grain (bounded by the calendar)."""
    from intake_esm_spark.operators.survival import km_survival

    events = load_table(spark, sf, "events")
    per_user = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.min("ts").alias("__f"), F.max("ts").alias("__l"))
    )
    mx = per_user.agg(F.max("__l").alias("__m"))
    subjects = per_user.crossJoin(F.broadcast(mx)).select(
        F.datediff(F.col("__l"), F.col("__f")).alias("dur"),
        (F.col("__l") < F.col("__m") - F.expr("INTERVAL 14 DAYS"))
        .cast("int")
        .alias("ev"),
    )
    return km_survival(subjects, "dur", "ev")


def q_events_km_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan-Meier churn curve WITH pointwise log-log confidence
    bands (operators/survival.py km_confidence, round 14 — lifelines /
    R survfit(conf.type='log-log') default): Greenwood variance factor
    and the survival log-sum accumulate as 12dp-decimal terms in the
    SAME bucketed cumsum pass (zero extra exchanges over the
    events_survival construction); bands are one fixed IEEE transform
    over the 6dp survival, null where undefined (S=1, S=0, or an
    exhausted risk set upstream). Oracle: the identical window-SQL
    replay (_build via static string below)."""
    from intake_esm_spark.operators.survival import km_confidence

    events = load_table(spark, sf, "events")
    per_user = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.min("ts").alias("__f"), F.max("ts").alias("__l"))
    )
    mx = per_user.agg(F.max("__l").alias("__m"))
    subjects = per_user.crossJoin(F.broadcast(mx)).select(
        F.datediff(F.col("__l"), F.col("__f")).alias("dur"),
        (F.col("__l") < F.col("__m") - F.expr("INTERVAL 14 DAYS"))
        .cast("int")
        .alias("ev"),
    )
    return km_confidence(subjects, "dur", "ev")


def q_customer_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of customer spend concentration (operators/
    profiling.py gini_coefficient): one customer-keyed exchange, then
    the rank/moment math over the entity-cardinality frame — the
    scalar summary behind the ABC/Pareto views."""
    from intake_esm_spark.operators.profiling import gini_coefficient

    orders = load_table(spark, sf, "orders")
    return gini_coefficient(orders, "o_custkey", "o_totalprice")


def q_events_chi2(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-square independence test (operators/experiment.py
    chi_square_report) between a 3-way user cohort and the event-type
    mix — the k×k categorical generalization of the A/B z-test. Full
    r×c grid materialized (observed-zero cells contribute expected
    mass); 12dp-decimal cell contributions make the cross-cell sum
    order-independent."""
    from intake_esm_spark.operators.experiment import chi_square_report

    events = load_table(spark, sf, "events")
    units = events.filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        F.concat(F.lit("g"), (F.col("user_id") % 3).cast("string")).alias(
            "grp"
        ),
        "event_type",
    )
    return chi_square_report(units, "grp", "event_type")


def q_events_theilsen(spark: SparkSession, sf: str) -> DataFrame:
    """Theil-Sen robust daily-revenue trend (operators/timeseries.py
    theil_sen_trend): median of pairwise slopes over the day-grain
    frame — one corpus exchange, the days² pair join is
    calendar-bounded; medians pick ELEMENTS by rank (no percentile
    interpolation formula), so both engines select identical doubles."""
    from intake_esm_spark.operators.timeseries import theil_sen_trend

    events = load_table(spark, sf, "events")
    return theil_sen_trend(
        events.filter(F.col("event_type") == "purchase")
    )


def q_events_mannwhitney(spark: SparkSession, sf: str) -> DataFrame:
    """Mann-Whitney rank-sum test (operators/experiment.py
    mannwhitney_report) on per-user purchase revenue between the
    even/odd user cohorts — midranks via 2·midrank = 2·cum − t + 1
    (INTEGER, so rank sums accumulate as exact DECIMAL(38,0)); the
    statistic is one fixed IEEE expression over exact integers."""
    from intake_esm_spark.operators.experiment import mannwhitney_report

    events = load_table(spark, sf, "events")
    per_user = (
        events.filter(
            (F.col("event_type") == "purchase")
            & F.col("user_id").isNotNull()
        )
        .groupBy("user_id")
        .agg(_dec_sum("value", "rev"))
    )
    units = per_user.select(
        F.when(F.col("user_id") % 2 == 0, "t").otherwise("c").alias("grp"),
        "rev",
    )
    return mannwhitney_report(units, "grp", "rev", "t", "c")


def _purchase_rev_units(spark: SparkSession, sf: str) -> DataFrame:
    """Shared unit frame of the nonparametric-test entries: per-user
    purchase revenue with the deterministic even/odd cohort label."""
    events = load_table(spark, sf, "events")
    per_user = (
        events.filter(
            (F.col("event_type") == "purchase")
            & F.col("user_id").isNotNull()
        )
        .groupBy("user_id")
        .agg(_dec_sum("value", "rev"))
    )
    return per_user.select(
        "user_id",
        F.when(F.col("user_id") % 2 == 0, "t").otherwise("c").alias("grp"),
        "rev",
    )


def q_events_ks_test(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test (operators/experiment.py
    ks_test_report) on per-user purchase revenue between the even/odd
    cohorts — ECDF gap kept as the exact integer |cum1*n2 - cum2*n1|
    (DECIMAL(38,0)) until the final one-row divide; same value-grain
    exchange + bounded windows as events_mannwhitney."""
    from intake_esm_spark.operators.experiment import ks_test_report

    units = _purchase_rev_units(spark, sf)
    return ks_test_report(units, "grp", "rev", "t", "c")


def q_events_anderson(spark: SparkSession, sf: str) -> DataFrame:
    """k-sample Anderson-Darling test across the three user cohorts
    (operators/groupstats.py anderson_darling_ksample — the tie-
    adjusted Scholz-Stephens midrank variant, scipy.anderson_ksamp
    parity): dense (group x pooled-value) midrank cumulatives via the
    grouped bucketed prefix sum, exact-integer per-value terms, and
    the sigma_N harmonic constants computed DISTRIBUTED over a
    spark.range index frame (never scipy's O(N) driver loop)."""
    from intake_esm_spark.operators.groupstats import (
        anderson_darling_ksample,
    )

    units = _cohort3_rev_units(spark, sf)
    return anderson_darling_ksample(units, "rev", "grp")


def q_lineitem_ols(spark: SparkSession, sf: str) -> DataFrame:
    """Multiple-OLS coefficients for extendedprice ~ quantity +
    discount (operators/regression.py ols_report): ONE partial-agged
    exact-decimal moment pass, driver solve over the (p+1)x(p+1)
    sidecar, closed-form standard errors / t — no residual pass.
    Oracle: the moment SQL replayed in DuckDB + the SAME shared
    ols_solve_from_moments, literals compared (_build_ols_oracles)."""
    from intake_esm_spark.operators.regression import ols_report

    li = load_table(spark, sf, "lineitem")
    return ols_report(li, "l_extendedprice", ["l_quantity", "l_discount"])


def q_lineitem_ols_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Model-level OLS diagnostics (operators/regression.py
    ols_fit_report): R2 / RMSE / residual SE / F from the SAME
    second-order moments — SSE is closed-form, the corpus is scanned
    exactly once."""
    from intake_esm_spark.operators.regression import ols_fit_report

    li = load_table(spark, sf, "lineitem")
    return ols_fit_report(
        li, "l_extendedprice", ["l_quantity", "l_discount"]
    )


RIDGE_L2 = 1.0e6
"""The lineitem_ridge penalty — ONE shared literal between the query
and its oracle builder (big enough that the shrinkage is visible at
6dp against the sf-scale XtX diagonal, so the entry provably exercises
the penalized branch rather than collapsing to the OLS answer)."""


def q_lineitem_ridge(spark: SparkSession, sf: str) -> DataFrame:
    """Ridge regression for extendedprice ~ quantity + discount + tax
    (operators/regression.py ols_report(l2=...), round 13): the SAME
    one-pass exact-decimal moments as lineitem_ols — lambda adds to
    the slope diagonal of the normal equations ON THE DRIVER (the
    intercept stays unpenalized; sklearn Ridge(alpha) parity), so the
    penalized fit costs ZERO extra distributed work; sandwich standard
    errors. Oracle: the moment SQL replayed in DuckDB + the SAME
    shared ols_solve_from_moments(l2) — bit-identical literals
    (_build_ols_oracles)."""
    from intake_esm_spark.operators.regression import ols_report

    li = load_table(spark, sf, "lineitem")
    return ols_report(
        li,
        "l_extendedprice",
        ["l_quantity", "l_discount", "l_tax"],
        l2=RIDGE_L2,
    )


def q_lineitem_ols_by_group(spark: SparkSession, sf: str) -> DataFrame:
    """Per-segment OLS — an independent extendedprice ~ quantity +
    discount fit PER RETURN FLAG (operators/regression.py
    ols_by_group, round 13): ONE partial-aggregated exchange to the
    group grain carrying the same exact-decimal moment sums, a lazy
    assert_true group-count guard, per-group driver solves through the
    SAME shared ols_solve_from_moments; degenerate segments are
    omitted rather than fatal. Oracle: the grouped moment SQL replayed
    in DuckDB + the identical per-group solve/skip, literal rows
    (_build_ols_by_group_oracle)."""
    from intake_esm_spark.operators.regression import ols_by_group

    li = load_table(spark, sf, "lineitem")
    return ols_by_group(
        li, "l_extendedprice", ["l_quantity", "l_discount"], "l_returnflag"
    )


def _returnflag_logit_frame(spark: SparkSession, sf: str) -> DataFrame:
    """Shared frame of the logistic entries: predict the returned flag
    from quantity and discount at the lineitem grain."""
    li = load_table(spark, sf, "lineitem")
    return li.filter(F.col("l_returnflag").isNotNull()).select(
        (F.col("l_returnflag") == "R").cast("int").alias("ret"),
        "l_quantity",
        "l_discount",
    )


def q_lineitem_logit(spark: SparkSession, sf: str) -> DataFrame:
    """Logistic-regression coefficients for P(returned) ~ quantity +
    discount (operators/regression.py logistic_report): 8 unrolled
    IRLS/Newton passes, each ONE 1-row partial-agged scan of
    12dp-quantized gradient/Hessian terms at the current beta
    literals; driver Newton solve on the bounded sidecar. Oracle:
    the identical pass SQL looped in DuckDB through the SAME shared
    step/finalize helpers (_build_logistic_oracles)."""
    from intake_esm_spark.operators.regression import logistic_report

    return logistic_report(
        _returnflag_logit_frame(spark, sf),
        "ret",
        ["l_quantity", "l_discount"],
    )


def q_lineitem_logit_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Model-level logistic diagnostics (operators/regression.py
    logistic_fit_report): n, fixed iteration count, mean clamped
    log-loss at the final iterate."""
    from intake_esm_spark.operators.regression import logistic_fit_report

    return logistic_fit_report(
        _returnflag_logit_frame(spark, sf),
        "ret",
        ["l_quantity", "l_discount"],
    )


def q_lineitem_wls(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted least squares — extendedprice ~ discount + tax with
    quantity as the weight (operators/regression.py wls_report, round
    13): ONE 1-row partial-agged scan of weighted exact-decimal
    moments (12dp-rounded products projected below the aggregate, the
    logistic-pass discipline), driver solve via the shared
    wls_solve_from_moments; non-positive weights excluded. Oracle: the
    weighted moment SQL replayed in DuckDB + the SAME shared solve,
    literal rows (_build_wls_oracle)."""
    from intake_esm_spark.operators.regression import wls_report

    li = load_table(spark, sf, "lineitem")
    return wls_report(
        li, "l_extendedprice", ["l_discount", "l_tax"], "l_quantity"
    )


def q_lineitem_bp(spark: SparkSession, sf: str) -> DataFrame:
    """Breusch-Pagan heteroscedasticity gate on the lineitem OLS
    (operators/regression.py breusch_pagan_report, round 13 — Koenker
    n*R2 form): TWO 1-row scans — the OLS moment pass fits beta, the
    second scan builds e^2 in-row at beta literals and its moments
    feed the auxiliary regression that REUSES pass 1's XtX (no third
    pass). Oracle: both pass SQLs replayed in DuckDB through the same
    shared solve/finish helpers (_build_bp_oracle)."""
    from intake_esm_spark.operators.regression import breusch_pagan_report

    li = load_table(spark, sf, "lineitem")
    return breusch_pagan_report(
        li, "l_extendedprice", ["l_quantity", "l_discount"]
    )


def q_lineitem_ols_residuals(spark: SparkSession, sf: str) -> DataFrame:
    """Per-row fitted/residual materialization of the lineitem OLS
    (operators/regression.py ols_predict, round 13): one moment pass
    fits beta on the driver, then the prediction is a fixed IEEE
    expression over beta LITERALS applied in-row — zero additional
    shuffles, whole-stage codegen. Oracle: beta replayed from the
    moment SQL + the shared solve, then a literal projection SQL
    (_build_ols_residuals_oracle)."""
    from intake_esm_spark.operators.regression import ols_predict

    li = load_table(spark, sf, "lineitem")
    return ols_predict(
        li,
        "l_extendedprice",
        ["l_quantity", "l_discount"],
        ["l_orderkey", "l_linenumber"],
    )


LOGIT_BY_GROUP_ITER = 4
"""Iteration count of the lineitem_logit_by_group entry — ONE shared
literal between the query and its oracle builder (4 passes: the
grouped entry fits 3 segments per pass, so it halves the solo
entry's pass count to keep the driver-bench cost bounded; the
trajectory is fixed and replayed either way)."""


def q_lineitem_logit_by_group(spark: SparkSession, sf: str) -> DataFrame:
    """Per-segment logistic regression — an independent
    P(linestatus=F) ~ quantity + discount fit PER RETURN FLAG
    (operators/regression.py logistic_by_group, round 13): 4 unrolled
    IRLS passes, each ONE group-grain partial-agged exchange with
    every row's mu built from ITS group's beta literals via a bounded
    when-chain; per-group Newton steps through the SAME shared
    step/finalize, degenerate segments frozen+omitted. Oracle: the
    grouped pass SQL looped in DuckDB through the same shared helpers
    — every group's float trajectory engine-identical
    (_build_logit_by_group_oracle)."""
    from intake_esm_spark.operators.regression import logistic_by_group

    li = load_table(spark, sf, "lineitem")
    frame = li.filter(F.col("l_linestatus").isNotNull()).select(
        (F.col("l_linestatus") == "F").cast("int").alias("fin"),
        "l_quantity",
        "l_discount",
        "l_returnflag",
    )
    return logistic_by_group(
        frame,
        "fin",
        ["l_quantity", "l_discount"],
        "l_returnflag",
        n_iter=LOGIT_BY_GROUP_ITER,
    )


def q_events_cox(spark: SparkSession, sf: str) -> DataFrame:
    """Cox proportional-hazards time-to-first-purchase model
    (operators/survival.py cox_ph_report, round 13 — Breslow ties):
    per-user duration = WHOLE SECONDS from first event to first
    purchase (censored at last activity if the user never purchased)
    — both engines truncate each endpoint to integer epoch seconds
    BEFORE differencing (Spark unix_timestamp; oracle
    floor(epoch())), so sub-second timestamps build identical
    durations and identical Breslow tie groups (ADVICE r14) and the
    comparison is immune to cross-engine date_diff boundary
    semantics; with activity covariates (ln(1+event count),
    exact-decimal mean event value); 8 unrolled Newton passes, each
    one subject scan -> one distinct-time keyed exchange ->
    descending bucketed prefix sums for the risk sets -> a 1-row term
    sum; the shared logistic_step drives the trajectory. Oracle: the
    identical per-pass SQL (window-cumsum form) looped in DuckDB
    through the same shared step helper (_build_events_cox_oracle)."""
    from intake_esm_spark.operators.survival import cox_ph_report

    subjects = _cox_subjects(spark, sf)
    return cox_ph_report(subjects, "dur", "ev", ["x1", "x2"])


def _cox_subjects(
    spark: SparkSession, sf: str, with_uid: bool = False
) -> DataFrame:
    """Shared frame of events_cox: per-user (duration, event,
    covariates).  Duration is an exact integer (epoch-second diff),
    the event is first-purchase, covariates are deterministic
    (ln(1+count); mean value via the exact decimal sum, so the double
    is engine-identical)."""
    events = load_table(spark, sf, "events")
    per_user = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("__f"),
            F.max("ts").alias("__l"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("__p"),
            F.count(F.lit(1)).alias("__cnt"),
            F.sum(
                F.round(F.col("value").cast("double"), 6).cast(
                    "decimal(18,6)"
                )
            ).alias("__sv"),
            F.count("value").alias("__nv"),
        )
    )
    end = F.coalesce(F.col("__p"), F.col("__l"))
    return per_user.select(
        *(["user_id"] if with_uid else []),
        (
            F.unix_timestamp(end) - F.unix_timestamp(F.col("__f"))
        ).alias("dur"),
        F.col("__p").isNotNull().cast("int").alias("ev"),
        F.log(F.lit(1.0) + F.col("__cnt").cast("double")).alias("x1"),
        (
            F.col("__sv").cast("double") / F.col("__nv").cast("double")
        ).alias("x2"),
    )


def q_events_cox_baseline(spark: SparkSession, sf: str) -> DataFrame:
    """Breslow cumulative baseline hazard + baseline survival at the
    fitted Cox coefficients (operators/survival.py
    cox_baseline_hazard, round 14 — the lifelines
    baseline_cumulative_hazard_ / R basehaz(coxph, centered=FALSE)
    surface): the SAME shared _cox_fit trajectory as events_cox (8
    Newton passes over the shared subject frame), then ONE more
    subject scan at the final beta literals -> distinct-time keyed
    exchange -> DESCENDING bucketed prefix sum for the risk sets
    S0(t) -> 12dp-quantized Breslow increments d/S0 -> ASCENDING
    bucketed prefix sum for H0(t), with S0_surv = exp(-H0) — zero new
    plan shapes. Oracle: the shared DuckDB trajectory + one plain
    window-cumsum SQL at the same literals
    (_build_cox_baseline_oracle)."""
    from intake_esm_spark.operators.survival import cox_baseline_hazard

    subjects = _cox_subjects(spark, sf)
    return cox_baseline_hazard(subjects, "dur", "ev", ["x1", "x2"])


def q_events_cox_predict(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user 1-day conversion-survival prediction from the fitted
    Cox model (operators/survival.py cox_predict_survival, round 14 —
    the lifelines predict_survival_function(times=[tau]) scoring
    surface): S(tau|x) = exp(-H0(tau) * exp(beta.x)) at tau = 86400 s,
    where H0(tau) is ONE bounded 1-row exact-decimal sum of the
    Breslow increments at t <= tau (the full baseline is never
    collected) and the per-user scores are a pure projection over the
    pinned subject frame — no exchange after the fit. Oracle: the
    shared DuckDB trajectory, H0(tau) via the same window-cumsum SQL,
    literal-beta per-user SELECT (_build_cox_predict_oracle)."""
    from intake_esm_spark.operators.survival import cox_predict_survival

    subjects = _cox_subjects(spark, sf, with_uid=True)
    return cox_predict_survival(
        subjects,
        "dur",
        "ev",
        ["x1", "x2"],
        horizon=86400.0,
        id_cols=["user_id"],
    )


def q_events_weibull(spark: SparkSession, sf: str) -> DataFrame:
    """Weibull AFT time-to-first-purchase regression
    (operators/survival.py weibull_aft_report, round 14 — lifelines
    WeibullAFTFitter / R survreg parity at convergence): the
    PARAMETRIC member of the survival family over the shared Cox
    subject frame, durations shifted +1 s (AFT needs t > 0; same-
    second conversions otherwise have ln 0). 12 unrolled passes, each
    ONE 1-row partial-agged scan of score/information sums at the
    theta literals (1/sigma as a driver literal, z clamped +/-30);
    pass 0 is the Gumbel moment-matched warm start from exact decimal
    sum(ln t) sidecars, the rest the shared damped_newton_step with
    the FIXED 1/4,1/4,1/2,1/2,1,... schedule (raw Newton measurably
    diverges; a fixed schedule is deterministic and replayable).
    Oracle: the identical pass SQL looped in DuckDB through the same
    shared warm-start/step (_build_weibull_oracle)."""
    from intake_esm_spark.operators.survival import weibull_aft_report

    subjects = _cox_subjects(spark, sf)
    frame = subjects.select(
        (F.col("dur") + F.lit(1.0)).alias("t1"), "ev", "x1", "x2"
    )
    return weibull_aft_report(frame, "t1", "ev", ["x1", "x2"])


def q_events_rmst(spark: SparkSession, sf: str) -> DataFrame:
    """Restricted mean survival time at a 1-day horizon over the Cox
    subject frame (operators/survival.py rmst_report, round 14 —
    lifelines restricted_mean_survival_time / R survRM2): area under
    the 6dp KM curve to tau=86400 s with the Greenwood-style SE from
    suffix areas. Scale shape: the km_survival bucketed construction
    (at-risk reverse cumulative + survival log-sum + time rank in the
    SAME passes), successive times paired by a rank-keyed equi-join
    (never a lead window), suffix areas via one DESCENDING bucketed
    cumsum, a 1-row finish. Oracle: the identical computation as one
    static window-SQL replay (_build_rmst_oracle)."""
    from intake_esm_spark.operators.survival import rmst_report

    subjects = _cox_subjects(spark, sf)
    return rmst_report(subjects, "dur", "ev", tau=86400.0)


def q_lineitem_vif(spark: SparkSession, sf: str) -> DataFrame:
    """Variance-inflation factors over (quantity, extendedprice,
    discount) — the collinearity diagnostic to run BEFORE ols_report
    raises (operators/regression.py vif_report, round 13): ONE 1-row
    moment scan, then closed-form driver arithmetic (correlation
    inverse diagonal) through the shared vif_from_moments. Oracle:
    the moment SQL replayed in DuckDB + the SAME shared finish,
    literal rows (_build_vif_oracle)."""
    from intake_esm_spark.operators.regression import vif_report

    li = load_table(spark, sf, "lineitem")
    return vif_report(
        li, ["l_quantity", "l_extendedprice", "l_discount"]
    )


def q_lineitem_poisson(spark: SparkSession, sf: str) -> DataFrame:
    """Poisson regression of the quantity COUNT on discount + tax
    (operators/regression.py poisson_report, round 13): 8 unrolled
    IRLS/Newton passes, each ONE 1-row partial-agged scan of
    score/information sums at the current beta literals (eta clamped
    at +/-50 before exp, replayed verbatim); shared Newton step with
    the logistic family. Oracle: the identical pass SQL looped in
    DuckDB through the same shared step/finalize
    (_build_poisson_oracles)."""
    from intake_esm_spark.operators.regression import poisson_report

    li = load_table(spark, sf, "lineitem")
    return poisson_report(li, "l_quantity", ["l_discount", "l_tax"])


def q_lineitem_negbin(spark: SparkSession, sf: str) -> DataFrame:
    """Negative-binomial (NB2, fixed alpha=0.5) regression of the
    quantity count on discount + tax (operators/regression.py
    negbin_report, round 14) — the overdispersion follow-up the
    Poisson entry's own mean_deviance >> 1 readout points at: 8
    unrolled Fisher-scoring passes, each ONE 1-row partial-agged scan
    of score/information sums at the current beta literals with the
    in-row shrink weight 1/(1+alpha*mu) (eta clamped +/-50 before
    exp, replayed verbatim); mean-matched warm start from the pass's
    exact decimal sum(y) sidecar, then the shared logistic_step /
    poisson_finalize. Oracle: the identical pass SQL with the same
    alpha literal looped in DuckDB through the same shared helpers
    (_build_negbin_oracle)."""
    from intake_esm_spark.operators.regression import negbin_report

    li = load_table(spark, sf, "lineitem")
    return negbin_report(
        li, "l_quantity", ["l_discount", "l_tax"], alpha=0.5
    )


def q_lineitem_huber(spark: SparkSession, sf: str) -> DataFrame:
    """Huber robust regression of extendedprice on quantity + discount
    (operators/regression.py huber_report, round 14 — statsmodels
    RLM(M=HuberT) semantics at fixed normalized-MAD scale): one OLS
    moment pass for the starting beta (shared solve), two exact-
    quantile rank probes for the MAD scale (distinct-value-grain
    bucketed cumsum — never a value-buffering percentile), then 8
    IRLS passes, each ONE 1-row partial-agged scan of weighted
    normal-equation moments with the in-row weight min(1, c*s/|e|),
    plus one sidecar pass for the Huber asymptotic SEs. Oracle: beta0
    via the shared OLS moment SQL + solve, medians via quantile_cont
    (type-7-equal at p=0.5), then the identical pass SQL looped in
    DuckDB through the same shared step/finalize
    (_build_huber_oracle)."""
    from intake_esm_spark.operators.regression import huber_report

    li = load_table(spark, sf, "lineitem")
    return huber_report(
        li, "l_extendedprice", ["l_quantity", "l_discount"], c=1.345
    )


def q_lineitem_gamma(spark: SparkSession, sf: str) -> DataFrame:
    """Gamma GLM (log link) of extendedprice on quantity + discount
    (operators/regression.py gamma_report, round 14 — statsmodels
    GLM(Gamma(Log)) with Pearson-chi2 scale): the positive-continuous
    member of the GLM family, for responses whose noise scales with
    the mean. 8 unrolled Fisher-scoring passes, each ONE 1-row
    partial-agged scan at the current beta literals (constant
    information matrix — the log link drops mu from Fisher info; the
    dispersion returns only in the SEs via the Pearson chi2 sidecar);
    the SAME shared mean-matched warm start and logistic_step as
    Poisson. Oracle: the identical pass SQL looped in DuckDB through
    the same shared step and gamma_finalize (_build_gamma_oracle)."""
    from intake_esm_spark.operators.regression import gamma_report

    li = load_table(spark, sf, "lineitem")
    return gamma_report(
        li, "l_extendedprice", ["l_quantity", "l_discount"]
    )


def q_lineitem_chow(spark: SparkSession, sf: str) -> DataFrame:
    """Chow structural-break F across the two l_linestatus regimes —
    does extendedprice ~ quantity + discount carry the SAME
    coefficients for open vs finished lines? (operators/regression.py
    chow_test_report, round 14 — Chow 1960 / statsmodels
    compare_f_test on the dummy-interacted model.) ONE
    partial-agged exchange to the 2-row regime grain carrying the
    exact-decimal ols_moments sums (group count pinned to 2 by a
    lazy in-plan assert_true — nothing unbounded reaches the driver);
    the pooled moments are DECIMAL sums of the two sidecar rows, so
    all three fits + the F are driver arithmetic through the shared
    chow_solve_from_moments. Oracle: the grouped moment SQL replayed
    in DuckDB through the SAME shared solve, one literal row
    (_build_chow_oracle)."""
    from intake_esm_spark.operators.regression import chow_test_report

    li = load_table(spark, sf, "lineitem")
    return chow_test_report(
        li, "l_extendedprice", ["l_quantity", "l_discount"],
        "l_linestatus",
    )


def q_lineitem_iv(spark: SparkSession, sf: str) -> DataFrame:
    """Just-identified IV 2SLS of extendedprice on quantity + tax with
    l_linenumber instrumenting quantity and the exogenous tax
    instrumenting itself (operators/regression.py iv2sls_report,
    round 14 — statsmodels IV2SLS; a deliberately weak instrument,
    so the demo also exercises the huge-SE regime the sandwich must
    report honestly). ONE 1-row partial-agged exact-decimal moment
    pass over (1, x, z, y) — both textbook "stages" collapse into
    the closed-form (Z'X)^-1 Z'y driver solve. Oracle: the widened
    moment SQL replayed in DuckDB through the SAME shared
    iv_solve_from_moments, literal rows (_build_iv_oracle)."""
    from intake_esm_spark.operators.regression import iv2sls_report

    li = load_table(spark, sf, "lineitem")
    return iv2sls_report(
        li, "l_extendedprice", ["l_quantity", "l_tax"],
        ["l_linenumber", "l_tax"],
    )


def q_lineitem_dw(spark: SparkSession, sf: str) -> DataFrame:
    """Durbin-Watson serial-correlation diagnostic on the lineitem OLS
    residuals ordered by (l_orderkey, l_linenumber) — "does a pricing
    miss on one line predict a miss on the next?"
    (operators/regression.py durbin_watson_report, round 14 —
    statsmodels durbin_watson at the same ordering). The moment pass
    fits beta on the driver; residuals are an in-row expression at
    beta literals; the consecutive pairing runs as the bucketed-cumsum
    exact global rank (never an unpartitioned window) + a rank-keyed
    self-join at rank+1; num/den accumulate as 12dp DECIMAL(38,12).
    Oracle: beta replayed from the moment SQL + shared solve, then a
    pure-SQL row_number/self-join DW in DuckDB (_build_dw_oracle)."""
    from intake_esm_spark.operators.regression import (
        durbin_watson_report,
    )

    li = load_table(spark, sf, "lineitem")
    return durbin_watson_report(
        li, "l_extendedprice", ["l_quantity", "l_discount"],
        "l_orderkey", ["l_linenumber"],
    )


def q_lineitem_stump(spark: SparkSession, sf: str) -> DataFrame:
    """Best histogram split per feature for predicting returned lines
    (operators/trees.py histogram_split_report, round 14 — the
    LightGBM/XGBoost-hist GBDT-node primitive): TWO distributed
    passes regardless of data size — a 1-row range aggregate, then
    the |features|x16 binned-count histogram via an in-row
    explode(array(struct)) partial-aggregated BEFORE the exchange
    (the corpus never shuffles); every candidate threshold is scored
    from the cumulative histogram on the driver through the shared
    best_splits_from_hist. Oracle: ranges + per-feature histogram
    SQL replayed in DuckDB through the SAME shared scan
    (_build_tree_oracles)."""
    from intake_esm_spark.operators.trees import histogram_split_report

    li = load_table(spark, sf, "lineitem").withColumn(
        "__y", (F.col("l_returnflag") == "R").cast("int")
    )
    return histogram_split_report(
        li, "__y", ["l_quantity", "l_discount", "l_tax"], n_bins=16
    )


def q_lineitem_tree(spark: SparkSession, sf: str) -> DataFrame:
    """Depth-2 histogram tree on the same returned-line label
    (operators/trees.py histogram_tree_report, round 14): the root
    split, then the SAME two-pass histogram recurrence re-run on each
    child region — the region predicate is a pushed-down filter, so
    each tree level costs one more corpus pass (the distributed-GBDT
    recurrence). Oracle: the three-region replay in DuckDB through
    the same shared scan and the same deterministic root/child
    argmax (_build_tree_oracles)."""
    from intake_esm_spark.operators.trees import histogram_tree_report

    li = load_table(spark, sf, "lineitem").withColumn(
        "__y", (F.col("l_returnflag") == "R").cast("int")
    )
    return histogram_tree_report(
        li, "__y", ["l_quantity", "l_discount", "l_tax"], n_bins=16
    )


def q_docs_nb_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Multinomial Naive Bayes language-ID self-test confusion matrix
    over hashed tokens (operators/classify.py nb_confusion_report,
    round 14 — sklearn MultinomialNB(alpha=1) semantics over 256
    hashed features): training is ONE partial-agged pass to the
    bounded |classes|x256 count grid, the 9dp log tables are built on
    the DRIVER from exact integer counts (python math.log — no
    engine-libm drift) and broadcast back as decimal literals;
    scoring is a broadcast join + doc-keyed decimal-exact sums, ties
    to the lexicographically largest class. On this synthetic corpus
    every lang shares one vocabulary, so the honest readout is
    majority-class collapse — the diagnostic a data engineer needs
    BEFORE shipping a lang-ID model. Oracle: the token/count SQL
    replayed in DuckDB through the SAME shared nb_class_tables, then
    the identical decimal scoring in pure SQL with the log tables as
    VALUES literals (_build_nb_oracle)."""
    from intake_esm_spark.operators.classify import nb_confusion_report

    docs = load_table(spark, sf, "documents")
    return nb_confusion_report(docs, n_hash=256, alpha=1.0)


def q_docs_bpe_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 adjacent character-pair frequencies within words — the
    BPE tokenizer trainer's merge argmax over the initial character
    alphabet (operators/corpus.py bpe_pair_topk, round 14; Sennrich
    et al. 2016). The pair fan-out is IN-ROW (transform/sequence
    inside codegen — no self-join), the aggregation map-side combines
    to the bounded pair alphabet, and the top-k is a
    TakeOrderedAndProject with a lexicographic tie-break — never a
    global sort. Oracle: the same walk in DuckDB list_transform/
    unnest SQL, same (cnt desc, pair asc) total order."""
    from intake_esm_spark.operators.corpus import bpe_pair_topk

    docs = load_table(spark, sf, "documents")
    return bpe_pair_topk(docs, top_k=20)


def q_events_holt(spark: SparkSession, sf: str) -> DataFrame:
    """Holt double-exponential-smoothing 1..7-day-ahead forecasts of
    daily purchase revenue (operators/timeseries.py
    holt_forecast_report, round 14 — the level+trend sibling of
    events_ewma, fixed two-point start so the trajectory is
    deterministic): ONE day-grain collapse, then the inherently
    sequential recursion runs on the DRIVER over the
    calendar-bounded daily sidecar through the shared holt_linear.
    Oracle: the daily SQL replayed in DuckDB + the SAME shared
    recursion, literal rows (_build_holt_oracle)."""
    from intake_esm_spark.operators.timeseries import (
        holt_forecast_report,
    )

    events = load_table(spark, sf, "events")
    return holt_forecast_report(
        events.filter(F.col("event_type") == "purchase"),
        alpha=0.3,
        beta=0.1,
        horizon=7,
    )


def q_events_isotonic(spark: SparkSession, sf: str) -> DataFrame:
    """Isotonic (PAV) recalibration of the hash-uniform pseudo-score
    against the purchase label (operators/evaluation.py
    isotonic_calibration_report, round 14 — sklearn
    IsotonicRegression over the binned reliability curve): the SAME
    one bin-keyed map-side-combined collapse as events_calibration,
    then pool-adjacent-violators on the driver over the ≤10-row
    sidecar (exact integer merge arithmetic) through the shared
    pav_fit; iso_rate is monotone by construction — the lookup table
    production scoring would apply. Oracle: the bin-count SQL
    replayed in DuckDB + the SAME shared PAV, literal rows
    (_build_isotonic_oracle)."""
    from intake_esm_spark.operators.evaluation import (
        isotonic_calibration_report,
    )

    events = load_table(spark, sf, "events")
    u = events.filter(F.col("event_type").isNotNull()).select(
        (F.col("event_type") == "purchase").cast("int").alias("label"),
        (
            F.pmod(
                tx.salted_hash60(F.col("event_id"), "cal"),
                F.lit(1_000_000),
            ).cast("double")
            / F.lit(1_000_000.0)
        ).alias("score"),
    )
    return isotonic_calibration_report(u, "label", "score", n_bins=10)


def q_embed_jl_distortion(spark: SparkSession, sf: str) -> DataFrame:
    """Johnson-Lindenstrauss sketch-quality audit: every embedding
    projected to k=16 dims through the deterministic ±1/√k md5-parity
    matrix, squared-distance distortion measured over all same-label
    pairs (operators/matrix.py jl_distortion_report, round 14 —
    Achlioptas 2003). The projection is IN-ROW (16 fixed-literal dot
    folds in codegen — the matrix never ships per row); pairs come
    from the bounded label-blocked equi-join (the simsearch_pairs
    shape, never a crossJoin); per-pair ratios quantize to 12dp
    decimal before the order-independent sum. The go/no-go readout
    before swapping full vectors for a cheap sketch in an ANN/dedup
    pipeline. Oracle: the identical fold arithmetic in DuckDB
    (list_reduce replays the left-associated IEEE fold exactly) with
    the SAME shared jl_sign_matrix literals (_build_jl_oracle)."""
    from intake_esm_spark.operators.matrix import jl_distortion_report

    emb = load_table(spark, sf, "embeddings")
    return jl_distortion_report(emb, k=16)


def q_privacy_tcloseness(spark: SparkSession, sf: str) -> DataFrame:
    """t-closeness audit of event value distributions per event-type
    quasi-group (operators/privacy.py t_closeness_report, round 14 —
    Li et al. 2007, the gate l-diversity misses): ordered-bin EMD
    between each group's value distribution and the corpus's over 10
    equal-width bins; one 1-row range pass fixes the boundaries as
    literals, ONE (quasi, bin)-keyed partial-agged collapse, per-group
    cumulative walks over bounded ≤10-row frames, global distribution
    broadcast. Completes the privacy family (k-anon, suppression,
    l-diversity, DP counts). Oracle: the identical binned-EMD SQL in
    DuckDB at the same boundary literals (_build_tcloseness_oracle)."""
    from intake_esm_spark.operators.privacy import t_closeness_report

    events = load_table(spark, sf, "events")
    return t_closeness_report(
        events, ["event_type"], "value", n_bins=10, t_threshold=0.002
    )


def q_events_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    """Interarrival burstiness per event type (operators/eventlog.py
    interarrival_burstiness, round 14 — Goh & Barabási 2008): per
    (user, type) consecutive gaps in integer seconds via an
    entity-partitioned lag window, one type-keyed moment collapse;
    cv = sigma/mu and B = (cv-1)/(cv+1) read Poisson (0) vs periodic
    (-1) vs bursty (+1) traffic at a glance. Exact DECIMAL(38,0)
    integer moment sums. Oracle: the identical lag-window + moment
    SQL in DuckDB with floor(epoch()) matching unix_timestamp
    truncation (the r14 Cox ADVICE convention)."""
    from intake_esm_spark.operators.eventlog import (
        interarrival_burstiness,
    )

    events = load_table(spark, sf, "events")
    return interarrival_burstiness(events)


def q_docs_heaps(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps'-law vocabulary-growth exponent across the corpus's
    source slices (operators/corpus.py heaps_law_report, round 14):
    per source the exact token total and distinct-token vocabulary
    (one explode + partial-agged distinct, group cardinality capped
    by a bounded limit probe), then the log-log least-squares beta of
    V = K*T^beta on the driver through the shared heaps_fit (python
    math.log both sides). On this synthetic corpus beta ~ 0.02 — the
    'vocabulary never grows' synthetic-data smell, exactly what the
    curve is for. Oracle: the per-source (T, V) SQL replayed in
    DuckDB + the SAME shared fit, one literal row
    (_build_heaps_oracle)."""
    from intake_esm_spark.operators.corpus import heaps_law_report

    docs = load_table(spark, sf, "documents")
    return heaps_law_report(docs)


def q_events_mcnemar(spark: SparkSession, sf: str) -> DataFrame:
    """McNemar's paired-binary test (operators/experiment.py
    mcnemar_report, round 14 — statsmodels mcnemar(exact=False,
    correction=False)): flag A = is-purchase, flag B = a
    deterministic hash-derived paired flag (the events_kappa pairing
    convention); only the discordant 2x2 cells carry information.
    ONE map-side-combined cell collapse. Oracle: the same cell SQL +
    fixed IEEE statistic in DuckDB."""
    from intake_esm_spark.operators.experiment import mcnemar_report

    events = load_table(spark, sf, "events")
    u = events.filter(F.col("event_type").isNotNull()).select(
        (F.col("event_type") == "purchase").cast("int").alias("a"),
        (
            F.pmod(
                tx.salted_hash60(
                    F.col("event_id").cast("string"), "mcn"
                ),
                F.lit(5),
            )
            == 0
        ).cast("int").alias("b"),
    )
    return mcnemar_report(u, "a", "b")


PERM_N = 64
"""Permutation count of the events_permutation entry — ONE shared
literal between the query and its oracle builder."""


def q_events_permutation(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic randomization test of click-vs-view mean value
    (operators/experiment.py permutation_test_report, round 14): 64
    salted-md5 relabelings fanned out IN-ROW (explode(sequence)) and
    partial-aggregated to the 2x64-cell grid before the one exchange
    — the distribution-free p-value at corpus scale with zero RNG
    state. Exact decimal value sums make every relabeled mean
    engine-identical, so the >= |obs| comparison needs no tolerance.
    Oracle: the identical relabel/cell SQL in DuckDB + the same
    driver arithmetic through the shared salted-hash formula
    (_build_permutation_oracle)."""
    from intake_esm_spark.operators.experiment import (
        permutation_test_report,
    )

    events = load_table(spark, sf, "events")
    arm = events.filter(
        F.col("event_type").isin("click", "view")
    ).select("event_id", "event_type", "value")
    return permutation_test_report(
        arm, "event_id", "event_type", "value", n_perm=PERM_N
    )


def _mh_units(spark: SparkSession, sf: str) -> DataFrame:
    """The shared unit frame of the Mantel-Haenszel / SMD entries:
    stratum = day of week, exposure = a deterministic hash coin,
    outcome = is-purchase, covariates = value and user_id % 100."""
    events = load_table(spark, sf, "events")
    return events.filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    ).select(
        F.dayofweek("ts").alias("stratum"),
        (
            F.pmod(
                tx.salted_hash60(F.col("event_id").cast("string"), "mh"),
                F.lit(2),
            )
            == 0
        ).cast("int").alias("exposed"),
        (F.col("event_type") == "purchase").cast("int").alias("outcome"),
        F.col("value"),
        (F.col("user_id") % 100).alias("uid_mod"),
    )


def q_events_mh_or(spark: SparkSession, sf: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio of a hash-coin exposure on
    purchase across day-of-week strata (operators/experiment.py
    mantel_haenszel_report, round 14 — statsmodels StratifiedTable
    pooled OR + Robins-Breslow-Greenland SE): ONE (stratum, e, y)
    cell collapse, everything after on the bounded cell frame;
    per-stratum ratio terms quantize to 12dp decimal before the
    cross-strata sums. A null exposure, so the honest readout is
    OR ~ 1 with the CI spanning it. Oracle: the identical cell +
    decimal-term SQL in DuckDB (weekday numbering differs between
    engines but the stratum PARTITION is identical, which is all the
    estimator consumes)."""
    from intake_esm_spark.operators.experiment import (
        mantel_haenszel_report,
    )

    return mantel_haenszel_report(
        _mh_units(spark, sf), "stratum", "exposed", "outcome"
    )


def q_events_smd(spark: SparkSession, sf: str) -> DataFrame:
    """Standardized-mean-difference covariate balance of the same
    hash-coin exposure (operators/experiment.py smd_balance_report,
    round 14 — Austin 2009, the |SMD| <= 0.1 bar): ONE 1-row
    partial-agged pass carrying both arms' exact-decimal moments for
    every covariate, driver readout through the shared
    smd_rows_from_moments. A randomized coin, so both covariates
    report balanced — the pre-adjustment table a causal analysis
    starts from. Oracle: the moment SQL replayed in DuckDB + the
    SAME shared readout, literal rows (_build_smd_oracle)."""
    from intake_esm_spark.operators.experiment import smd_balance_report

    return smd_balance_report(
        _mh_units(spark, sf), "exposed", ["value", "uid_mod"]
    )


def q_events_cochran_q(spark: SparkSession, sf: str) -> DataFrame:
    """Cochran's Q across three per-user binary behaviors (did the
    user ever purchase / click / signup — the k-treatment McNemar;
    operators/experiment.py cochran_q_report, round 14 — statsmodels
    cochrans_q): one user-grain pivot exchange, then ONE 1-row pass
    of 2k+3 exact integer sums. Compare against chi2(k-1)
    client-side. Oracle: the identical pivot + integer-sum SQL in
    DuckDB."""
    from intake_esm_spark.operators.experiment import cochran_q_report

    events = load_table(spark, sf, "events")
    u = (
        events.filter(
            F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            *[
                F.max(
                    (F.col("event_type") == t).cast("int")
                ).alias(f"f_{t}")
                for t in ("purchase", "click", "signup")
            ]
        )
    )
    return cochran_q_report(
        u, "user_id", ["f_purchase", "f_click", "f_signup"]
    )


def q_events_friedman(spark: SparkSession, sf: str) -> DataFrame:
    """Friedman repeated-measures rank test over each user's mean
    click/view/error values (operators/experiment.py friedman_report,
    round 14 — scipy friedmanchisquare, average ranks, no
    tie-correction denominator): one user-grain pivot of decimal-exact
    per-type means, in-row doubled-integer ranks (k^2 pairwise
    comparisons in codegen), ONE 1-row integer-sum pass; complete-case
    (a user missing any of the three types drops). Oracle: the
    identical pivot/rank/sum SQL in DuckDB."""
    from intake_esm_spark.operators.experiment import friedman_report

    events = load_table(spark, sf, "events")
    vq = F.round(F.col("value").cast("double"), 6).cast("decimal(18,6)")
    aggs = []
    for t in ("click", "view", "error"):
        c = F.col("event_type") == t
        aggs.append(F.sum(F.when(c, vq)).alias(f"s_{t}"))
        aggs.append(F.count(F.when(c, 1)).alias(f"n_{t}"))
    u = (
        events.filter(
            F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("value").isNotNull()
        )
        .groupBy("user_id")
        .agg(*aggs)
        .select(
            "user_id",
            *[
                (
                    F.col(f"s_{t}").cast("double")
                    / F.col(f"n_{t}").cast("double")
                ).alias(f"v_{t}")
                for t in ("click", "view", "error")
            ],
        )
    )
    return friedman_report(u, "user_id", ["v_click", "v_view", "v_error"])


def q_lineitem_poisson_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Model-level Poisson diagnostics (operators/regression.py
    poisson_fit_report): n, iteration count, mean unit deviance at
    the final iterate (the overdispersion gate)."""
    from intake_esm_spark.operators.regression import poisson_fit_report

    li = load_table(spark, sf, "lineitem")
    return poisson_fit_report(li, "l_quantity", ["l_discount", "l_tax"])


def q_lineitem_jarque_bera(spark: SparkSession, sf: str) -> DataFrame:
    """Jarque-Bera normality gate on extendedprice (operators/
    groupstats.py jarque_bera_report): skewness/kurtosis from one
    1-row moment scan — exact decimal first/second moments, 12dp-
    quantized per-row cubic/quartic terms, chi-square(2) readout."""
    from intake_esm_spark.operators.groupstats import jarque_bera_report

    li = load_table(spark, sf, "lineitem")
    return jarque_bera_report(li, "l_extendedprice")


def q_events_mood_median(spark: SparkSession, sf: str) -> DataFrame:
    """Mood's median test across the three user cohorts (operators/
    groupstats.py moods_median_test): exact type-7 pooled median via
    the rank probe, one group-grain conditional aggregate, chi-square
    over the 2xk above/not-above table, Wilson-Hilferty 5% critical
    value."""
    from intake_esm_spark.operators.groupstats import moods_median_test

    units = _cohort3_rev_units(spark, sf)
    return moods_median_test(units, "rev", "grp")


def q_events_cvm(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample Cramér-von Mises test (operators/experiment.py
    cvm_test_report) on per-user purchase revenue between the even/odd
    cohorts — the squared-ECDF-gap integral between Mann-Whitney
    (location) and KS (supremum); per-value terms 12dp-decimal-
    quantized, Anderson's exact finite-N moments map the statistic
    onto the limiting omega-square scale."""
    from intake_esm_spark.operators.experiment import cvm_test_report

    units = _purchase_rev_units(spark, sf)
    return cvm_test_report(units, "grp", "rev", "t", "c")


def q_events_bootstrap_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic Poisson-bootstrap mean CI (operators/experiment.py
    bootstrap_mean_ci) over per-user purchase revenue: md5-60-derived
    Poisson(1) weights per (user, replicate) — no RNG state, so the
    resample itself is SQL-replayable; 200 replicates, rank-selected
    95% bounds (no interpolation)."""
    from intake_esm_spark.operators.experiment import bootstrap_mean_ci

    units = _purchase_rev_units(spark, sf)
    return bootstrap_mean_ci(
        units, "rev", "user_id", n_boot=_BS_NBOOT, level=_BS_LEVEL
    )


def q_docs_cm_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min frequency sketch driven through the gate
    (operators/sketch.py cm_sketch/cm_estimate): 4x1024 salted-md5
    counters over the document token stream, then the exact top-20
    tokens probed against the BROADCAST sketch — output carries both
    the exact count and the CM estimate (>= exact by construction; the
    driver hash-compare proves the whole counter array matches, since
    any differing cell shifts some estimate). Token counts pinned once
    (feeds the top-k and the exact column)."""
    from intake_esm_spark.operators.sketch import cm_estimate, cm_sketch

    docs = load_table(spark, sf, "documents")
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(tx.words_array(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
    )
    counts = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .localCheckpoint(eager=False)
    )
    top = counts.orderBy(F.col("exact_n").desc(), F.col("term").asc()).limit(20)
    sk = cm_sketch(toks, "term", depth=4, width=1024)
    est = cm_estimate(sk, top.select("term"), "term", depth=4, width=1024)
    return top.join(est, "term").select("term", "exact_n", "cm_est")


def q_docs_lm_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style LM quality scoring (operators/selection.py
    lm_train_counts + lm_cross_entropy): hashed bigram LM fit on the
    English docs, every document scored by cross-entropy (nats/bigram)
    under it — low = reads like the training corpus, the head/middle/
    tail quality-tier signal of Wenzek et al. 2020. Both count tables
    are <=512 rows, pinned and broadcast; per-position ln contributions
    quantize to 9dp decimal before the doc-keyed sum."""
    from intake_esm_spark.operators.selection import (
        lm_cross_entropy,
        lm_train_counts,
    )

    docs = load_table(spark, sf, "documents")
    train = docs.filter(F.col("lang") == "en")
    ctx, bgc = lm_train_counts(train, n_buckets=512)
    return lm_cross_entropy(
        docs,
        ctx.localCheckpoint(eager=False),
        bgc.localCheckpoint(eager=False),
        n_buckets=512,
    )


def q_events_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust MAD outlier flags (operators/profiling.py mad_outliers)
    on event value per event_type — resistant median/MAD fences
    (Leys et al. 2013) instead of mean±kσ; exact type-7 medians
    (quantile_cont parity), two group-keyed aggregate+join passes,
    in-row flag. Returns the flagged rows only."""
    from intake_esm_spark.operators.profiling import mad_outliers

    events = load_table(spark, sf, "events")
    out = mad_outliers(
        events.select("event_id", "event_type", "value"),
        "value",
        ["event_type"],
        k=3.0,
    )
    return out.filter(F.col("is_outlier")).select(
        "event_id", "event_type", "value", "value_med", "value_mad"
    )


def q_docs_source_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source language-mix Shannon entropy (operators/profiling.py
    entropy_report) — the corpus diversity profile: one (source, lang)
    count collapse, −p·ln p terms quantized to 12dp decimal before the
    cross-category sum (order-independent), normalized by ln(k)."""
    from intake_esm_spark.operators.profiling import entropy_report

    docs = load_table(spark, sf, "documents")
    return entropy_report(docs, ["source"], "lang")


def q_events_bloom_probe(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom membership sketch driven through the gate (operators/
    sketch.py bloom_build/bloom_probe): filter built over the even-
    event-id half's user ids, the odd half's distinct users probed
    against the BROADCAST bit-position set; output carries the exact
    membership flag alongside — every in_build row must probe true (no
    false negatives), and the hash compare pins the whole bit array."""
    from intake_esm_spark.operators.sketch import bloom_build, bloom_probe

    events = load_table(spark, sf, "events")
    ev = events.filter(F.col("user_id").isNotNull())
    build = ev.filter(F.col("event_id") % 2 == 0).select("user_id")
    probe_src = ev.filter(F.col("event_id") % 2 == 1).select("user_id")
    bloom = bloom_build(build, "user_id", n_hashes=7, n_bits=4096)
    probed = bloom_probe(
        bloom, probe_src, "user_id", n_hashes=7, n_bits=4096
    )
    exact = build.distinct().withColumn("__in", F.lit(1))
    return (
        probed.join(
            F.broadcast(exact.withColumn("user_id", F.col("user_id").cast("string"))),
            "user_id",
            "left",
        )
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "might_contain",
            F.coalesce("__in", F.lit(0)).cast("int").alias("in_build"),
        )
    )


def q_events_cuped(spark: SparkSession, sf: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (operators/experiment.py
    cuped_report): per-user purchase revenue split at Jan 16 into the
    pre-period covariate and the experiment metric, even/odd cohorts —
    pooled theta from one decimal-moment aggregation, adjusted
    means/variances expanded algebraically (no second pass), z on the
    adjusted metric plus the variance-reduction percentage."""
    from intake_esm_spark.operators.experiment import cuped_report

    events = load_table(spark, sf, "events")
    split = "2024-01-16"
    per_user = (
        events.filter(
            (F.col("event_type") == "purchase")
            & F.col("user_id").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ts") < F.lit(split).cast("timestamp"),
                        F.expr("CAST(value AS DECIMAL(18,6))"),
                    )
                ),
                F.lit(0).cast("decimal(18,6)"),
            )
            .cast("double")
            .alias("pre_rev"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ts") >= F.lit(split).cast("timestamp"),
                        F.expr("CAST(value AS DECIMAL(18,6))"),
                    )
                ),
                F.lit(0).cast("decimal(18,6)"),
            )
            .cast("double")
            .alias("post_rev"),
        )
    )
    units = per_user.select(
        F.when(F.col("user_id") % 2 == 0, "t").otherwise("c").alias("grp"),
        "pre_rev",
        "post_rev",
    )
    return cuped_report(units, "grp", "post_rev", "pre_rev", "c")


def q_docs_langid_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Classification eval of the engine's own lang-id heuristic
    against the labeled lang column (operators/evaluation.py
    confusion_report): per-class precision/recall/F1 from one
    (actual, predicted) count collapse — the scoring loop a
    model-assisted curation stage closes with."""
    from intake_esm_spark.operators.evaluation import confusion_report

    docs = load_table(spark, sf, "documents")
    scored = docs.select(
        "lang", tx.lang_id(F.col("text")).alias("lang_pred")
    )
    return confusion_report(scored, "lang", "lang_pred")


def q_events_forecast_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Generic regression scorecard (operators/evaluation.py
    regression_metrics) of the 7-day seasonal-naive forecast against
    actual daily revenue: MAE/RMSE/bias/R² from ONE decimal-moment
    aggregation over the day-grain frame."""
    from pyspark.sql import Window

    from intake_esm_spark.operators.evaluation import regression_metrics

    events = load_table(spark, sf, "events")
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(_dec_sum("value", "rev"))
    )
    w = Window.orderBy("day")  # calendar-bounded day frame
    scored = daily.select(
        "rev", F.lag("rev", 7).over(w).alias("pred")
    ).filter(F.col("pred").isNotNull())
    return regression_metrics(scored, "rev", "pred")


def q_orders_zorder(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order layout keys (operators/layout.py zorder_key) over
    (customer, price-cents): integer min-max buckets + Morton bit
    interleave — the multi-column file-skipping layout
    (OPTIMIZE ZORDER) as an engine-exact row function; first 50 rows
    of the curve with their keys."""
    from intake_esm_spark.operators.layout import zorder_key

    orders = load_table(spark, sf, "orders")
    o = orders.select(
        "o_orderkey",
        "o_custkey",
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("cents"),
    )
    z = zorder_key(o, ["o_custkey", "cents"], bits=16)
    return z.orderBy("zkey", "o_orderkey").limit(50)


def q_graph_kcore(spark: SparkSession, sf: str) -> DataFrame:
    """3-core of the min-support-2 PART co-purchase graph
    (operators/graph.py k_core): iterative peeling to the fixpoint
    (10 rounds at sf0.01), per-round checkpointed; the oracle unrolls
    32 idempotent peel rounds in SQL (== max_rounds, so the two agree
    even on graphs whose degeneracy depth exceeds the cap). Output: surviving nodes with
    their in-core degree — all-integer."""
    from intake_esm_spark.operators.graph import k_core

    li = load_table(spark, sf, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.countDistinct("ok").alias("__n"))
        .filter(F.col("__n") >= 2)
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )
    return k_core(edges, k=3)


def q_events_quantile_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable hash-sample quantile sketch (operators/sketch.py
    quantile_sketch + sketch_quantiles): per event_type, the k=128
    smallest-hash rows form a uniform engine-replayable sample; p50/p95
    selected BY RANK from the kept values (type-1, no interpolation).
    Completes the sketch quartet through the gate."""
    from intake_esm_spark.operators.sketch import (
        quantile_sketch,
        sketch_quantiles,
    )

    events = load_table(spark, sf, "events")
    sk = quantile_sketch(
        events, "value", "event_id", ["event_type"], k=128
    )
    return sketch_quantiles(sk, [0.5, 0.95], ["event_type"], ["p50", "p95"])


def q_events_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Key-skew diagnostics (operators/profiling.py skew_report) over
    the shuffle-key candidates of the events table — per column: null
    count, distinct count, heaviest key and its share, top-10 combined
    share. One value-keyed count collapse per column (pinned: feeds
    totals AND the top-n), union of the 1-row results."""
    from intake_esm_spark.operators.profiling import skew_report

    events = load_table(spark, sf, "events")
    return skew_report(events, ["event_type", "user_id", "props"])


def q_graph_ppr(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank (operators/graph.py personalized_pagerank,
    2 iterations, damping 0.85) over the customer–supplier bipartite
    graph, seeded at customers 1-3 — random-walk-with-restart relevance
    to the seed set; nodes outside the 2-hop neighborhood stay at 0.
    Same 12dp-decimal contribution discipline as graph_pagerank."""
    from intake_esm_spark.operators.graph import personalized_pagerank

    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    seeds = spark.createDataFrame(
        [("c1",), ("c2",), ("c3",)], "node string"
    )
    return personalized_pagerank(edges, seeds, iters=2)


def q_simsearch_dim_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka-style truncation eval: exact top-10 under the full
    64-d cosine vs under the FIRST-16-dims cosine, per-query overlap —
    the 'how much recall does a 4x cheaper index lose' measurement
    (Kusupati et al. 2022 MRL; truncate-and-renormalize is the standard
    deployment trick, and cosine self-normalizes). Pure composition of
    the oracled brute-force machinery — two top-k plans + one
    (query, id) semi-overlap count."""
    emb = load_table(spark, sf, "embeddings")
    full_q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    full_top = simsearch.brute_force_topk(emb, full_q, k=10)
    t_emb = emb.select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    t_q = full_q.select(
        "query_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    t_top = simsearch.brute_force_topk(t_emb, t_q, k=10)
    hits = (
        full_top.select("query_id", "vec_id")
        .join(t_top.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("overlap_at_10"))
    )
    qs = full_q.select("query_id")
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("overlap_at_10", F.lit(0)).alias("overlap_at_10"),
        F.round(
            F.coalesce("overlap_at_10", F.lit(0)).cast("double")
            / F.lit(10.0),
            6,
        ).alias("recall_at_10"),
    )


def q_events_funnel_unordered(spark: SparkSession, sf: str) -> DataFrame:
    """Any-order funnel (operators/funnel.py funnel_unordered) over
    signup/view/purchase within 14 days of the user's first step — ONE
    map-side-combined aggregation, zero joins whatever the step count
    (the ordered funnel's join chain disappears when order doesn't
    matter)."""
    from intake_esm_spark.operators.funnel import funnel_unordered

    events = load_table(spark, sf, "events")
    return funnel_unordered(
        events, ["signup", "view", "purchase"], within="14 days"
    )


def q_docs_phrase_search(spark: SparkSession, sf: str) -> DataFrame:
    """Exact positional phrase matching (operators/retrieval.py
    phrase_search) for the repeated-term phrase "table table": postings
    exploded ONLY for the query's terms, consecutive-position semi-join
    chain, per-doc match count + 1-based first position. Integer-only —
    no floats anywhere."""
    from intake_esm_spark.operators.retrieval import phrase_search

    docs = load_table(spark, sf, "documents")
    return phrase_search(docs, "table table")


def _dsir_splits(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    """TARGET = the English docs (the distribution to select toward),
    RAW = everything else (the pool) — the DSIR demo split."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") != "en"),
    )


def q_docs_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR hashed-ngram importance model (operators/selection.py
    dsir_bucket_weights): per-bucket add-1-smoothed log-likelihood-ratio
    weights between the English target split and the non-English pool —
    two map-side-combined B-bounded aggregations + a full-outer bucket
    join; corpus totals via a window over the <=512-row bucket frame.
    Weights are ln over exact integer counts rounded to 9dp (the
    docs_bm25 ln precedent)."""
    from intake_esm_spark.operators.selection import dsir_bucket_weights

    target, raw = _dsir_splits(spark, sf)
    w = dsir_bucket_weights(target, raw, n_buckets=512)
    return w.select(
        "bucket", "n_target", "n_raw", F.col("w").cast("double").alias("w")
    )


def q_docs_dsir(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance resampling end-to-end (operators/selection.py
    dsir_select): fit the hashed bag-of-ngrams model on each split,
    score the pool docs by their broadcast-joined DECIMAL(18,9) weight
    sums (order-independent), keep the top-50 by (score desc, doc_id) —
    TakeOrderedAndProject, never a global sort. The 'make the pool look
    like the target' pretraining selection stage (Xie et al. 2023)."""
    from intake_esm_spark.operators.selection import dsir_select

    target, raw = _dsir_splits(spark, sf)
    return dsir_select(target, raw, k=50, n_buckets=512)


def q_events_distinct_kmv_merged(spark: SparkSession, sf: str) -> DataFrame:
    """KMV mergeability driven through the correctness gate: the corpus
    is split in half by event-id hash, sketched per half, and the
    halves are `kmv_union`-merged — the oracle is the DIRECT whole-
    corpus sketch SQL, so the driver's hash compare IS the proof that
    merge(sketch(A), sketch(B)) == sketch(A ∪ B)."""
    from intake_esm_spark.operators.sketch import kmv_distinct, kmv_union

    events = load_table(spark, sf, "events")
    half_a = events.filter(F.crc32(F.col("event_id").cast("string")) % 2 == 0)
    half_b = events.filter(F.crc32(F.col("event_id").cast("string")) % 2 == 1)
    return _kmv_hashes_as_string(
        kmv_union(
            kmv_distinct(half_a, "user_id", ["event_type"], k=_KMV_K),
            kmv_distinct(half_b, "user_id", ["event_type"], k=_KMV_K),
            ["event_type"],
            k=_KMV_K,
        )
    )


def q_docs_chunk(spark: SparkSession, sf: str) -> DataFrame:
    """Passage chunking (RAG/embedding prep): 500-char chunks with
    100-char overlap — pure in-row sequence + posexplode + substring,
    ZERO shuffle; chunk ids are derived arithmetic, not ordinality."""
    from intake_esm_spark.operators.chunking import chunk_documents

    docs = load_table(spark, sf, "documents")
    return chunk_documents(docs, chunk_size=500, overlap=100)


_QCHECK_RULES = [
    ("not_null", "text", 0.5),
    ("unique", "doc_id", None),
    ("min", "n_chars", 0.0),
    ("max", "n_chars", 100000.0),
    ("in_set", "source", [f"src{i}" for i in range(20)]),
    ("not_null", "lang", 0.99),
]


def q_docs_quality_checks(spark: SparkSession, sf: str) -> DataFrame:
    """Deequ-style data-quality validation: six declared constraints
    (completeness, id uniqueness, value bounds, accepted source domain)
    verified in ONE aggregate pass; report is rule-cardinality rows."""
    from intake_esm_spark.operators.quality_checks import check_constraints

    docs = load_table(spark, sf, "documents")
    return check_constraints(docs, _QCHECK_RULES)


_KMV_OVERLAP_K = 64


def q_events_audience_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise audience overlap between event types, computed entirely
    from KMV sketches (union/intersection/Jaccard estimates via the
    union-sketch construction) — every pairwise question answered from
    sketch bytes after two corpus exchanges."""
    from intake_esm_spark.operators.sketch import kmv_distinct, kmv_pairwise_overlap

    events = load_table(spark, sf, "events")
    sk = kmv_distinct(events, "user_id", ["event_type"], k=_KMV_OVERLAP_K)
    return kmv_pairwise_overlap(sk, "event_type", k=_KMV_OVERLAP_K)


def q_docs_mixture_temp(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled mixture (the multilingual mass^alpha rule,
    alpha=0.5): target shares derive from the masses themselves instead
    of a hand-tuned weight map — low-resource sources upweighted, head
    not flattened. Rates computed in-plan over the sources-count frame
    (12dp-rounded shares pin the pow() ulp cross-engine), applied with
    the same salted-hash keep filter; corpus never shuffles."""
    from intake_esm_spark.operators import mixing

    docs = load_table(spark, sf, "documents")
    toks = tx.ws_token_count(F.col("text"))
    rates = mixing.temperature_mixture_rates(docs, alpha=0.5, size_col=toks)
    out = mixing.apply_mixture(
        docs, {}, salt="mixt", precomputed_rates=rates
    )
    return out.select("doc_id", "source")


_QUALITY_BUCKETS = 64
_QUALITY_WSALT = "qw6"
_QUALITY_HSALT = "qf"


def q_docs_quality_logit(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based quality scoring plumbing (CCNet-style): fastText-ish
    hashed bag-of-words linear logit per document — salted-md5 word
    buckets into a 64-weight literal vector, mean-pooled in ONE in-row
    fold, zero shuffle. Weights are md5-derived stand-ins (the scoring
    plan is identical for trained weights); 6dp-rounded for the oracle."""
    docs = load_table(spark, sf, "documents")
    wts = tx.hashed_bow_weights(_QUALITY_BUCKETS, salt=_QUALITY_WSALT)
    words = docs.select("doc_id", tx.words_array(F.col("text")).alias("__w"))
    return words.select(
        "doc_id",
        F.round(
            tx.hashed_bow_logit(F.col("__w"), wts, salt=_QUALITY_HSALT), 6
        ).alias("logit"),
    )


def q_simsearch_ivf_int8(spark: SparkSession, sf: str) -> DataFrame:
    """Quantized ANN end-to-end: quantize_int8 -> int8 IVF index write
    (bucket-partitioned parquet holding qvec+scale, 4x smaller than
    float32) -> partition-pruned probe that dequantizes (q * scale) in
    the score expression. Centroids pinned to vec_id 0..15 and every
    stage (floor(+0.5) quantization, 6dp-rounded-cosine assignment with
    higher-cid ties, probe, top-k) is exactly replayed by the DuckDB
    oracle."""
    import tempfile

    emb = load_table(spark, sf, "embeddings")
    cents = [
        r["embedding"]
        for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    # one stable per-sf dir, overwritten each call (same pattern as the
    # LSH oracle index): the returned plan reads the index lazily
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_ivf8_oracle_{os.path.basename(sf.rstrip('/'))}",
    )
    simsearch.write_ivf_index_int8(emb, path, centroids=cents)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = simsearch.ivf_topk_indexed(spark, path, queries_df, k=10, nprobe=4)
    return out.select("query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"))


_LINE_CHUNK_WORDS = 8


def _doc_lines(docs: DataFrame, extra: tuple = ()) -> DataFrame:
    """Fixed 8-word-window segmentation of documents into 'lines'. The
    synthetic corpus has no newlines, so the structural-dedup entries
    derive lines as fixed word windows — near-duplicate documents (built
    by copy+mutate) share ALIGNED windows, which produces genuine
    cross-document duplicated lines (153 duplicated distinct lines across
    93 docs at sf0.01). The word array is materialized in its OWN
    projection before the window transform references it (SCALE.md
    pitfall: no CSE inside higher-order lambdas)."""
    w = _LINE_CHUNK_WORDS
    d = docs.select("doc_id", *extra, F.split(F.col("text"), " ").alias("__ws"))
    nch = F.ceil(F.size("__ws") / F.lit(float(w))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda i: F.concat_ws(" ", F.slice(F.col("__ws"), i * w + 1, w)),
    )
    return d.select("doc_id", *extra, chunks.alias("__chunks"))


def q_dedup_lines(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style structural (line-level) dedup: lines duplicated across
    >= 2 documents are removed from EVERY document, documents reassembled
    preserving intra-document order (empty text + n_kept = 0 when nothing
    survives). Completes the RefinedWeb-style chain line-dedup ->
    doc-dedup -> repetition -> decontamination -> packing."""
    from intake_esm_spark.operators import structural

    docs = load_table(spark, sf, "documents")
    return structural.line_dedup(
        _doc_lines(docs), id_col="doc_id", lines=F.col("__chunks"),
        min_doc_freq=2, keep="none",
    )


def q_dedup_lines_keep_first(spark: SparkSession, sf: str) -> DataFrame:
    """Structural dedup, keep-first variant: the lowest-doc_id holder of
    each duplicated line keeps its copy (exactly one copy of shared
    content survives corpus-wide)."""
    from intake_esm_spark.operators import structural

    docs = load_table(spark, sf, "documents")
    return structural.line_dedup(
        _doc_lines(docs), id_col="doc_id", lines=F.col("__chunks"),
        min_doc_freq=2, keep="first",
    )


def q_dedup_lines_report(spark: SparkSession, sf: str) -> DataFrame:
    """The boilerplate report behind the structural dedup: every line
    duplicated across >= 2 documents with its document frequency, total
    occurrence count, and first holder — what a curation run reads before
    choosing the min_doc_freq policy. Single fingerprint-keyed exchange."""
    from intake_esm_spark.operators import structural

    docs = load_table(spark, sf, "documents")
    return structural.duplicated_lines(
        _doc_lines(docs), id_col="doc_id", lines=F.col("__chunks"), min_doc_freq=2
    )


def q_dedup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Exact substring-run dedup (the Lee et al. 2022 modality): cut every
    run of >= 5 consecutive corpus-duplicated 5-token windows (>= 9-token
    verbatim shared spans) out of every document and reassemble — catches
    long copied passages embedded in otherwise-distinct documents, which
    document-level MinHash and line-level structural dedup both miss.
    Rolling 60-bit window hashes -> distinct-doc frequency -> per-doc
    gaps-and-islands -> in-row token cut; oracle replays the identical
    pipeline with SQL window functions."""
    from intake_esm_spark.operators import spans

    docs = load_table(spark, sf, "documents")
    return spans.span_dedup(docs, n=5, min_doc_freq=2, min_run=5)


def q_dedup_spans_report(spark: SparkSession, sf: str) -> DataFrame:
    """The span report behind dedup_spans: one row per maximal duplicated
    run — (doc_id, start_token, end_token, n_windows, span text) — what a
    curation run reads to pick the min_run threshold (what IS getting
    cut, and how long the verbatim spans are)."""
    from intake_esm_spark.operators import spans

    docs = load_table(spark, sf, "documents")
    return spans.duplicated_spans(docs, n=5, min_doc_freq=2, min_run=5)


def q_docs_encoding(spark: SparkSession, sf: str) -> DataFrame:
    """Encoding-damage audit — the signals a web-crawl pipeline reads
    BEFORE any fingerprint-based stage (dirty encodings corrupt line
    fingerprints and shingle hashes): garbage-control-char ratio, U+FFFD
    replacement count, mojibake indicator-bigram count, non-ASCII ratio,
    and whether NFC normalization would change the text. Rates are
    codegen'd JVM regex expressions (Java-regex ∩ RE2 patterns, replayed
    verbatim by the oracle); the NFC flag is the Arrow-batched
    nfc_text UDF vs DuckDB's nfc_normalize."""
    from intake_esm_spark.functions import encoding as enc

    docs = load_table(spark, sf, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        F.round(enc.control_char_ratio(t), 6).alias("control_ratio"),
        enc.replacement_char_count(t).alias("replacement_chars"),
        enc.mojibake_count(t).alias("mojibake_hits"),
        F.round(enc.non_ascii_ratio(t), 6).alias("non_ascii_ratio"),
        (enc.nfc_text(t) != t).alias("nfc_changed"),
    )


def q_text_fingerprint_nfc(spark: SparkSession, sf: str) -> DataFrame:
    """NFC-normalized document fingerprint: repair-then-fingerprint —
    canonically-equal unicode spellings (composed vs decomposed accents)
    hash to the SAME fingerprint, where the plain text_fingerprint would
    split them. The variant every fingerprint consumer should feed on
    corpora that saw more than one text stack."""
    from intake_esm_spark.functions import encoding as enc

    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.md5(tx.normalized_text(enc.nfc_text(F.col("text")))).alias(
            "fingerprint"
        ),
    )


def q_dedup_cluster_best(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-aware cluster-canonical dedup: per near-dup component keep
    the HIGHEST-quality member (hashed-BoW logit, ties to min id)
    instead of the min-id member — production keeps the best copy, not
    the first-crawled one. Same component formation as
    dedup_cluster_survivors; the survivor rule is one
    min(struct(-score, id)) aggregate."""
    docs = load_table(spark, sf, "documents")
    pairs = dedup.near_duplicates(
        docs, num_hashes=32, bands=16, shingle_n=5, threshold=0.8
    )
    wts = tx.hashed_bow_weights(_QUALITY_BUCKETS, salt=_QUALITY_WSALT)
    words = docs.select("doc_id", tx.words_array(F.col("text")).alias("__w"))
    scores = words.select(
        "doc_id",
        F.round(
            tx.hashed_bow_logit(F.col("__w"), wts, salt=_QUALITY_HSALT), 6
        ).alias("score"),
    )
    out = dedup.dedup_components(docs, pairs, survivor_by=scores)
    return out.select("doc_id", "lang", "source")


def q_docs_source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source boilerplate overlap: distinct shared line fingerprints
    per unordered source pair (the "how much of A also appears in B"
    dataset audit, over the same 8-word-window segmentation the
    structural dedup uses). fp-keyed self-join bounded by sources-per-
    fingerprint, never row counts."""
    from intake_esm_spark.operators.corpus import source_overlap

    docs = load_table(spark, sf, "documents")
    seg = _doc_lines(docs, extra=("source",))
    fps = seg.select(
        "source", F.explode(F.col("__chunks")).alias("__line")
    ).select(
        F.md5(tx.normalized_text(F.col("__line"))).alias("fingerprint"),
        "source",
    )
    return source_overlap(fps)


def _curated_chain(docs: DataFrame) -> DataFrame:
    """The docs_curated2/3 chain body over a pre-loaded documents frame
    (see :func:`q_docs_curated2` for the plan narrative)."""
    from intake_esm_spark.operators import contamination, dedup, sampling, structural
    from intake_esm_spark.operators.corpus import _rle_fold

    b = sampling.hash_bucket(F.col("doc_id"), "bench")
    bench = docs.filter(b < _BENCH_BUCKETS)
    corp = docs.filter(b >= _BENCH_BUCKETS)

    cleaned = structural.line_dedup(
        _doc_lines(corp), id_col="doc_id", lines=F.col("__chunks"),
        min_doc_freq=2, keep="none",
    ).select("doc_id", "text")
    cleaned = cleaned.join(corp.select("doc_id", "source"), "doc_id")

    # Single-pass shape: the repetition fraction, token count and quality
    # logit are IN-ROW columns attached before the dedup exchange, so the
    # expensive line-dedup subplan is consumed exactly once — the naive
    # "join rep / join quality" formulation re-evaluated the whole
    # 3-exchange structural pipeline per branch (column pruning makes the
    # branches non-identical, so Spark's exchange reuse cannot merge
    # them; measured 10 parquet scans at sf0.01). Values are identical to
    # the standalone operators (same folds, same casts), so the oracle is
    # untouched. Shingle array and word array materialize in their own
    # projection; each fold references its input once (SCALE.md #4).
    wts = tx.hashed_bow_weights(_QUALITY_BUCKETS, salt=_QUALITY_WSALT)
    staged = cleaned.select(
        "doc_id", "source", "text",
        F.array_sort(tx.shingles(F.col("text"), 2)).alias("__s"),
        tx.words_array(F.col("text")).alias("__w"),
    )
    enriched = staged.select(
        "doc_id", "source", "text",
        _rle_fold(
            F.col("__s"),
            finish=lambda acc: acc["best"].cast("bigint")
            / acc["n"].cast("bigint").cast("double"),
        ).alias("top_frac"),
        tx.ws_token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        F.round(
            tx.hashed_bow_logit(F.col("__w"), wts, salt=_QUALITY_HSALT), 6
        ).alias("logit"),
    )
    surv = dedup.dedup_exact(enriched)
    filtered = surv.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("n_tokens") <= 2000)
        & (F.col("top_frac") <= 0.3)
        & (F.col("logit") >= 0.0)
    )
    # decontamination is a per-document property, so probing it on the
    # FILTERED survivors is output-equivalent to probing all cleaned docs
    # while exploding far fewer grams. localCheckpoint: the filtered
    # frame is referenced twice (gram source + anti-join left side) —
    # without materialization the whole curation pipeline would run twice
    # (the near_duplicates_incremental precedent; the materialized frame
    # is the SMALL end-of-pipeline row set, not the corpus)
    filtered = filtered.localCheckpoint()
    bad = contamination.contaminated_ids(filtered, bench, n=5)
    return filtered.join(bad, "doc_id", "left_anti").select(
        "doc_id", "source", "n_tokens", "top_frac", "logit"
    )


def q_docs_curated2(spark: SparkSession, sf: str) -> DataFrame:
    """The FULL RefinedWeb-style curation chain as ONE declarative plan:
    structural line-dedup (8-word-window lines, drop-all) -> exact-dedup
    survivors on the CLEANED text -> token-length window -> low-repetition
    -> decontamination vs the benchmark split -> hashed-BoW quality gate.
    Extends docs_curated with the structural stage first (boilerplate out
    before document fingerprints, the CCNet ordering) and the model-based
    gate last; every stage is an individually-oracled operator, composed
    lazily — Catalyst fuses all in-row stages into the reassembly output.

    Single-pass shape notes (see _curated_chain): the repetition
    fraction, token count and quality logit are IN-ROW columns attached
    before the dedup exchange, so the expensive line-dedup subplan is
    consumed exactly once — the naive "join rep / join quality"
    formulation re-evaluated the whole 3-exchange structural pipeline
    per branch (column pruning makes the branches non-identical, so
    Spark's exchange reuse cannot merge them; measured 10 parquet scans
    at sf0.01)."""
    return _curated_chain(load_table(spark, sf, "documents"))


def q_docs_curation_report(spark: SparkSession, sf: str) -> DataFrame:
    """Curation OBSERVABILITY: per corpus document, the first stage of
    the docs_curated2 chain that rejects it ('exact_dup', 'too_short',
    'too_long', 'repetitive', 'contaminated', 'low_quality') or 'pass' —
    what a curation run reads to tune thresholds (WHY is 40% of source X
    dying?) and what an audit reads to attribute removals. Same signals
    as the chain (one cleaned-corpus pass, in-row gates), but no
    document is dropped: rejection is data, not absence."""
    from intake_esm_spark.operators import contamination, sampling, structural
    from intake_esm_spark.operators.corpus import _rle_fold

    docs = load_table(spark, sf, "documents")
    b = sampling.hash_bucket(F.col("doc_id"), "bench")
    bench = docs.filter(b < _BENCH_BUCKETS)
    corp = docs.filter(b >= _BENCH_BUCKETS)

    cleaned = structural.line_dedup(
        _doc_lines(corp), id_col="doc_id", lines=F.col("__chunks"),
        min_doc_freq=2, keep="none",
    ).select("doc_id", "text")
    cleaned = cleaned.join(corp.select("doc_id", "source"), "doc_id")

    wts = tx.hashed_bow_weights(_QUALITY_BUCKETS, salt=_QUALITY_WSALT)
    staged = cleaned.select(
        "doc_id", "source", "text",
        F.array_sort(tx.shingles(F.col("text"), 2)).alias("__s"),
        tx.words_array(F.col("text")).alias("__w"),
    )
    enriched = staged.select(
        "doc_id", "source",
        tx.fingerprint_md5(F.col("text")).alias("__fp"),
        _rle_fold(
            F.col("__s"),
            finish=lambda acc: acc["best"].cast("bigint")
            / acc["n"].cast("bigint").cast("double"),
        ).alias("top_frac"),
        tx.ws_token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        F.round(
            tx.hashed_bow_logit(F.col("__w"), wts, salt=_QUALITY_HSALT), 6
        ).alias("logit"),
        F.col("text"),
    )
    surv = enriched.groupBy("__fp").agg(F.min("doc_id").alias("__keep"))
    joined = enriched.join(surv, "__fp")
    # contamination over ALL cleaned docs (the chain probes only its
    # filtered survivors — output-equivalent there, but a report must
    # attribute every document)
    bad = contamination.contaminated_ids(
        joined.select("doc_id", "text"), bench, n=5
    ).withColumn("__bad", F.lit(True))
    joined = joined.join(bad, "doc_id", "left")
    stage = (
        F.when(F.col("doc_id") != F.col("__keep"), F.lit("exact_dup"))
        .when(F.col("n_tokens") < 20, F.lit("too_short"))
        .when(F.col("n_tokens") > 2000, F.lit("too_long"))
        .when(F.col("top_frac") > 0.3, F.lit("repetitive"))
        .when(F.col("__bad"), F.lit("contaminated"))
        .when(F.col("logit") < 0.0, F.lit("low_quality"))
        .otherwise(F.lit("pass"))
    )
    return joined.select("doc_id", "source", stage.alias("stage"))


def q_docs_curated3(spark: SparkSession, sf: str) -> DataFrame:
    """docs_curated2 with the ENCODING-REPAIR stage prepended — the full
    production ordering: NFC normalization FIRST (dirty encodings corrupt
    line fingerprints, shingle hashes and exact-dedup fingerprints — a
    composed/decomposed variant pair would sail through every later
    stage as two 'distinct' documents), then the structural -> dedup ->
    gates -> decontamination -> quality chain unchanged. The NFC pass is
    the one pandas-UDF stage in the chain (no JVM expression exists);
    everything downstream still fuses into the same single-corpus-scan
    plan, and the oracle replays the whole chain with DuckDB's
    nfc_normalize wrapped at the source."""
    from intake_esm_spark.functions import encoding as _e

    docs = load_table(spark, sf, "documents").withColumn(
        "text", _e.nfc_text(F.col("text"))
    )
    return _curated_chain(docs)


# ---------------------------------------------------------------------------
# event-log shaping / CDC / privacy / split (§2.9 extensions, this session)


def q_events_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event paths
    (operators/eventlog.py): consecutive-pair counts + conditional
    leave-probabilities, final events absorbed into 'end' so each
    from-state's probabilities sum to 1. One exchange on the user key;
    the normalization window runs over the |types|^2 matrix."""
    from intake_esm_spark.operators.eventlog import transition_matrix

    events = load_table(spark, sf, "events")
    return transition_matrix(events, terminal="end")


def q_events_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 three-step event paths (overlapping per-user windows,
    complete windows only): the lead chain shares ONE user-keyed window
    sort, the count is map-side partial, the top-k is
    TakeOrderedAndProject with a (count, path) total order."""
    from intake_esm_spark.operators.eventlog import top_paths

    events = load_table(spark, sf, "events")
    return top_paths(events, length=3, k=20)


def q_events_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from the event log
    (gaps-and-islands): each user's consecutive event_type repeats
    collapse into versioned [effective_from, effective_to) intervals,
    open-ended on the current value. Both windows share the user-key
    exchange; output is bounded by value CHANGES, not events."""
    from intake_esm_spark.operators.eventlog import scd2_from_log

    events = load_table(spark, sf, "events")
    return scd2_from_log(events, "user_id", "event_type")


def q_events_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """Calendar gap-fill + forward fill: one row per (user, day) across
    each user's own activity span — zero counts on silent days, the
    last active day's decimal-exact value total carried forward. The
    resample step before any fixed-stride feature window."""
    from intake_esm_spark.operators.eventlog import gapfill_daily

    events = load_table(spark, sf, "events")
    return gapfill_daily(events)


def q_events_scd2_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time enrichment: each purchase joined to the SCD2
    version (the user's event_type 'segment' island) active at purchase
    time — scd2_from_log composed with the shuffle-once as-of join plus
    the interval validity mask. The query a type-2 dimension exists to
    answer, oracled with DuckDB's ASOF JOIN."""
    from intake_esm_spark.operators.eventlog import (
        enrich_with_scd2,
        scd2_from_log,
    )

    events = load_table(spark, sf, "events")
    dim = scd2_from_log(events, "user_id", "event_type").select(
        "user_id",
        F.col("event_type").alias("segment"),
        "effective_from",
        "effective_to",
        "version",
    )
    facts = events.filter(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    ).select("event_id", "user_id", "ts", "value")
    out = enrich_with_scd2(facts, dim, "user_id", order_col="version")
    return out.select(
        "event_id", "user_id", "ts", "value", "segment", "version"
    )


def q_customer_cdc(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot change-data-capture (operators/cdc.py): two
    deterministically derived customer snapshots (old drops custkey%10=3,
    new drops %10=7 and bumps acctbal for %4=0) full-outer-joined on the
    key and classified insert/update/delete with null-safe column
    compares. One co-keyed shuffle join; output bounded by change
    volume."""
    from intake_esm_spark.operators.cdc import snapshot_diff

    old, new = _customer_snapshots(spark, sf)
    return snapshot_diff(old, new, ["c_custkey"], ["c_acctbal", "c_mktsegment"])


def _customer_snapshots(spark: SparkSession, sf: str):
    """The deterministically derived before/after customer snapshots the
    CDC entries share: old drops custkey%10=3, new drops %10=7 and bumps
    acctbal for %4=0 — ONE definition so the diff and merge entries (and
    their oracles) can never de-sync."""
    cust = load_table(spark, sf, "customer")
    old = cust.filter(F.col("c_custkey") % 10 != 3).select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    new = cust.filter(F.col("c_custkey") % 10 != 7).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 4 == 0, F.col("c_acctbal") + F.lit(100.0)
        )
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        "c_mktsegment",
    )
    return old, new


def q_customer_scd2_apply(spark: SparkSession, sf: str) -> DataFrame:
    """The full warehouse merge flow: seed a type-2 dimension from the
    old snapshot (every key at version 1, current), diff the snapshots
    (cdc.snapshot_diff), MERGE the diff (cdc.scd2_apply) — changed and
    deleted keys close at the merge timestamp, inserts/updates open
    version current+1. Two change-volume-bounded joins; the dimension
    is never rebuilt wholesale."""
    from intake_esm_spark.operators.cdc import scd2_apply, snapshot_diff

    old, new = _customer_snapshots(spark, sf)
    dim0 = old.select(
        "c_custkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(1).alias("version"),
        F.lit(1).alias("is_current"),
    )
    changes = snapshot_diff(
        old, new, ["c_custkey"], ["c_acctbal", "c_mktsegment"]
    )
    return scd2_apply(
        dim0,
        changes,
        ["c_custkey"],
        ["c_acctbal", "c_mktsegment"],
        "2024-06-01 00:00:00",
    )


def _docs_len_bucket(sf_spark, sf: str, width: int):
    """Documents with the quasi-identifier length bucket the privacy
    entries share: floor(n_chars / width) over an explicit double
    division (DuckDB's bare ``/`` on integers is decimal division, so
    the oracle spells the same ``/ width.0`` + floor)."""
    docs = load_table(sf_spark, sf, "documents")
    return docs.withColumn(
        "len_bucket",
        F.floor(F.col("n_chars") / F.lit(float(width))).cast("bigint"),
    )


def q_privacy_kanon(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity audit (operators/privacy.py): per (lang, 50-char
    length bucket) combination, the member count and whether it meets
    k=5 — the release-gate report. One partial-aggregated groupBy."""
    from intake_esm_spark.operators.privacy import k_anonymity_report

    docs = _docs_len_bucket(spark, sf, 50)
    return k_anonymity_report(docs, ["lang", "len_bucket"], k=5)


def q_privacy_suppress(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity enforcement by suppression: rows whose (lang, source)
    combination has fewer than k=3 members get both quasi columns
    nulled; safe rows pass through. Count window on the quasi key —
    one exchange."""
    from intake_esm_spark.operators.privacy import suppress_quasi

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return suppress_quasi(docs, ["lang", "source"], k=3)


def q_docs_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by salted doc_id
    hash bucket: a pure row function — zero shuffle, and a document
    keeps its split across re-ingests, repartitions and engines (the
    leakage-proofing property a corpus split actually needs)."""
    from intake_esm_spark.operators import sampling

    docs = load_table(spark, sf, "documents")
    out = sampling.deterministic_split(
        docs,
        {"train": 0.8, "val": 0.1, "test": 0.1},
        "doc_id",
        salt="split-v1",
    )
    return out.select("doc_id", "source", "split")


# ---------------------------------------------------------------------------
# driver contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def q_events_auc(spark: SparkSession, sf: str) -> DataFrame:
    """Exact ROC-AUC of event value as a purchase-vs-rest score
    (operators/evaluation.auc_report): the Mann-Whitney rank-sum
    identity over the distinct-score grain with midranks for ties —
    bucketed two-phase prefix sums, DECIMAL(38,0) exact rank
    accumulation, one fixed IEEE expression at the end."""
    from intake_esm_spark.operators.evaluation import auc_report

    events = load_table(spark, sf, "events")
    u = events.filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    ).select(
        (F.col("event_type") == "purchase").cast("int").alias("label"),
        F.col("value").alias("score"),
    )
    return auc_report(u, "label", "score")


def q_events_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability table (operators/evaluation.calibration_report) of a
    hash-uniform pseudo-probability against the purchase label: 10
    clamped score bins, one bin-keyed map-side-combined aggregation,
    decimal score sums; per-bin |pos_rate − avg_score| gap."""
    from intake_esm_spark.operators.evaluation import calibration_report

    events = load_table(spark, sf, "events")
    u = events.filter(F.col("event_type").isNotNull()).select(
        (F.col("event_type") == "purchase").cast("int").alias("label"),
        # exact-rational uniform score k/1e6: a 6dp decimal round-trips
        # double -> DECIMAL(18,6) identically in both engines (no
        # half-way cast cases), unlike a full-precision h/2^60 double
        (
            F.pmod(
                tx.salted_hash60(F.col("event_id"), "cal"), F.lit(1_000_000)
            ).cast("double")
            / F.lit(1_000_000.0)
        ).alias("score"),
    )
    return calibration_report(u, "label", "score", n_bins=10)


def q_events_kappa(spark: SparkSession, sf: str) -> DataFrame:
    """Cohen's kappa (operators/evaluation.cohens_kappa) between the
    event type and a deterministically degraded copy (hash-parity keeps
    the label, else 'view') — the label-quality agreement readout; one
    pinned cell collapse, margins re-joined, DECIMAL(38,0) product
    sum for chance agreement."""
    from intake_esm_spark.operators.evaluation import cohens_kappa

    events = load_table(spark, sf, "events")
    u = events.filter(F.col("event_type").isNotNull()).select(
        F.col("event_type").alias("rater_a"),
        F.when(
            F.pmod(tx.salted_hash60(F.col("event_id"), "k"), F.lit(2)) == 0,
            F.col("event_type"),
        )
        .otherwise(F.lit("view"))
        .alias("rater_b"),
    )
    return cohens_kappa(u, "rater_a", "rater_b")


def q_events_srm(spark: SparkSession, sf: str) -> DataFrame:
    """Sample-ratio-mismatch check (operators/experiment.srm_report):
    users hash into four arms but only a/b/c are configured at 25%
    each — the unconfigured 'holdout' arm surfaces in n_unassigned on
    every row; chi-square contributions vs N·share over the configured
    total. One variant-keyed count collapse + a broadcast literal
    expectation table."""
    from intake_esm_spark.operators.experiment import srm_report

    events = load_table(spark, sf, "events")
    u = events.filter(F.col("user_id").isNotNull()).select(
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c"), F.lit("holdout")),
            (F.pmod(F.col("user_id"), F.lit(4)) + 1).cast("int"),
        ).alias("variant")
    )
    return srm_report(
        u, "variant", [("a", 0.25), ("b", 0.25), ("c", 0.25)]
    ).orderBy("variant")


def q_events_ips(spark: SparkSession, sf: str) -> DataFrame:
    """Clipped IPS / SNIPS off-policy value (operators/experiment.
    ips_value): a deterministic target policy (purchase 0.5 / click 0.3
    / else 0.1) against a uniform 0.2 logging policy, rewards = event
    values, clip = 2.0 (so the purchase weight 2.5 exercises the clip
    diagnostic). One map-side-combined aggregation; 9dp-decimal weight
    sums."""
    from intake_esm_spark.operators.experiment import ips_value

    events = load_table(spark, sf, "events")
    u = events.filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    ).select(
        F.col("value").alias("reward"),
        F.when(F.col("event_type") == "purchase", F.lit(0.5))
        .when(F.col("event_type") == "click", F.lit(0.3))
        .otherwise(F.lit(0.1))
        .alias("p_target"),
        F.lit(0.2).alias("p_logging"),
    )
    return ips_value(u, "reward", "p_target", "p_logging", clip=2.0)


def q_events_qte(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile treatment effects (operators/experiment.
    quantile_treatment_effects) on purchase values split by user
    parity: p25/p50/p75 per arm (Spark percentile = type-7 = DuckDB
    quantile_cont, the lineitem_quantiles parity) and their
    differences; everything after the one grouped aggregation is 2-row
    metadata."""
    from intake_esm_spark.operators.experiment import (
        quantile_treatment_effects,
    )

    events = load_table(spark, sf, "events")
    u = events.filter(
        (F.col("event_type") == "purchase")
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0, F.lit("t"))
        .otherwise(F.lit("c"))
        .alias("grp"),
        F.col("value"),
    )
    return quantile_treatment_effects(
        u, "grp", "value", "t", "c", probs=[0.25, 0.5, 0.75]
    ).orderBy("prob")


def q_docs_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source tf-idf keywords (operators/corpus.source_keywords):
    one (source, token) count collapse, df/S on the vocabulary frame,
    WindowGroupLimit top-10 per source by (score desc, token asc)."""
    from intake_esm_spark.operators.corpus import source_keywords

    docs = load_table(spark, sf, "documents")
    return source_keywords(docs, "source", "text", k=10, min_count=2)


def q_docs_jsd(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions (operators/corpus.source_divergence): one
    (source, token) collapse, shared-token pair join at vocabulary
    scale (lazily max_groups-guarded in-plan), 12dp-decimal term sums
    with the one-sided mass recovered exactly as (2 − Σpa − Σpb)·ln2;
    every unordered pair emits a row — fully-disjoint pairs at exactly
    ln 2."""
    from intake_esm_spark.operators.corpus import source_divergence

    docs = load_table(spark, sf, "documents")
    return source_divergence(docs, "source", "text", min_count=2)


def q_events_trend_test(spark: SparkSession, sf: str) -> DataFrame:
    """Cochran-Armitage proportion-trend z (operators/experiment.
    trend_test) across five hash-ordered exposure tiers with purchase
    as the conversion — one map-side-combined decimal-moment
    aggregation."""
    from intake_esm_spark.operators.experiment import trend_test

    events = load_table(spark, sf, "events")
    u = events.filter(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        F.pmod(F.col("user_id"), F.lit(5)).cast("double").alias("dose"),
        (F.col("event_type") == "purchase").cast("int").alias("conv"),
    )
    return trend_test(u, "dose", "conv")


def q_docs_zipf(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf's-law fit (operators/corpus.zipf_fit) over the corpus
    term-frequency head: ln(freq)-on-ln(rank) least squares over the
    top-1000 tokens — one map-side-combined token count,
    TakeOrderedAndProject head, 9dp-decimal ln-moment fold, fixed IEEE
    slope/r² over the 1-row moments."""
    from intake_esm_spark.operators.corpus import zipf_fit

    docs = load_table(spark, sf, "documents")
    return zipf_fit(docs, "text", top_n=1000)


def q_events_pr_auc(spark: SparkSession, sf: str) -> DataFrame:
    """Precision-recall AUC / average precision (operators/evaluation.
    pr_auc_report) of event value as a purchase-vs-rest score — the
    rare-positive companion to events_auc: descending distinct-score
    cumulatives via the bucketed prefix sum, 12dp-decimal step terms,
    one n_pos division at the end."""
    from intake_esm_spark.operators.evaluation import pr_auc_report

    events = load_table(spark, sf, "events")
    u = events.filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    ).select(
        (F.col("event_type") == "purchase").cast("int").alias("label"),
        F.col("value").alias("score"),
    )
    return pr_auc_report(u, "label", "score")


def q_events_ece(spark: SparkSession, sf: str) -> DataFrame:
    """Expected/maximum calibration error (operators/evaluation.
    ece_report) over the same hash-uniform pseudo-probability as
    events_calibration: the n-weighted gap telescopes to one
    decimal-exact |np − Σs| sum over the pinned bin collapse."""
    from intake_esm_spark.operators.evaluation import ece_report

    events = load_table(spark, sf, "events")
    u = events.filter(F.col("event_type").isNotNull()).select(
        (F.col("event_type") == "purchase").cast("int").alias("label"),
        (
            F.pmod(
                tx.salted_hash60(F.col("event_id"), "cal"), F.lit(1_000_000)
            ).cast("double")
            / F.lit(1_000_000.0)
        ).alias("score"),
    )
    return ece_report(u, "label", "score", n_bins=10)


def q_events_brier(spark: SparkSession, sf: str) -> DataFrame:
    """Brier score + log-loss (operators/evaluation.
    scoring_rules_report) of the calibration pseudo-probability against
    the purchase label — one map-side-combined aggregation of
    12dp-decimal per-unit terms."""
    from intake_esm_spark.operators.evaluation import scoring_rules_report

    events = load_table(spark, sf, "events")
    u = events.filter(F.col("event_type").isNotNull()).select(
        (F.col("event_type") == "purchase").cast("int").alias("label"),
        (
            F.pmod(
                tx.salted_hash60(F.col("event_id"), "cal"), F.lit(1_000_000)
            ).cast("double")
            / F.lit(1_000_000.0)
        ).alias("score"),
    )
    return scoring_rules_report(u, "label", "score")


def q_events_psi(spark: SparkSession, sf: str) -> DataFrame:
    """Population Stability Index (operators/evaluation.psi_report)
    between the even- and odd-user slices of a hash score: one
    bin-keyed conditional-count collapse, 12dp-decimal terms over
    two-sided bins, one-sided bins surfaced."""
    from intake_esm_spark.operators.evaluation import psi_report

    events = load_table(spark, sf, "events")
    u = events.filter(F.col("user_id").isNotNull()).select(
        F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0, F.lit("base"))
        .otherwise(F.lit("cur"))
        .alias("slice"),
        (
            F.pmod(
                tx.salted_hash60(F.col("event_id"), "psi"), F.lit(1_000_000)
            ).cast("double")
            / F.lit(1_000_000.0)
        ).alias("score"),
    )
    return psi_report(u, "slice", "base", "cur", "score", n_bins=10)


def q_events_mcc(spark: SparkSession, sf: str) -> DataFrame:
    """Matthews correlation (operators/evaluation.mcc_report) of a
    hash-derived predictor against the purchase label: one aggregation
    of the four confusion cells, DECIMAL(38,0) cast-first numerator
    products, margin-sqrt denominator."""
    from intake_esm_spark.operators.evaluation import mcc_report

    events = load_table(spark, sf, "events")
    u = events.filter(F.col("event_type").isNotNull()).select(
        (F.col("event_type") == "purchase").cast("int").alias("actual"),
        (
            F.pmod(tx.salted_hash60(F.col("event_id"), "mcc"), F.lit(5)) == 0
        ).cast("int").alias("predicted"),
    )
    return mcc_report(u, "actual", "predicted")


def q_events_ndcg(spark: SparkSession, sf: str) -> DataFrame:
    """NDCG@5 / MRR@5 (operators/evaluation.ranking_metrics) of the
    per-user event ordering by value against purchase relevance —
    query-partitioned rank windows (bounded per-user frames),
    12dp-decimal per-query metrics before the cross-query mean."""
    from intake_esm_spark.operators.evaluation import ranking_metrics

    events = load_table(spark, sf, "events")
    u = events.filter(
        F.col("user_id").isNotNull()
        & F.col("event_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        F.col("user_id").alias("q"),
        F.col("event_id").alias("item"),
        (F.col("event_type") == "purchase").cast("int").alias("rel"),
        F.col("value").alias("score"),
    )
    return ranking_metrics(u, "q", "item", "rel", "score", k=5)


def q_events_power(spark: SparkSession, sf: str) -> DataFrame:
    """Minimum detectable effect at the current sample (operators/
    experiment.power_mde_report) for the parity-split arms over event
    value — one decimal-moment aggregation, fixed normal quantiles
    (two-sided 5%, 80% power)."""
    from intake_esm_spark.operators.experiment import power_mde_report

    events = load_table(spark, sf, "events")
    u = events.filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    ).select(
        F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0, F.lit("t"))
        .otherwise(F.lit("c"))
        .alias("grp"),
        F.col("value"),
    )
    return power_mde_report(u, "grp", "value", "t", "c")


def q_events_qini(spark: SparkSession, sf: str) -> DataFrame:
    """Qini / uplift curve (operators/experiment.qini_report) of event
    value as an uplift score for the parity-split arms with purchase as
    the outcome: bucketed-prefix-sum deciles (the lift_table plan
    discipline), exact cumulative arm counts, fixed-IEEE uplift/qini
    per depth."""
    from intake_esm_spark.operators.experiment import qini_report

    events = load_table(spark, sf, "events")
    u = events.filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("event_id").isNotNull()
    ).select(
        F.col("event_id"),
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("treated"),
        (F.col("event_type") == "purchase").cast("int").alias("converted"),
        F.col("value").alias("score"),
    )
    return qini_report(
        u, "treated", "converted", "score", "event_id", n_bins=10
    )


def q_events_seasonal(spark: SparkSession, sf: str) -> DataFrame:
    """Additive seasonal decomposition (operators/timeseries.
    seasonal_decompose) of the daily value rollup: centered 7-day
    moving-average trend (null where the calendar window is not fully
    present), mean-centered per-phase seasonal over the detrended
    series, residual remainder — all windows on the calendar-bounded
    daily frame."""
    from intake_esm_spark.operators.timeseries import seasonal_decompose

    events = load_table(spark, sf, "events")
    return seasonal_decompose(events, "value", "ts", period=7)


def q_events_logrank(spark: SparkSession, sf: str) -> DataFrame:
    """Log-rank survival-curve test (operators/survival.logrank_test)
    between the parity arms with value as a CONTINUOUS duration and
    purchase as the event — the at-risk reverse cumulatives run on the
    bucketed prefix sum (distinct durations ~ subjects here, so the
    km-style event-time window exception would not hold); 12dp-decimal
    O−E / variance terms, one fixed IEEE z."""
    from intake_esm_spark.operators.survival import logrank_test

    events = load_table(spark, sf, "events")
    u = events.filter(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
    ).select(
        F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0, F.lit("t"))
        .otherwise(F.lit("c"))
        .alias("grp"),
        F.col("value").alias("dur"),
        (F.col("event_type") == "purchase").cast("int").alias("ev"),
    )
    return logrank_test(u, "grp", "dur", "ev", "t", "c")


def q_events_prop_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Wilson score intervals (operators/experiment.proportion_ci_report)
    for the purchase rate of three hash arms — one variant-keyed count
    collapse, in-row IEEE interval arithmetic, [0,1]-clamped bounds."""
    from intake_esm_spark.operators.experiment import proportion_ci_report

    events = load_table(spark, sf, "events")
    u = events.filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            (F.pmod(F.col("user_id"), F.lit(3)) + 1).cast("int"),
        ).alias("variant"),
        (F.col("event_type") == "purchase").cast("int").alias("conv"),
    )
    return proportion_ci_report(u, "variant", "conv").orderBy("variant")


def q_events_eb_rates(spark: SparkSession, sf: str) -> DataFrame:
    """Empirical-Bayes shrunk per-user purchase rates (operators/
    experiment.eb_shrunk_rates): method-of-moments beta-binomial prior
    from one pinned entity collapse + one broadcast moment row;
    12dp-decimal rate moments, fixed-IEEE shrinkage."""
    from intake_esm_spark.operators.experiment import eb_shrunk_rates

    events = load_table(spark, sf, "events")
    u = events.filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        F.col("user_id"),
        (F.col("event_type") == "purchase").cast("int").alias("conv"),
    )
    return eb_shrunk_rates(u, "user_id", "conv")


def q_events_msprt(spark: SparkSession, sf: str) -> DataFrame:
    """Always-valid A/B readout (operators/experiment.py msprt_report):
    the mixture-SPRT p-value over the SAME synthetic cohort as
    events_ab_test (user-parity variants, converted = power user), so
    the two reports can be read side-by-side — the fixed-horizon z and
    the peek-safe sequential p. One unit collapse, in-row IEEE over
    four exact integers."""
    from intake_esm_spark.operators.experiment import msprt_report

    events = load_table(spark, sf, "events")
    units = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("__np")
        )
        .select(
            F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias(
                "variant"
            ),
            (F.col("__np") >= 15).cast("int").alias("converted"),
        )
    )
    return msprt_report(
        units, "variant", "converted", treatment="B", control="A"
    )


def q_events_fdr(spark: SparkSession, sf: str) -> DataFrame:
    """Benjamini-Hochberg FDR across a scoreboard of always-valid
    p-values (operators/experiment.py bh_adjust + the msprt formula
    per cell): 20 (event_type × engagement-cohort) metric cells, arms
    by user parity, conversion = high-value event. The multiplicity
    control a 20-metric experiment dashboard needs — at α=0.05 one
    uncorrected metric "wins" by luck almost every experiment. One
    cell collapse; p per cell in-row; BH at the distinct-p grain via
    bucketed cumsum/cummin."""
    from intake_esm_spark.operators.experiment import bh_adjust

    events = load_table(spark, sf, "events")
    g1 = (F.col("user_id") % 2 == 0).cast("bigint")
    conv = F.coalesce((F.col("value") > 50).cast("bigint"), F.lit(0))
    cells = (
        events.filter(
            F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
        )
        .select(
            F.concat(
                F.col("event_type"),
                F.lit("_c"),
                (F.floor(F.col("user_id") / 2) % 4).cast("string"),
            ).alias("metric"),
            g1.alias("__g"),
            conv.alias("__conv"),
        )
        .groupBy("metric")
        .agg(
            F.sum("__g").alias("__nt"),
            F.sum(F.col("__g") * F.col("__conv")).alias("__xt"),
            F.sum(F.lit(1) - F.col("__g")).alias("__nc"),
            F.sum((F.lit(1) - F.col("__g")) * F.col("__conv")).alias("__xc"),
        )
    )
    nt = F.col("__nt").cast("double")
    nc = F.col("__nc").cast("double")
    pt = F.when(F.col("__nt") > 0, F.col("__xt").cast("double") / nt)
    pc = F.when(F.col("__nc") > 0, F.col("__xc").cast("double") / nc)
    v = pt * (F.lit(1.0) - pt) / nt + pc * (F.lit(1.0) - pc) / nc
    t2 = F.lit(0.05 * 0.05)
    theta = pt - pc
    lam = F.when(
        (F.col("__nt") > 0) & (F.col("__nc") > 0) & (v > 0),
        F.sqrt(v / (v + t2))
        * F.exp(theta * theta * t2 / (F.lit(2.0) * v * (v + t2))),
    )
    pv = F.when(lam.isNotNull(), F.least(F.lit(1.0), F.lit(1.0) / lam))
    scored = cells.select("metric", pv.alias("pv"))
    return bh_adjust(scored, "pv", "metric")


def q_orders_trimmed(spark: SparkSession, sf: str) -> DataFrame:
    """Trimmed-mean A/B readout (operators/experiment.py
    trimmed_means_report): order value by customer-parity arms, 5%
    trimmed from each tail of each arm — the whale-robust revenue
    comparison. Two distinct-value-grain bucketed passes; tie groups
    keep exact partial mass, so no row-grain rank join exists."""
    from intake_esm_spark.operators.experiment import trimmed_means_report

    orders = load_table(spark, sf, "orders")
    units = orders.filter(F.col("o_custkey").isNotNull()).select(
        F.when(F.col("o_custkey") % 2 == 0, "t").otherwise("c").alias(
            "arm"
        ),
        F.col("o_totalprice").alias("val"),
    )
    return trimmed_means_report(units, "arm", "val", "t", "c", trim=0.05)


def q_lineitem_exact_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact type-7 quantiles WITHOUT value buffering (operators/
    profiling.py exact_quantiles): the percentile aggregate holds the
    whole frame in one buffer at corpus scale — this keeps exactness
    via the distinct-value-grain bucketed cumsum + a ≤2·|probs|-rank
    broadcast probe."""
    from intake_esm_spark.operators.profiling import exact_quantiles

    lineitem = load_table(spark, sf, "lineitem")
    return exact_quantiles(
        lineitem, "l_extendedprice", probs=[0.25, 0.5, 0.75, 0.95]
    )


def q_orders_benford(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-digit conformity of order totals (operators/
    profiling.py benford_report) — the classic fabricated-amounts
    screen. Leading digit from the decimal STRING form (libm-free,
    engine-identical); one ≤9-group collapse."""
    from intake_esm_spark.operators.profiling import benford_report

    orders = load_table(spark, sf, "orders")
    return benford_report(orders, "o_totalprice")


def q_orders_priority_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group exact quantiles WITHOUT value buffering (operators/
    profiling.py group_exact_quantiles): p50/p95 order value per order
    priority via the grouped bucketed cumsum — no group ever sorts in
    one task, no executor holds a group's values (the percentile
    aggregate does both)."""
    from intake_esm_spark.operators.profiling import group_exact_quantiles

    orders = load_table(spark, sf, "orders")
    return group_exact_quantiles(
        orders, "o_totalprice", ["o_orderpriority"], probs=[0.5, 0.95]
    )


def _cohort3_rev_units(spark: SparkSession, sf: str) -> DataFrame:
    """Shared unit frame of the k-sample test entries: per-user
    purchase revenue with a deterministic THREE-way cohort label
    (user_id mod 3) — the k-arm sibling of _purchase_rev_units."""
    events = load_table(spark, sf, "events")
    per_user = (
        events.filter(
            (F.col("event_type") == "purchase")
            & F.col("user_id").isNotNull()
        )
        .groupBy("user_id")
        .agg(_dec_sum("value", "rev"))
    )
    return per_user.select(
        (F.col("user_id") % 3).cast("string").alias("grp"), "rev"
    )


def q_events_kruskal(spark: SparkSession, sf: str) -> DataFrame:
    """Kruskal-Wallis H across three user cohorts (operators/
    groupstats.py kruskal_wallis_report): midranks via the bucketed
    prefix sum over the distinct-value grain — the k-sample
    generalization of events_mannwhitney; per-group doubled rank sums
    accumulate as exact DECIMAL(38,0), tie correction from exact
    Σ(t³−t)."""
    from intake_esm_spark.operators.groupstats import (
        kruskal_wallis_report,
    )

    units = _cohort3_rev_units(spark, sf)
    return kruskal_wallis_report(units, "grp", "rev")


def q_events_anova(spark: SparkSession, sf: str) -> DataFrame:
    """One-way + Welch ANOVA across three user cohorts (operators/
    groupstats.py anova_report): ONE partial-agged exchange to 6dp-
    decimal per-group moments, closed-form F / eta² / Welch over the
    k-row frame with 12dp-decimal cross-group sums. The moment half is
    streaming twin #22 (stream_anova_moments)."""
    from intake_esm_spark.operators.groupstats import anova_report

    units = _cohort3_rev_units(spark, sf)
    return anova_report(units, "grp", "rev")


def q_events_brown_forsythe(spark: SparkSession, sf: str) -> DataFrame:
    """Brown-Forsythe equal-variance test across three user cohorts
    (operators/groupstats.py brown_forsythe_report): per-group exact
    medians from the grouped bucketed cumsum, then the one-exchange
    ANOVA moment path on |x − median_g|."""
    from intake_esm_spark.operators.groupstats import (
        brown_forsythe_report,
    )

    units = _cohort3_rev_units(spark, sf)
    return brown_forsythe_report(units, "grp", "rev")


def q_lineitem_spearman(spark: SparkSession, sf: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price
    (operators/groupstats.py spearman_report): midrank maps from the
    bucketed prefix sum join back by value; the statistic reduces to
    THREE exact DECIMAL(38,0) integer sums (midranks preserve the rank
    total, so the means are known constants). Quantity has ~50
    distinct values over 600k rows at sf0.1 — the tie-heavy shape the
    midrank algebra must absorb."""
    from intake_esm_spark.operators.groupstats import spearman_report

    lineitem = load_table(spark, sf, "lineitem")
    return spearman_report(lineitem, "l_quantity", "l_extendedprice")


def q_events_pettitt(spark: SparkSession, sf: str) -> DataFrame:
    """Pettitt change-point test on daily purchase revenue (operators/
    timeseries.py pettitt_test): U_t = 2S_t − t(N+1) kept as exact
    integers via doubled midranks over the calendar-bounded daily
    frame; earliest-day tiebreak; classic 2·exp(−6K²/(N³+N²))
    calibration."""
    from intake_esm_spark.operators.timeseries import pettitt_test

    events = load_table(spark, sf, "events")
    return pettitt_test(events.filter(F.col("event_type") == "purchase"))


def q_events_mutual_info(spark: SparkSession, sf: str) -> DataFrame:
    """Categorical association between event type and hour-of-day
    (operators/groupstats.py association_report): mutual information,
    NMI, and Cramér's V from ONE cell-grain exchange — χ² takes the
    zero-cell shortcut Σ_{o=0}e = N − Σ_{o>0}e instead of
    materializing the full grid; 12dp-decimal term sums."""
    from intake_esm_spark.operators.groupstats import association_report

    events = load_table(spark, sf, "events")
    frame = events.select(
        "event_type", F.hour("ts").alias("hour_of_day")
    )
    return association_report(frame, "event_type", "hour_of_day")


def q_lineitem_wquantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Quantity-weighted exact price quantiles (operators/profiling.py
    weighted_quantiles): smallest value whose inclusive cumulative
    6dp-decimal weight reaches p·W — element selection over the
    distinct-value grain via the bucketed cumsum, broadcast target
    probes, no interpolation and no single-task sort."""
    from intake_esm_spark.operators.profiling import weighted_quantiles

    lineitem = load_table(spark, sf, "lineitem")
    return weighted_quantiles(
        lineitem,
        "l_extendedprice",
        "l_quantity",
        probs=[0.1, 0.25, 0.5, 0.75, 0.9, 0.99],
    )


def q_embed_covariance(spark: SparkSession, sf: str) -> DataFrame:
    """Exact covariance + correlation of every embedding dimension
    pair (operators/matrix.py embedding_covariance): the d(d+1)/2
    upper-triangle products are generated IN-ROW by a JVM higher-order
    function — no self-join, the only exchange is the partial-agged
    groupBy to the dimension² grain; 12dp-decimal product sums, 6dp
    first moments."""
    from intake_esm_spark.operators.matrix import embedding_covariance

    emb = load_table(spark, sf, "embeddings")
    return embedding_covariance(emb)


def q_lineitem_kendall(spark: SparkSession, sf: str) -> DataFrame:
    """Kendall's tau-b between quantity and discount (operators/
    groupstats.py kendall_tau_b): concordant/discordant pair counts as
    exact DECIMAL(38,0) over the 50×11 contingency cell grid — the
    dominance self-join is cells²-bounded and guarded in-plan by
    assert_true (a continuous column aborts before the quadratic join
    emits)."""
    from intake_esm_spark.operators.groupstats import kendall_tau_b

    lineitem = load_table(spark, sf, "lineitem")
    return kendall_tau_b(lineitem, "l_quantity", "l_discount")


def q_events_acf(spark: SparkSession, sf: str) -> DataFrame:
    """Daily-revenue autocorrelation at lags 1..7 (operators/
    timeseries.py acf_report): per-lag Pearson over aligned day pairs
    — exact decimal moments on the calendar-bounded daily frame,
    calendar gaps shrink n_pairs instead of fabricating zeros."""
    from intake_esm_spark.operators.timeseries import acf_report

    events = load_table(spark, sf, "events")
    return acf_report(
        events.filter(F.col("event_type") == "purchase"), max_lag=7
    )


def q_events_pacf(spark: SparkSession, sf: str) -> DataFrame:
    """Daily-revenue partial autocorrelation at lags 1..7
    (operators/timeseries.py pacf_report, round 14 — statsmodels
    pacf(method='ld')): the STANDARD single-mean total-SS ACF sidecar
    (one 1-row mean pass + the lag-fanned day-keyed self-join of the
    calendar-bounded daily frame, centered products at the 6dp mean
    literal, 12dp decimal sums) then the Durbin-Levinson recursion as
    driver arithmetic through the shared durbin_levinson_pacf.
    Oracle: the sidecar SQL replayed in DuckDB + the SAME shared
    recursion, literal rows (_build_pacf_lb_oracles)."""
    from intake_esm_spark.operators.timeseries import pacf_report

    events = load_table(spark, sf, "events")
    return pacf_report(
        events.filter(F.col("event_type") == "purchase"), max_lag=7
    )


def q_events_ljung_box(spark: SparkSession, sf: str) -> DataFrame:
    """Ljung-Box portmanteau whiteness test of the daily revenue
    series, cumulative Q at lags 1..7 (operators/timeseries.py
    ljung_box_report, round 14 — statsmodels acorr_ljungbox; compare
    against the chi2(dof) critical value client-side, the
    chi_square_report convention). Identical distributed shape to
    events_pacf (the SAME shared standard-ACF sidecar passes); Q is
    driver arithmetic over the bounded sidecar. Oracle: the sidecar
    replay + the same cumulative sum, literal rows
    (_build_pacf_lb_oracles)."""
    from intake_esm_spark.operators.timeseries import ljung_box_report

    events = load_table(spark, sf, "events")
    return ljung_box_report(
        events.filter(F.col("event_type") == "purchase"), max_lag=7
    )


def q_events_adf(spark: SparkSession, sf: str) -> DataFrame:
    """Augmented Dickey-Fuller unit-root regression (constant, lag
    order 1) on the daily revenue series in THOUSANDS (scale=1e-3 —
    keeps the normal-equation conditioning SF-independent; tau is
    scale-free) (operators/timeseries.py
    adf_report, round 14 — statsmodels adfuller(maxlag=1,
    autolag=None, regression='c') on a gapless series; compare tau
    against the tabulated DF critical values client-side). Each
    lagged term is a day-keyed equi-join of the calendar-bounded
    daily frame (gaps drop rows, complete-case); the regression is
    the shared exact-decimal ols_moments 1-row pass + driver solve,
    finished through the shared adf_finish. Oracle: the daily CTE +
    shift joins + the shared OLS moment SQL replayed in DuckDB
    through the same solve/finish (_build_adf_oracle)."""
    from intake_esm_spark.operators.timeseries import adf_report

    events = load_table(spark, sf, "events")
    # scale=1e-3: the series is a daily revenue TOTAL (1e5-1e6 at bench
    # scale) against the constant regressor 1 — the normal equations
    # square that spread past the shared solver's 1e12 cond guard
    # (measured 1.54e12 at sf0.1); thousands keep cond SF-independent
    # (<= 1.6e6 across sf0.001-0.1) with tau scale-free
    return adf_report(
        events.filter(F.col("event_type") == "purchase"),
        lag_order=1,
        scale=1e-3,
    )


def q_embed_pca(spark: SparkSession, sf: str) -> DataFrame:
    """Top-2 principal-component projection of the embedding table
    (operators/matrix.py pca_project): covariance moments via the
    in-row pair explode, driver-side eigh over the BOUNDED d(d+1)/2
    sidecar, loadings broadcast back as literals, projection one
    in-row zip_with/aggregate fold over the SAME 6dp-quantized
    components the covariance consumed. Oracled since round 12: the
    oracle builder replays the covariance in DuckDB, runs the shared
    eigh + sign rule (matrix.pca_loadings_from_cov), and projects
    with literal loadings (_build_embed_pca_oracle)."""
    from intake_esm_spark.operators.matrix import pca_project

    emb = load_table(spark, sf, "embeddings")
    return pca_project(emb, k=2)


def q_lineitem_conformal(spark: SparkSession, sf: str) -> DataFrame:
    """Split-conformal interval for a naive price predictor
    (operators/evaluation.py conformal_interval): pred = quantity ×
    global price-per-unit ratio (a broadcast 1-row scalar), q_hat =
    the ⌈(n+1)(1−α)⌉-th smallest |residual| picked by a broadcast
    rank probe against the bucketed cumulative spans — the
    distribution-free guarantee next to RMSE."""
    from intake_esm_spark.operators.evaluation import conformal_interval

    lineitem = load_table(spark, sf, "lineitem")
    ratio = lineitem.agg(
        (
            F.sum(F.expr("CAST(l_extendedprice AS DECIMAL(18,6))")).cast(
                "double"
            )
            / F.sum(F.expr("CAST(l_quantity AS DECIMAL(18,6))")).cast(
                "double"
            )
        ).alias("__ratio")
    )
    scored = lineitem.crossJoin(F.broadcast(ratio)).select(
        F.col("l_extendedprice").cast("double").alias("y"),
        (F.col("l_quantity").cast("double") * F.col("__ratio")).alias(
            "pred"
        ),
    )
    return conformal_interval(scored, "y", "pred", alpha=0.1)


def q_events_mann_kendall(spark: SparkSession, sf: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on daily purchase revenue
    (operators/timeseries.py mann_kendall_test): exact integer S over
    the calendar-bounded day-pair join, tie-corrected variance,
    continuity-corrected z — the significance companion of
    events_theilsen's slope."""
    from intake_esm_spark.operators.timeseries import mann_kendall_test

    events = load_table(spark, sf, "events")
    return mann_kendall_test(
        events.filter(F.col("event_type") == "purchase")
    )


def q_embed_fisher(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension Fisher scores of the embeddings against their
    label (operators/matrix.py fisher_scores): between-class over
    within-class scatter from ONE (label, dim)-grain exchange —
    which dimensions separate the classes."""
    from intake_esm_spark.operators.matrix import fisher_scores

    emb = load_table(spark, sf, "embeddings")
    return fisher_scores(emb)


def _revenue_per_event_units(spark: SparkSession, sf: str) -> DataFrame:
    """Shared unit frame of the ratio-metric entries: per-user purchase
    revenue (numerator) over total event count (denominator) with the
    even/odd cohort label — the classic 'revenue per session' shape
    whose naive per-unit-mean variance is wrong."""
    events = load_table(spark, sf, "events")
    per_user = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.expr("CAST(value AS DECIMAL(18,6))"),
                    )
                ),
                F.lit(0).cast("decimal(18,6)"),
            )
            .cast("double")
            .alias("rev"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return per_user.select(
        "user_id",
        F.when(F.col("user_id") % 2 == 0, "t").otherwise("c").alias("grp"),
        "rev",
        "n_events",
    )


def q_events_ratio_ab(spark: SparkSession, sf: str) -> DataFrame:
    """Delta-method ratio-metric A/B test (operators/experiment.py
    ratio_ab_test): revenue-per-event between the even/odd cohorts —
    per-arm conditional exact-decimal moments in ONE aggregation, the
    unit-level numerator/denominator covariance the naive mean test
    ignores."""
    from intake_esm_spark.operators.experiment import ratio_ab_test

    units = _revenue_per_event_units(spark, sf)
    return ratio_ab_test(units, "grp", "rev", "n_events", "t", "c")


def q_events_jackknife(spark: SparkSession, sf: str) -> DataFrame:
    """Delete-one-bucket jackknife CI for revenue-per-event
    (operators/experiment.py jackknife_ratio_ci): md5-60 hash buckets,
    leave-one-out ratios from bucket sums alone, (B−1)/B spread — the
    assumption-free cross-check of events_ratio_ab's delta method."""
    from intake_esm_spark.operators.experiment import jackknife_ratio_ci

    units = _revenue_per_event_units(spark, sf)
    return jackknife_ratio_ci(
        units, "rev", "n_events", "user_id", n_buckets=32
    )


def q_embed_cluster_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Calinski-Harabasz + Davies-Bouldin validity indices over the
    labeled embeddings (operators/matrix.py cluster_quality): one
    (cluster, dim)-grain exchange, scatters on the k·d moment frame,
    DB centroid pairs behind the clusters² assert_true guard."""
    from intake_esm_spark.operators.matrix import cluster_quality

    emb = load_table(spark, sf, "embeddings")
    return cluster_quality(emb)


def q_events_stratified_ate(spark: SparkSession, sf: str) -> DataFrame:
    """Propensity-stratified ATE of the even/odd cohort on per-user
    purchase revenue, stratifying on activity (event count) as the
    score (operators/experiment.py stratified_ate): quintile strata
    from the exact bucketed global rank (SQL ntile remainder rule),
    within-stratum arm contrasts, size-weighted average; no-common-
    support strata dropped and counted."""
    from intake_esm_spark.operators.experiment import stratified_ate

    units = _revenue_per_event_units(spark, sf).select(
        "user_id",
        (F.col("user_id") % 2).alias("treat"),
        "rev",
        "n_events",
    )
    return stratified_ate(
        units, "treat", "rev", "n_events", "user_id", n_strata=5
    )


def q_lineitem_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-mitigating salted join (operators/layout.py salted_join):
    lineitem joined to orders across 8 salts — the salt is EXECUTION-
    ONLY (spark_partition_id mod salts on the big side, an in-row
    explode replicating the small side), so the per-priority revenue
    rollup is byte-identical to the plain join, which is exactly what
    the oracle replays."""
    from intake_esm_spark.operators.layout import salted_join

    lineitem = load_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice"
    )
    orders = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    joined = salted_join(lineitem, orders, "okey", n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        _dec_sum("l_extendedprice", "revenue"),
    )


def q_lineitem_qbins(spark: SparkSession, sf: str) -> DataFrame:
    """Equal-frequency price bins (operators/profiling.py
    quantile_bin): row-grain SQL-ntile deciles under the total order
    (price, rowid) via the exact bucketed rank — rolled up to the
    per-bin count/revenue profile (the WoE/monotone-binning prep
    step); no unpartitioned ntile window anywhere."""
    from intake_esm_spark.operators.profiling import quantile_bin

    lineitem = load_table(spark, sf, "lineitem").select(
        "l_extendedprice",
        F.expr("l_orderkey * 16 + l_linenumber").alias("rid"),
    )
    binned = quantile_bin(lineitem, "l_extendedprice", "rid", n_bins=10)
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        _dec_sum("l_extendedprice", "revenue"),
    )


def q_events_l_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct l-diversity audit (operators/privacy.py
    l_diversity_report): per event-type quasi-group, row count +
    distinct users (the sensitive attribute here) + the diversity
    flag — the homogeneity-attack gate k-anonymity misses."""
    from intake_esm_spark.operators.privacy import l_diversity_report

    events = load_table(spark, sf, "events")
    return l_diversity_report(
        events, ["event_type"], "user_id", l_threshold=5
    )


def q_events_dp_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Laplace-mechanism noisy per-type counts with deterministic
    md5-inverse-CDF noise (operators/privacy.py dp_noisy_counts):
    the DP release shape as a pure function of (data, epsilon, salt) —
    engine-replayable, which is what the oracle proves."""
    from intake_esm_spark.operators.privacy import dp_noisy_counts

    events = load_table(spark, sf, "events")
    return dp_noisy_counts(events, ["event_type"], epsilon=1.0, salt="v1")


def q_events_wilcoxon(spark: SparkSession, sf: str) -> DataFrame:
    """Wilcoxon signed-rank test (operators/experiment.py
    wilcoxon_signed_rank) on each user's even-day vs odd-day purchase
    revenue — the PAIRED nonparametric readout (each user is their own
    control); zero differences discarded per the standard convention,
    |d| midranks via the bucketed prefix sum, exact DECIMAL(38,0) rank
    sums."""
    from intake_esm_spark.operators.experiment import wilcoxon_signed_rank

    events = load_table(spark, sf, "events")
    per_user = (
        events.filter(
            (F.col("event_type") == "purchase")
            & F.col("user_id").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.dayofmonth("ts") % 2 == 0,
                        F.expr("CAST(value AS DECIMAL(18,6))"),
                    )
                ),
                F.lit(0).cast("decimal(18,6)"),
            )
            .cast("double")
            .alias("pre"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.dayofmonth("ts") % 2 == 1,
                        F.expr("CAST(value AS DECIMAL(18,6))"),
                    )
                ),
                F.lit(0).cast("decimal(18,6)"),
            )
            .cast("double")
            .alias("post"),
        )
    )
    return wilcoxon_signed_rank(per_user, "pre", "post")


def q_embed_whiten(spark: SparkSession, sf: str) -> DataFrame:
    """Top-2 PCA-WHITENED projection of the embedding table
    (operators/matrix.py pca_project(whiten=True)): the same covariance
    moments + driver eigh as embed_pca, with each loading scaled by
    1/sqrt(lambda) inside the SHARED pca_loadings_from_cov helper —
    unit-variance components, the normalization ANN/PQ index builders
    want. Oracle: the embed_pca literal-loading construction with
    whiten=True (identical Python scaling on both sides)."""
    from intake_esm_spark.operators.matrix import pca_project

    emb = load_table(spark, sf, "embeddings")
    return pca_project(emb, k=2, whiten=True)


def q_events_effect_sizes(spark: SparkSession, sf: str) -> DataFrame:
    """Cohen's d / Hedges' g / Glass's delta between the even/odd
    user-id cohorts' per-user purchase revenue (operators/groupstats.py
    effect_size_report): one group-grain moment exchange, min_by/max_by
    over the 2-row frame, in-plan two-arm guard — the "how big" readout
    next to the ANOVA/ratio-metric p-value machinery."""
    from intake_esm_spark.operators.groupstats import effect_size_report

    events = load_table(spark, sf, "events")
    per_user = (
        events.filter(
            F.col("user_id").isNotNull()
            & (F.col("event_type") == "purchase")
        )
        .groupBy("user_id")
        .agg(_dec_sum("value", "rev"))
    ).select(
        (F.col("user_id") % 2).cast("int").alias("cohort"), "rev"
    )
    return effect_size_report(per_user, "rev", "cohort")


def q_events_cliffs_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Cliff's delta between the same two cohorts (operators/
    groupstats.py cliffs_delta): dominance counts from the
    distinct-value grain + bucketed cumsum — pairs never materialize,
    exact DECIMAL(38,0) products, Romano magnitude label."""
    from intake_esm_spark.operators.groupstats import cliffs_delta

    events = load_table(spark, sf, "events")
    per_user = (
        events.filter(
            F.col("user_id").isNotNull()
            & (F.col("event_type") == "purchase")
        )
        .groupBy("user_id")
        .agg(_dec_sum("value", "rev"))
    ).select(
        (F.col("user_id") % 2).cast("int").alias("cohort"), "rev"
    )
    return cliffs_delta(per_user, "rev", "cohort")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # -- HEAD-50 (driver records the first 50 entries) -------------
        # Entry ORDER is load-bearing: the correctness driver records at
        # most 50 entries, so (standing rule) any entry whose code or
        # oracle changed this round is in the first 50, followed by the
        # entries longest without a driver-green row.
        # Block 0: round-14 NEW — the Cox scoring surfaces (Breslow
        # baseline hazard + per-subject survival at a horizon, both on
        # the shared _cox_fit trajectory), NB2 negative-binomial, Huber
        # robust regression, Gamma GLM (log link), Chow structural
        # break, IV 2SLS, Durbin-Watson.
        "lineitem_chow": q_lineitem_chow,
        "lineitem_iv": q_lineitem_iv,
        "lineitem_dw": q_lineitem_dw,
        "events_pacf": q_events_pacf,
        "events_ljung_box": q_events_ljung_box,
        "events_adf": q_events_adf,
        "lineitem_stump": q_lineitem_stump,
        "lineitem_tree": q_lineitem_tree,
        "docs_nb_confusion": q_docs_nb_confusion,
        "docs_bpe_pairs": q_docs_bpe_pairs,
        "events_holt": q_events_holt,
        "events_isotonic": q_events_isotonic,
        "embed_jl_distortion": q_embed_jl_distortion,
        "privacy_tcloseness": q_privacy_tcloseness,
        "events_burstiness": q_events_burstiness,
        "docs_heaps": q_docs_heaps,
        "events_mcnemar": q_events_mcnemar,
        "events_permutation": q_events_permutation,
        "events_mh_or": q_events_mh_or,
        "events_smd": q_events_smd,
        "events_cochran_q": q_events_cochran_q,
        "events_friedman": q_events_friedman,
        "events_cox_baseline": q_events_cox_baseline,
        "events_cox_predict": q_events_cox_predict,
        "events_weibull": q_events_weibull,
        "events_rmst": q_events_rmst,
        "events_km_ci": q_events_km_ci,
        "lineitem_negbin": q_lineitem_negbin,
        "lineitem_huber": q_lineitem_huber,
        "lineitem_gamma": q_lineitem_gamma,
        # Block 0b: round-14 CHANGED — wls filters on the quantized
        # weight (ADVICE #3), the Cox oracle floors epoch() to integer
        # seconds (ADVICE #1) and its builder refactored onto the
        # shared _cox_oracle_fit, vif gained the empty-feature guard
        # (ADVICE #2), logistic_by_group's group probe is now
        # limit-bounded (r13 judge finding #1).
        "lineitem_wls": q_lineitem_wls,
        "events_cox": q_events_cox,
        "lineitem_vif": q_lineitem_vif,
        "lineitem_logit_by_group": q_lineitem_logit_by_group,
        # Block 1: longest without a driver-green row — first the eight
        # rows the r13 head displaced to positions 51-58 (flagged there
        # as leading the freshness queue), then the r07-era rows the
        # r13 verdict named (six rounds unchecked), then the r12-checked
        # rotation-tail rows in their standing order to fill 50.
        "events_survival": q_events_survival,
        "events_logrank": q_events_logrank,
        "customer_gini": q_customer_gini,
        "events_mannwhitney": q_events_mannwhitney,
        "events_ks_test": q_events_ks_test,
        "events_auc": q_events_auc,
        "events_pr_auc": q_events_pr_auc,
        "docs_jsd": q_docs_jsd,
        "dedup_exact": q_dedup_exact,
        "dedup_near": q_dedup_near,
        "text_stats": q_text_stats,
        "text_quality": q_text_quality,
        "text_vocab": q_text_vocab,
        "text_redact": q_text_redact,
        "multimodal_stats": q_multimodal_stats,
        "multimodal_frames": q_multimodal_frames,
        "events_json": q_events_json,
        "docs_hash_sample": q_docs_hash_sample,
        "embed_fisher": q_embed_fisher,
        "embed_cluster_quality": q_embed_cluster_quality,
        "events_mutual_info": q_events_mutual_info,
        "events_dp_counts": q_events_dp_counts,
        "events_rfm": q_events_rfm,
        "lineitem_abc": q_lineitem_abc,
        "lineitem_lift": q_lineitem_lift,
        "events_qini": q_events_qini,
        "lineitem_qbins": q_lineitem_qbins,
        "events_stratified_ate": q_events_stratified_ate,
        "events_theilsen": q_events_theilsen,
        "events_effect_sizes": q_events_effect_sizes,
        "events_cliffs_delta": q_events_cliffs_delta,
        "events_cvm": q_events_cvm,
        "lineitem_jarque_bera": q_lineitem_jarque_bera,
        "events_mood_median": q_events_mood_median,
        "dedup_simhash": q_dedup_simhash,
        "multimodal_features": q_multimodal_features,
        "events_hourly": q_events_hourly,
        "events_sessionize": q_events_sessionize,
        # -- rotation tail ---------------------------------------------
        # q6_forecast_revenue/pivot_returnflag/cube_agg lead it:
        # positions 51-53 after events_weibull/events_rmst/events_km_ci
        # joined the head (r12-checked, first in next round's
        # freshness queue).
        "q6_forecast_revenue": q6_forecast_revenue,
        "pivot_returnflag": q_pivot_returnflag,
        "cube_agg": q_cube_agg,
        # Driver-checked in r13 (the r13 head-50), unchanged this
        # round; they re-enter the freshness queue behind the rows the
        # head now covers.
        # r13 block — ridge on the shared OLS moments
        # (l2 on the slope diagonal, driver-side, sandwich SEs) and
        # per-segment OLS (one group-grain moment exchange, per-group
        # shared solve, degenerate segments skipped).
        "lineitem_ridge": q_lineitem_ridge,
        "lineitem_ols_by_group": q_lineitem_ols_by_group,
        "lineitem_bp": q_lineitem_bp,
        "lineitem_ols_residuals": q_lineitem_ols_residuals,
        "lineitem_poisson": q_lineitem_poisson,
        "lineitem_poisson_fit": q_lineitem_poisson_fit,
        # r13 "changed" block — the OLS entries consume the
        # refactored shared moment builder (ols_moment_frame, also the
        # streaming twin #25 plan); the logistic entries thread the
        # actual n_iter and take the strict-0/1 label guard (ADVICE
        # #1/#2); events_anderson pins one schema across branches
        # (ADVICE #3); the PCA/covariance family's module grew the
        # _arrow_partials split that pca_project(exact=False) rides
        # (exact entries' plans unchanged — these rows re-prove it).
        "lineitem_ols": q_lineitem_ols,
        "lineitem_ols_fit": q_lineitem_ols_fit,
        "lineitem_logit": q_lineitem_logit,
        "lineitem_logit_fit": q_lineitem_logit_fit,
        "events_anderson": q_events_anderson,
        "embed_pca": q_embed_pca,
        "embed_whiten": q_embed_whiten,
        "embed_covariance": q_embed_covariance,
        # r13 Block-1 remainder (driver-checked r13), standing order.
        "docs_mixture_temp": q_docs_mixture_temp,
        "embed_pq_codes": q_embed_pq_codes,
        "simsearch_pq_topk": q_simsearch_pq_topk,
        "events_funnel_counts": q_events_funnel_counts,
        "simsearch_ivf_pq_rerank": q_simsearch_ivf_pq_rerank,
        "docs_bm25": q_docs_bm25,
        "docs_tfidf": q_docs_tfidf,
        "simsearch_ivf_int8": q_simsearch_ivf_int8,
        "simsearch_ivf": q_simsearch_ivf,
        "embed_kmeans": q_embed_kmeans,
        "dedup_cluster_survivors": q_dedup_cluster_survivors,
        "events_kruskal": q_events_kruskal,
        "events_anova": q_events_anova,
        "events_brown_forsythe": q_events_brown_forsythe,
        "lineitem_spearman": q_lineitem_spearman,
        "events_pettitt": q_events_pettitt,
        "lineitem_wquantiles": q_lineitem_wquantiles,
        "lineitem_kendall": q_lineitem_kendall,
        "events_acf": q_events_acf,
        "lineitem_conformal": q_lineitem_conformal,
        "events_mann_kendall": q_events_mann_kendall,
        "events_ratio_ab": q_events_ratio_ab,
        "events_jackknife": q_events_jackknife,
        "lineitem_salted_join": q_lineitem_salted_join,
        "events_l_diversity": q_events_l_diversity,
        "events_wilcoxon": q_events_wilcoxon,
        "events_msprt": q_events_msprt,
        "events_fdr": q_events_fdr,
        "orders_trimmed": q_orders_trimmed,
        "lineitem_exact_quantiles": q_lineitem_exact_quantiles,
        "orders_priority_quantiles": q_orders_priority_quantiles,
        "orders_benford": q_orders_benford,
        "customer_order_stats": q_customer_order_stats,
        "profile_numeric": q_profile_numeric,
        "events_sliding": q_events_sliding,
        "events_topk_user": q_events_topk_user,
        "dedup_lines": q_dedup_lines,
        "dedup_lines_keep_first": q_dedup_lines_keep_first,
        "dedup_lines_report": q_dedup_lines_report,
        "dedup_spans": q_dedup_spans,
        "docs_encoding": q_docs_encoding,
        "text_fingerprint_nfc": q_text_fingerprint_nfc,
        "dedup_cluster_best": q_dedup_cluster_best,
        "docs_curated3": q_docs_curated3,
        "docs_curation_report": q_docs_curation_report,
        "events_funnel": q_events_funnel,
        "events_retention": q_events_retention,
        "events_audience_overlap": q_events_audience_overlap,
        "docs_sample_weighted": q_docs_sample_weighted,
        "events_anomaly": q_events_anomaly,
        "docs_curated": q_docs_curated,
        "embed_quantize": q_embed_quantize,
        "simsearch_pairs_lsh": q_simsearch_pairs_lsh,
        "multimodal_resize": q_multimodal_resize,
        "simsearch_scores": q_simsearch_scores,
        "simsearch_topk": q_simsearch_topk,
        "simsearch_pairs": q_simsearch_pairs,
        "simsearch_pairs_blocked": q_simsearch_pairs_blocked,
        "dedup_minhash": q_dedup_minhash,
        "events_calibration": q_events_calibration,
        "events_kappa": q_events_kappa,
        "events_srm": q_events_srm,
        "events_ips": q_events_ips,
        "events_qte": q_events_qte,
        "events_trend_test": q_events_trend_test,
        "docs_zipf": q_docs_zipf,
        "docs_keywords": q_docs_keywords,
        "events_ece": q_events_ece,
        "events_brier": q_events_brier,
        "events_psi": q_events_psi,
        "events_mcc": q_events_mcc,
        "events_ndcg": q_events_ndcg,
        "events_power": q_events_power,
        "events_seasonal": q_events_seasonal,
        "events_prop_ci": q_events_prop_ci,
        "events_eb_rates": q_events_eb_rates,
        "events_forecast_backtest": q_events_forecast_backtest,
        "customer_profile_drift": q_customer_profile_drift,
        "search_eq": q_search_eq,
        "search_regex": q_search_regex,
        "search_null": q_search_null,
        "require_all_on": q_require_all_on,
        "search_membership": q_search_membership,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_local_supplier": q5_local_supplier,
        "top_suppliers": q_top_suppliers,
        "cube_rollup": q_cube_rollup,
        "docs_mixture": q_docs_mixture,
        "docs_quality_logit": q_docs_quality_logit,
        "docs_curated2": q_docs_curated2,
        "docs_source_overlap": q_docs_source_overlap,
        "docs_gram_dup": q_docs_gram_dup,
        "docs_select_best": q_docs_select_best,
        "docs_shuffle": q_docs_shuffle,
        "docs_pack_bins": q_docs_pack_bins,
        "contamination_check": q_contamination_check,
        "docs_repetition": q_docs_repetition,
        "events_cuped": q_events_cuped,
        "events_did": q_events_did,
        "graph_link_pred": q_graph_link_pred,
        "docs_dsir": q_docs_dsir,
        "docs_dsir_weights": q_docs_dsir_weights,
        "events_skew_report": q_events_skew_report,
        "events_forecast_metrics": q_events_forecast_metrics,
        "q2_min_cost_supp": q2_min_cost_supp,
        "q4_order_priority": q4_order_priority,
        "q8_market_share": q8_market_share,
        "q9_profit_by_nation": q9_profit_by_nation,
        "q11_important_stock": q11_important_stock,
        "q12_delay_priority": q12_delay_priority,
        "q16_part_supplier_cnt": q16_part_supplier_cnt,
        "q19_brand_revenue": q19_brand_revenue,
        "q20_volume_suppliers": q20_volume_suppliers,
        "q21_waiting_suppliers": q21_waiting_suppliers,
        "graph_label_prop": q_graph_label_prop,
        "parts_also_bought": q_parts_also_bought,
        "events_chi2": q_events_chi2,
        "events_bootstrap_ci": q_events_bootstrap_ci,
        "docs_cm_heavy_hitters": q_docs_cm_heavy_hitters,
        "docs_lm_perplexity": q_docs_lm_perplexity,
        "events_mad_outliers": q_events_mad_outliers,
        "docs_source_entropy": q_docs_source_entropy,
        "events_bloom_probe": q_events_bloom_probe,
        "dedup_containment": q_dedup_containment,
        "docs_langid_confusion": q_docs_langid_confusion,
        "orders_zorder": q_orders_zorder,
        "docs_phrase_search": q_docs_phrase_search,
        "graph_kcore": q_graph_kcore,
        "events_funnel_unordered": q_events_funnel_unordered,
        "simsearch_dim_recall": q_simsearch_dim_recall,
        "graph_ppr": q_graph_ppr,
        "events_quantile_sketch": q_events_quantile_sketch,
        "events_attribution_position": q_events_attribution_position,
        "events_paths": q_events_paths,
        "docs_split": q_docs_split,
        "events_funnel_lags": q_events_funnel_lags,
        "lineitem_trend": q_lineitem_trend,
        "events_session_stats": q_events_session_stats,
        "lineitem_target_encoded": q_lineitem_target_encoded,
        "basket_rules": q_basket_rules,
        "events_rolling_features": q_events_rolling_features,
        "events_cusum": q_events_cusum,
        "events_distinct_kmv": q_events_distinct_kmv,
        "events_distinct_kmv_merged": q_events_distinct_kmv_merged,
        "basket_rules3": q_basket_rules3,
        "events_ewma": q_events_ewma,
        "events_cohort_ltv": q_events_cohort_ltv,
        "lineitem_benford": q_lineitem_benford,
        "events_attribution_multi": q_events_attribution_multi,
        "customer_dupes": q_customer_dupes,
        "docs_collocations": q_docs_collocations,
        "graph_triangles": q_graph_triangles,
        "events_debounce": q_events_debounce,
        "q13_custdist": q13_custdist,
        "q14_promo_share": q14_promo_share,
        "q15_top_supplier": q15_top_supplier,
        "q17_small_qty_revenue": q17_small_qty_revenue,
        "q18_large_orders": q18_large_orders,
        "q22_idle_rich": q22_idle_rich,
        "events_attribution": q_events_attribution,
        "asof_join": q_asof_join,
        "nunique": q_nunique,
        "lineitem_quantiles": q_lineitem_quantiles,
        "lineitem_winsorized": q_lineitem_winsorized,
        "events_scd2_enrich": q_events_scd2_enrich,
        "customer_scd2_apply": q_customer_scd2_apply,
        "customer_cdc": q_customer_cdc,
        "events_ab_test": q_events_ab_test,
        "events_dau_mau": q_events_dau_mau,
        "simsearch_ivf_pq": q_simsearch_ivf_pq,
        "docs_chunk": q_docs_chunk,
        "docs_quality_checks": q_docs_quality_checks,
        "events_retention_weekly": q_events_retention_weekly,
        "dedup_spans_report": q_dedup_spans_report,
        "docs_sample_prop": q_docs_sample_prop,
        "events_daily_ma": q_events_daily_ma,
        "q7_nation_volume": q7_nation_volume,
        "q10_returned_items": q10_returned_items,
        "events_transitions": q_events_transitions,
        "events_scd2": q_events_scd2,
        "events_gapfill": q_events_gapfill,
        "privacy_kanon": q_privacy_kanon,
        "privacy_suppress": q_privacy_suppress,
        "docs_bm25_indexed": q_docs_bm25_indexed,
        "lineitem_correlations": q_lineitem_correlations,
        "graph_pagerank": q_graph_pagerank,
        "text_lang_id": q_text_lang_id,
        "text_fingerprint": q_text_fingerprint,
        "docs_sample_stratified": q_docs_sample_stratified,
        "docs_sample_per_source": q_docs_sample_per_source,
        "docs_length_hist": q_docs_length_hist,
        "search_isin": q_search_isin,
        "groupby_keys": q_groupby_keys,
        "unique_flat": q_unique_flat,
        "union_dedup": q_union_dedup,
        "dedup_groups": q_dedup_groups,
        "dedup_prefix_groups": q_dedup_prefix_groups,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_components": q_dedup_components,
        "dedup_exact_incr": q_dedup_exact_incr,
        "dedup_near_incr": q_dedup_near_incr,
        "dedup_embedding": q_dedup_embedding,
    }


_NORM_TEXT_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _sw_list_sql(lang: str) -> str:
    """DuckDB list literal of a stopword lexicon — generated from the SAME
    table the engine uses (functions/text.py STOPWORDS), so the oracle and
    the Spark expression can never drift apart."""
    return "[" + ", ".join(f"'{w}'" for w in tx.STOPWORDS[lang]) + "]"


def _sw_hits_sql(lang: str) -> str:
    return (
        "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
        f"w -> list_contains({_sw_list_sql(lang)}, w)))"
    )


_WORDS_N_SQL = "len(string_split_regex(lower(trim(text)), '\\s+'))"

_STOP_RATIO_SQL = (
    f"CASE WHEN {_WORDS_N_SQL} <= 0 THEN 0.0 "
    f"ELSE CAST({_sw_hits_sql('en')} AS DOUBLE) / {_WORDS_N_SQL} END"
)

_PUNCT_RATIO_SQL = (
    "CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - "
    "length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) "
    "/ length(text) END"
)

_DIGIT_RATIO_SQL = (
    "CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - "
    "length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) "
    "/ length(text) END"
)

def _shingles_sql_n(n: int) -> str:
    """DuckDB replay of functions.text.shingles for word n-grams of ``n``
    (docs with <= n words yield one whole-text shingle)."""
    return f"""
    CASE WHEN len(string_split({_NORM_TEXT_SQL}, ' ')) <= {n}
         THEN [array_to_string(string_split({_NORM_TEXT_SQL}, ' '), ' ')]
         ELSE list_transform(
                range(1, len(string_split({_NORM_TEXT_SQL}, ' ')) - {n} + 2),
                i -> array_to_string(string_split({_NORM_TEXT_SQL}, ' ')[i:i+{n - 1}], ' '))
    END
"""


_SHINGLES_SQL = _shingles_sql_n(5)


def _jaccard_pairs_sql(
    max_doc_freq: int | None = dedup.DEFAULT_MAX_DOC_FREQ,
    extra_where: str = "",
) -> str:
    """All-pairs 5-gram Jaccard oracle, parameterized by the doc-frequency
    cap (None = strict Jaccard) and an optional pair restriction."""
    if max_doc_freq is not None:
        capped = f"""
          SELECT doc_id, shingle FROM exploded_all
          WHERE shingle NOT IN (
            SELECT shingle FROM exploded_all
            GROUP BY shingle HAVING count(*) > {max_doc_freq}
          )
        """
    else:
        capped = "SELECT doc_id, shingle FROM exploded_all"
    return f"""
        WITH sh AS (
          SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS shingles FROM documents
        ), exploded_all AS (
          SELECT doc_id, unnest(shingles) AS shingle FROM sh
        ), exploded AS (
          {capped}
        ), sizes AS (
          SELECT doc_id, count(*) AS n_sh FROM exploded GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
          FROM exploded a JOIN exploded b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.8
        {extra_where}
    """


_JACCARD_PAIRS_SQL = _jaccard_pairs_sql()


_COMPONENTS_WITH = f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM ({_JACCARD_PAIRS_SQL}) jp
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ), nodes AS (
      SELECT DISTINCT u AS id FROM edges
    ), walk(id, comp) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.id
    )
"""

_COMPONENTS_SQL = f"""
    {_COMPONENTS_WITH}
    SELECT id AS doc_id, min(comp) AS component_id FROM walk GROUP BY id
"""

_CLUSTER_SURVIVORS_SQL = f"""
    {_COMPONENTS_WITH}, comp AS (
      SELECT id, min(comp) AS component_id FROM walk GROUP BY id
    )
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT id FROM comp WHERE id != component_id)
"""

_SIMSEARCH_PAIRS_SQL = """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.3
"""


def _hyperlsh_pairs_sql(n_planes: int = 16, bands: int = 4, threshold: float = 0.3) -> str:
    """DuckDB replay of cosine_pairs_lsh + the fold-recomputed cos_sim:
    the SAME md5-derived hyperplane literals (simsearch.hyperplane_coeffs —
    one generator, no drift), the same band-signature packing, pairs =
    any-band collision, value = 6dp-rounded exact cosine. Sign bits are
    summation-order-safe: the fixture's smallest |dot(v, plane)| is
    2.4e-5 (measured), 7 orders above float64 reorder noise. Embedding
    dim is 64 per TESTDATA.md."""
    planes = simsearch.hyperplane_coeffs(n_planes, 64)
    r = n_planes // bands
    band_cols = []
    for b in range(bands):
        terms = " + ".join(
            "(CASE WHEN list_inner_product(v, ["
            + ", ".join(repr(x) for x in planes[b * r + i])
            + f"]) >= 0 THEN {1 << i} ELSE 0 END)"
            for i in range(r)
        )
        band_cols.append(f"({terms}) AS s{b}")
    union = "\n              UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, s{b} AS sig FROM sig" for b in range(bands)
    )
    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), sig AS (
          SELECT vec_id, v, {", ".join(band_cols)} FROM sig_src
        ), sig_src AS (SELECT * FROM e),
        x AS (
          {union}
        ), pairs AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM x a JOIN x b ON a.band = b.band AND a.sig = b.sig
                          AND a.vec_id < b.vec_id
        )
        SELECT p.id_a, p.id_b,
               round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
        FROM pairs p
        JOIN e ea ON ea.vec_id = p.id_a
        JOIN e eb ON eb.vec_id = p.id_b
        WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= {threshold}
    """


def _ewma_sql(alpha: float, lags: int) -> str:
    """DuckDB replay of timeseries.ewma_daily: the SAME Python weight
    doubles (repr round-trips to the identical IEEE value), the same
    0.0-seeded left-to-right term order, lag windows over the observed
    daily sequence."""
    weights = [alpha * (1.0 - alpha) ** k for k in range(lags)]
    num_terms = ["0.0"]
    den_terms = ["0.0"]
    for k, wk in enumerate(weights):
        xk = "x" if k == 0 else f"lag(x, {k}) OVER w"
        num_terms.append(f"coalesce({wk!r} * {xk}, 0.0)")
        den_terms.append(
            f"coalesce(CASE WHEN {xk} IS NOT NULL THEN {wk!r} END, 0.0)"
        )
    num = " + ".join(num_terms)
    den = " + ".join(den_terms)
    return f"""
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS day,
                     CAST(sum(CAST(value AS DECIMAL(18,6)))
                          AS DECIMAL(18,6)) AS rd
              FROM events WHERE event_type = 'purchase' GROUP BY 1
            ), d2 AS (
              SELECT day,
                     date_diff('day', DATE '1970-01-01', day) AS dn,
                     round(CAST(rd AS DOUBLE), 6) AS x
              FROM daily
            )
            SELECT CAST(day AS VARCHAR) AS day,
                   x AS revenue,
                   round(({num}) / ({den}), 6) AS ewma
            FROM d2
            WINDOW w AS (ORDER BY dn)
        """


def _benford_expected_sql() -> str:
    """The Benford expected-share lookup as the same Python double
    literals the engine inlines, 1-indexed by the digit."""
    import math

    lits = ", ".join(repr(math.log10(1.0 + 1.0 / d)) for d in range(1, 10))
    return f"list_extract([{lits}], CAST(digit AS INT))"


def _retention_sql(grain_days: int) -> str:
    """DuckDB replay of operators.retention.retention_matrix at the
    given grain: distinct user-day collapse, first-day cohorts,
    offset-bucketed count-distinct, cohort size from the cohort frame
    (== the offset-0 count the engine reuses)."""
    return f"""
            WITH days AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
              FROM events WHERE user_id IS NOT NULL
            ), f AS (
              SELECT user_id, min(d) AS cohort_date FROM days GROUP BY user_id
            ), a AS (
              SELECT f.cohort_date,
                     CAST(floor(date_diff('day', f.cohort_date, days.d)
                                / {grain_days}) AS INT) AS offset_periods,
                     count(DISTINCT days.user_id) AS n_active
              FROM days JOIN f USING (user_id)
              GROUP BY 1, 2
            ), s AS (
              SELECT cohort_date, count(*) AS cohort_size FROM f GROUP BY 1
            )
            SELECT CAST(a.cohort_date AS VARCHAR) AS cohort_date,
                   a.offset_periods, a.n_active, s.cohort_size,
                   round(CAST(a.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
            FROM a JOIN s USING (cohort_date)
        """


def _pois_w_sql(u: str) -> str:
    """DuckDB replay of the Poisson(1) inverse-CDF weight from
    operators/experiment.bootstrap_mean_ci — the SAME cdf doubles the
    Spark literals use (repr round-trips exactly)."""
    from intake_esm_spark.operators.experiment import _poisson1_cdf

    return (
        "("
        + " + ".join(
            f"(CASE WHEN {u} >= {c!r} THEN 1 ELSE 0 END)"
            for c in _poisson1_cdf()
        )
        + ")"
    )


def _kcore_sql(k: int, rounds: int) -> str:
    """DuckDB replay of graph.k_core over the co-purchase edges:
    ``rounds`` unrolled peel rounds — safe to over-unroll, peeling is
    idempotent at the fixpoint (10 rounds suffice at sf0.01); pinned to
    the operator's max_rounds so a truncated peel matches too."""
    parts = [
        f"""e0 AS MATERIALIZED (
          SELECT x.l_partkey AS a, y.l_partkey AS b
          FROM lineitem x JOIN lineitem y
            ON x.l_orderkey = y.l_orderkey
           AND x.l_partkey < y.l_partkey
          GROUP BY 1, 2
          HAVING count(DISTINCT x.l_orderkey) >= 2
        )"""
    ]
    for r in range(1, rounds + 1):
        prev = f"e{r - 1}"
        parts.append(
            f"""s{r} AS MATERIALIZED (
              SELECT v FROM (
                SELECT a AS v FROM {prev}
                UNION ALL SELECT b AS v FROM {prev}
              ) GROUP BY v HAVING count(*) >= {k}
            ), e{r} AS MATERIALIZED (
              SELECT a, b FROM {prev}
              WHERE a IN (SELECT v FROM s{r})
                AND b IN (SELECT v FROM s{r})
            )"""
        )
    last = f"e{rounds}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
        SELECT node, count(*) AS core_degree FROM (
          SELECT a AS node FROM {last}
          UNION ALL SELECT b AS node FROM {last}
        ) GROUP BY node HAVING count(*) >= {k}
        """
    )


def _skew_col_sql(col: str, top_n: int) -> str:
    """DuckDB replay of one profiling.skew_report column block."""
    return f"""
        SELECT '{col}' AS "column", t.n AS n_rows, t.nn AS n_nulls,
               t.nd AS n_distinct, r.top AS top_value,
               round(CAST(r.tc AS DOUBLE) / CAST(t.n AS DOUBLE), 6)
                 AS top_share,
               round(CAST(r.tnc AS DOUBLE) / CAST(t.n AS DOUBLE), 6)
                 AS top_n_share
        FROM (
          SELECT CAST(sum(c) AS BIGINT) AS n,
                 CAST(coalesce(sum(CASE WHEN v IS NULL THEN c END), 0)
                      AS BIGINT) AS nn,
                 CAST(count(CASE WHEN v IS NOT NULL THEN 1 END)
                      AS BIGINT) AS nd
          FROM (SELECT CAST({col} AS VARCHAR) AS v, count(*) AS c
                FROM events GROUP BY 1)
        ) t, (
          SELECT max(CASE WHEN rk = 1 THEN v END) AS top,
                 max(CASE WHEN rk = 1 THEN c END) AS tc,
                 CAST(sum(c) AS BIGINT) AS tnc
          FROM (
            SELECT v, c, row_number() OVER (ORDER BY c DESC, v ASC) AS rk
            FROM (SELECT CAST({col} AS VARCHAR) AS v, count(*) AS c
                  FROM events WHERE {col} IS NOT NULL GROUP BY 1)
          ) WHERE rk <= {top_n}
        ) r
    """


def _morton_sql(u_exprs: list[str], bits: int) -> str:
    """DuckDB replay of operators/layout._interleave: bit i of column j
    lands at position i·n + j — the same fixed fold of shifts."""
    n = len(u_exprs)
    terms = [
        f"((({u} >> {i}) & 1) << {i * n + j})"
        for i in range(bits)
        for j, u in enumerate(u_exprs)
    ]
    return " | ".join(terms)


def _h60_sql(x: str) -> str:
    """DuckDB rendering of functions.text.portable_hash60 — first 15 hex
    chars of md5 as a 60-bit non-negative BIGINT (same formulation the
    sampling oracles use)."""
    return f"CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


def _corr_sql(table: str, cols: list[str]) -> str:
    """DuckDB replay of profiling.correlation_matrix: decimal-exact
    moments in one aggregate (one operand of every product widened to
    DECIMAL(19,6) — DuckDB does not auto-grow product precision), then
    the same IEEE expression per pair."""
    from itertools import combinations

    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    moment_sel = ["CAST(count(*) AS DOUBLE) AS n"]
    for c in cols:
        moment_sel.append(
            f"CAST(sum(CAST({c} AS DECIMAL(18,6))) AS DOUBLE) AS s_{c}"
        )
        moment_sel.append(
            f"CAST(sum(CAST({c} AS DECIMAL(19,6)) * CAST({c} AS DECIMAL(18,6)))"
            f" AS DOUBLE) AS ss_{c}"
        )
    for a, b in combinations(cols, 2):
        moment_sel.append(
            f"CAST(sum(CAST({a} AS DECIMAL(19,6)) * CAST({b} AS DECIMAL(18,6)))"
            f" AS DOUBLE) AS sp_{a}_{b}"
        )
    pair_sel = []
    for a, b in combinations(cols, 2):
        den = (
            f"(sqrt(n * ss_{a} - s_{a} * s_{a})"
            f" * sqrt(n * ss_{b} - s_{b} * s_{b}))"
        )
        pair_sel.append(
            f"SELECT '{a}' AS col_x, '{b}' AS col_y, "
            f"CASE WHEN {den} > 0 THEN "
            f"round((n * sp_{a}_{b} - s_{a} * s_{b}) / {den}, 6) END AS corr "
            f"FROM s"
        )
    return (
        f"WITH f AS (SELECT {', '.join(cols)} FROM {table} WHERE {notnull}), "
        f"s AS (SELECT {', '.join(moment_sel)} FROM f) "
        + " UNION ALL ".join(pair_sel)
    )


def _spans_with(n: int = 5, min_doc_freq: int = 2, min_run: int = 5) -> str:
    """CTE chain replaying operators.spans._window_runs: normalized word
    arrays, the SAME n-gram shingles/60-bit hashes the engine computes,
    distinct-doc window frequency, and window-function gaps-and-islands —
    ending in runs(doc_id, s, e, nw) with s/e 0-based inclusive TOKEN
    bounds (e = last window start + n - 1) and base(doc_id, w)."""
    return f"""
    WITH base AS (
      SELECT doc_id, string_split({_NORM_TEXT_SQL}, ' ') AS w
      FROM documents WHERE text IS NOT NULL
    ), sh AS (
      SELECT doc_id, {_shingles_sql_n(n)} AS shs
      FROM documents WHERE text IS NOT NULL
    ), wins AS (
      SELECT doc_id, unnest(range(0, len(shs))) AS wpos,
             unnest(list_transform(shs, s -> {_h60_sql("s")})) AS h
      FROM sh
    ), dupv AS (
      SELECT h FROM wins GROUP BY h
      HAVING count(DISTINCT doc_id) >= {min_doc_freq}
    ), dup AS (
      SELECT w.doc_id, w.wpos FROM wins w JOIN dupv USING (h)
    ), isl AS (
      SELECT doc_id, wpos,
             wpos - row_number() OVER (PARTITION BY doc_id ORDER BY wpos) AS g
      FROM dup
    ), runs AS (
      SELECT doc_id, min(wpos) AS s, max(wpos) + {n - 1} AS e, count(*) AS nw
      FROM isl GROUP BY doc_id, g HAVING count(*) >= {min_run}
    )"""


_SPANS_DEDUP_SQL = f"""
    {_spans_with()}, cov AS (
      SELECT DISTINCT doc_id, tpos FROM (
        SELECT doc_id, unnest(range(s, e + 1)) AS tpos FROM runs
      )
    ), toks AS (
      SELECT doc_id, unnest(range(0, len(w))) AS tpos, unnest(w) AS tok
      FROM base
    ), marked AS (
      SELECT t.doc_id, t.tpos, t.tok, (c.tpos IS NOT NULL) AS rm
      FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.tpos = t.tpos
    )
    SELECT doc_id,
           coalesce(array_to_string(list(tok ORDER BY tpos ASC)
                                    FILTER (WHERE NOT rm), ' '), '') AS text,
           CAST(count(*) AS INT) AS n_tokens,
           CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS INT) AS n_removed
    FROM marked GROUP BY doc_id
"""


def _pq_with(m: int = 8, k: int = 16, dsub: int = 8) -> str:
    """CTE chain replaying operators.pq.pq_encode with table-derived
    codebooks (centroid (j,i) = subvector j of embedding vec_id=i<k):
    explicit left-associated 8-term squared-L2 sums (bit-identical to the
    engine's sequential fold), 6dp rounding, argmin ties to lowest code —
    ending in sel(vec_id, j, i, c) and e(vec_id, v)."""
    terms = " + ".join(
        f"(s.sub[{t}] - b.c[{t}]) * (s.sub[{t}] - b.c[{t}])"
        for t in range(1, dsub + 1)
    )
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), samp AS (
      SELECT vec_id AS i, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < {k}
    ), js AS (
      SELECT unnest(range(0, {m})) AS j
    ), books AS (
      SELECT js.j, samp.i, samp.v[js.j*{dsub}+1 : js.j*{dsub}+{dsub}] AS c
      FROM samp, js
    ), subs AS (
      SELECT e.vec_id, js.j, e.v[js.j*{dsub}+1 : js.j*{dsub}+{dsub}] AS sub
      FROM e, js
    ), dists AS (
      SELECT s.vec_id, s.j, b.i, round({terms}, 6) AS d
      FROM subs s JOIN books b ON b.j = s.j
    ), sel AS (
      SELECT vec_id, j, i, c FROM (
        SELECT d.vec_id, d.j, d.i, b.c,
               row_number() OVER (PARTITION BY d.vec_id, d.j
                                  ORDER BY d.d ASC, d.i ASC) AS rn
        FROM dists d JOIN books b ON b.j = d.j AND b.i = d.i
      ) WHERE rn = 1
    )"""


_PQ_CODES_SQL = f"""
    {_pq_with()}
    SELECT vec_id,
           array_to_string(list(CAST(i AS VARCHAR) ORDER BY j), ',') AS codes,
           CAST(sum(i) AS BIGINT) AS code_sum
    FROM sel GROUP BY vec_id
"""


_PQ_TOPK_SQL = f"""
    {_pq_with()}, recon AS (
      SELECT vec_id, flatten(list(c ORDER BY j)) AS rv FROM sel GROUP BY vec_id
    ), q AS (
      SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5
    )
    SELECT query_id, vec_id, cos_sim FROM (
      SELECT q.query_id, r.vec_id,
             round(list_cosine_similarity(r.rv, q.qv), 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY round(list_cosine_similarity(r.rv, q.qv), 6) DESC,
                        r.vec_id ASC) AS rn
      FROM recon r, q
    ) WHERE rn <= 10
"""


_IVFPQ_SQL = f"""
    {_pq_with()}, cent AS (
      SELECT vec_id AS cid, v AS cvec FROM e WHERE vec_id < 16
    ), recon AS (
      SELECT vec_id, flatten(list(c ORDER BY j)) AS rv FROM sel GROUP BY vec_id
    ), assign AS (
      SELECT vec_id, bucket FROM (
        SELECT x.vec_id, c.cid AS bucket,
               row_number() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY round(list_cosine_similarity(x.v, c.cvec), 6) DESC,
                          c.cid DESC
               ) AS rn
        FROM e x, cent c
      ) WHERE rn = 1
    ), probe AS (
      SELECT query_id, qvec, cid AS bucket FROM (
        SELECT q.vec_id AS query_id, q.v AS qvec, c.cid,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.v, c.cvec), 6) DESC,
                          c.cid DESC
               ) AS rn
        FROM (SELECT vec_id, v FROM e WHERE vec_id < 5) q, cent c
      ) WHERE rn <= 4
    ), scored AS (
      SELECT p.query_id, a.vec_id,
             list_cosine_similarity(r.rv, p.qvec) AS cos_sim
      FROM probe p
      JOIN assign a ON a.bucket = p.bucket
      JOIN recon r ON r.vec_id = a.vec_id
    )
    SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim FROM (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC
             ) AS rnk
      FROM scored
    ) WHERE rnk <= 10
"""


_IVFPQ_RERANK_SQL = f"""
    {_pq_with()}, cent AS (
      SELECT vec_id AS cid, v AS cvec FROM e WHERE vec_id < 16
    ), recon AS (
      SELECT vec_id, flatten(list(c ORDER BY j)) AS rv FROM sel GROUP BY vec_id
    ), assign AS (
      SELECT vec_id, bucket FROM (
        SELECT x.vec_id, c.cid AS bucket,
               row_number() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY round(list_cosine_similarity(x.v, c.cvec), 6) DESC,
                          c.cid DESC
               ) AS rn
        FROM e x, cent c
      ) WHERE rn = 1
    ), probe AS (
      SELECT query_id, qvec, cid AS bucket FROM (
        SELECT q.vec_id AS query_id, q.v AS qvec, c.cid,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.v, c.cvec), 6) DESC,
                          c.cid DESC
               ) AS rn
        FROM (SELECT vec_id, v FROM e WHERE vec_id < 5) q, cent c
      ) WHERE rn <= 4
    ), cand AS (
      SELECT query_id, vec_id, qvec FROM (
        SELECT p.query_id, a.vec_id, p.qvec,
               row_number() OVER (
                 PARTITION BY p.query_id
                 ORDER BY list_cosine_similarity(r.rv, p.qvec) DESC,
                          a.vec_id ASC
               ) AS rnk
        FROM probe p
        JOIN assign a ON a.bucket = p.bucket
        JOIN recon r ON r.vec_id = a.vec_id
      ) WHERE rnk <= 40
    ), rescored AS (
      SELECT c.query_id, c.vec_id,
             list_cosine_similarity(f.v, c.qvec) AS cos_sim
      FROM cand c JOIN e f ON f.vec_id = c.vec_id
    )
    SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim FROM (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC
             ) AS rnk
      FROM rescored
    ) WHERE rnk <= 10
"""


_SPANS_REPORT_SQL = f"""
    {_spans_with()}
    SELECT r.doc_id,
           CAST(r.s AS INT) AS start_token,
           CAST(least(r.e, len(b.w) - 1) AS INT) AS end_token,
           r.nw AS n_windows,
           array_to_string(b.w[r.s + 1 : least(r.e, len(b.w) - 1) + 1], ' ')
             AS span
    FROM runs r JOIN base b USING (doc_id)
"""


def _minhash_oracle_sql(num_hashes: int = 32, bands: int = 16) -> str:
    """Bit-exact DuckDB replay of dedup.minhash_lsh_candidates: the same
    60-bit md5 base hash, the same perm_coeffs affine permutations (the
    coefficient literals are generated from the SAME dedup.perm_coeffs
    call the engine uses, so the two sides cannot drift), and the same
    md5 band hash. The oracle recomputes the exact candidate pair set —
    not a containment approximation."""
    p = dedup.MERSENNE_P
    rpb = num_hashes // bands
    mins = ",\n                 ".join(
        f"list_aggregate(list_transform(hv, h -> ({a} * (h % {p}) + {b}) % {p}), 'min') AS h{i}"
        for i, (a, b) in enumerate(dedup.perm_coeffs(num_hashes))
    )
    arms = "\n          UNION ALL\n          ".join(
        f"SELECT doc_id, {b} AS band, "
        + _h60_sql(
            "concat_ws(',', " + ", ".join(f"h{b * rpb + r}::VARCHAR" for r in range(rpb)) + ")"
        )
        + " AS band_hash FROM sig"
        for b in range(bands)
    )
    return f"""
        WITH sh AS (
          SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
        ), hv_t AS (
          SELECT doc_id, list_transform(shingles, s -> {_h60_sql('s')}) AS hv FROM sh
        ), sig AS (
          SELECT doc_id, {mins} FROM hv_t
        ), bands AS (
          {arms}
        )
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM bands l JOIN bands r
          ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
    """


def _simhash_oracle_sql(max_hamming: int = 3) -> str:
    """Bit-exact DuckDB replay of dedup.simhash_candidates: per-bit
    majority votes over the portable 60-bit shingle hashes (2*ones > n
    == vote sum > 0), 16-bit chunk blocking, exact Hamming filter. Bits
    60-63 of the engine's 64-bit layout are constant 0, so the oracle
    sums bits 0-59 only."""
    sh64 = " + ".join(
        f"CASE WHEN 2 * len(list_filter(hv, h -> ((h >> {b}) & 1) = 1)) > len(hv)"
        f" THEN {1 << b} ELSE 0 END"
        for b in range(60)
    )
    return f"""
        WITH sh AS (
          SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS shingles FROM documents
        ), hv_t AS (
          SELECT doc_id, list_transform(shingles, s -> {_h60_sql('s')}) AS hv FROM sh
        ), sig AS (
          SELECT doc_id, CAST({sh64} AS BIGINT) AS sh64 FROM hv_t
        ), chunks AS (
          SELECT doc_id, sh64, c.chunk, (sh64 >> (c.chunk * 16)) & 65535 AS chunk_val
          FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS chunk) c
        )
        SELECT id_a, id_b, hamming FROM (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                 CAST(bit_count(xor(l.sh64, r.sh64)) AS INT) AS hamming
          FROM chunks l JOIN chunks r
            ON l.chunk = r.chunk AND l.chunk_val = r.chunk_val AND l.doc_id < r.doc_id
        ) WHERE hamming <= {max_hamming}
    """


def _redact_sql() -> str:
    """Chained-redaction oracle built from the SAME pattern table the
    engine uses (functions/text.py REDACTION_PATTERNS) — counts computed
    on the same intermediate strings, so the two sides cannot drift.
    Built with %-style formatting: the patterns contain regex braces."""
    stages = []
    prev = "t0"
    names = []
    for i, (name, pattern, token) in enumerate(tx.REDACTION_PATTERNS, start=1):
        cur = f"t{i}"
        stages.append(
            "s%d AS (SELECT *, len(regexp_extract_all(%s, '(%s)', 1)) AS n_%ss, "
            "regexp_replace(%s, '%s', '%s', 'g') AS %s FROM s%d)"
            % (i, prev, pattern, name, prev, pattern, token, cur, i - 1)
        )
        names.append(f"n_{name}s")
        prev = cur
    return (
        "WITH s0 AS (SELECT doc_id, text AS t0 FROM documents), "
        + ", ".join(stages)
        + f" SELECT doc_id, {prev} AS clean, "
        + ", ".join(names)
        + f" FROM s{len(tx.REDACTION_PATTERNS)}"
    )


def oracle_sql() -> dict[str, str]:
    _sk_r5 = _h60_sql("'r5|' || CAST(doc_id AS VARCHAR)")
    _ws_tok = (
        "CAST(CASE WHEN trim(text) = '' THEN 0 "
        "ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)"
    )
    # shared CTE body for the structural-dedup oracles: 8-word-window
    # segmentation (replays _doc_lines), per-line md5 of CCNet-normalized
    # text, distinct-doc frequency + min-doc keeper, frequency joined back
    _w = _LINE_CHUNK_WORDS

    def _lines_cte(src: str) -> str:
        """The segmentation->fingerprint->frequency CTE chain over table
        ``src``, ending in ``j(doc_id, pos, line, df, keeper)``."""
        return _doc_lines_body.replace("FROM __SRC__", f"FROM {src}")

    _doc_lines_body = f"""
            ws AS (
              SELECT doc_id, string_split(text, ' ') AS w
              FROM __SRC__ WHERE text IS NOT NULL
            ), ch AS (
              SELECT doc_id,
                     list_transform(range(0, CAST(ceil(len(w) / {_w}.0) AS INT)),
                                    i -> array_to_string(w[i*{_w}+1:i*{_w}+{_w}], ' ')) AS chunks
              FROM ws
            ), lines AS (
              SELECT doc_id,
                     unnest(chunks) AS line,
                     unnest(range(1, len(chunks) + 1)) AS pos
              FROM ch
            ), fp AS (
              SELECT doc_id, pos, line,
                     md5(trim(regexp_replace(lower(line), '\\s+', ' ', 'g'))) AS f
              FROM lines
            ), freq AS (
              SELECT f, count(DISTINCT doc_id) AS df, min(doc_id) AS keeper
              FROM fp GROUP BY f
            ), j AS (
              SELECT fp.doc_id, fp.pos, fp.line, freq.df, freq.keeper
              FROM fp JOIN freq USING (f)
            )"""
    def _kmeans_iter_sql(i: int) -> str:
        """One unrolled spherical-Lloyd iteration: c{i-1} -> c{i}."""
        p, o = i - 1, i
        return f"""a{o} AS (
              SELECT vec_id, e, cid AS bucket FROM (
                SELECT x.vec_id, x.e, p.cid,
                       row_number() OVER (
                         PARTITION BY x.vec_id
                         ORDER BY round(list_cosine_similarity(x.e, p.cvec), 6) DESC,
                                  p.cid DESC
                       ) AS rn
                FROM x, c{p} p
              ) WHERE rn = 1
            ), s{o} AS (
              SELECT bucket, pos, sum(val) AS s, count(*) AS c
              FROM (SELECT bucket, unnest(e) AS val,
                           unnest(range(0, len(e))) AS pos
                    FROM a{o})
              GROUP BY 1, 2
            ), m{o} AS (
              SELECT bucket, list(s / c ORDER BY pos) AS mv FROM s{o} GROUP BY bucket
            ), n{o} AS (
              SELECT bucket, list_transform(mv, v -> round(v / nrm, 6)) AS cvec
              FROM (SELECT bucket, mv,
                           sqrt(list_sum(list_transform(mv, y -> y * y))) AS nrm
                    FROM m{o})
            ), c{o} AS (
              SELECT p.cid,
                     coalesce(n.cvec, list_transform(p.cvec, v -> round(v, 6))) AS cvec
              FROM c{p} p LEFT JOIN n{o} n ON n.bucket = p.cid
            )"""

    _kmeans_iters_sql = ", ".join(
        _kmeans_iter_sql(i) for i in range(1, _KMEANS_ITERS + 1)
    )
    _mix_total = float(sum(_MIX_WEIGHTS.values()))
    _mix_vals = ", ".join(
        f"('{s}', {float(w) / _mix_total!r})" for s, w in _MIX_WEIGHTS.items()
    )
    _qwts_sql = "[" + ", ".join(
        repr(w) for w in tx.hashed_bow_weights(_QUALITY_BUCKETS, salt=_QUALITY_WSALT)
    ) + "]"
    d = {
        # replays evaluation.auc_report: rank-sum AUC with midranks —
        # 2·midrank = 2·cum − c + 1 exact-integer accumulation over the
        # distinct-score grain (the Mann-Whitney identity)
        "events_auc": """
            WITH u AS (
              SELECT value AS s,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
              FROM events
              WHERE event_type IS NOT NULL AND value IS NOT NULL
            ), pv AS (
              SELECT s, sum(pos) AS ct, count(*) AS c FROM u GROUP BY s
            ), r AS (
              SELECT ct, c,
                     sum(c) OVER (ORDER BY s ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum
              FROM pv
            ), m AS (
              SELECT coalesce(sum(ct), 0) AS n1,
                     coalesce(sum(c) - sum(ct), 0) AS n2,
                     CAST(sum(CAST(ct AS DECIMAL(38,0))
                              * (2 * cum - c + 1)) AS DOUBLE) AS r2x
              FROM r
            )
            SELECT CAST(n1 AS BIGINT) AS n_pos,
                   CAST(n2 AS BIGINT) AS n_neg,
                   round(CASE WHEN n1 > 0 AND n2 > 0
                         THEN (r2x / 2.0
                               - CAST(n1 AS DOUBLE)
                                 * (CAST(n1 AS DOUBLE) + 1.0) / 2.0)
                              / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                         END, 6) AS auc,
                   round(CASE WHEN n1 > 0 AND n2 > 0
                         THEN 2.0 * ((r2x / 2.0
                               - CAST(n1 AS DOUBLE)
                                 * (CAST(n1 AS DOUBLE) + 1.0) / 2.0)
                              / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
                              - 1.0
                         END, 6) AS gini
            FROM m
        """,
        # replays evaluation.calibration_report over the exact-rational
        # hash score k/1e6: clamped floor bins, decimal score sums
        # replays corpus.bpe_pair_topk: the same in-word character-pair
        # walk (words < 2 chars guarded out), count-desc/pair-asc total
        # order so the LIMIT keeps the identical top-20 in both engines
        "docs_bpe_pairs": """
            WITH w AS (
              SELECT unnest(list_filter(
                       string_split_regex(lower(trim(text)), '\\s+'),
                       x -> len(x) >= 2)) AS w
              FROM documents WHERE text IS NOT NULL
            ), p AS (
              SELECT unnest(list_transform(
                       generate_series(1, len(w) - 1),
                       i -> substr(w, i, 1) || substr(w, i + 1, 1)))
                     AS pair
              FROM w
            )
            SELECT pair, count(*) AS cnt FROM p GROUP BY 1
            ORDER BY cnt DESC, pair ASC LIMIT 20
        """,
        # replays experiment.cochran_q_report over the per-user
        # behavior pivot — exact integer sums, IEEE finish
        "events_cochran_q": """
            WITH u AS (
              SELECT user_id,
                max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END) AS f1,
                max(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                    END) AS f2,
                max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0
                    END) AS f3
              FROM events
              WHERE event_type IS NOT NULL AND user_id IS NOT NULL
              GROUP BY 1
            ), m AS (
              SELECT count(*) AS n,
                CAST(sum(f1) AS BIGINT) AS g0,
                CAST(sum(f2) AS BIGINT) AS g1,
                CAST(sum(f3) AS BIGINT) AS g2,
                CAST(sum(f1 + f2 + f3) AS BIGINT) AS sl,
                CAST(sum((f1 + f2 + f3) * (f1 + f2 + f3)) AS BIGINT)
                  AS sl2
              FROM u
            ), f AS (
              SELECT n,
                CAST(g0 AS DOUBLE) + CAST(g1 AS DOUBLE)
                  + CAST(g2 AS DOUBLE) AS sg,
                CAST(g0 AS DOUBLE) * CAST(g0 AS DOUBLE)
                  + CAST(g1 AS DOUBLE) * CAST(g1 AS DOUBLE)
                  + CAST(g2 AS DOUBLE) * CAST(g2 AS DOUBLE) AS sg2,
                3.0 * CAST(sl AS DOUBLE) - CAST(sl2 AS DOUBLE) AS den
              FROM m
            )
            SELECT n AS n_units, CAST(3 AS INT) AS k,
                   round(CASE WHEN den > 0 THEN
                     2.0 * (3.0 * sg2 - sg * sg) / den END, 6)
                     AS q_stat,
                   CAST(2 AS INT) AS dof
            FROM f
        """,
        # replays experiment.friedman_report over the per-user mean
        # pivot — doubled-integer in-row ranks, IEEE finish
        "events_friedman": """
            WITH p AS (
              SELECT user_id,
                CAST(sum(CASE WHEN event_type = 'click' THEN
                  CAST(round(CAST(value AS DOUBLE), 6)
                       AS DECIMAL(18,6)) END) AS DOUBLE)
                  / CAST(count(CASE WHEN event_type = 'click' THEN 1
                         END) AS DOUBLE) AS vc,
                CAST(sum(CASE WHEN event_type = 'view' THEN
                  CAST(round(CAST(value AS DOUBLE), 6)
                       AS DECIMAL(18,6)) END) AS DOUBLE)
                  / CAST(count(CASE WHEN event_type = 'view' THEN 1
                         END) AS DOUBLE) AS vv,
                CAST(sum(CASE WHEN event_type = 'error' THEN
                  CAST(round(CAST(value AS DOUBLE), 6)
                       AS DECIMAL(18,6)) END) AS DOUBLE)
                  / CAST(count(CASE WHEN event_type = 'error' THEN 1
                         END) AS DOUBLE) AS ve
              FROM events
              WHERE event_type IS NOT NULL AND user_id IS NOT NULL
                AND value IS NOT NULL
              GROUP BY 1
            ), cc AS (
              SELECT round(vc, 6) AS a, round(vv, 6) AS b,
                     round(ve, 6) AS c
              FROM p
              WHERE vc IS NOT NULL AND vv IS NOT NULL
                AND ve IS NOT NULL AND isfinite(vc)
                AND isfinite(vv) AND isfinite(ve)
            ), rk AS (
              SELECT
                CAST(2 + (CASE WHEN b < a THEN 2 WHEN b = a THEN 1
                          ELSE 0 END)
                       + (CASE WHEN c < a THEN 2 WHEN c = a THEN 1
                          ELSE 0 END) AS BIGINT) AS r0,
                CAST(2 + (CASE WHEN a < b THEN 2 WHEN a = b THEN 1
                          ELSE 0 END)
                       + (CASE WHEN c < b THEN 2 WHEN c = b THEN 1
                          ELSE 0 END) AS BIGINT) AS r1,
                CAST(2 + (CASE WHEN a < c THEN 2 WHEN a = c THEN 1
                          ELSE 0 END)
                       + (CASE WHEN b < c THEN 2 WHEN b = c THEN 1
                          ELSE 0 END) AS BIGINT) AS r2
              FROM cc
            ), m AS (
              SELECT count(*) AS n, sum(r0) AS s0, sum(r1) AS s1,
                     sum(r2) AS s2
              FROM rk
            ), f AS (
              SELECT n, CAST(n AS DOUBLE) AS nd,
                (CAST(s0 AS DOUBLE) / 2.0) * (CAST(s0 AS DOUBLE) / 2.0)
                + (CAST(s1 AS DOUBLE) / 2.0)
                  * (CAST(s1 AS DOUBLE) / 2.0)
                + (CAST(s2 AS DOUBLE) / 2.0)
                  * (CAST(s2 AS DOUBLE) / 2.0) AS sr2
              FROM m
            )
            SELECT n AS n_units, CAST(3 AS INT) AS k,
                   round(CASE WHEN n > 0 THEN
                     12.0 / (nd * 3.0 * 4.0) * sr2 - 3.0 * nd * 4.0
                   END, 6) AS chi2_f,
                   CAST(2 AS INT) AS dof
            FROM f
        """,
        # replays experiment.mcnemar_report over the hash-derived
        # paired flag (the events_kappa pairing convention)
        "events_mcnemar": f"""
            WITH u AS (
              SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                     END AS a,
                     CASE WHEN {_h60_sql(
                         "'mcn|' || CAST(event_id AS VARCHAR)"
                     )} % 5 = 0 THEN 1 ELSE 0 END AS b
              FROM events WHERE event_type IS NOT NULL
            ), m AS (
              SELECT count(*) AS n_pairs,
                     CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1
                              ELSE 0 END) AS BIGINT) AS n01,
                     CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1
                              ELSE 0 END) AS BIGINT) AS n10
              FROM u
            )
            SELECT n_pairs, n01, n10,
                   round(CASE WHEN CAST(n01 + n10 AS DOUBLE) > 0 THEN
                     CAST(n01 - n10 AS DOUBLE)
                     * CAST(n01 - n10 AS DOUBLE)
                     / CAST(n01 + n10 AS DOUBLE) END, 6) AS chi2
            FROM m
        """,
        "events_calibration": f"""
            WITH u AS (
              SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS label,
                     CAST({_h60_sql(
                         "'cal|' || CAST(event_id AS VARCHAR)"
                     )} % 1000000 AS DOUBLE) / 1000000.0 AS s
              FROM events WHERE event_type IS NOT NULL
            )
            -- finite-score contract mirrored from calibration_report
            -- (the synthetic hash score is always finite; the filter
            -- keeps the engines' exclusion rules aligned)
            SELECT CAST(greatest(0, least(9, CAST(floor(s * 10.0) AS INT)))
                        AS INT) AS bin,
                   count(*) AS n_units,
                   round(CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE)
                         / CAST(count(*) AS DOUBLE), 6) AS avg_score,
                   round(CAST(sum(label) AS DOUBLE)
                         / CAST(count(*) AS DOUBLE), 6) AS pos_rate,
                   round(abs(CAST(sum(label) AS DOUBLE)
                             / CAST(count(*) AS DOUBLE)
                             - CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE)
                               / CAST(count(*) AS DOUBLE)), 6) AS abs_gap
            FROM u WHERE isfinite(s) GROUP BY 1
        """,
        # replays evaluation.cohens_kappa: pinned cell collapse, margins
        # joined on the label, DECIMAL(38,0) product sum for p_e
        "events_kappa": f"""
            WITH u AS (
              SELECT event_type AS a,
                     CASE WHEN {_h60_sql(
                         "'k|' || CAST(event_id AS VARCHAR)"
                     )} % 2 = 0
                          THEN event_type ELSE 'view' END AS b
              FROM events WHERE event_type IS NOT NULL
            ), cells AS (
              SELECT a, b, count(*) AS c FROM u GROUP BY a, b
            ), am AS (SELECT a AS l, sum(c) AS ra FROM cells GROUP BY a),
            bm AS (SELECT b AS l, sum(c) AS rb FROM cells GROUP BY b),
            p AS (
              SELECT coalesce(sum(CAST(ra AS DECIMAL(38,0)) * rb), 0)
                       AS pe_num
              FROM am JOIN bm USING (l)
            ), base AS (
              SELECT coalesce(sum(c), 0) AS n,
                     coalesce(sum(CASE WHEN a = b THEN c END), 0) AS diag
              FROM cells
            )
            SELECT CAST(n AS BIGINT) AS n_units,
                   round(CAST(diag AS DOUBLE) / CAST(n AS DOUBLE), 6)
                     AS observed_agreement,
                   round(CAST(pe_num AS DOUBLE)
                         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)
                     AS expected_agreement,
                   round(CASE WHEN n > 0
                              AND CAST(pe_num AS DOUBLE)
                                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                                  < 1.0
                         THEN (CAST(diag AS DOUBLE) / CAST(n AS DOUBLE)
                               - CAST(pe_num AS DOUBLE)
                                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                              / (1.0 - CAST(pe_num AS DOUBLE)
                                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                         END, 6) AS kappa
            FROM base CROSS JOIN p
        """,
        # replays experiment.srm_report: configured a/b/c at 25% each,
        # the hash-derived 'holdout' arm lands in n_unassigned
        "events_srm": """
            WITH v AS (
              SELECT CASE user_id % 4 WHEN 0 THEN 'a' WHEN 1 THEN 'b'
                          WHEN 2 THEN 'c' ELSE 'holdout' END AS variant
              FROM events WHERE user_id IS NOT NULL
            ), counts AS (
              SELECT variant, count(*) AS c FROM v GROUP BY variant
            ), exp AS (
              SELECT * FROM (VALUES ('a', 0.25), ('b', 0.25), ('c', 0.25))
                     t(variant, share)
            ), obs AS (
              SELECT e.variant, CAST(e.share AS DOUBLE) AS share,
                     coalesce(c.c, 0) AS n_obs
              FROM exp e LEFT JOIN counts c USING (variant)
            ), tot AS (SELECT sum(n_obs) AS n FROM obs),
            una AS (
              SELECT coalesce(sum(c), 0) AS u FROM counts
              WHERE variant NOT IN ('a', 'b', 'c')
            )
            SELECT variant,
                   CAST(n_obs AS BIGINT) AS n_obs,
                   round(CAST(n AS DOUBLE) * share, 6) AS n_expected,
                   round(share, 6) AS expected_share,
                   round(CASE WHEN CAST(n AS DOUBLE) * share > 0
                         THEN (CAST(n_obs AS DOUBLE)
                               - CAST(n AS DOUBLE) * share)
                              * (CAST(n_obs AS DOUBLE)
                                 - CAST(n AS DOUBLE) * share)
                              / (CAST(n AS DOUBLE) * share)
                         END, 6) AS chi2_contribution,
                   CAST(u AS BIGINT) AS n_unassigned
            FROM obs CROSS JOIN tot CROSS JOIN una
            ORDER BY variant
        """,
        # replays experiment.ips_value: clipped importance weights,
        # 9dp-decimal weight/weighted-reward sums
        "events_ips": """
            WITH u AS (
              SELECT value AS r,
                     CASE WHEN event_type = 'purchase' THEN 0.5
                          WHEN event_type = 'click' THEN 0.3
                          ELSE 0.1 END AS pt
              FROM events
              WHERE event_type IS NOT NULL AND value IS NOT NULL
            ), w AS (
              SELECT r,
                     least(2.0, CAST(pt AS DOUBLE) / 0.2) AS wv,
                     CAST(pt AS DOUBLE) / 0.2 AS rawv
              FROM u
            ), m AS (
              SELECT count(*) AS n,
                     coalesce(sum(CASE WHEN rawv >= 2.0 THEN 1 ELSE 0 END),
                              0) AS ncl,
                     sum(CAST(round(wv, 9) AS DECIMAL(28,12))) AS sw,
                     sum(CAST(round(wv * r, 9) AS DECIMAL(28,12))) AS swr
              FROM w
            )
            SELECT CAST(n AS BIGINT) AS n_units,
                   CAST(ncl AS BIGINT) AS n_clipped,
                   CASE WHEN n > 0 THEN round(CAST(sw AS DOUBLE)
                        / CAST(n AS DOUBLE), 6) END AS mean_weight,
                   CASE WHEN n > 0 THEN round(CAST(swr AS DOUBLE)
                        / CAST(n AS DOUBLE), 6) END AS ips_value,
                   CASE WHEN CAST(sw AS DOUBLE) > 0
                        THEN round(CAST(swr AS DOUBLE)
                             / CAST(sw AS DOUBLE), 6) END AS snips_value
            FROM m
        """,
        # replays experiment.quantile_treatment_effects: per-arm
        # quantile_cont (= Spark percentile, type-7) then per-prob diffs
        "events_qte": """
            WITH u AS (
              SELECT CASE WHEN user_id % 2 = 0 THEN 't' ELSE 'c' END AS g,
                     value AS v
              FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
                    AND value IS NOT NULL
            ), q AS (
              SELECT g,
                     round(quantile_cont(v, 0.25), 6) AS q0,
                     round(quantile_cont(v, 0.5), 6) AS q1,
                     round(quantile_cont(v, 0.75), 6) AS q2
              FROM u GROUP BY g
            ), f AS (
              SELECT max(CASE WHEN g = 't' THEN q0 END) AS t0,
                     max(CASE WHEN g = 't' THEN q1 END) AS t1,
                     max(CASE WHEN g = 't' THEN q2 END) AS t2,
                     max(CASE WHEN g = 'c' THEN q0 END) AS c0,
                     max(CASE WHEN g = 'c' THEN q1 END) AS c1,
                     max(CASE WHEN g = 'c' THEN q2 END) AS c2
              FROM q
            )
            SELECT * FROM (
              SELECT CAST(0.25 AS DOUBLE) AS prob, t0 AS q_treatment,
                     c0 AS q_control, round(t0 - c0, 6) AS qte FROM f
              UNION ALL
              SELECT CAST(0.5 AS DOUBLE), t1, c1, round(t1 - c1, 6) FROM f
              UNION ALL
              SELECT CAST(0.75 AS DOUBLE), t2, c2, round(t2 - c2, 6) FROM f
            ) ORDER BY prob
        """,
        # replays corpus.source_keywords: (source, token) tf counts,
        # df/S idf, per-source top-10 by (score desc, token asc)
        "docs_keywords": f"""
            WITH gt AS (
              SELECT grp, token, count(*) AS tf FROM (
                SELECT source AS grp,
                       unnest(string_split({_NORM_TEXT_SQL}, ' ')) AS token
                FROM documents WHERE source IS NOT NULL
              ) WHERE token != ''
              GROUP BY grp, token HAVING count(*) >= 2
            ), d AS (SELECT token, count(*) AS df FROM gt GROUP BY token),
            s AS (SELECT count(DISTINCT grp) AS sc FROM gt),
            scd AS (
              SELECT grp, gt.token AS token, tf, df,
                     round(CAST(tf AS DOUBLE)
                           * ln(CAST(sc AS DOUBLE) / CAST(df AS DOUBLE)), 6)
                       AS score
              FROM gt JOIN d ON gt.token = d.token CROSS JOIN s
            ), r AS (
              SELECT *, row_number() OVER (
                       PARTITION BY grp ORDER BY score DESC, token ASC
                     ) AS rank
              FROM scd WHERE score > 0
            )
            SELECT grp AS source, token, CAST(tf AS BIGINT) AS tf,
                   CAST(df AS BIGINT) AS df, score, CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 10
        """,
        # replays corpus.source_divergence: shared-token pair join,
        # 12dp-decimal JSD terms, one-sided mass via (2 − Σpa − Σpb)·ln2;
        # ALL unordered pairs from the totals frame (a fully-disjoint
        # pair coalesces to zero shared mass = exactly ln 2)
        "docs_jsd": f"""
            WITH gt AS (
              SELECT grp, token, count(*) AS n FROM (
                SELECT source AS grp,
                       unnest(string_split({_NORM_TEXT_SQL}, ' ')) AS token
                FROM documents WHERE source IS NOT NULL
              ) WHERE token != ''
              GROUP BY grp, token HAVING count(*) >= 2
            ), tot AS (SELECT grp, sum(n) AS t FROM gt GROUP BY grp),
            p AS (
              SELECT gt.grp, token,
                     CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS p
              FROM gt JOIN tot ON gt.grp = tot.grp
            ), pr AS (
              SELECT a.grp AS ga, b.grp AS gb, a.p AS pa, b.p AS pb
              FROM p a JOIN p b ON a.token = b.token AND a.grp < b.grp
            ), agg AS (
              SELECT ga, gb,
                sum(CAST(round(pa * ln(2.0 * pa / (pa + pb))
                               + pb * ln(2.0 * pb / (pa + pb)), 12)
                         AS DECIMAL(28,12))) AS sb,
                sum(CAST(round(pa, 12) AS DECIMAL(28,12))) AS ma,
                sum(CAST(round(pb, 12) AS DECIMAL(28,12))) AS mb
              FROM pr GROUP BY ga, gb
            ), pairs AS (
              SELECT ta.grp AS ga, tb.grp AS gb, ta.t AS ta, tb.t AS tb
              FROM tot ta JOIN tot tb ON ta.grp < tb.grp
            )
            SELECT ga AS group_a, gb AS group_b,
                   CAST(ta AS BIGINT) AS n_tokens_a,
                   CAST(tb AS BIGINT) AS n_tokens_b,
                   round((coalesce(CAST(sb AS DOUBLE), 0.0)
                          + (2.0 - coalesce(CAST(ma AS DOUBLE), 0.0)
                                 - coalesce(CAST(mb AS DOUBLE), 0.0))
                            * 0.6931471805599453) / 2.0, 6) AS jsd
            FROM pairs LEFT JOIN agg USING (ga, gb)
        """,
        # replays evaluation.pr_auc_report: descending distinct-score
        # cumulatives, 12dp-decimal step terms, one n_pos division
        "events_pr_auc": """
            WITH u AS (
              SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS label, value AS s
              FROM events
              WHERE event_type IS NOT NULL AND value IS NOT NULL
            ), pv AS (
              SELECT s, sum(label) AS ct, count(*) AS c FROM u GROUP BY s
            ), cum AS (
              SELECT ct, c,
                     sum(ct) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND CURRENT ROW) AS cp,
                     sum(c) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
                                  PRECEDING AND CURRENT ROW) AS cc
              FROM pv
            ), m AS (
              SELECT coalesce(sum(ct), 0) AS n1,
                     coalesce(sum(c) - sum(ct), 0) AS n2,
                     sum(CAST(round(CAST(ct AS DOUBLE) * CAST(cp AS DOUBLE)
                                    / CAST(cc AS DOUBLE), 12)
                              AS DECIMAL(28,12))) AS apn
              FROM cum
            )
            SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n2 AS BIGINT) AS n_neg,
                   CASE WHEN n1 + n2 > 0
                        THEN round(CAST(n1 AS DOUBLE)
                             / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)), 6)
                        END AS baseline,
                   CASE WHEN n1 > 0 AND n2 > 0
                        THEN round(CAST(apn AS DOUBLE)
                             / CAST(n1 AS DOUBLE), 6)
                        END AS pr_auc
            FROM m
        """,
        # replays evaluation.ece_report: the n-weighted bin gap
        # telescopes to |np - decimal score sum| per bin, summed exactly
        "events_ece": """
            WITH u AS (
              SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS label,
                     CAST(CAST(('0x' || substr(md5('cal|' ||
                          CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                          % 1000000 AS DOUBLE) / 1000000.0 AS s
              FROM events WHERE event_type IS NOT NULL
            ), b AS (
              SELECT CAST(greatest(0, least(9, CAST(floor(s * 10.0) AS INT)))
                          AS INT) AS bin,
                     count(*) AS n,
                     sum(CAST(s AS DECIMAL(18,6))) AS ss,
                     sum(label) AS np
              FROM u WHERE isfinite(s) GROUP BY 1
            ), m AS (
              SELECT coalesce(sum(n), 0) AS nu, count(*) AS nb,
                     sum(abs(CAST(np AS DECIMAL(18,6)) - ss)) AS gm,
                     max(CAST(abs(CAST(np AS DECIMAL(18,6)) - ss) AS DOUBLE)
                         / CAST(n AS DOUBLE)) AS mce
              FROM b
            )
            SELECT CAST(nu AS BIGINT) AS n_units,
                   CAST(nb AS BIGINT) AS n_bins_used,
                   CASE WHEN nu > 0 THEN round(CAST(gm AS DOUBLE)
                        / CAST(nu AS DOUBLE), 6) END AS ece,
                   round(mce, 6) AS mce
            FROM m
        """,
        # replays evaluation.scoring_rules_report: 12dp-decimal per-unit
        # Brier and clamped cross-entropy terms
        "events_brier": """
            WITH u AS (
              SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS label,
                     CAST(CAST(('0x' || substr(md5('cal|' ||
                          CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                          % 1000000 AS DOUBLE) / 1000000.0 AS s
              FROM events WHERE event_type IS NOT NULL
            )
            SELECT count(*) AS n_units,
                   CASE WHEN count(*) > 0 THEN
                     round(CAST(sum(CAST(round(
                       (s - CAST(label AS DOUBLE))
                       * (s - CAST(label AS DOUBLE)), 12)
                       AS DECIMAL(28,12))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE), 6) END AS brier,
                   CASE WHEN count(*) > 0 THEN
                     round(CAST(sum(CAST(round(
                       -(CAST(label AS DOUBLE)
                         * ln(least(greatest(s, CAST(1e-15 AS DOUBLE)),
                                    CAST(0.999999999999999 AS DOUBLE)))
                         + (1.0 - CAST(label AS DOUBLE))
                           * ln(1.0 - least(greatest(s,
                                    CAST(1e-15 AS DOUBLE)),
                                    CAST(0.999999999999999 AS DOUBLE)))),
                       12) AS DECIMAL(28,12))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE), 6) END AS log_loss
            FROM u WHERE isfinite(s)
        """,
        # replays evaluation.psi_report: one bin-keyed conditional-count
        # collapse, 12dp-decimal terms over two-sided bins only
        "events_psi": """
            WITH u AS (
              SELECT CASE WHEN user_id % 2 = 0 THEN 'base' ELSE 'cur' END
                       AS sl,
                     CAST(CAST(('0x' || substr(md5('psi|' ||
                          CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                          % 1000000 AS DOUBLE) / 1000000.0 AS s
              FROM events WHERE user_id IS NOT NULL
            ), b AS (
              SELECT CAST(greatest(0, least(9, CAST(floor(s * 10.0) AS INT)))
                          AS INT) AS bin,
                     sum(CASE WHEN sl = 'base' THEN 1 ELSE 0 END) AS nb,
                     sum(CASE WHEN sl = 'cur' THEN 1 ELSE 0 END) AS nc
              FROM u WHERE isfinite(s) GROUP BY 1
            ), tot AS (
              SELECT coalesce(sum(nb), 0) AS tb, coalesce(sum(nc), 0) AS tc
              FROM b
            ), m AS (
              SELECT max(tb) AS tb, max(tc) AS tc, count(*) AS nbins,
                     coalesce(sum(CASE WHEN nb > 0 AND nc > 0
                                       THEN 0 ELSE 1 END), 0) AS ones,
                     sum(CASE WHEN nb > 0 AND nc > 0 THEN
                       CAST(round((CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE)
                                   - CAST(nc AS DOUBLE) / CAST(tc AS DOUBLE))
                            * ln((CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE))
                                 / (CAST(nc AS DOUBLE)
                                    / CAST(tc AS DOUBLE))), 12)
                            AS DECIMAL(28,12)) END) AS psi
              FROM b CROSS JOIN tot
            )
            SELECT coalesce(CAST(tb AS BIGINT), 0) AS n_baseline,
                   coalesce(CAST(tc AS BIGINT), 0) AS n_current,
                   CAST(nbins AS BIGINT) AS n_bins_used,
                   CAST(ones AS BIGINT) AS n_onesided_bins,
                   CASE WHEN tb > 0 AND tc > 0
                        THEN round(coalesce(CAST(psi AS DOUBLE), 0.0), 6)
                        END AS psi
            FROM m
        """,
        # replays evaluation.mcc_report: four exact confusion cells,
        # DECIMAL(38,0) numerator products, margin-sqrt denominator
        "events_mcc": """
            WITH u AS (
              SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS a,
                     CASE WHEN CAST(('0x' || substr(md5('mcc|' ||
                          CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                          % 5 = 0 THEN 1 ELSE 0 END AS p
              FROM events WHERE event_type IS NOT NULL
            ), m AS (
              SELECT count(*) AS n,
                coalesce(sum(CASE WHEN a = 1 AND p = 1 THEN 1 END), 0) AS tp,
                coalesce(sum(CASE WHEN a = 0 AND p = 1 THEN 1 END), 0) AS fp,
                coalesce(sum(CASE WHEN a = 0 AND p = 0 THEN 1 END), 0) AS tn,
                coalesce(sum(CASE WHEN a = 1 AND p = 0 THEN 1 END), 0) AS fn
              FROM u
            )
            SELECT CAST(n AS BIGINT) AS n_units,
                   CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                   CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
                   CASE WHEN n > 0 THEN
                     round(CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE), 6)
                     END AS accuracy,
                   CASE WHEN sqrt(CAST(tp + fp AS DOUBLE))
                             * sqrt(CAST(tp + fn AS DOUBLE))
                             * sqrt(CAST(tn + fp AS DOUBLE))
                             * sqrt(CAST(tn + fn AS DOUBLE)) > 0 THEN
                     round((CAST(CAST(tp AS DECIMAL(38,0)) * tn AS DOUBLE)
                            - CAST(CAST(fp AS DECIMAL(38,0)) * fn AS DOUBLE))
                           / (sqrt(CAST(tp + fp AS DOUBLE))
                              * sqrt(CAST(tp + fn AS DOUBLE))
                              * sqrt(CAST(tn + fp AS DOUBLE))
                              * sqrt(CAST(tn + fn AS DOUBLE))), 6)
                     END AS mcc
            FROM m
        """,
        # replays evaluation.ranking_metrics: query-partitioned rank
        # windows, 12dp-decimal per-item gains then per-query metrics
        "events_ndcg": """
            WITH u AS (
              SELECT user_id AS q, event_id AS item,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS rel,
                     value AS s
              FROM events
              WHERE user_id IS NOT NULL AND event_id IS NOT NULL
                    AND event_type IS NOT NULL AND value IS NOT NULL
            ), r AS (
              SELECT q, CAST(rel AS DOUBLE) AS rel,
                     row_number() OVER (PARTITION BY q
                                        ORDER BY s DESC, item) AS rk,
                     row_number() OVER (PARTITION BY q
                                        ORDER BY rel DESC, item) AS irk
              FROM u
            ), pq AS (
              SELECT q,
                sum(CASE WHEN rk <= 5 THEN
                  CAST(round(rel / log2(CAST(rk AS DOUBLE) + 1.0), 12)
                       AS DECIMAL(28,12)) END) AS dcg,
                sum(CASE WHEN irk <= 5 THEN
                  CAST(round(rel / log2(CAST(irk AS DOUBLE) + 1.0), 12)
                       AS DECIMAL(28,12)) END) AS idcg,
                min(CASE WHEN rel > 0 AND rk <= 5 THEN rk END) AS fr
              FROM r GROUP BY q
            ), m AS (
              SELECT count(*) AS nt,
                coalesce(sum(CASE WHEN idcg > 0 THEN 1 ELSE 0 END), 0) AS nq,
                sum(CASE WHEN idcg > 0 THEN
                  CAST(round(coalesce(CAST(dcg AS DOUBLE), 0.0)
                             / CAST(idcg AS DOUBLE), 12)
                       AS DECIMAL(28,12)) END) AS sn,
                sum(CASE WHEN idcg > 0 THEN
                  CAST(round(coalesce(1.0 / CAST(fr AS DOUBLE), 0.0), 12)
                       AS DECIMAL(28,12)) END) AS sr
              FROM pq
            )
            SELECT CAST(nt AS BIGINT) AS n_queries_total,
                   CAST(nq AS BIGINT) AS n_queries,
                   CASE WHEN nq > 0 THEN round(CAST(sn AS DOUBLE)
                        / CAST(nq AS DOUBLE), 6) END AS ndcg_at_k,
                   CASE WHEN nq > 0 THEN round(CAST(sr AS DOUBLE)
                        / CAST(nq AS DOUBLE), 6) END AS mrr_at_k
            FROM m
        """,
        # replays experiment.power_mde_report: per-arm decimal moments,
        # (z_alpha + z_power) * sqrt(var_t/n_t + var_c/n_c)
        "events_power": """
            WITH u AS (
              SELECT CASE WHEN user_id % 2 = 0 THEN 't' ELSE 'c' END AS g,
                     value AS v
              FROM events
              WHERE user_id IS NOT NULL AND value IS NOT NULL
            ), m AS (
              SELECT
                coalesce(sum(CASE WHEN g = 't' THEN 1 END), 0) AS nt,
                coalesce(sum(CASE WHEN g = 'c' THEN 1 END), 0) AS nc,
                sum(CASE WHEN g = 't'
                         THEN CAST(v AS DECIMAL(18,6)) END) AS st,
                sum(CASE WHEN g = 't' THEN CAST(v AS DECIMAL(19,6))
                         * CAST(v AS DECIMAL(18,6)) END) AS stt,
                sum(CASE WHEN g = 'c'
                         THEN CAST(v AS DECIMAL(18,6)) END) AS sc,
                sum(CASE WHEN g = 'c' THEN CAST(v AS DECIMAL(19,6))
                         * CAST(v AS DECIMAL(18,6)) END) AS scc
              FROM u
            ), d AS (
              SELECT nt, nc,
                CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE) AS mc,
                greatest((CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)
                 * CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))
                / (CAST(nt AS DOUBLE) - 1.0), 0.0) AS vt,
                greatest((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE)
                 * CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))
                / (CAST(nc AS DOUBLE) - 1.0), 0.0) AS vc
              FROM m
            )
            SELECT CAST(nt AS BIGINT) AS n_treatment,
                   CAST(nc AS BIGINT) AS n_control,
                   CASE WHEN nc > 0 THEN round(mc, 6) END AS mean_control,
                   CASE WHEN nt > 1 AND nc > 1 THEN
                     round(sqrt(vt / CAST(nt AS DOUBLE)
                                + vc / CAST(nc AS DOUBLE)), 6)
                     END AS se_diff,
                   CASE WHEN nt > 1 AND nc > 1 THEN
                     round((CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE))
                           * sqrt(vt / CAST(nt AS DOUBLE)
                                  + vc / CAST(nc AS DOUBLE)), 6)
                     END AS mde_abs,
                   CASE WHEN nt > 1 AND nc > 1 AND mc != 0 THEN
                     round((CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE))
                           * sqrt(vt / CAST(nt AS DOUBLE)
                                  + vc / CAST(nc AS DOUBLE)) / mc, 6)
                     END AS mde_rel
            FROM d
        """,
        # replays experiment.qini_report: score-desc ntile deciles,
        # cumulative arm counts, uplift and Qini per depth
        "events_qini": """
            WITH u AS (
              SELECT event_id AS id, CAST(user_id % 2 AS INT) AS t,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y,
                     value AS s
              FROM events
              WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                    AND value IS NOT NULL AND event_id IS NOT NULL
            ), b AS (
              SELECT ntile(10) OVER (ORDER BY s DESC, id) AS bin, t, y
              FROM u
            ), pb AS (
              SELECT bin, count(*) AS n_units,
                     sum(t) AS nt, sum(1 - t) AS nc,
                     sum(y * t) AS yt, sum(y * (1 - t)) AS yc
              FROM b GROUP BY bin
            ), c AS (
              SELECT bin, n_units,
                sum(nt) OVER w AS cnt, sum(nc) OVER w AS cnc,
                sum(yt) OVER w AS cyt, sum(yc) OVER w AS cyc
              FROM pb
              WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)
            )
            SELECT CAST(bin AS INT) AS bin,
                   CAST(n_units AS BIGINT) AS n_units,
                   CAST(cnt AS BIGINT) AS cum_n_treat,
                   CAST(cnc AS BIGINT) AS cum_n_ctrl,
                   CAST(cyt AS BIGINT) AS cum_resp_treat,
                   CAST(cyc AS BIGINT) AS cum_resp_ctrl,
                   CASE WHEN cnt > 0 AND cnc > 0 THEN
                     round(CAST(cyt AS DOUBLE) / CAST(cnt AS DOUBLE)
                           - CAST(cyc AS DOUBLE) / CAST(cnc AS DOUBLE), 6)
                     END AS uplift_at_depth,
                   CASE WHEN cnc > 0 THEN
                     round(CAST(cyt AS DOUBLE)
                           - CAST(cyc AS DOUBLE) * CAST(cnt AS DOUBLE)
                             / CAST(cnc AS DOUBLE), 6)
                     END AS qini
            FROM c
        """,
        # replays timeseries.seasonal_decompose: decimal daily totals,
        # centered full-window 7-day MA trend, 12dp-decimal detrended
        # phase means (mean-centered), residual remainder
        "events_seasonal": """
            WITH d AS (
              SELECT CAST(ts AS DATE) AS day,
                     sum(CAST(value AS DECIMAL(18,6))) AS rd
              FROM events GROUP BY 1
            ), dn AS (
              SELECT day, rd,
                     date_diff('day', DATE '1970-01-01', day) AS n
              FROM d
            ), t AS (
              SELECT day, n, CAST(rd AS DOUBLE) AS y,
                     CASE WHEN count(*) OVER w = 7 THEN
                       CAST(sum(rd) OVER w AS DOUBLE) / 7.0 END AS tr,
                     n % 7 AS phase
              FROM dn
              WINDOW w AS (ORDER BY n RANGE BETWEEN 3 PRECEDING
                           AND 3 FOLLOWING)
            ), pm AS (
              SELECT phase,
                     CAST(round(CAST(sum(CAST(round(y - tr, 12)
                                    AS DECIMAL(28,12))) AS DOUBLE)
                           / CAST(count(*) AS DOUBLE), 12)
                       AS DECIMAL(28,12)) AS m
              FROM t WHERE tr IS NOT NULL GROUP BY phase
            ), ctr AS (
              SELECT CAST(sum(m) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       AS c
              FROM pm
            ), s AS (
              SELECT phase, CAST(m AS DOUBLE) - c AS sv
              FROM pm CROSS JOIN ctr
            )
            SELECT CAST(t.day AS VARCHAR) AS day,
                   round(t.y, 6) AS value,
                   round(t.tr, 6) AS trend,
                   round(CASE WHEN t.tr IS NOT NULL THEN s.sv END, 6)
                     AS seasonal,
                   round(t.y - t.tr
                         - CASE WHEN t.tr IS NOT NULL THEN s.sv END, 6)
                     AS residual
            FROM t LEFT JOIN s ON t.phase = s.phase
        """,
        # replays survival.logrank_test: duration-grain collapse,
        # reverse-cumulative at-risk counts, 12dp-decimal O-E/variance
        "events_logrank": """
            WITH u AS (
              SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g1,
                     value AS t,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS e
              FROM events
              WHERE user_id IS NOT NULL AND value IS NOT NULL
                    AND event_type IS NOT NULL
            ), pt AS (
              SELECT t, sum(e * g1) AS d1, sum(e) AS d,
                     sum(g1) AS a1, count(*) AS a
              FROM u GROUP BY t
            ), tot AS (
              SELECT coalesce(sum(a1), 0) AS t1, coalesce(sum(a), 0) AS ta,
                     coalesce(sum(d), 0) AS td
              FROM pt
            ), c AS (
              SELECT d1, d,
                     t1 - sum(a1) OVER w + a1 AS n1,
                     ta - sum(a) OVER w + a AS n
              FROM pt CROSS JOIN tot
              WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)
            ), m AS (
              SELECT
                sum(CAST(round(CAST(d1 AS DOUBLE)
                               - CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)
                                 / CAST(n AS DOUBLE), 12)
                         AS DECIMAL(28,12))) AS oe,
                sum(CAST(round(CASE WHEN n > 1 THEN
                      CAST(d AS DOUBLE)
                      * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(n AS DOUBLE) - CAST(d AS DOUBLE))
                      / (CAST(n AS DOUBLE) - 1.0)
                      ELSE 0.0 END, 12) AS DECIMAL(28,12))) AS v
              FROM c WHERE d > 0
            )
            , zz AS (
              SELECT t1, ta, td,
                     CASE WHEN CAST(v AS DOUBLE) > 0
                          THEN CAST(oe AS DOUBLE)
                               / sqrt(CAST(v AS DOUBLE)) END AS zv
              FROM tot CROSS JOIN m
            )
            SELECT CAST(t1 AS BIGINT) AS n_treatment,
                   CAST(ta - t1 AS BIGINT) AS n_control,
                   CAST(td AS BIGINT) AS n_events,
                   round(zv, 6) AS z,
                   round(zv * zv, 6) AS chi2,
                   CAST(coalesce(abs(round(zv, 6)) >= 1.959964, FALSE)
                        AS INT) AS significant
            FROM zz
        """,
        # replays experiment.proportion_ci_report: Wilson interval,
        # in-row IEEE arithmetic over exact variant counts
        "events_prop_ci": """
            WITH u AS (
              SELECT CASE user_id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b'
                          ELSE 'c' END AS variant,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS conv
              FROM events
              WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            ), pv AS (
              SELECT variant, count(*) AS n, coalesce(sum(conv), 0) AS x
              FROM u GROUP BY variant
            ), c AS (
              SELECT variant, n, x,
                     CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                     CAST(n AS DOUBLE) AS nd,
                     CAST(1.959964 AS DOUBLE) AS z,
                     CAST(1.959964 AS DOUBLE) * CAST(1.959964 AS DOUBLE)
                       AS z2
              FROM pv
            )
            SELECT variant,
                   CAST(n AS BIGINT) AS n_units,
                   CAST(x AS BIGINT) AS n_converted,
                   round(p, 6) AS rate,
                   round(greatest(
                     (p + z2 / (2.0 * nd)
                      - z * sqrt(p * (1.0 - p) / nd
                                 + z2 / (4.0 * nd * nd)))
                     / (1.0 + z2 / nd), 0.0), 6) AS ci_low,
                   round(least(
                     (p + z2 / (2.0 * nd)
                      + z * sqrt(p * (1.0 - p) / nd
                                 + z2 / (4.0 * nd * nd)))
                     / (1.0 + z2 / nd), 1.0), 6) AS ci_high
            FROM c ORDER BY variant
        """,
        # replays experiment.eb_shrunk_rates: 12dp-decimal rate moments,
        # method-of-moments beta-binomial prior, per-entity shrinkage
        "events_eb_rates": """
            WITH u AS (
              SELECT user_id,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS conv
              FROM events
              WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            ), pk AS (
              SELECT user_id, count(*) AS n, coalesce(sum(conv), 0) AS x
              FROM u GROUP BY user_id
            ), mom AS (
              SELECT count(*) AS k,
                sum(CAST(round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 12)
                         AS DECIMAL(28,12))) AS sr,
                sum(CAST(round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
                               * (CAST(x AS DOUBLE) / CAST(n AS DOUBLE)),
                               12) AS DECIMAL(28,12))) AS sr2
              FROM pk
            ), pr AS (
              SELECT k,
                     CAST(sr AS DOUBLE) / CAST(k AS DOUBLE) AS m,
                     CASE WHEN k > 1 THEN
                       (CAST(sr2 AS DOUBLE) - CAST(sr AS DOUBLE)
                        * CAST(sr AS DOUBLE) / CAST(k AS DOUBLE))
                       / (CAST(k AS DOUBLE) - 1.0) END AS v
              FROM mom
            ), st AS (
              SELECT m,
                     CASE WHEN v IS NOT NULL AND v > 0
                               AND m * (1.0 - m) > v
                          THEN (m * (1.0 - m) - v) / v END AS strength
              FROM pr
            )
            SELECT pk.user_id,
                   CAST(n AS BIGINT) AS n_units,
                   CAST(x AS BIGINT) AS n_converted,
                   round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
                   round(strength, 6) AS prior_strength,
                   round(CASE WHEN strength IS NOT NULL THEN
                           (CAST(x AS DOUBLE) + m * strength)
                           / (CAST(n AS DOUBLE) + strength)
                         ELSE CAST(x AS DOUBLE) / CAST(n AS DOUBLE) END, 6)
                     AS shrunk_rate
            FROM pk CROSS JOIN st
        """,
        # replays experiment.msprt_report: mixture-SPRT always-valid
        # p over the same four exact integers as the z readout —
        # normal mixture with tau=0.05, one arm collapse, in-row IEEE
        "events_msprt": """
            WITH pu AS (
              SELECT user_id,
                     sum(CASE WHEN event_type = 'purchase' THEN 1
                              ELSE 0 END) AS np
              FROM events WHERE user_id IS NOT NULL GROUP BY 1
            ), u AS (
              SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
                       AS variant,
                     CASE WHEN np >= 15 THEN 1 ELSE 0 END AS conv
              FROM pu
            ), m AS (
              SELECT
                CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END)
                     AS BIGINT) AS nt,
                CAST(sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END)
                     AS BIGINT) AS xt,
                CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END)
                     AS BIGINT) AS nc,
                CAST(sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END)
                     AS BIGINT) AS xc
              FROM u
            ), e AS (
              SELECT nt, nc, xt, xc,
                     CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE) AS pt,
                     CAST(xc AS DOUBLE) / CAST(nc AS DOUBLE) AS pc
              FROM m
            ), v AS (
              SELECT *,
                     pt * (1.0 - pt) / CAST(nt AS DOUBLE)
                     + pc * (1.0 - pc) / CAST(nc AS DOUBLE) AS vn,
                     pt - pc AS theta,
                     0.05 * 0.05 AS t2
              FROM e
            ), lr AS (
              SELECT *,
                     CASE WHEN nt > 0 AND nc > 0 AND vn > 0 THEN
                       sqrt(vn / (vn + t2))
                       * exp(theta * theta * t2
                             / (2.0 * vn * (vn + t2))) END AS l
              FROM v
            )
            SELECT nt AS n_treatment, nc AS n_control,
                   xt AS conv_treatment, xc AS conv_control,
                   CASE WHEN nt > 0 THEN round(pt, 6) END
                     AS rate_treatment,
                   CASE WHEN nc > 0 THEN round(pc, 6) END
                     AS rate_control,
                   CASE WHEN nt > 0 AND nc > 0 THEN round(theta, 6) END
                     AS uplift,
                   round(l, 6) AS lr,
                   round(CASE WHEN l IS NOT NULL
                              THEN least(1.0, 1.0 / l) END, 6)
                     AS always_valid_p,
                   coalesce(CAST(round(CASE WHEN l IS NOT NULL
                                            THEN least(1.0, 1.0 / l) END,
                                       6) <= 0.05 AS INT), 0)
                     AS significant
            FROM lr
        """,
        # replays experiment.bh_adjust over 20 per-cell msprt p-values:
        # the per-row suffix-min window form is value-identical to the
        # Spark side's distinct-p-grain bucketed construction (within a
        # tie group p*n/rank decreases, so the suffix min is the
        # group-end value for every member)
        "events_fdr": """
            WITH u AS (
              SELECT event_type || '_c' ||
                       CAST(CAST(floor(user_id / 2.0) AS BIGINT) % 4
                            AS VARCHAR) AS metric,
                     CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g,
                     CASE WHEN value > 50 THEN 1 ELSE 0 END AS conv
              FROM events
              WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            ), cells AS (
              SELECT metric,
                     CAST(sum(g) AS BIGINT) AS nt,
                     CAST(sum(g * conv) AS BIGINT) AS xt,
                     CAST(sum(1 - g) AS BIGINT) AS nc,
                     CAST(sum((1 - g) * conv) AS BIGINT) AS xc
              FROM u GROUP BY 1
            ), e AS (
              SELECT metric, nt, nc,
                     CASE WHEN nt > 0 THEN
                       CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE) END AS pt,
                     CASE WHEN nc > 0 THEN
                       CAST(xc AS DOUBLE) / CAST(nc AS DOUBLE) END AS pc
              FROM cells
            ), v AS (
              SELECT metric, nt, nc,
                     pt * (1.0 - pt) / CAST(nt AS DOUBLE)
                     + pc * (1.0 - pc) / CAST(nc AS DOUBLE) AS vn,
                     pt - pc AS theta,
                     0.05 * 0.05 AS t2
              FROM e
            ), lam AS (
              SELECT metric,
                     CASE WHEN nt > 0 AND nc > 0 AND vn > 0 THEN
                       sqrt(vn / (vn + t2))
                       * exp(theta * theta * t2
                             / (2.0 * vn * (vn + t2))) END AS l
              FROM v
            ), pv AS (
              SELECT metric,
                     CASE WHEN l IS NOT NULL
                          THEN least(1.0, 1.0 / l) END AS p
              FROM lam
            ), ranked AS (
              SELECT metric, p,
                     count(*) OVER () AS n,
                     row_number() OVER (ORDER BY p, metric) AS r
              FROM pv
              WHERE p IS NOT NULL AND NOT isnan(p)
                    AND abs(p) <> 'infinity'::DOUBLE
            ), adj AS (
              SELECT metric, p, n,
                     least(1.0,
                           min(p * CAST(n AS DOUBLE) / CAST(r AS DOUBLE))
                             OVER (ORDER BY p DESC, metric DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW)) AS q
              FROM ranked
            )
            SELECT metric, round(p, 6) AS p, round(q, 6) AS q,
                   CAST(round(q, 6) <= 0.05 AS INT) AS rejected,
                   CAST(n AS BIGINT) AS n_tests
            FROM adj
        """,
        # replays experiment.trimmed_means_report: the naive per-row
        # rank window form is value-identical to the Spark side's
        # tie-group partial-mass construction (tied rows share one
        # value, so the trimmed SUM is selection-invariant)
        "orders_trimmed": """
            WITH u AS (
              SELECT CASE WHEN o_custkey % 2 = 0 THEN 't' ELSE 'c' END
                       AS arm,
                     CAST(o_totalprice AS DECIMAL(18,6)) AS v
              FROM orders
              WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
            ), r AS (
              SELECT arm, v,
                     row_number() OVER (PARTITION BY arm ORDER BY v)
                       AS rn,
                     count(*) OVER (PARTITION BY arm) AS n
              FROM u
            ), st AS (
              SELECT arm,
                     CAST(max(n) AS BIGINT) AS n,
                     CAST(sum(v) AS DECIMAL(38,6)) AS s,
                     CAST(sum(CASE WHEN rn > CAST(floor(
                              CAST(0.05 AS DOUBLE) * CAST(n AS DOUBLE))
                              AS BIGINT)
                              AND rn <= n - CAST(floor(
                              CAST(0.05 AS DOUBLE) * CAST(n AS DOUBLE))
                              AS BIGINT)
                              THEN v END) AS DECIMAL(38,6)) AS ts,
                     CAST(sum(CASE WHEN rn > CAST(floor(
                              CAST(0.05 AS DOUBLE) * CAST(n AS DOUBLE))
                              AS BIGINT)
                              AND rn <= n - CAST(floor(
                              CAST(0.05 AS DOUBLE) * CAST(n AS DOUBLE))
                              AS BIGINT)
                              THEN 1 ELSE 0 END) AS BIGINT) AS tn
              FROM r GROUP BY arm
            ), p AS (
              SELECT
                coalesce(max(CASE WHEN arm = 't' THEN n END), 0) AS nt,
                max(CASE WHEN arm = 't' THEN s END) AS s_t,
                coalesce(max(CASE WHEN arm = 't' THEN tn END), 0) AS tnt,
                max(CASE WHEN arm = 't' THEN ts END) AS ts_t,
                coalesce(max(CASE WHEN arm = 'c' THEN n END), 0) AS ncl,
                max(CASE WHEN arm = 'c' THEN s END) AS s_c,
                coalesce(max(CASE WHEN arm = 'c' THEN tn END), 0) AS tnc,
                max(CASE WHEN arm = 'c' THEN ts END) AS ts_c
              FROM st
            )
            SELECT nt AS n_treatment, ncl AS n_control,
                   CASE WHEN nt > 0 THEN
                     round(CAST(s_t AS DOUBLE) / CAST(nt AS DOUBLE), 6)
                     END AS mean_treatment,
                   CASE WHEN ncl > 0 THEN
                     round(CAST(s_c AS DOUBLE) / CAST(ncl AS DOUBLE), 6)
                     END AS mean_control,
                   tnt AS n_kept_treatment, tnc AS n_kept_control,
                   CASE WHEN tnt > 0 THEN
                     round(CAST(ts_t AS DOUBLE) / CAST(tnt AS DOUBLE), 6)
                     END AS trimmed_mean_treatment,
                   CASE WHEN tnc > 0 THEN
                     round(CAST(ts_c AS DOUBLE) / CAST(tnc AS DOUBLE), 6)
                     END AS trimmed_mean_control,
                   round(CASE WHEN nt > 0 THEN
                           round(CAST(s_t AS DOUBLE) / CAST(nt AS DOUBLE), 6)
                           END
                         - CASE WHEN ncl > 0 THEN
                           round(CAST(s_c AS DOUBLE) / CAST(ncl AS DOUBLE), 6)
                           END, 6) AS mean_diff,
                   round(CASE WHEN tnt > 0 THEN
                           round(CAST(ts_t AS DOUBLE) / CAST(tnt AS DOUBLE), 6)
                           END
                         - CASE WHEN tnc > 0 THEN
                           round(CAST(ts_c AS DOUBLE) / CAST(tnc AS DOUBLE), 6)
                           END, 6) AS trimmed_mean_diff
            FROM p
        """,
        # replays profiling.exact_quantiles: the naive row_number form
        # picks the identical order statistics the bucketed span probe
        # picks; h/interpolation are the same fixed IEEE expressions
        "lineitem_exact_quantiles": """
            WITH v AS (
              SELECT l_extendedprice AS val FROM lineitem
              WHERE l_extendedprice IS NOT NULL
            ), nn AS (
              SELECT count(*) AS n FROM v
            ), r AS (
              SELECT val, row_number() OVER (ORDER BY val) AS rn FROM v
            ), pr AS (
              SELECT * FROM (VALUES
                (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
                (CAST(0.75 AS DOUBLE)), (CAST(0.95 AS DOUBLE))
              ) AS t(p)
            ), hh AS (
              SELECT p, n,
                     (CAST(n AS DOUBLE) - 1.0) * p + 1.0 AS h
              FROM pr CROSS JOIN nn
            ), b AS (
              SELECT p, n, h,
                     CAST(floor(h) AS BIGINT) AS lo,
                     CAST(ceil(h) AS BIGINT) AS hi
              FROM hh
            )
            SELECT b.p AS prob,
                   CAST(b.n AS BIGINT) AS n_values,
                   round(CAST(rl.val AS DOUBLE)
                         + (b.h - floor(b.h))
                           * (CAST(rh.val AS DOUBLE)
                              - CAST(rl.val AS DOUBLE)), 6) AS quantile
            FROM b
            JOIN r rl ON rl.rn = b.lo
            JOIN r rh ON rh.rn = b.hi
        """,
        # replays profiling.group_exact_quantiles: per-group row_number
        # picks the identical order statistics the grouped bucketed
        # span probe picks
        "orders_priority_quantiles": """
            WITH v AS (
              SELECT o_orderpriority AS g, o_totalprice AS val
              FROM orders
              WHERE o_totalprice IS NOT NULL
                AND o_orderpriority IS NOT NULL
            ), nn AS (
              SELECT g, count(*) AS n FROM v GROUP BY 1
            ), r AS (
              SELECT g, val,
                     row_number() OVER (PARTITION BY g ORDER BY val)
                       AS rn
              FROM v
            ), pr AS (
              SELECT * FROM (VALUES
                (CAST(0.5 AS DOUBLE)), (CAST(0.95 AS DOUBLE))
              ) AS t(p)
            ), b AS (
              SELECT nn.g, pr.p, nn.n,
                     (CAST(nn.n AS DOUBLE) - 1.0) * pr.p + 1.0 AS h
              FROM nn CROSS JOIN pr
            ), bb AS (
              SELECT g, p, n, h,
                     CAST(floor(h) AS BIGINT) AS lo,
                     CAST(ceil(h) AS BIGINT) AS hi
              FROM b
            )
            SELECT bb.g AS o_orderpriority, bb.p AS prob,
                   CAST(bb.n AS BIGINT) AS n_values,
                   round(CAST(rl.val AS DOUBLE)
                         + (bb.h - floor(bb.h))
                           * (CAST(rh.val AS DOUBLE)
                              - CAST(rl.val AS DOUBLE)), 6) AS quantile
            FROM bb
            JOIN r rl ON rl.g = bb.g AND rl.rn = bb.lo
            JOIN r rh ON rh.g = bb.g AND rh.rn = bb.hi
        """,
        # replays profiling.benford_report: leading digit from the
        # DECIMAL(18,6) string form (libm-free), 9-digit left frame,
        # ln-ratio Benford shares, decimal-quantized MAD
        "orders_benford": """
            WITH d AS (
              SELECT CAST(regexp_extract(
                       CAST(abs(CAST(o_totalprice AS DECIMAL(18,6)))
                            AS VARCHAR), '([1-9])', 1) AS INT) AS digit
              FROM orders
              WHERE o_totalprice IS NOT NULL
                AND regexp_extract(
                      CAST(abs(CAST(o_totalprice AS DECIMAL(18,6)))
                           AS VARCHAR), '([1-9])', 1) <> ''
            ), obs AS (
              SELECT digit, count(*) AS c FROM d GROUP BY 1
            ), digits AS (
              SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9))
                AS t(digit)
            ), full_f AS (
              SELECT digits.digit,
                     coalesce(obs.c, 0) AS c
              FROM digits LEFT JOIN obs ON digits.digit = obs.digit
            ), tot AS (
              SELECT coalesce(sum(c), 0) AS n FROM full_f
            ), scored AS (
              SELECT digit, CAST(c AS BIGINT) AS n_d,
                     CASE WHEN n > 0 THEN
                       CAST(c AS DOUBLE) / CAST(n AS DOUBLE) END AS share,
                     ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)
                       AS expected
              FROM full_f CROSS JOIN tot
            ), g AS (
              SELECT digit, n_d, share, expected,
                     abs(share - expected) AS gap,
                     CAST(round(abs(share - expected), 12)
                          AS DECIMAL(28,12)) AS g12
              FROM scored
            ), m AS (
              SELECT CAST(sum(g12) AS DOUBLE) / 9.0 AS mad FROM g
            )
            SELECT digit, n_d AS n,
                   round(share, 6) AS observed_share,
                   round(expected, 6) AS expected_share,
                   round(gap, 6) AS abs_gap,
                   round(mad, 6) AS mad,
                   CASE WHEN round(mad, 6) < 0.006 THEN 'close'
                        WHEN round(mad, 6) < 0.012 THEN 'acceptable'
                        WHEN round(mad, 6) < 0.015 THEN 'marginal'
                        ELSE 'nonconforming' END AS conformity
            FROM g CROSS JOIN m
        """,
        # replays experiment.trend_test: Cochran-Armitage z over exact
        # decimal dose moments, purchase conversion, 5 hash tiers
        "events_trend_test": """
            WITH u AS (
              SELECT CAST(user_id % 5 AS DOUBLE) AS dose,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS conv
              FROM events
              WHERE event_type IS NOT NULL AND user_id IS NOT NULL
            ), m AS (
              SELECT count(*) AS n, coalesce(sum(conv), 0) AS r,
                     count(DISTINCT dose) AS nd,
                     sum(CAST(dose AS DECIMAL(18,6))) AS sx,
                     sum(CAST(dose AS DECIMAL(19,6))
                         * CAST(dose AS DECIMAL(18,6))) AS sxx,
                     sum(CASE WHEN conv = 1
                              THEN CAST(dose AS DECIMAL(18,6)) END) AS sxc
              FROM u
            ), c AS (
              SELECT n, r, nd,
                     CAST(r AS DOUBLE) / CAST(n AS DOUBLE) AS pb,
                     CAST(sx AS DOUBLE) AS sxd, CAST(sxx AS DOUBLE) AS sxxd,
                     coalesce(CAST(sxc AS DOUBLE), 0.0) AS sxcd
              FROM m
            ), z AS (
              SELECT n, r, nd,
                     round(CASE WHEN n > 0 AND pb * (1.0 - pb)
                                * (sxxd - sxd * sxd / CAST(n AS DOUBLE)) > 0
                           THEN (sxcd - pb * sxd)
                                / sqrt(pb * (1.0 - pb)
                                  * (sxxd - sxd * sxd / CAST(n AS DOUBLE)))
                           END, 6) AS zv
              FROM c
            )
            SELECT CAST(n AS BIGINT) AS n_units,
                   CAST(r AS BIGINT) AS n_converted,
                   CAST(nd AS BIGINT) AS n_doses,
                   zv AS z,
                   CAST(coalesce(abs(zv) >= 1.959964, false) AS INT)
                     AS significant
            FROM z
        """,
        # replays corpus.zipf_fit: token counts, top-1000 head ranks,
        # 9dp-decimal ln moments, fixed IEEE slope/intercept/r2
        "docs_zipf": f"""
            WITH t AS (
              SELECT unnest(string_split({_NORM_TEXT_SQL}, ' ')) AS token
              FROM documents
            ), c AS (
              SELECT token, count(*) AS freq FROM t
              WHERE token != '' GROUP BY token
            ), tot AS (SELECT coalesce(sum(freq), 0) AS total FROM c),
            h AS (
              SELECT freq,
                     row_number() OVER (ORDER BY freq DESC, token ASC) AS rk
              FROM c ORDER BY freq DESC, token ASC LIMIT 1000
            ), m AS (
              SELECT count(*) AS n,
                CAST(sum(CAST(round(ln(CAST(rk AS DOUBLE)), 9)
                              AS DECIMAL(18,9))) AS DOUBLE) AS sx,
                CAST(sum(CAST(round(ln(CAST(freq AS DOUBLE)), 9)
                              AS DECIMAL(18,9))) AS DOUBLE) AS sy,
                CAST(sum(CAST(round(ln(CAST(rk AS DOUBLE)), 9)
                              AS DECIMAL(19,9))
                         * CAST(round(ln(CAST(rk AS DOUBLE)), 9)
                                AS DECIMAL(18,9))) AS DOUBLE) AS sxx,
                CAST(sum(CAST(round(ln(CAST(rk AS DOUBLE)), 9)
                              AS DECIMAL(19,9))
                         * CAST(round(ln(CAST(freq AS DOUBLE)), 9)
                                AS DECIMAL(18,9))) AS DOUBLE) AS sxy,
                CAST(sum(CAST(round(ln(CAST(freq AS DOUBLE)), 9)
                              AS DECIMAL(19,9))
                         * CAST(round(ln(CAST(freq AS DOUBLE)), 9)
                                AS DECIMAL(18,9))) AS DOUBLE) AS syy
              FROM h
            ), s AS (
              SELECT n, sx, sy, CAST(n AS DOUBLE) AS nd,
                     CAST(n AS DOUBLE) * sxx - sx * sx AS den_x,
                     CAST(n AS DOUBLE) * syy - sy * sy AS den_y,
                     CAST(n AS DOUBLE) * sxy - sx * sy AS num
              FROM m
            )
            SELECT CAST(n AS BIGINT) AS n_terms,
                   (SELECT CAST(total AS BIGINT) FROM tot) AS total_tokens,
                   round(CASE WHEN n >= 2 AND den_x > 0
                         THEN num / den_x END, 6) AS slope,
                   round(CASE WHEN n >= 2 AND den_x > 0
                         THEN (sy - (num / den_x) * sx) / nd END, 6)
                     AS intercept,
                   round(CASE WHEN n >= 2 AND den_x > 0 AND den_y > 0
                         THEN (num * num) / (den_x * den_y) END, 6) AS r2
            FROM s
        """,
        "dedup_spans": _SPANS_DEDUP_SQL,
        "dedup_spans_report": _SPANS_REPORT_SQL,
        "dedup_cluster_best": f"""
            {_COMPONENTS_WITH}, comp AS (
              SELECT id, min(comp) AS component_id FROM walk GROUP BY id
            ), consts AS (
              SELECT {_qwts_sql} AS wl
            ), qw AS (
              SELECT doc_id, string_split({_NORM_TEXT_SQL}, ' ') AS ws
              FROM documents
            ), scored AS (
              SELECT doc_id,
                     round(list_sum(list_transform(ws,
                             x -> wl[({_h60_sql(f"'{_QUALITY_HSALT}|' || x")}
                                      % {_QUALITY_BUCKETS})::INT + 1]))
                           / len(ws), 6) AS score
              FROM qw, consts
            ), surv AS (
              SELECT id FROM (
                SELECT c.id,
                       row_number() OVER (PARTITION BY c.component_id
                                          ORDER BY s.score DESC, c.id ASC)
                         AS rn
                FROM comp c JOIN scored s ON s.doc_id = c.id
              ) WHERE rn = 1
            )
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id NOT IN (
              SELECT id FROM comp WHERE id NOT IN (SELECT id FROM surv)
            )
        """,
        "embed_pq_codes": _PQ_CODES_SQL,
        "simsearch_pq_topk": _PQ_TOPK_SQL,
        "simsearch_ivf_pq": _IVFPQ_SQL,
        "simsearch_ivf_pq_rerank": _IVFPQ_RERANK_SQL,
        "docs_mixture_temp": f"""
            WITH masses AS (
              SELECT source, CAST(sum({_ws_tok}) AS DOUBLE) AS mass
              FROM documents GROUP BY source
            ), shared AS (
              SELECT source, mass,
                     round(pow(mass, 0.5) / sum(pow(mass, 0.5)) OVER (), 12)
                       AS target_w
              FROM masses
            ), t AS (
              SELECT min(mass / target_w) AS bigt FROM shared
            ), th AS (
              SELECT source,
                     CAST(floor(least(1.0, target_w * bigt / mass) * 1000000)
                          AS BIGINT) AS keep_below
              FROM shared, t
            )
            SELECT d.doc_id, d.source
            FROM documents d JOIN th USING (source)
            WHERE {_h60_sql("'mixt|' || CAST(doc_id AS VARCHAR)")} % 1000000
                  < keep_below
        """,
        "docs_encoding": f"""
            SELECT doc_id,
                   CAST(length(text) AS INT) AS n_chars,
                   round(CASE WHEN length(text) = 0 THEN 0.0
                     ELSE CAST(length(text) - length(regexp_replace(text,
                            '{_enc.CONTROL_CHAR_PATTERN}', '', 'g')) AS DOUBLE)
                          / length(text) END, 6) AS control_ratio,
                   CAST(length(text) - length(replace(text, '\ufffd', ''))
                     AS INT) AS replacement_chars,
                   CAST(len(regexp_extract_all(text,
                     '{_enc.MOJIBAKE_PATTERN}')) AS INT) AS mojibake_hits,
                   round(CASE WHEN length(text) = 0 THEN 0.0
                     ELSE CAST(length(text) - length(regexp_replace(text,
                            '{_enc.NON_ASCII_PATTERN}', '', 'g')) AS DOUBLE)
                          / length(text) END, 6) AS non_ascii_ratio,
                   (nfc_normalize(text) != text) AS nfc_changed
            FROM documents
        """,
        "text_fingerprint_nfc": f"""
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(nfc_normalize(text)),
                                           '\\s+', ' ', 'g'))) AS fingerprint
            FROM documents
        """,
        "docs_select_best": f"""
            WITH consts AS (
              SELECT {_qwts_sql} AS wl
            ), scored AS (
              SELECT doc_id, source,
                     round(list_sum(list_transform(ws2,
                             x -> wl[({_h60_sql(f"'{_QUALITY_HSALT}|' || x")}
                                      % {_QUALITY_BUCKETS})::INT + 1]))
                           / len(ws2), 6) AS logit
              FROM (SELECT doc_id, source,
                           string_split({_NORM_TEXT_SQL}, ' ') AS ws2
                    FROM documents), consts
            )
            SELECT doc_id, source, logit, rank FROM (
              SELECT doc_id, source, logit,
                     CAST(row_number() OVER (
                       PARTITION BY source ORDER BY logit DESC, doc_id ASC
                     ) AS INT) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "docs_gram_dup": f"""
            WITH grams AS (
              SELECT DISTINCT doc_id, {_h60_sql("shingle")} AS g
              FROM (SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS shingle
                    FROM documents WHERE text IS NOT NULL)
            ), gdf AS (
              SELECT g, count(*) AS df FROM grams GROUP BY g
            ), j AS (
              SELECT grams.doc_id, gdf.df FROM grams JOIN gdf USING (g)
            )
            SELECT doc_id,
                   count(*) AS n_grams,
                   CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_dup_grams,
                   CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*) AS dup_frac
            FROM j GROUP BY doc_id
        """,
        "docs_tfidf": f"""
            WITH words AS (
              SELECT doc_id, unnest(string_split({_NORM_TEXT_SQL}, ' ')) AS term
              FROM documents WHERE text IS NOT NULL
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2
            ), dft AS (
              SELECT term, count(*) AS df FROM tf GROUP BY term
              HAVING count(*) >= 2
            ), n AS (
              SELECT CAST(count(*) AS DOUBLE) AS nn FROM documents
              WHERE text IS NOT NULL
            ), scored AS (
              SELECT tf.doc_id, tf.term,
                     round(CAST(tf.tf AS DOUBLE) * ln(nn / CAST(dft.df AS DOUBLE)), 6)
                       AS tfidf
              FROM tf JOIN dft USING (term), n
            )
            SELECT doc_id, term, tfidf, rank FROM (
              SELECT doc_id, term, tfidf,
                     CAST(row_number() OVER (
                       PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
                     ) AS INT) AS rank
              FROM scored
            ) WHERE rank <= 3
        """,
        "docs_bm25": f"""
            WITH base AS (
              SELECT doc_id, string_split({_NORM_TEXT_SQL}, ' ') AS ws,
                     len(string_split({_NORM_TEXT_SQL}, ' ')) AS dl
              FROM documents WHERE text IS NOT NULL
            ), stats AS (
              SELECT CAST(count(*) AS DOUBLE) AS n,
                     CAST(sum(dl) AS DOUBLE) AS sumdl,
                     {", ".join(
                         f"CAST(sum(CASE WHEN list_contains(ws, '{t}') THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}"
                         for i, t in enumerate(_BM25_TERMS)
                     )}
              FROM base
            ), scored AS (
              SELECT doc_id,
                     round({" + ".join(
                         f"(ln(1 + (n - df{i} + 0.5) / (df{i} + 0.5))"
                         f" * (CAST(len(list_filter(ws, x -> x = '{t}')) AS DOUBLE) * 2.2"
                         f" / (CAST(len(list_filter(ws, x -> x = '{t}')) AS DOUBLE)"
                         f"    + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sumdl / n))))))"
                         for i, t in enumerate(_BM25_TERMS)
                     )}, 6) AS bm25
              FROM base, stats
            )
            SELECT doc_id, bm25 FROM scored
            WHERE bm25 > 0.0
            ORDER BY bm25 DESC, doc_id ASC
            LIMIT 20
        """,
        "embed_kmeans": f"""
            WITH c0 AS (
              SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
              FROM embeddings WHERE vec_id < {_KMEANS_K}
            ), x AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            ), {_kmeans_iters_sql}
            SELECT CAST(cid AS BIGINT) AS cid,
                   unnest(range(0, len(cvec))) AS pos,
                   unnest(cvec) AS val
            FROM c{_KMEANS_ITERS}
        """,
        "docs_mixture": f"""
            WITH masses AS (
              SELECT source, CAST(sum({_ws_tok}) AS DOUBLE) AS mass
              FROM documents GROUP BY source
            ), wts(source, target_w) AS (
              VALUES {_mix_vals}
            ), joined AS (
              SELECT m.source, m.mass, w.target_w
              FROM masses m JOIN wts w USING (source)
            ), t AS (
              SELECT min(mass / target_w) AS bigt FROM joined
            ), th AS (
              SELECT source,
                     CAST(floor(least(1.0, target_w * bigt / mass) * 1000000)
                          AS BIGINT) AS keep_below
              FROM joined, t
            )
            SELECT d.doc_id, d.source
            FROM documents d JOIN th USING (source)
            WHERE {_h60_sql("'mix|' || CAST(doc_id AS VARCHAR)")} % 1000000
                  < keep_below
        """,
        "docs_quality_logit": f"""
            WITH consts AS (
              SELECT {_qwts_sql} AS wl
            ), w AS (
              SELECT doc_id, string_split({_NORM_TEXT_SQL}, ' ') AS ws
              FROM documents
            )
            SELECT doc_id,
                   round(list_sum(list_transform(ws,
                           x -> wl[({_h60_sql(f"'{_QUALITY_HSALT}|' || x")}
                                    % {_QUALITY_BUCKETS})::INT + 1]))
                         / len(ws), 6) AS logit
            FROM w, consts
        """,
        "dedup_lines": f"""
            WITH {_lines_cte("documents")}
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN df < 2 THEN line END,
                                       chr(10) ORDER BY pos), '') AS text,
                   count(*) AS n_lines,
                   CAST(sum(CASE WHEN df < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
            FROM j GROUP BY doc_id
        """,
        "dedup_lines_keep_first": f"""
            WITH {_lines_cte("documents")}
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN df < 2 OR doc_id = keeper THEN line END,
                                       chr(10) ORDER BY pos), '') AS text,
                   count(*) AS n_lines,
                   CAST(sum(CASE WHEN df < 2 OR doc_id = keeper THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_kept
            FROM j GROUP BY doc_id
        """,
        "docs_source_overlap": f"""
            WITH ws AS (
              SELECT doc_id, source, string_split(text, ' ') AS w
              FROM documents WHERE text IS NOT NULL
            ), ch AS (
              SELECT source,
                     list_transform(range(0, CAST(ceil(len(w) / {_w}.0) AS INT)),
                                    i -> array_to_string(w[i*{_w}+1:i*{_w}+{_w}], ' ')) AS chunks
              FROM ws
            ), fps AS (
              SELECT DISTINCT
                     md5(trim(regexp_replace(lower(line), '\\s+', ' ', 'g'))) AS fp,
                     source
              FROM (SELECT source, unnest(chunks) AS line FROM ch)
            )
            SELECT a.source AS source_a, b.source AS source_b,
                   count(DISTINCT a.fp) AS shared
            FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
            GROUP BY 1, 2
        """,
        "dedup_lines_report": f"""
            WITH {_lines_cte("documents")}
            SELECT f AS fingerprint,
                   min(line) AS line,
                   count(DISTINCT doc_id) AS doc_freq,
                   count(*) AS n_occurrences,
                   min(doc_id) AS first_doc
            FROM fp GROUP BY f
            HAVING count(DISTINCT doc_id) >= 2
        """,
        "docs_shuffle": f"""
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY {_sk_r5}, doc_id) - 1 AS BIGINT)
                     AS position
            FROM documents
        """,
        "docs_pack_bins": f"""
            WITH t AS (
              SELECT doc_id, {_ws_tok} AS n_tokens, {_sk_r5} AS sk FROM documents
            ), p AS (
              SELECT doc_id, n_tokens,
                     CAST(SUM(n_tokens) OVER (ORDER BY sk, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          - n_tokens AS BIGINT) AS token_offset
              FROM t
            )
            SELECT doc_id, n_tokens, token_offset,
                   CAST(FLOOR(CAST(token_offset AS DOUBLE) / 2048) AS BIGINT) AS bin_id
            FROM p
        """,
        "contamination_check": f"""
            WITH bucketed AS (
              SELECT doc_id, text,
                     {_h60_sql("'bench|' || CAST(doc_id AS VARCHAR)")} % 1000000 AS __b
              FROM documents
            ), bench_grams AS (
              SELECT DISTINCT {_h60_sql("shingle")} AS h
              FROM (SELECT unnest(list_distinct({_SHINGLES_SQL})) AS shingle
                    FROM bucketed WHERE __b < {_BENCH_BUCKETS})
            ), corp_grams AS (
              SELECT doc_id, {_h60_sql("shingle")} AS h
              FROM (SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS shingle
                    FROM bucketed WHERE __b >= {_BENCH_BUCKETS})
            )
            SELECT cg.doc_id,
                   CAST(count(*) AS BIGINT) AS n_ngrams,
                   CAST(coalesce(sum(CASE WHEN bg.h IS NOT NULL THEN 1 END), 0)
                        AS BIGINT) AS n_overlap,
                   CAST(coalesce(sum(CASE WHEN bg.h IS NOT NULL THEN 1 END), 0)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE) AS overlap_frac,
                   coalesce(sum(CASE WHEN bg.h IS NOT NULL THEN 1 END), 0) >= 1
                     AS contaminated
            FROM corp_grams cg LEFT JOIN bench_grams bg ON cg.h = bg.h
            GROUP BY cg.doc_id
        """,
        "docs_repetition": f"""
            WITH sh AS (
              SELECT doc_id, {_shingles_sql_n(2)} AS shingles FROM documents
            ), g AS (
              SELECT doc_id, unnest(shingles) AS ng FROM sh
            ), c AS (
              SELECT doc_id, ng, count(*) AS cnt FROM g GROUP BY 1, 2
            )
            SELECT doc_id,
                   CAST(sum(cnt) AS BIGINT) AS n_grams,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   CAST(max(cnt) AS BIGINT) AS top_count,
                   CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS top_frac,
                   CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
                     AS distinct_ratio
            FROM c GROUP BY doc_id
        """,
        "multimodal_resize": """
            WITH px AS (
              SELECT doc_id, ((doc_id * 3 + (32 * y + 2 * x) * 5) % 256) AS v
              FROM documents,
                   generate_series(0, 3) t1(y),
                   generate_series(0, 7) t2(x)
            )
            SELECT doc_id AS media_id,
                   8.0 AS f0, 4.0 AS f1, 1.0 AS f2, 255.0 AS f3,
                   CAST(sum(v) AS DOUBLE) / 32 AS f4,
                   CAST(min(v) AS DOUBLE) AS f5,
                   CAST(max(v) AS DOUBLE) AS f6,
                   32.0 AS f7
            FROM px GROUP BY doc_id
        """,
        "embed_quantize": """
            WITH x AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            ), s AS (
              SELECT vec_id, e,
                     list_max(list_transform(e, v -> abs(v))) / 127.0 AS scale
              FROM x
            ), q AS (
              SELECT vec_id, scale,
                     CASE WHEN scale = 0
                          THEN list_transform(e, v -> 0)
                          ELSE list_transform(e, v -> greatest(-127, least(127,
                               CAST(floor(v / scale + 0.5) AS INT))))
                     END AS qv
              FROM s
            )
            SELECT vec_id, scale,
                   CAST(list_sum(qv) AS BIGINT) AS q_sum,
                   CAST(list_min(qv) AS INT) AS q_min,
                   CAST(list_max(qv) AS INT) AS q_max
            FROM q
        """,
        "docs_curated": f"""
            WITH bucketed AS (
              SELECT doc_id, text, source,
                     {_h60_sql("'bench|' || CAST(doc_id AS VARCHAR)")} % 1000000 AS __b
              FROM documents
            ), corp AS (
              SELECT * FROM bucketed WHERE __b >= {_BENCH_BUCKETS}
            ), surv_ids AS (
              SELECT min(doc_id) AS doc_id FROM corp
              GROUP BY md5({_NORM_TEXT_SQL})
            ), rep AS (
              SELECT doc_id,
                     CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS top_frac
              FROM (
                SELECT doc_id, ng, count(*) AS cnt
                FROM (SELECT doc_id, unnest({_shingles_sql_n(2)}) AS ng FROM corp)
                GROUP BY 1, 2
              ) GROUP BY doc_id
            ), bench_grams AS (
              SELECT DISTINCT {_h60_sql("shingle")} AS h
              FROM (SELECT unnest(list_distinct({_SHINGLES_SQL})) AS shingle
                    FROM bucketed WHERE __b < {_BENCH_BUCKETS})
            ), contaminated AS (
              SELECT DISTINCT doc_id
              FROM (SELECT doc_id, {_h60_sql("shingle")} AS h
                    FROM (SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS shingle
                          FROM corp)) cg
              WHERE cg.h IN (SELECT h FROM bench_grams)
            )
            SELECT c.doc_id, c.source, {_ws_tok} AS n_tokens, r.top_frac
            FROM corp c
            JOIN surv_ids s ON c.doc_id = s.doc_id
            JOIN rep r ON c.doc_id = r.doc_id
            WHERE {_ws_tok} BETWEEN 20 AND 2000
              AND r.top_frac <= 0.3
              AND c.doc_id NOT IN (SELECT doc_id FROM contaminated)
        """,
        "events_funnel": f"""
            WITH s1 AS (
              SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'signup' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN s1 USING (user_id)
              WHERE e.event_type = 'view' AND e.ts > s1.t1
                AND e.ts <= s1.t1 + INTERVAL '12 hours'
              GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(e.ts) AS t3
              FROM events e JOIN s2 USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                AND e.ts <= s2.t2 + INTERVAL '12 hours'
              GROUP BY e.user_id
            )
            SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
                   CAST(1 + CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END
                          + CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END
                        AS INT) AS steps_completed
            FROM s1
            LEFT JOIN s2 USING (user_id)
            LEFT JOIN s3 USING (user_id)
        """,
        "events_funnel_counts": f"""
            WITH s1 AS (
              SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'signup' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN s1 USING (user_id)
              WHERE e.event_type = 'view' AND e.ts > s1.t1
                AND e.ts <= s1.t1 + INTERVAL '12 hours'
              GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(e.ts) AS t3
              FROM events e JOIN s2 USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                AND e.ts <= s2.t2 + INTERVAL '12 hours'
              GROUP BY e.user_id
            ), n AS (
              SELECT (SELECT count(*) FROM s1) AS n1,
                     (SELECT count(*) FROM s2) AS n2,
                     (SELECT count(*) FROM s3) AS n3
            )
            SELECT 1 AS step_idx, 'signup' AS step, n1 AS n_users,
                   CASE WHEN n1 > 0
                        THEN round(CAST(n1 AS DOUBLE) / n1, 6)
                   END AS frac_of_cohort FROM n
            UNION ALL
            SELECT 2, 'view', n2,
                   CASE WHEN n1 > 0
                        THEN round(CAST(n2 AS DOUBLE) / n1, 6) END FROM n
            UNION ALL
            SELECT 3, 'purchase', n3,
                   CASE WHEN n1 > 0
                        THEN round(CAST(n3 AS DOUBLE) / n1, 6) END FROM n
        """,
        # one SQL body, grain parameterized — the two entries cannot drift
        "events_retention": _retention_sql(grain_days=1),
        "events_retention_weekly": _retention_sql(grain_days=7),
        "events_attribution": """
            WITH p AS (
              SELECT user_id, ts, event_id, value FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
            ), t AS (
              SELECT user_id, ts, event_id AS touch_event_id FROM events
              WHERE event_type = 'click' AND user_id IS NOT NULL
            )
            SELECT p.event_id, p.user_id, p.value,
                   CASE WHEN t.ts >= p.ts - INTERVAL '24 hours'
                        THEN t.touch_event_id END AS touch_event_id,
                   CASE WHEN t.ts >= p.ts - INTERVAL '24 hours'
                        THEN t.ts END AS touch_ts,
                   round(CASE WHEN t.ts >= p.ts - INTERVAL '24 hours'
                              THEN (epoch_us(p.ts) - epoch_us(t.ts))
                                   / 60000000.0 END,
                         6) AS gap_minutes
            FROM p ASOF LEFT JOIN t
              ON p.user_id = t.user_id AND t.ts <= p.ts
        """,
        "q7_nation_volume": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INT) AS l_year,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,6))) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            GROUP BY 1, 2, 3
        """,
        "q10_returned_items": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,6))) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY 1, 2, 3, 4
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        # replays eventlog.debounce_events: lag-gap island detection,
        # cumulative burst ids, burst-head survivor + burst size
        "events_debounce": """
            WITH base AS (
              SELECT event_id, user_id, event_type, ts, value
              FROM events
              WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            ), marked AS (
              SELECT *,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts > lag(ts) OVER w + INTERVAL '60 seconds'
                          THEN 1 ELSE 0 END AS nb
              FROM base
              WINDOW w AS (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id)
            ), isl AS (
              SELECT *,
                     sum(nb) OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS burst
              FROM marked
            ), ranked AS (
              SELECT *,
                     row_number() OVER (
                       PARTITION BY user_id, event_type, burst
                       ORDER BY ts, event_id) AS rn,
                     count(*) OVER (
                       PARTITION BY user_id, event_type, burst)
                       AS burst_size
              FROM isl
            )
            SELECT event_id, user_id, event_type, ts, value,
                   CAST(burst_size AS BIGINT) AS burst_size
            FROM ranked WHERE rn = 1
        """,
        # replays profiling.lift_table: total-order ntile deciles by
        # discount, decimal outcome sums, lift vs base rate, cumulative
        # capture through the bin order
        "lineitem_lift": """
            WITH base AS (
              SELECT l_orderkey * 100 + l_linenumber AS id,
                     l_discount,
                     CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                          AS DECIMAL(18,6)) AS y
              FROM lineitem
              WHERE l_discount IS NOT NULL
            ), binned AS (
              SELECT *, ntile(10) OVER (ORDER BY l_discount DESC, id ASC)
                       AS bin
              FROM base
            ), pb AS (
              SELECT bin, count(*) AS n_rows,
                     CAST(sum(y) AS DECIMAL(18,6)) AS ys
              FROM binned GROUP BY 1
            ), tot AS (
              SELECT CAST(sum(n_rows) AS BIGINT) AS nt,
                     CAST(sum(ys) AS DECIMAL(18,6)) AS yt
              FROM pb
            )
            SELECT bin, n_rows,
                   round(CAST(ys AS DOUBLE), 6) AS outcome_total,
                   round(CAST(ys AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
                     AS outcome_rate,
                   round((CAST(ys AS DOUBLE) / CAST(n_rows AS DOUBLE))
                         / (CAST(yt AS DOUBLE) / CAST(nt AS DOUBLE)), 6)
                     AS lift,
                   round(CAST(CAST(sum(ys) OVER (
                           ORDER BY bin
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                         ) AS DECIMAL(18,6)) AS DOUBLE)
                         / CAST(yt AS DOUBLE), 6) AS cum_capture
            FROM pb CROSS JOIN tot
        """,
        # replays experiment.did_report over hash-assigned 2x2 cells:
        # decimal Σx / Σx² per cell (19,6 product widening), means /
        # sample variance / SE as the same fixed IEEE expressions
        "events_did": """
            WITH units AS (
              SELECT CASE WHEN user_id % 2 = 0 THEN 'treatment'
                          ELSE 'control' END AS grp,
                     CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                          THEN 'pre' ELSE 'post' END AS period,
                     round(CAST(sum(CAST(value AS DECIMAL(18,6)))
                                AS DOUBLE), 6) AS obs
              FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
              GROUP BY user_id,
                       CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                            THEN 'pre' ELSE 'post' END
            ), cells AS (
              SELECT
                sum(CASE WHEN grp='treatment' AND period='pre' THEN 1 ELSE 0 END) AS n_tp,
                sum(CASE WHEN grp='treatment' AND period='pre' THEN CAST(obs AS DECIMAL(18,6)) END) AS s_tp,
                sum(CASE WHEN grp='treatment' AND period='pre' THEN CAST(obs AS DECIMAL(19,6)) * CAST(obs AS DECIMAL(19,6)) END) AS q_tp,
                sum(CASE WHEN grp='treatment' AND period='post' THEN 1 ELSE 0 END) AS n_tq,
                sum(CASE WHEN grp='treatment' AND period='post' THEN CAST(obs AS DECIMAL(18,6)) END) AS s_tq,
                sum(CASE WHEN grp='treatment' AND period='post' THEN CAST(obs AS DECIMAL(19,6)) * CAST(obs AS DECIMAL(19,6)) END) AS q_tq,
                sum(CASE WHEN grp='control' AND period='pre' THEN 1 ELSE 0 END) AS n_cp,
                sum(CASE WHEN grp='control' AND period='pre' THEN CAST(obs AS DECIMAL(18,6)) END) AS s_cp,
                sum(CASE WHEN grp='control' AND period='pre' THEN CAST(obs AS DECIMAL(19,6)) * CAST(obs AS DECIMAL(19,6)) END) AS q_cp,
                sum(CASE WHEN grp='control' AND period='post' THEN 1 ELSE 0 END) AS n_cq,
                sum(CASE WHEN grp='control' AND period='post' THEN CAST(obs AS DECIMAL(18,6)) END) AS s_cq,
                sum(CASE WHEN grp='control' AND period='post' THEN CAST(obs AS DECIMAL(19,6)) * CAST(obs AS DECIMAL(19,6)) END) AS q_cq
              FROM units WHERE obs IS NOT NULL
            )
            SELECT CAST(n_tp AS BIGINT) AS n_treat_pre,
                   CAST(n_tq AS BIGINT) AS n_treat_post,
                   CAST(n_cp AS BIGINT) AS n_ctrl_pre,
                   CAST(n_cq AS BIGINT) AS n_ctrl_post,
                   round(CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE), 6)
                     AS mean_treat_pre,
                   round(CAST(s_tq AS DOUBLE) / CAST(n_tq AS DOUBLE), 6)
                     AS mean_treat_post,
                   round(CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE), 6)
                     AS mean_ctrl_pre,
                   round(CAST(s_cq AS DOUBLE) / CAST(n_cq AS DOUBLE), 6)
                     AS mean_ctrl_post,
                   round((CAST(s_tq AS DOUBLE) / CAST(n_tq AS DOUBLE)
                          - CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE))
                         - (CAST(s_cq AS DOUBLE) / CAST(n_cq AS DOUBLE)
                            - CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE)),
                         6) AS did_estimate,
                   round(sqrt(
                     (CASE WHEN n_tp >= 2 THEN
                       (CAST(q_tp AS DOUBLE)
                        - CAST(s_tp AS DOUBLE) * CAST(s_tp AS DOUBLE)
                          / CAST(n_tp AS DOUBLE))
                       / (CAST(n_tp AS DOUBLE) - 1.0) / CAST(n_tp AS DOUBLE) END)
                     + (CASE WHEN n_tq >= 2 THEN
                       (CAST(q_tq AS DOUBLE)
                        - CAST(s_tq AS DOUBLE) * CAST(s_tq AS DOUBLE)
                          / CAST(n_tq AS DOUBLE))
                       / (CAST(n_tq AS DOUBLE) - 1.0) / CAST(n_tq AS DOUBLE) END)
                     + (CASE WHEN n_cp >= 2 THEN
                       (CAST(q_cp AS DOUBLE)
                        - CAST(s_cp AS DOUBLE) * CAST(s_cp AS DOUBLE)
                          / CAST(n_cp AS DOUBLE))
                       / (CAST(n_cp AS DOUBLE) - 1.0) / CAST(n_cp AS DOUBLE) END)
                     + (CASE WHEN n_cq >= 2 THEN
                       (CAST(q_cq AS DOUBLE)
                        - CAST(s_cq AS DOUBLE) * CAST(s_cq AS DOUBLE)
                          / CAST(n_cq AS DOUBLE))
                       / (CAST(n_cq AS DOUBLE) - 1.0) / CAST(n_cq AS DOUBLE) END)
                   ), 6) AS did_se
            FROM cells
        """,
        # replays timeseries.seasonal_naive_backtest: day-7 row-lag
        # forecast over the observed daily sequence, decimal error sums
        "events_forecast_backtest": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS day,
                     CAST(sum(CAST(value AS DECIMAL(18,6)))
                          AS DECIMAL(18,6)) AS rd
              FROM events WHERE event_type = 'purchase' GROUP BY 1
            ), d2 AS (
              SELECT date_diff('day', DATE '1970-01-01', day) AS dn,
                     round(CAST(rd AS DOUBLE), 6) AS x
              FROM daily
            ), lagged AS (
              SELECT x,
                     lag(x, 7) OVER (ORDER BY dn) AS f,
                     lag(x, 1) OVER (ORDER BY dn) AS n1
              FROM d2
            ), scored AS (
              SELECT * FROM lagged WHERE f IS NOT NULL AND n1 IS NOT NULL
            ), agg AS (
              SELECT count(*) AS n,
                     sum(CAST(abs(x - f) AS DECIMAL(18,6))) AS sae,
                     sum(CAST(x - f AS DECIMAL(19,6))
                         * CAST(x - f AS DECIMAL(19,6))) AS sse,
                     sum(CASE WHEN x <> 0 THEN
                         CAST(abs(x - f) / abs(x) AS DECIMAL(18,6)) END)
                       AS sape,
                     count(CASE WHEN x <> 0 THEN 1 END) AS nape,
                     sum(CAST(abs(x - n1) AS DECIMAL(18,6))) AS sae1
              FROM scored
            )
            SELECT n AS n_scored_days,
                   round(CAST(sae AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mae,
                   round(sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                     AS rmse,
                   round(100.0 * CAST(sape AS DOUBLE) / CAST(nape AS DOUBLE),
                         6) AS mape_pct,
                   round(CAST(sae1 AS DOUBLE) / CAST(n AS DOUBLE), 6)
                     AS naive1_mae,
                   round((CAST(sae AS DOUBLE) / CAST(n AS DOUBLE))
                         / (CAST(sae1 AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                     AS mase_vs_naive1
            FROM agg
        """,
        # replays segmentation.rfm_segments: corpus-max anchor, ntile
        # over total orders (metric + user tiebreak), 6 - tile inversion
        "events_rfm": """
            WITH pu AS (
              SELECT user_id, max(ts) AS last_ts, count(*) AS frequency,
                     sum(CAST(value AS DECIMAL(18,6))) AS m
              FROM events WHERE user_id IS NOT NULL GROUP BY 1
            ), a AS (
              SELECT max(last_ts) AS anchor FROM pu
            ), base AS (
              SELECT user_id,
                     CAST(date_diff('day', CAST(last_ts AS DATE),
                                    CAST(anchor AS DATE)) AS INT)
                       AS recency_days,
                     frequency,
                     round(coalesce(CAST(m AS DOUBLE), 0.0), 6) AS monetary
              FROM pu CROSS JOIN a
            ), s AS (
              SELECT user_id, recency_days, frequency, monetary,
                     CAST(6 - ntile(5) OVER (
                       ORDER BY recency_days ASC, user_id ASC) AS INT)
                       AS r_score,
                     CAST(6 - ntile(5) OVER (
                       ORDER BY frequency DESC, user_id ASC) AS INT)
                       AS f_score,
                     CAST(6 - ntile(5) OVER (
                       ORDER BY monetary DESC, user_id ASC) AS INT)
                       AS m_score
              FROM base
            )
            SELECT user_id, recency_days, frequency, monetary,
                   r_score, f_score, m_score,
                   CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
                     || CAST(m_score AS VARCHAR) AS segment
            FROM s
        """,
        # replays segmentation.abc_classification: decimal cumulative
        # revenue over (total desc, key asc), rounded-share class cuts
        "lineitem_abc": """
            WITH pk AS (
              SELECT l_partkey,
                     CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS t
              FROM lineitem GROUP BY 1
            ), tot AS (
              SELECT CAST(sum(t) AS DECIMAL(18,6)) AS gt FROM pk
            ), c AS (
              SELECT l_partkey,
                     round(CAST(t AS DOUBLE), 6) AS value_total,
                     round(CAST(CAST(sum(t) OVER (
                             ORDER BY t DESC, l_partkey ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS DECIMAL(18,6)) AS DOUBLE)
                           / CAST(gt AS DOUBLE), 6) AS cum_share
              FROM pk CROSS JOIN tot
            )
            SELECT l_partkey, value_total, cum_share,
                   CASE WHEN cum_share <= 0.8 THEN 'A'
                        WHEN cum_share <= 0.95 THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM c
        """,
        # replays graph.triangle_count (compact-forward) over the
        # min-support part co-purchase graph: id-oriented edges, wedges
        # joined on the low corner, closing semi-join, 3x per-node union
        "graph_triangles": """
            WITH e AS (
              SELECT x.l_partkey AS a, y.l_partkey AS b
              FROM lineitem x JOIN lineitem y
                ON x.l_orderkey = y.l_orderkey
               AND x.l_partkey < y.l_partkey
              GROUP BY 1, 2
              HAVING count(DISTINCT x.l_orderkey) >= 2
            ), tri AS (
              SELECT w1.a, w1.b AS x, w2.b AS y
              FROM e w1
              JOIN e w2 ON w1.a = w2.a AND w1.b < w2.b
              JOIN e c ON c.a = w1.b AND c.b = w2.b
            ), nodes AS (
              SELECT a AS node FROM tri
              UNION ALL SELECT x FROM tri
              UNION ALL SELECT y FROM tri
            )
            SELECT node, count(*) AS n_triangles FROM nodes GROUP BY 1
        """,
        # replays graph.link_prediction_jaccard over the same
        # min-support-2 co-purchase edges: co-neighbor pairs via the
        # adjacency self-join, existing edges anti-joined, integer
        # Jaccard with a single final divide, pair-tiebroken top-25.
        # The capped CTE mirrors the operator's max_neighbor_degree
        # hub guard (default 10000): over-degree nodes stop MEDIATING
        # wedges but keep their true degree in deg.
        "graph_link_pred": """
            WITH e AS (
              SELECT x.l_partkey AS a, y.l_partkey AS b
              FROM lineitem x JOIN lineitem y
                ON x.l_orderkey = y.l_orderkey
               AND x.l_partkey < y.l_partkey
              GROUP BY 1, 2
              HAVING count(DISTINCT x.l_orderkey) >= 2
            ), adj AS (
              SELECT a AS n, b AS v FROM e
              UNION ALL SELECT b AS n, a AS v FROM e
            ), deg AS (
              SELECT v, count(*) AS deg FROM adj GROUP BY 1
            ), capped AS (
              SELECT n, v FROM (
                SELECT n, v, count(*) OVER (PARTITION BY n) AS dn
                FROM adj
              ) WHERE dn <= 10000
            ), pairs AS (
              SELECT p.v AS u, q.v AS w, count(*) AS cn
              FROM capped p JOIN capped q ON p.n = q.n AND p.v < q.v
              GROUP BY 1, 2
            ), cand AS (
              SELECT u, w, cn FROM pairs
              WHERE NOT EXISTS (
                SELECT 1 FROM e WHERE e.a = pairs.u AND e.b = pairs.w
              )
            )
            SELECT cand.u AS src, cand.w AS dst,
                   cn AS common_neighbors,
                   du.deg AS degree_src, dw.deg AS degree_dst,
                   round(CAST(cn AS DOUBLE)
                         / CAST(du.deg + dw.deg - cn AS DOUBLE), 6)
                     AS jaccard
            FROM cand
            JOIN deg du ON du.v = cand.u
            JOIN deg dw ON dw.v = cand.w
            ORDER BY jaccard DESC, src ASC, dst ASC
            LIMIT 25
        """,
        # replays corpus.collocations: same normalize+split, adjacency
        # via list_transform over the 1-based index range, word2vec
        # phrase score on exact counts, rounded-score top-k total order
        "docs_collocations": f"""
            WITH w AS (
              SELECT string_split({_NORM_TEXT_SQL}, ' ') AS w
              FROM documents
            ), tok AS (
              SELECT unnest(w) AS t FROM w
            ), tok2 AS (
              SELECT t FROM tok WHERE t <> ''
            ), uni AS (
              SELECT t, count(*) AS n1 FROM tok2 GROUP BY 1
            ), tot AS (
              SELECT count(*) AS nt FROM tok2
            ), bi AS (
              SELECT unnest(list_transform(range(1, len(w)),
                            i -> w[i] || ' ' || w[i+1])) AS bigram
              FROM w WHERE len(w) >= 2
            ), bc AS (
              SELECT bigram, count(*) AS n_pair FROM bi
              GROUP BY 1 HAVING count(*) >= 5
            ), sp AS (
              SELECT bigram, n_pair,
                     string_split(bigram, ' ')[1] AS wa,
                     string_split(bigram, ' ')[2] AS wb
              FROM bc
            )
            SELECT sp.bigram, sp.n_pair, a.n1 AS n_a, b.n1 AS n_b,
                   round((CAST(sp.n_pair AS DOUBLE) - 1.0)
                         * CAST(tot.nt AS DOUBLE)
                         / (CAST(a.n1 AS DOUBLE) * CAST(b.n1 AS DOUBLE)),
                         6) AS score
            FROM sp
            JOIN uni a ON sp.wa = a.t
            JOIN uni b ON sp.wb = b.t
            CROSS JOIN tot
            ORDER BY score DESC, sp.bigram ASC
            LIMIT 50
        """,
        # replays eventlog.multi_touch_attribution (linear): bounded
        # range join + per-conversion count window; credit = 1/n raw in
        # the product, rounded on output (the operator's order)
        "events_attribution_multi": """
            WITH p AS (
              SELECT user_id, ts, event_id, value FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
            ), t AS (
              SELECT user_id, ts, event_id FROM events
              WHERE event_type = 'click' AND user_id IS NOT NULL
            ), j AS (
              SELECT p.event_id AS conversion_id, p.user_id,
                     t.event_id AS touch_event_id, t.ts AS touch_ts,
                     p.value AS conversion_value
              FROM p JOIN t ON p.user_id = t.user_id
                AND t.ts <= p.ts
                AND t.ts >= p.ts - INTERVAL '24 hours'
            )
            SELECT conversion_id, user_id, touch_event_id, touch_ts,
                   conversion_value,
                   round(1.0 / CAST(count(*) OVER (
                           PARTITION BY conversion_id) AS DOUBLE), 6)
                     AS credit,
                   round((1.0 / CAST(count(*) OVER (
                            PARTITION BY conversion_id) AS DOUBLE))
                         * conversion_value, 6) AS credited_value
            FROM j
        """,
        # replays the position-based (0.4, 0.4) variant: rank by
        # (touch_ts, touch_event_id), first/last take 0.4, middle splits
        # 0.2 evenly; n=1 -> 1.0, n=2 -> 0.5/0.5
        "events_attribution_position": """
            WITH p AS (
              SELECT user_id, ts, event_id, value FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
            ), t AS (
              SELECT user_id, ts, event_id FROM events
              WHERE event_type = 'click' AND user_id IS NOT NULL
            ), j AS (
              SELECT p.event_id AS conversion_id, p.user_id,
                     t.event_id AS touch_event_id, t.ts AS touch_ts,
                     p.value AS conversion_value
              FROM p JOIN t ON p.user_id = t.user_id
                AND t.ts <= p.ts
                AND t.ts >= p.ts - INTERVAL '24 hours'
            ), r AS (
              SELECT *,
                     count(*) OVER (PARTITION BY conversion_id) AS n,
                     row_number() OVER (
                       PARTITION BY conversion_id
                       ORDER BY touch_ts ASC, touch_event_id ASC) AS pos
              FROM j
            ), c AS (
              SELECT conversion_id, user_id, touch_event_id,
                     conversion_value,
                     CASE WHEN n = 1 THEN 1.0
                          WHEN n = 2 THEN 0.5
                          WHEN pos = 1 THEN 0.4
                          WHEN pos = n THEN 0.4
                          ELSE 0.19999999999999998
                               / CAST(n - 2 AS DOUBLE) END AS cr
              FROM r
            )
            SELECT conversion_id, user_id, touch_event_id,
                   round(cr, 6) AS credit,
                   round(cr * conversion_value, 6) AS credited_value
            FROM c
        """,
        # replays linkage.candidate_matches: nation-blocked self-join
        # (no block clears 10k rows here, the guard is vacuous),
        # integer Levenshtein
        "customer_dupes": """
            SELECT a.c_nationkey, a.c_custkey AS id_a, b.c_custkey AS id_b,
                   a.c_name AS name_a, b.c_name AS name_b,
                   levenshtein(a.c_name, b.c_name) AS distance
            FROM customer a JOIN customer b
              ON a.c_nationkey = b.c_nationkey
             AND a.c_custkey < b.c_custkey
            WHERE levenshtein(a.c_name, b.c_name) <= 1
        """,
        # replays profiling.profile_drift over the shared CDC snapshots:
        # per-column stats from one aggregate per side; dtype strings
        # are the SPARK type names as literals
        "customer_profile_drift": """
            WITH old AS (
              SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
              WHERE c_custkey % 10 <> 3
            ), new AS (
              SELECT c_custkey,
                     CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 100.0
                          ELSE c_acctbal END AS c_acctbal,
                     c_mktsegment
              FROM customer WHERE c_custkey % 10 <> 7
            ), so AS (
              SELECT count(*) AS n,
                     sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS nk,
                     count(DISTINCT c_custkey) AS dk,
                     sum(CAST(c_custkey AS DECIMAL(18,6))) AS sk,
                     sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS na,
                     count(DISTINCT c_acctbal) AS da,
                     sum(CAST(c_acctbal AS DECIMAL(18,6))) AS sa,
                     sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS nm,
                     count(DISTINCT c_mktsegment) AS dm
              FROM old
            ), sn AS (
              SELECT count(*) AS n,
                     sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS nk,
                     count(DISTINCT c_custkey) AS dk,
                     sum(CAST(c_custkey AS DECIMAL(18,6))) AS sk,
                     sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS na,
                     count(DISTINCT c_acctbal) AS da,
                     sum(CAST(c_acctbal AS DECIMAL(18,6))) AS sa,
                     sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS nm,
                     count(DISTINCT c_mktsegment) AS dm
              FROM new
            )
            SELECT 'c_acctbal' AS "column", 'common' AS status,
                   'double' AS dtype_old, 'double' AS dtype_new,
                   round(CAST(so.na AS DOUBLE) / so.n, 6) AS null_rate_old,
                   round(CAST(sn.na AS DOUBLE) / sn.n, 6) AS null_rate_new,
                   round(round(CAST(sn.na AS DOUBLE) / sn.n, 6)
                         - round(CAST(so.na AS DOUBLE) / so.n, 6), 6)
                     AS null_rate_delta,
                   so.da AS n_distinct_old, sn.da AS n_distinct_new,
                   round(CAST(so.sa AS DOUBLE) / (so.n - so.na), 6)
                     AS mean_old,
                   round(CAST(sn.sa AS DOUBLE) / (sn.n - sn.na), 6)
                     AS mean_new
            FROM so, sn
            UNION ALL
            SELECT 'c_custkey', 'common', 'bigint', 'bigint',
                   round(CAST(so.nk AS DOUBLE) / so.n, 6),
                   round(CAST(sn.nk AS DOUBLE) / sn.n, 6),
                   round(round(CAST(sn.nk AS DOUBLE) / sn.n, 6)
                         - round(CAST(so.nk AS DOUBLE) / so.n, 6), 6),
                   so.dk, sn.dk,
                   round(CAST(so.sk AS DOUBLE) / (so.n - so.nk), 6),
                   round(CAST(sn.sk AS DOUBLE) / (sn.n - sn.nk), 6)
            FROM so, sn
            UNION ALL
            SELECT 'c_mktsegment', 'common', 'string', 'string',
                   round(CAST(so.nm AS DOUBLE) / so.n, 6),
                   round(CAST(sn.nm AS DOUBLE) / sn.n, 6),
                   round(round(CAST(sn.nm AS DOUBLE) / sn.n, 6)
                         - round(CAST(so.nm AS DOUBLE) / so.n, 6), 6),
                   so.dm, sn.dm,
                   NULL, NULL
            FROM so, sn
        """,
        # replays timeseries.ewma_daily: same weight literals (repr
        # round-trip of the Python doubles), same left-to-right term
        # order, lag windows over the observed daily sequence
        "events_ewma": _ewma_sql(_EWMA_ALPHA, _EWMA_LAGS),
        # replays retention.cohort_ltv: decimal through period sum AND
        # cumulative window, floor-offset bucketing (the retention idiom)
        "events_cohort_ltv": """
            WITH ud AS (
              SELECT user_id AS u, CAST(ts AS DATE) AS d,
                     CAST(sum(CAST(value AS DECIMAL(18,6)))
                          AS DECIMAL(18,6)) AS rv
              FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
                AND value IS NOT NULL
              GROUP BY 1, 2
            ), f AS (
              SELECT u, min(d) AS cd FROM ud GROUP BY 1
            ), s AS (
              SELECT cd, count(DISTINCT u) AS cohort_users FROM f GROUP BY 1
            ), j AS (
              SELECT f.cd,
                     CAST(floor(date_diff('day', f.cd, ud.d) / 7.0) AS INT)
                       AS offset_periods,
                     ud.rv
              FROM ud JOIN f USING (u)
            ), pp AS (
              SELECT cd, offset_periods,
                     CAST(sum(rv) AS DECIMAL(18,6)) AS pr
              FROM j GROUP BY 1, 2
            )
            SELECT CAST(pp.cd AS VARCHAR) AS cohort_date,
                   pp.offset_periods, s.cohort_users,
                   round(CAST(pp.pr AS DOUBLE), 6) AS period_revenue,
                   round(CAST(CAST(sum(pp.pr) OVER (
                                PARTITION BY pp.cd ORDER BY pp.offset_periods
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                              ) AS DECIMAL(18,6)) AS DOUBLE)
                         / CAST(s.cohort_users AS DOUBLE), 6)
                     AS ltv_per_user
            FROM pp JOIN s USING (cd)
        """,
        # replays profiling.benford_profile: digit from the decimal
        # string rendering, expected shares as the same double literals
        "lineitem_benford": f"""
            WITH base AS (
              SELECT regexp_extract(
                       CAST(CAST(abs(l_extendedprice) AS DECIMAL(18,6))
                            AS VARCHAR),
                       '[1-9]', 0) AS digit
              FROM lineitem
            ), agg AS (
              SELECT digit, count(*) AS n FROM base
              WHERE digit <> '' GROUP BY 1
            )
            SELECT digit, n,
                   round(CAST(n AS DOUBLE)
                         / CAST(sum(n) OVER () AS DOUBLE), 6) AS share,
                   round({_benford_expected_sql()}, 6) AS benford_share,
                   round(CAST(n AS DOUBLE)
                         / CAST(sum(n) OVER () AS DOUBLE)
                         - {_benford_expected_sql()}, 6) AS deviation
            FROM agg
        """,
        "q13_custdist": """
            WITH per_cust AS (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer
              LEFT JOIN orders ON c_custkey = o_custkey
                AND o_orderpriority <> '1-URGENT'
              GROUP BY 1
            )
            SELECT c_count, count(*) AS custdist
            FROM per_cust GROUP BY 1
        """,
        "q14_promo_share": """
            SELECT round(
                     100.0
                     * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                 THEN l_extendedprice * (1 - l_discount)
                                 ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
                     / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                     AS DECIMAL(18,6))) AS DOUBLE),
                     6) AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        """,
        "q15_top_supplier": """
            WITH rev AS (
              SELECT l_suppkey,
                     CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))) AS DOUBLE)
                       AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
              GROUP BY 1
            )
            SELECT s_suppkey, s_name, round(total_revenue, 6) AS total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        """,
        "q17_small_qty_revenue": """
            WITH lib AS (
              SELECT l_partkey, l_quantity, l_extendedprice
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_brand = 'Brand#11'
            ), aq AS (
              SELECT l_partkey AS pk,
                     CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS avg_q
              FROM lib GROUP BY 1
            )
            SELECT round(
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
                          AS DOUBLE) / 7.0,
                     6) AS avg_yearly
            FROM lib JOIN aq ON l_partkey = pk
            WHERE l_quantity < 0.2 * avg_q
        """,
        "q18_large_orders": """
            WITH big AS (
              SELECT l_orderkey,
                     sum(CAST(l_quantity AS DECIMAL(18,6))) AS sq
              FROM lineitem GROUP BY 1 HAVING sq > 250
            )
            SELECT c_custkey, c_name, o_orderkey,
                   CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
                     AS o_orderdate,
                   o_totalprice,
                   round(CAST(sq AS DOUBLE), 6) AS sum_qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 100
        """,
        "q22_idle_rich": """
            WITH ab AS (
              SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS avg_bal
              FROM customer WHERE c_acctbal > 0
            ), idle AS (
              SELECT c_nationkey, c_acctbal
              FROM customer CROSS JOIN ab
              WHERE c_acctbal > avg_bal
                AND c_custkey NOT IN (
                  SELECT o_custkey FROM orders
                  WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
                )
            )
            SELECT c_nationkey, count(*) AS numcust,
                   round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6)))
                              AS DOUBLE), 6) AS totacctbal
            FROM idle GROUP BY 1
        """,
        "q2_min_cost_supp": """
            WITH eu AS (
              SELECT s_suppkey, s_name, s_acctbal, n_name
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'EUROPE'
            ), ps AS (
              SELECT l_partkey, l_suppkey,
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
                          AS DOUBLE)
                       / CAST(sum(CAST(l_quantity AS DECIMAL(18,6)))
                              AS DOUBLE) AS supplycost
              FROM lineitem GROUP BY 1, 2
            ), cand AS (
              SELECT p_partkey, p_brand, s_acctbal, s_name, n_name,
                     supplycost
              FROM ps
              JOIN part ON l_partkey = p_partkey
              JOIN eu ON l_suppkey = s_suppkey
              WHERE p_type = 'LARGE' AND p_size >= 15
            ), mc AS (
              SELECT p_partkey AS pk, min(supplycost) AS min_c
              FROM cand GROUP BY 1
            )
            SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
                   round(supplycost, 6) AS supplycost
            FROM cand JOIN mc ON p_partkey = pk AND supplycost = min_c
            ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
            LIMIT 100
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
              AND EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND date_diff('day', o_orderdate, l_shipdate) > 90)
            GROUP BY 1
        """,
        "q8_market_share": """
            WITH j AS (
              SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                     l_extendedprice * (1 - l_discount) AS rev,
                     sn.n_name AS supp_nation
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation cn ON c_nationkey = cn.n_nationkey
              JOIN region ON cn.n_regionkey = r_regionkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation sn ON s_nationkey = sn.n_nationkey
              WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
                AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
            )
            SELECT o_year,
                   round(
                     CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_7'
                                   THEN rev ELSE 0 END AS DECIMAL(18,6)))
                          AS DOUBLE)
                     / CAST(sum(CAST(rev AS DECIMAL(18,6))) AS DOUBLE),
                     6) AS mkt_share
            FROM j GROUP BY 1
        """,
        "q9_profit_by_nation": """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INT) AS o_year,
                   round(CAST(sum(CAST(
                       l_extendedprice * (1 - l_discount)
                       - CAST(0.6 AS DOUBLE) * p_retailprice * l_quantity
                       AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE p_name LIKE '%gear%'
            GROUP BY 1, 2
        """,
        "q11_important_stock": """
            WITH eu AS (
              SELECT s_suppkey
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'EUROPE'
            ), per_part AS (
              SELECT l_partkey AS p_partkey,
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
                          AS DOUBLE) AS value
              FROM lineitem JOIN eu ON l_suppkey = s_suppkey
              GROUP BY 1
            ), tot AS (
              SELECT CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS avg_v
              FROM per_part
            )
            SELECT p_partkey, round(value, 6) AS value
            FROM per_part CROSS JOIN tot
            WHERE value > 1.5 * avg_v
            ORDER BY value DESC, p_partkey
        """,
        "q12_delay_priority": """
            WITH j AS (
              SELECT CASE
                       WHEN date_diff('day', o_orderdate, l_shipdate) >= 180
                         THEN 'LATE'
                       WHEN date_diff('day', o_orderdate, l_shipdate) >= 0
                         THEN 'ON_TIME'
                       ELSE 'EARLY'
                     END AS delay_bucket,
                     o_orderpriority IN ('1-URGENT', '2-HIGH') AS h
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
            )
            SELECT delay_bucket,
                   -- BIGINT: DuckDB widens sum(int) to HUGEINT
                   CAST(sum(CASE WHEN h THEN 1 ELSE 0 END) AS BIGINT)
                     AS high_line_count,
                   CAST(sum(CASE WHEN h THEN 0 ELSE 1 END) AS BIGINT)
                     AS low_line_count
            FROM j GROUP BY 1
        """,
        "q16_part_supplier_cnt": """
            WITH rel AS (
              SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
            )
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM rel JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
              AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
              AND l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY 1, 2, 3
        """,
        "q19_brand_revenue": """
            SELECT round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                       AS DECIMAL(18,6))) AS DOUBLE), 6)
                     AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 1 AND 20)
               OR (p_brand = 'Brand#25' AND p_size BETWEEN 5 AND 25
                   AND l_quantity BETWEEN 10 AND 35)
               OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 50
                   AND l_quantity BETWEEN 20 AND 50)
        """,
        "q20_volume_suppliers": """
            WITH pairs AS (
              SELECT l_partkey, l_suppkey,
                     CAST(sum(CAST(l_quantity AS DECIMAL(18,6)))
                          AS DOUBLE) AS pair_qty
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_name LIKE 'red%'
                AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
              GROUP BY 1, 2
            ), tot AS (
              SELECT l_partkey AS pk,
                     CAST(sum(CAST(pair_qty AS DECIMAL(18,6)))
                          AS DOUBLE) AS tq
              FROM pairs GROUP BY 1
            )
            SELECT s_suppkey, s_name
            FROM supplier
            WHERE s_suppkey IN (
              SELECT l_suppkey FROM pairs JOIN tot ON l_partkey = pk
              WHERE pair_qty > 0.25 * tq)
            ORDER BY s_suppkey
        """,
        "q21_waiting_suppliers": """
            WITH lo AS (
              SELECT l_orderkey, l_suppkey,
                     CASE WHEN date_diff('day', o_orderdate, l_shipdate)
                            > 180
                          THEN l_suppkey END AS late_sk
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE o_orderstatus = 'F'
            ), per_order AS (
              SELECT l_orderkey,
                     count(DISTINCT l_suppkey) AS n_supp,
                     count(DISTINCT late_sk) AS n_late,
                     max(late_sk) AS late_supp
              FROM lo GROUP BY 1
            )
            SELECT s_name, count(*) AS numwait
            FROM per_order JOIN supplier ON late_supp = s_suppkey
            WHERE n_supp > 1 AND n_late = 1
            GROUP BY 1
            ORDER BY numwait DESC, s_name
            LIMIT 100
        """,
        "graph_label_prop": """
            WITH base AS (
              SELECT DISTINCT
                     concat('c', CAST(o_custkey AS VARCHAR)) AS src,
                     concat('s', CAST(l_suppkey AS VARCHAR)) AS dst
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            ), e AS (
              SELECT src, dst FROM base
              UNION ALL
              SELECT dst AS src, src AS dst FROM base
            ), l0 AS (
              SELECT DISTINCT src AS node, src AS lbl FROM e
            ), v1 AS (
              SELECT e.src AS node, l.lbl FROM e JOIN l0 l ON e.dst = l.node
              UNION ALL SELECT node, lbl FROM l0
            ), c1 AS (
              SELECT node, lbl, count(*) AS cnt FROM v1 GROUP BY 1, 2
            ), l1 AS (
              SELECT node, lbl FROM (
                SELECT node, lbl, row_number() OVER
                  (PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS rn
                FROM c1) WHERE rn = 1
            ), v2 AS (
              SELECT e.src AS node, l.lbl FROM e JOIN l1 l ON e.dst = l.node
              UNION ALL SELECT node, lbl FROM l1
            ), c2 AS (
              SELECT node, lbl, count(*) AS cnt FROM v2 GROUP BY 1, 2
            ), l2 AS (
              SELECT node, lbl FROM (
                SELECT node, lbl, row_number() OVER
                  (PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS rn
                FROM c2) WHERE rn = 1
            ), v3 AS (
              SELECT e.src AS node, l.lbl FROM e JOIN l2 l ON e.dst = l.node
              UNION ALL SELECT node, lbl FROM l2
            ), c3 AS (
              SELECT node, lbl, count(*) AS cnt FROM v3 GROUP BY 1, 2
            ), l3 AS (
              SELECT node, lbl FROM (
                SELECT node, lbl, row_number() OVER
                  (PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS rn
                FROM c3) WHERE rn = 1
            ), v4 AS (
              SELECT e.src AS node, l.lbl FROM e JOIN l3 l ON e.dst = l.node
              UNION ALL SELECT node, lbl FROM l3
            ), c4 AS (
              SELECT node, lbl, count(*) AS cnt FROM v4 GROUP BY 1, 2
            ), l4 AS (
              SELECT node, lbl FROM (
                SELECT node, lbl, row_number() OVER
                  (PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS rn
                FROM c4) WHERE rn = 1
            )
            SELECT node, lbl AS community FROM l4
        """,
        "parts_also_bought": """
            WITH bi AS (
              SELECT DISTINCT l_orderkey AS b, l_partkey AS i
              FROM lineitem
            ), sz AS (
              SELECT b, i, count(*) OVER (PARTITION BY b) AS n FROM bi
            ), bix AS (
              SELECT b, i FROM sz WHERE n <= 1000
            ), ic AS (
              SELECT i, count(*) AS c FROM bix GROUP BY 1
            ), p AS (
              SELECT a.i AS ia, b2.i AS ib, count(*) AS n_both
              FROM bix a JOIN bix b2 ON a.b = b2.b AND a.i < b2.i
              GROUP BY 1, 2 HAVING count(*) >= 2
            ), sym AS (
              SELECT ia, ib, n_both FROM p
              UNION ALL
              SELECT ib AS ia, ia AS ib, n_both FROM p
            ), sc AS (
              SELECT ia AS item, ib AS neighbor, n_both,
                     round(CAST(n_both AS DOUBLE)
                           / sqrt(CAST(ca.c AS DOUBLE)
                                  * CAST(cb.c AS DOUBLE)), 6) AS cosine
              FROM sym
              JOIN ic ca ON ia = ca.i
              JOIN ic cb ON ib = cb.i
            )
            SELECT item, neighbor, n_both, cosine, rank FROM (
              SELECT item, neighbor, n_both, cosine,
                     CAST(row_number() OVER
                       (PARTITION BY item
                        ORDER BY cosine DESC, neighbor ASC) AS INT) AS rank
              FROM sc)
            WHERE rank <= 3
        """,
        "events_survival": """
            WITH pu AS (
              SELECT user_id, min(ts) AS f, max(ts) AS l
              FROM events WHERE user_id IS NOT NULL GROUP BY 1
            ), mx AS (
              SELECT max(l) AS m FROM pu
            ), subj AS (
              SELECT CAST(date_diff('day', CAST(f AS DATE), CAST(l AS DATE))
                          AS INT) AS t,
                     CASE WHEN l < m - INTERVAL 14 DAY THEN 1 ELSE 0 END AS e
              FROM pu CROSS JOIN mx
            ), per_t AS (
              SELECT t, CAST(sum(e) AS BIGINT) AS n_events,
                     CAST(sum(1 - e) AS BIGINT) AS n_censored,
                     count(*) AS n_at_t
              FROM subj GROUP BY 1
            ), ar AS (
              SELECT t, n_events, n_censored,
                     CAST(sum(n_at_t) OVER
                       (ORDER BY t ROWS BETWEEN CURRENT ROW
                        AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_at_risk
              FROM per_t
            ), hz AS (
              SELECT t, n_at_risk, n_events, n_censored,
                     CAST(n_events AS DOUBLE) / CAST(n_at_risk AS DOUBLE) AS h
              FROM ar
            )
            SELECT t, n_at_risk, n_events, n_censored,
                   round(h, 6) AS hazard,
                   -- log terms quantize to 12dp DECIMAL before the
                   -- cumulative sum (round 11): the Spark side now runs
                   -- the bucketed prefix sum, whose bucket totals add
                   -- out of sequence, so accumulation must be
                   -- order-independent on both engines
                   CASE WHEN max(CASE WHEN h >= 1.0 THEN 1 ELSE 0 END) OVER w
                          = 1 THEN 0.0
                        ELSE round(exp(coalesce(CAST(
                               sum(CASE WHEN h < 1.0 THEN
                                     CAST(round(ln(1.0 - h), 12)
                                          AS DECIMAL(28,12)) END)
                                 OVER w AS DOUBLE), 0.0)), 6)
                   END AS survival,
                   round(CAST(sum(CAST(round(h, 12) AS DECIMAL(28,12)))
                              OVER w AS DOUBLE), 6) AS cum_hazard
            FROM hz
            WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        """,
        "customer_gini": """
            WITH pk AS (
              SELECT o_custkey AS k,
                     sum(CAST(o_totalprice AS DECIMAL(18,6))) AS v
              FROM orders
              WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
              GROUP BY 1
            ), r AS (
              SELECT k, v,
                     row_number() OVER (ORDER BY v ASC, k ASC) AS rn
              FROM pk
            )
            SELECT count(*) AS n_entities,
                   round(CAST(sum(v) AS DOUBLE), 6) AS total,
                   round(
                     (2.0 * CAST(sum(CAST(CAST(rn AS DECIMAL(20,0)) * v
                                          AS DECIMAL(38,6))) AS DOUBLE)
                      - CAST(count(*) + 1 AS DOUBLE)
                        * CAST(sum(v) AS DOUBLE))
                     / (CAST(count(*) AS DOUBLE)
                        * CAST(sum(v) AS DOUBLE)),
                     6) AS gini
            FROM r
        """,
        "events_chi2": """
            WITH u AS (
              SELECT concat('g', CAST(user_id % 3 AS VARCHAR)) AS g,
                     event_type AS o
              FROM events
              WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            ), cells AS (
              SELECT g, o, count(*) AS obs FROM u GROUP BY 1, 2
            ), gm AS (
              SELECT g, CAST(sum(obs) AS BIGINT) AS gt
              FROM cells GROUP BY 1
            ), om AS (
              SELECT o, CAST(sum(obs) AS BIGINT) AS ot
              FROM cells GROUP BY 1
            ), nn AS (
              SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells
            ), grid AS (
              SELECT gm.g, om.o,
                     coalesce(obs, 0) AS obs,
                     CAST(gt AS DOUBLE) * CAST(ot AS DOUBLE)
                       / CAST(n AS DOUBLE) AS e,
                     n
              FROM gm
              CROSS JOIN om
              LEFT JOIN cells ON cells.g = gm.g AND cells.o = om.o
              CROSS JOIN nn
            )
            SELECT CAST(max(n) AS BIGINT) AS n_units,
                   count(DISTINCT g) AS n_groups,
                   count(DISTINCT o) AS n_outcomes,
                   CAST((count(DISTINCT g) - 1) * (count(DISTINCT o) - 1)
                        AS BIGINT) AS dof,
                   round(CAST(sum(CAST(round(
                           (CAST(obs AS DOUBLE) - e)
                           * (CAST(obs AS DOUBLE) - e) / e, 12)
                         AS DECIMAL(28,12))) AS DOUBLE), 6) AS chi2
            FROM grid
        """,
        "events_theilsen": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS day,
                     CAST(sum(CAST(value AS DECIMAL(18,6)))
                          AS DECIMAL(18,6)) AS rd
              FROM events WHERE event_type = 'purchase' GROUP BY 1
            ), d2 AS (
              SELECT date_diff('day', DATE '1970-01-01', day) AS dn, rd
              FROM daily
            ), slopes AS (
              SELECT CAST(b.rd - a.rd AS DOUBLE)
                       / CAST(b.dn - a.dn AS DOUBLE) AS s
              FROM d2 a JOIN d2 b ON a.dn < b.dn
            ), rs AS (
              SELECT s, row_number() OVER (ORDER BY s ASC) AS rn
              FROM slopes
            ), np AS (
              SELECT count(*) AS n FROM slopes
            ), sl AS (
              SELECT sum(s) / CAST(count(*) AS DOUBLE) AS slope
              FROM rs CROSS JOIN np
              WHERE rn IN ((n + 1) // 2, n // 2 + 1)
            ), res AS (
              SELECT CAST(rd AS DOUBLE) - slope * CAST(dn AS DOUBLE) AS r,
                     slope
              FROM d2 CROSS JOIN sl
            ), rr AS (
              SELECT r, slope, row_number() OVER (ORDER BY r ASC) AS rn
              FROM res
            ), nd AS (
              SELECT count(*) AS n FROM d2
            )
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM d2) AS n_days,
                   (SELECT CAST(count(*) AS BIGINT) FROM slopes)
                     AS n_pairs,
                   round(max(slope), 6) AS slope,
                   round(sum(r) / CAST(count(*) AS DOUBLE), 6) AS intercept
            FROM rr CROSS JOIN nd
            WHERE rn IN ((n + 1) // 2, n // 2 + 1)
        """,
        "events_mannwhitney": """
            WITH pu AS (
              SELECT user_id,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS rev
              FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
              GROUP BY 1
            ), u AS (
              SELECT CASE WHEN user_id % 2 = 0 THEN 't' ELSE 'c' END AS g,
                     rev
              FROM pu
            ), pv AS (
              SELECT rev AS val,
                     CAST(sum(CASE WHEN g = 't' THEN 1 ELSE 0 END)
                          AS BIGINT) AS ct,
                     count(*) AS c
              FROM u GROUP BY 1
            ), rk AS (
              SELECT val, ct, c,
                     sum(c) OVER (ORDER BY val ASC ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM pv
            ), m AS (
              SELECT CAST(sum(ct) AS BIGINT) AS n1,
                     CAST(sum(c) - sum(ct) AS BIGINT) AS n2,
                     CAST(sum(CAST(ct AS DECIMAL(38,0))
                              * (2 * cum - c + 1)) AS DOUBLE) AS r2,
                     CAST(sum(CAST(c AS DECIMAL(38,0)) * c * c - c)
                          AS DOUBLE) AS tt
              FROM rk
            ), f AS (
              SELECT n1, n2, r2, tt,
                     CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d
              FROM m
            ), v AS (
              SELECT n1, n2, r2, n1d, n2d,
                     n1d * n2d / 12.0
                       * ((n1d + n2d + 1.0)
                          - tt / ((n1d + n2d) * (n1d + n2d - 1.0)))
                       AS var
              FROM f
            )
            SELECT n1 AS n_treat, n2 AS n_control,
                   CASE WHEN n1 > 0 AND n2 > 0
                        THEN round(r2 / 2.0
                                   - n1d * (n1d + 1.0) / 2.0, 6)
                   END AS u_stat,
                   CASE WHEN n1 > 0 AND n2 > 0 AND var > 0
                        THEN round((r2 / 2.0 - n1d * (n1d + 1.0) / 2.0
                                    - n1d * n2d / 2.0) / sqrt(var), 6)
                   END AS z,
                   CAST(coalesce(
                     abs(CASE WHEN n1 > 0 AND n2 > 0 AND var > 0
                              THEN round((r2 / 2.0
                                          - n1d * (n1d + 1.0) / 2.0
                                          - n1d * n2d / 2.0)
                                         / sqrt(var), 6) END)
                       >= 1.959964, false) AS INT) AS significant
            FROM v
        """,
        # replays operators/selection.py: hashed unigram+bigram features
        # (md5-60 mod 512), add-1-smoothed per-bucket log-likelihood
        # ratio between the en/non-en splits, 9dp-decimal weights.
        "docs_dsir_weights": f"""
            WITH tok AS (
              SELECT doc_id, lang,
                     list_filter(string_split({_NORM_TEXT_SQL}, ' '),
                                 x -> x <> '') AS ws
              FROM documents WHERE text IS NOT NULL
            ), feats AS (
              SELECT doc_id, lang,
                     unnest(ws || CASE WHEN len(ws) >= 2
                       THEN list_transform(
                              generate_series(1, len(ws) - 1),
                              i -> ws[i] || ' ' || ws[i + 1])
                       ELSE [] END) AS f
              FROM tok
            ), b AS (
              SELECT doc_id, lang,
                     CAST(('0x' || substring(md5(f), 1, 15)) AS BIGINT)
                       % 512 AS bucket
              FROM feats
            ), ct AS (
              SELECT bucket, count(*) AS nt FROM b
              WHERE lang = 'en' GROUP BY 1
            ), cr AS (
              SELECT bucket, count(*) AS nr FROM b
              WHERE lang <> 'en' GROUP BY 1
            ), bo AS (
              SELECT coalesce(ct.bucket, cr.bucket) AS bucket,
                     coalesce(nt, 0) AS n_target,
                     coalesce(nr, 0) AS n_raw
              FROM ct FULL OUTER JOIN cr ON ct.bucket = cr.bucket
            )
            SELECT bucket, n_target, n_raw,
                   CAST(CAST(round(
                     ln(n_target + 1.0)
                     - ln(CAST(sum(n_target) OVER () AS DOUBLE) + 512.0)
                     - ln(n_raw + 1.0)
                     + ln(CAST(sum(n_raw) OVER () AS DOUBLE) + 512.0),
                   9) AS DECIMAL(18,9)) AS DOUBLE) AS w
            FROM bo
        """,
        # same model, then per-pool-doc decimal weight sums and the
        # top-50 selection by (score desc, doc_id).
        "docs_dsir": f"""
            WITH tok AS (
              SELECT doc_id, lang,
                     list_filter(string_split({_NORM_TEXT_SQL}, ' '),
                                 x -> x <> '') AS ws
              FROM documents WHERE text IS NOT NULL
            ), feats AS (
              SELECT doc_id, lang,
                     unnest(ws || CASE WHEN len(ws) >= 2
                       THEN list_transform(
                              generate_series(1, len(ws) - 1),
                              i -> ws[i] || ' ' || ws[i + 1])
                       ELSE [] END) AS f
              FROM tok
            ), b AS (
              SELECT doc_id, lang,
                     CAST(('0x' || substring(md5(f), 1, 15)) AS BIGINT)
                       % 512 AS bucket
              FROM feats
            ), ct AS (
              SELECT bucket, count(*) AS nt FROM b
              WHERE lang = 'en' GROUP BY 1
            ), cr AS (
              SELECT bucket, count(*) AS nr FROM b
              WHERE lang <> 'en' GROUP BY 1
            ), bo AS (
              SELECT coalesce(ct.bucket, cr.bucket) AS bucket,
                     coalesce(nt, 0) AS n_target,
                     coalesce(nr, 0) AS n_raw
              FROM ct FULL OUTER JOIN cr ON ct.bucket = cr.bucket
            ), w AS (
              SELECT bucket,
                     CAST(round(
                       ln(n_target + 1.0)
                       - ln(CAST(sum(n_target) OVER () AS DOUBLE) + 512.0)
                       - ln(n_raw + 1.0)
                       + ln(CAST(sum(n_raw) OVER () AS DOUBLE) + 512.0),
                     9) AS DECIMAL(18,9)) AS w
              FROM bo
            ), sc AS (
              SELECT b.doc_id, count(*) AS n_feats,
                     round(CAST(sum(w.w) AS DOUBLE), 6) AS score
              FROM b JOIN w USING (bucket)
              WHERE b.lang <> 'en'
              GROUP BY 1
            )
            SELECT doc_id, n_feats, score,
                   CAST(row_number() OVER (
                     ORDER BY score DESC, doc_id ASC) AS INT) AS rank
            FROM sc
            ORDER BY score DESC, doc_id ASC
            LIMIT 50
        """,
        # replays the dim-recall composition: both top-10s via the
        # simsearch_topk idiom (full vs first-16-dims cosine), then the
        # per-query overlap count.
        "simsearch_dim_recall": """
            WITH fullt AS (
              SELECT query_id, vec_id FROM (
                SELECT q.vec_id AS query_id, e.vec_id,
                       row_number() OVER (
                         PARTITION BY q.vec_id
                         ORDER BY list_cosine_similarity(
                                    CAST(e.embedding AS DOUBLE[]),
                                    CAST(q.embedding AS DOUBLE[])) DESC,
                                  e.vec_id ASC
                       ) AS rnk
                FROM embeddings e,
                     (SELECT vec_id, embedding FROM embeddings
                      WHERE vec_id < 5) q
              ) WHERE rnk <= 10
            ), trunct AS (
              SELECT query_id, vec_id FROM (
                SELECT q.vec_id AS query_id, e.vec_id,
                       row_number() OVER (
                         PARTITION BY q.vec_id
                         ORDER BY list_cosine_similarity(
                                    (CAST(e.embedding AS DOUBLE[]))[1:16],
                                    (CAST(q.embedding AS DOUBLE[]))[1:16])
                                  DESC,
                                  e.vec_id ASC
                       ) AS rnk
                FROM embeddings e,
                     (SELECT vec_id, embedding FROM embeddings
                      WHERE vec_id < 5) q
              ) WHERE rnk <= 10
            ), hits AS (
              SELECT f.query_id, count(*) AS overlap_at_10
              FROM fullt f JOIN trunct t
                ON f.query_id = t.query_id AND f.vec_id = t.vec_id
              GROUP BY 1
            )
            SELECT q.vec_id AS query_id,
                   CAST(coalesce(h.overlap_at_10, 0) AS BIGINT)
                     AS overlap_at_10,
                   round(CAST(coalesce(h.overlap_at_10, 0) AS DOUBLE)
                         / 10.0, 6) AS recall_at_10
            FROM (SELECT vec_id FROM embeddings WHERE vec_id < 5) q
            LEFT JOIN hits h ON h.query_id = q.vec_id
        """,
        # replays funnel.funnel_unordered: per-step conditional mins in
        # one aggregation; least/greatest skip nulls in BOTH engines.
        "events_funnel_unordered": """
            WITH pu AS (
              SELECT user_id,
                     min(CASE WHEN event_type = 'signup' THEN ts END)
                       AS t0,
                     min(CASE WHEN event_type = 'view' THEN ts END)
                       AS t1,
                     min(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS t2
              FROM events
              WHERE event_type IN ('signup', 'view', 'purchase')
                AND user_id IS NOT NULL
              GROUP BY 1
            ), f AS (
              SELECT user_id, t0, t1, t2,
                     least(t0, t1, t2) AS t_first,
                     greatest(t0, t1, t2) AS t_all,
                     (t0 IS NOT NULL AND t1 IS NOT NULL
                      AND t2 IS NOT NULL
                      AND greatest(t0, t1, t2)
                          <= least(t0, t1, t2) + INTERVAL 14 DAY)
                       AS completed
              FROM pu
            )
            SELECT user_id,
                   (CAST(t0 IS NOT NULL AS INT)
                    + CAST(t1 IS NOT NULL AS INT)
                    + CAST(t2 IS NOT NULL AS INT)) AS steps_done,
                   completed,
                   t_first,
                   CASE WHEN completed THEN t_all END AS t_complete
            FROM f
        """,
        # replays graph.k_core: 32 unrolled idempotent peel rounds
        # (== the operator max_rounds, so even a truncated peel matches)
        "graph_kcore": _kcore_sql(k=3, rounds=32),
        # replays retrieval.phrase_search for "table table": zipped
        # positional unnests, consecutive-position EXISTS chain.
        "docs_phrase_search": f"""
            WITH w AS (
              SELECT doc_id, string_split({_NORM_TEXT_SQL}, ' ') AS ws
              FROM documents WHERE text IS NOT NULL
            ), post AS (
              SELECT doc_id, unnest(ws) AS t,
                     unnest(generate_series(1, len(ws))) AS pos
              FROM w
            ), p0 AS (
              SELECT doc_id, pos FROM post WHERE t = 'table'
            ), m AS (
              SELECT p0.doc_id, p0.pos FROM p0
              WHERE EXISTS (
                SELECT 1 FROM post p1
                WHERE p1.doc_id = p0.doc_id AND p1.t = 'table'
                  AND p1.pos - 1 = p0.pos
              )
            )
            SELECT doc_id, count(*) AS n_matches,
                   CAST(min(pos) AS INT) AS first_pos
            FROM m GROUP BY 1
        """,
        # replays operators/layout.zorder_key: integer min-max buckets
        # (pure BIGINT `//`), Morton interleave as the same shift fold.
        "orders_zorder": f"""
            WITH o AS (
              SELECT o_orderkey, o_custkey,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS cents
              FROM orders
            ), r AS (
              SELECT min(o_custkey) AS mn1, max(o_custkey) AS mx1,
                     min(cents) AS mn2, max(cents) AS mx2
              FROM o
            ), b AS (
              SELECT o_orderkey, o_custkey, cents,
                     least(coalesce(
                       ((o_custkey - mn1) * 65536) // (mx1 - mn1 + 1), 0),
                       65535) AS u1,
                     least(coalesce(
                       ((cents - mn2) * 65536) // (mx2 - mn2 + 1), 0),
                       65535) AS u2
              FROM o, r
            )
            SELECT o_orderkey, o_custkey, cents,
                   CAST({_morton_sql(['u1', 'u2'], 16)} AS BIGINT) AS zkey
            FROM b ORDER BY zkey, o_orderkey LIMIT 50
        """,
        # replays operators/experiment.cuped_report: one decimal-moment
        # aggregation, pooled theta from the variant-frame totals,
        # adjusted means/variances expanded algebraically.
        "events_cuped": """
            WITH pu AS (
              SELECT user_id,
                     CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                       THEN CAST(value AS DECIMAL(18,6)) END), 0)
                       AS DOUBLE) AS x,
                     CAST(coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                       THEN CAST(value AS DECIMAL(18,6)) END), 0)
                       AS DOUBLE) AS y
              FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
              GROUP BY 1
            ), u AS (
              SELECT CASE WHEN user_id % 2 = 0 THEN 't' ELSE 'c' END
                       AS variant, x, y
              FROM pu
            ), pv AS (
              SELECT variant, count(*) AS n,
                     sum(CAST(y AS DECIMAL(19,6))) AS sy,
                     sum(CAST(x AS DECIMAL(19,6))) AS sx,
                     sum(CAST(y AS DECIMAL(19,6))
                         * CAST(y AS DECIMAL(19,6))) AS syy,
                     sum(CAST(x AS DECIMAL(19,6))
                         * CAST(x AS DECIMAL(19,6))) AS sxx,
                     sum(CAST(y AS DECIMAL(19,6))
                         * CAST(x AS DECIMAL(19,6))) AS sxy
              FROM u GROUP BY 1
            ), g AS (
              SELECT variant, n,
                     CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd,
                     CAST(syy AS DOUBLE) AS syyd,
                     CAST(sxx AS DOUBLE) AS sxxd,
                     CAST(sxy AS DOUBLE) AS sxyd,
                     CAST(sum(n) OVER () AS DOUBLE) AS tnd,
                     CAST(sum(sy) OVER () AS DOUBLE) AS tsy,
                     CAST(sum(sx) OVER () AS DOUBLE) AS tsx,
                     CAST(sum(sxx) OVER () AS DOUBLE) AS tsxx,
                     CAST(sum(sxy) OVER () AS DOUBLE) AS tsxy
              FROM pv
            ), c1 AS (
              SELECT variant, n,
                     CAST(n AS DOUBLE) AS nd,
                     syd / CAST(n AS DOUBLE) AS my,
                     sxd / CAST(n AS DOUBLE) AS mx,
                     syyd, sxxd, sxyd,
                     CASE WHEN tsxx - tsx * tsx / tnd > 0
                          THEN (tsxy - tsx * tsy / tnd)
                               / (tsxx - tsx * tsx / tnd)
                          ELSE 0.0 END AS theta,
                     tsx / tnd AS xbar
              FROM g
            ), c2 AS (
              SELECT variant, n, my,
                     my - theta * (mx - xbar) AS madj,
                     CASE WHEN n >= 2
                          THEN (syyd - nd * my * my) / (nd - 1.0) END AS vy,
                     CASE WHEN n >= 2
                          THEN greatest(
                               (syyd - nd * my * my) / (nd - 1.0)
                               - 2.0 * theta
                                 * ((sxyd - nd * mx * my) / (nd - 1.0))
                               + theta * theta
                                 * ((sxxd - nd * mx * mx) / (nd - 1.0)),
                               0.0)
                          END AS vadj,
                     nd
              FROM c1
            ), ctrl AS (
              SELECT nd AS ncd, madj AS mc, vadj AS vc
              FROM c2 WHERE variant = 'c'
            ), f AS (
              SELECT c2.variant, c2.n, c2.my, c2.madj, c2.vy, c2.vadj,
                     CASE WHEN c2.variant <> 'c'
                           AND sqrt(c2.vadj / c2.nd + ctrl.vc / ctrl.ncd) > 0
                          THEN round((c2.madj - ctrl.mc)
                               / sqrt(c2.vadj / c2.nd + ctrl.vc / ctrl.ncd), 6)
                          END AS z_adj
              FROM c2 LEFT JOIN ctrl ON TRUE
            )
            SELECT variant, n AS n_units,
                   round(my, 6) AS mean_raw,
                   round(madj, 6) AS mean_adj,
                   z_adj,
                   CASE WHEN vy > 0
                        THEN round(100.0 * (1.0 - vadj / vy), 6)
                        END AS var_reduction_pct,
                   CAST(coalesce(abs(z_adj) >= 1.959964, false) AS INT)
                     AS significant
            FROM f
        """,
        # replays operators/sketch.bloom_build + bloom_probe: k=7 salted
        # md5-60 bit positions mod 4096, distinct-bit filter over the
        # even half, all-bits-set membership for the odd half's users.
        "events_bloom_probe": f"""
            WITH ev AS (
              SELECT event_id, CAST(user_id AS VARCHAR) AS it
              FROM events WHERE user_id IS NOT NULL
            ), js AS (
              SELECT unnest(generate_series(0, 6)) AS j
            ), bits AS (
              SELECT DISTINCT
                     {_h60_sql(
                       "'bf|' || CAST(j AS VARCHAR) || '#' || it"
                     )} % 4096 AS pos
              FROM ev, js WHERE event_id % 2 = 0
            ), probes AS (
              SELECT DISTINCT it FROM ev WHERE event_id % 2 = 1
            ), fan AS (
              SELECT it,
                     {_h60_sql(
                       "'bf|' || CAST(j AS VARCHAR) || '#' || it"
                     )} % 4096 AS pos
              FROM probes, js
            ), look AS (
              SELECT fan.it,
                     count(*) = sum(CASE WHEN bits.pos IS NOT NULL
                                         THEN 1 ELSE 0 END) AS mc
              FROM fan LEFT JOIN bits USING (pos)
              GROUP BY 1
            )
            SELECT CAST(look.it AS BIGINT) AS user_id,
                   mc AS might_contain,
                   CASE WHEN look.it IN (
                     SELECT it FROM ev WHERE event_id % 2 = 0
                   ) THEN 1 ELSE 0 END AS in_build
            FROM look
        """,
        # replays profiling.mad_outliers: exact type-7 medians
        # (quantile_cont parity), two aggregate+join passes, k=3 fences.
        "events_mad_outliers": """
            WITH m AS (
              SELECT event_type, quantile_cont(value, 0.5) AS med
              FROM events GROUP BY 1
            ), d AS (
              SELECT e.event_id, e.event_type, e.value, m.med,
                     abs(e.value - m.med) AS dev
              FROM events e JOIN m USING (event_type)
            ), md AS (
              SELECT event_type, quantile_cont(dev, 0.5) AS mad
              FROM d GROUP BY 1
            )
            SELECT d.event_id, d.event_type, d.value,
                   round(d.med, 6) AS value_med,
                   round(md.mad, 6) AS value_mad
            FROM d JOIN md USING (event_type)
            WHERE d.value IS NOT NULL AND md.mad > 0
              AND abs(d.value - d.med) > 3.0 * md.mad
        """,
        # replays profiling.entropy_report: -p ln p quantized to 12dp
        # decimal per category before the order-independent sum.
        "docs_source_entropy": """
            WITH cat AS (
              SELECT source, lang, count(*) AS c
              FROM documents WHERE lang IS NOT NULL
              GROUP BY 1, 2
            ), wt AS (
              SELECT source, c,
                     sum(c) OVER (PARTITION BY source) AS n
              FROM cat
            ), terms AS (
              SELECT source, CAST(n AS BIGINT) AS n,
                     CAST(round(
                       -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                       * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)),
                     12) AS DECIMAL(28,12)) AS t
              FROM wt
            ), agged AS (
              SELECT source, max(n) AS n_rows,
                     count(*) AS n_categories,
                     CAST(sum(t) AS DOUBLE) AS h
              FROM terms GROUP BY 1
            )
            SELECT source, n_rows, n_categories,
                   round(h, 6) AS entropy,
                   CASE WHEN n_categories > 1 THEN
                     round(h / ln(CAST(n_categories AS DOUBLE)), 6)
                   END AS norm_entropy
            FROM agged
        """,
        # replays operators/selection.lm_train_counts + lm_cross_entropy:
        # hashed-bigram LM on the en split (zipped positional unnests),
        # per-position ln contributions quantized to 9dp decimal.
        "docs_lm_perplexity": f"""
            WITH tok AS (
              SELECT doc_id, lang,
                     list_filter(string_split({_NORM_TEXT_SQL}, ' '),
                                 x -> x <> '') AS ws
              FROM documents WHERE text IS NOT NULL
            ), st AS (
              SELECT doc_id, lang,
                     {_h60_sql("unnest(list_transform("
                       "generate_series(1, len(ws) - 1), i -> ws[i]))")}
                       % 512 AS cb,
                     {_h60_sql("unnest(list_transform("
                       "generate_series(1, len(ws) - 1),"
                       " i -> ws[i] || ' ' || ws[i + 1]))")}
                       % 512 AS bb
              FROM tok WHERE len(ws) >= 2
            ), cc AS (
              SELECT cb AS bucket, count(*) AS n FROM st
              WHERE lang = 'en' GROUP BY 1
            ), bc AS (
              SELECT bb AS bucket, count(*) AS n FROM st
              WHERE lang = 'en' GROUP BY 1
            ), contrib AS (
              SELECT st.doc_id,
                     CAST(round(
                       ln(CAST(coalesce(cc.n, 0) AS DOUBLE) + 512.0)
                       - ln(CAST(coalesce(bc.n, 0) AS DOUBLE) + 1.0),
                     9) AS DECIMAL(18,9)) AS c
              FROM st
              LEFT JOIN cc ON cc.bucket = st.cb
              LEFT JOIN bc ON bc.bucket = st.bb
            )
            SELECT doc_id, count(*) AS n_bigrams,
                   round(CAST(sum(c) AS DOUBLE)
                         / CAST(count(*) AS DOUBLE), 6) AS xent
            FROM contrib GROUP BY 1
        """,
        # replays operators/sketch.cm_sketch + cm_estimate: 4x1024
        # salted-md5 counters over the token stream; exact top-20 probe.
        "docs_cm_heavy_hitters": f"""
            WITH toks AS (
              SELECT unnest(list_filter(
                       string_split({_NORM_TEXT_SQL}, ' '),
                       x -> x <> '')) AS term
              FROM documents WHERE text IS NOT NULL
            ), cnt AS (
              SELECT term, count(*) AS exact_n FROM toks GROUP BY 1
            ), top AS (
              SELECT term, exact_n FROM cnt
              ORDER BY exact_n DESC, term ASC LIMIT 20
            ), cells AS (
              SELECT r,
                     {_h60_sql(
                       "'cm|' || CAST(r AS VARCHAR) || '#' || term"
                     )} % 1024 AS col,
                     count(*) AS n
              FROM toks, (SELECT unnest(generate_series(0, 3)) AS r)
              GROUP BY 1, 2
            ), fan AS (
              SELECT term, r,
                     {_h60_sql(
                       "'cm|' || CAST(r AS VARCHAR) || '#' || term"
                     )} % 1024 AS col
              FROM top, (SELECT unnest(generate_series(0, 3)) AS r)
            ), est AS (
              SELECT fan.term,
                     CAST(min(coalesce(cells.n, 0)) AS BIGINT) AS cm_est
              FROM fan LEFT JOIN cells
                ON cells.r = fan.r AND cells.col = fan.col
              GROUP BY 1
            )
            SELECT top.term, top.exact_n, est.cm_est
            FROM top JOIN est USING (term)
        """,
        # replays operators/experiment.ks_test_report: ECDF gap as the
        # exact integer |cum1*n2 - cum2*n1| until the final divide.
        "events_ks_test": """
            WITH pu AS (
              SELECT user_id,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS rev
              FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
              GROUP BY 1
            ), u AS (
              SELECT CASE WHEN user_id % 2 = 0 THEN 't' ELSE 'c' END AS g,
                     rev
              FROM pu
            ), pv AS (
              SELECT rev AS val,
                     CAST(sum(CASE WHEN g = 't' THEN 1 ELSE 0 END)
                          AS BIGINT) AS ct,
                     count(*) AS c
              FROM u GROUP BY 1
            ), rk AS (
              SELECT CAST(sum(ct) OVER w AS BIGINT) AS cum1,
                     CAST(sum(c) OVER w - sum(ct) OVER w AS BIGINT) AS cum2,
                     CAST(sum(ct) OVER () AS BIGINT) AS n1,
                     CAST(sum(c) OVER () - sum(ct) OVER () AS BIGINT) AS n2
              FROM pv
              WINDOW w AS (ORDER BY val ASC ROWS BETWEEN
                           UNBOUNDED PRECEDING AND CURRENT ROW)
            ), m AS (
              SELECT max(n1) AS n1, max(n2) AS n2,
                     CAST(max(abs(CAST(cum1 AS DECIMAL(38,0)) * n2
                                  - CAST(cum2 AS DECIMAL(38,0)) * n1))
                          AS DOUBLE) AS dnum
              FROM rk
            ), f AS (
              SELECT n1, n2,
                     CASE WHEN n1 > 0 AND n2 > 0 THEN
                       round(dnum / (CAST(n1 AS DOUBLE) * n2), 6)
                     END AS d_stat,
                     CASE WHEN n1 > 0 AND n2 > 0 THEN
                       round(1.358102 * sqrt(
                         (CAST(n1 AS DOUBLE) + n2)
                         / (CAST(n1 AS DOUBLE) * n2)), 6)
                     END AS d_crit
              FROM m
            )
            SELECT n1 AS n_treat, n2 AS n_control, d_stat, d_crit,
                   CAST(coalesce(d_stat > d_crit, false) AS INT)
                     AS significant
            FROM f
        """,
        # replays operators/groupstats.jarque_bera_report: exact
        # decimal s1/s2, 12dp-quantized per-row cubic/quartic double
        # terms, raw-to-central identities in the operator's IEEE order
        "lineitem_jarque_bera": """
            WITH b AS (
              SELECT round(CAST(l_extendedprice AS DOUBLE), 6) AS x
              FROM lineitem WHERE l_extendedprice IS NOT NULL
            ), m AS (
              SELECT count(*) AS n,
                     sum(CAST(x AS DECIMAL(18,6))) AS s1,
                     sum(CAST(CAST(x AS DECIMAL(19,6))
                              * CAST(x AS DECIMAL(18,6))
                              AS DECIMAL(38,12))) AS s2,
                     sum(CAST(round(x * x * x, 12)
                              AS DECIMAL(38,12))) AS s3,
                     sum(CAST(round(x * x * x * x, 12)
                              AS DECIMAL(38,12))) AS s4
              FROM b
            ), c AS (
              SELECT n,
                     CAST(n AS DOUBLE) AS nd,
                     CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                     CAST(s2 AS DOUBLE) AS s2d,
                     CAST(s3 AS DOUBLE) AS s3d,
                     CAST(s4 AS DOUBLE) AS s4d
              FROM m
            ), mm AS (
              SELECT n, nd,
                     s2d / nd - mean * mean AS m2,
                     s3d / nd - 3.0 * mean * (s2d / nd)
                       + 2.0 * mean * mean * mean AS m3,
                     s4d / nd - 4.0 * mean * (s3d / nd)
                       + 6.0 * mean * mean * (s2d / nd)
                       - 3.0 * mean * mean * mean * mean AS m4
              FROM c
            ), z AS (
              SELECT n, nd,
                     CASE WHEN n >= 3 AND m2 > 0
                          THEN m3 / sqrt(m2 * m2 * m2) END AS skew,
                     CASE WHEN n >= 3 AND m2 > 0
                          THEN m4 / (m2 * m2) - 3.0 END AS kurt
              FROM mm
            ), f AS (
              SELECT n, skew, kurt,
                     nd / 6.0 * (skew * skew + kurt * kurt / 4.0) AS jb
              FROM z
            )
            SELECT CAST(n AS BIGINT) AS n_values,
                   round(skew, 6) + 0.0 AS skewness,
                   round(kurt, 6) + 0.0 AS kurtosis_excess,
                   round(jb, 6) AS jb_stat,
                   5.991465 AS jb_crit_05,
                   CAST(coalesce(round(jb, 6) > 5.991465, false) AS INT)
                     AS significant
            FROM f
        """,
        # replays operators/groupstats.moods_median_test: type-7 pooled
        # median by row_number (the exact_quantiles oracle pattern),
        # 2xk above/not-above chi-square, Wilson-Hilferty critical
        "events_mood_median": """
            WITH pu AS (
              SELECT CAST(user_id % 3 AS VARCHAR) AS g,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS v
              FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
              GROUP BY user_id
            ), b AS (
              SELECT g, v FROM pu
              WHERE v IS NOT NULL AND NOT isnan(v)
            ), nn AS (
              SELECT count(*) AS n FROM b
            ), r AS (
              SELECT v, row_number() OVER (ORDER BY v) AS rn FROM b
            ), hh AS (
              SELECT n, (CAST(n AS DOUBLE) - 1.0) * 0.5 + 1.0 AS h
              FROM nn
            ), med AS (
              SELECT round(CAST(rl.v AS DOUBLE)
                           + (hh.h - floor(hh.h))
                             * (CAST(rh.v AS DOUBLE)
                                - CAST(rl.v AS DOUBLE)), 6) AS med
              FROM hh
              JOIN r rl ON rl.rn = CAST(floor(hh.h) AS BIGINT)
              JOIN r rh ON rh.rn = CAST(ceil(hh.h) AS BIGINT)
            ), perg AS (
              SELECT g, count(*) AS ng,
                     CAST(sum(CASE WHEN CAST(v AS DOUBLE) > med.med
                              THEN 1 ELSE 0 END) AS BIGINT) AS ag,
                     max(med.med) AS medv
              FROM b CROSS JOIN med GROUP BY g
            ), tot AS (
              SELECT CAST(sum(ng) AS BIGINT) AS N,
                     CAST(sum(ag) AS BIGINT) AS A,
                     count(*) AS k, max(medv) AS gm
              FROM perg
            ), terms AS (
              SELECT tot.N, tot.A, tot.k, tot.gm,
                     CAST(ng AS DOUBLE)
                       * (CAST(A AS DOUBLE) / CAST(N AS DOUBLE)) AS ea,
                     CAST(ng AS DOUBLE)
                       * (1.0 - CAST(A AS DOUBLE) / CAST(N AS DOUBLE))
                       AS eb,
                     CAST(ag AS DOUBLE) AS oa,
                     CAST(ng - ag AS DOUBLE) AS ob
              FROM perg CROSS JOIN tot
            ), s AS (
              SELECT max(N) AS n, max(k) AS k, max(gm) AS gm,
                     max(A) AS a,
                     CAST(sum(CAST(round((oa - ea) * (oa - ea) / ea
                                         + (ob - eb) * (ob - eb) / eb,
                                         12) AS DECIMAL(38,12)))
                          AS DOUBLE) AS chi2
              FROM terms
            ), z AS (
              SELECT n, k, gm, chi2,
                     CAST(k - 1 AS INT) AS dof,
                     CAST(k - 1 AS DOUBLE) AS dd,
                     k >= 2 AND a > 0 AND a < n AS ok
              FROM s
            ), w AS (
              SELECT n, k, gm, dof, ok,
                     CASE WHEN ok THEN chi2 END AS chi2,
                     1.0 - 2.0 / (9.0 * dd)
                       + 1.644854 * sqrt(2.0 / (9.0 * dd)) AS wh,
                     dd
              FROM z
            )
            SELECT CAST(n AS BIGINT) AS n_units,
                   CAST(k AS BIGINT) AS n_groups,
                   gm AS grand_median,
                   round(chi2, 6) AS chi2,
                   dof,
                   round(CASE WHEN k >= 2
                         THEN dd * wh * wh * wh END, 6)
                     AS chi2_crit_05,
                   CAST(coalesce(round(chi2, 6)
                                 > round(dd * wh * wh * wh, 6), false)
                        AS INT) AS significant
            FROM w
        """,
        # replays operators/groupstats.anderson_darling_ksample: the
        # Scholz-Stephens midrank A2 over the dense (group x pooled
        # value) grid with exact-integer doubled midranks, and the
        # sigma_N harmonic constants from a row_number index frame
        # (same 15dp-decimal quantized sums as the spark.range path);
        # k = 3 cohorts, so the Spark side's Python-computed k
        # literals are written out (k-1 = 2.0, k^2 = 9.0, 8k = 24.0,
        # 4k = 12.0) and crit = 1.645 + 0.678/sqrt(2) - 0.362/2
        # rounds to 1.943418
        "events_anderson": """
            WITH pu AS (
              SELECT CAST(user_id % 3 AS VARCHAR) AS g,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS v
              FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
              GROUP BY user_id
            ), cells AS (
              SELECT g, v, count(*) AS f FROM pu
              WHERE v IS NOT NULL AND NOT isnan(v)
              GROUP BY 1, 2
            ), nn AS (
              SELECT CAST(sum(f) AS BIGINT) AS N FROM cells
            ), pooled AS (
              SELECT v, CAST(sum(f) AS BIGINT) AS h FROM cells GROUP BY 1
            ), pcum AS (
              SELECT v, h,
                     CAST(sum(h) OVER (ORDER BY v ASC ROWS BETWEEN
                          UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS hcum
              FROM pooled
            ), grps AS (
              SELECT DISTINCT g FROM cells
            ), dense AS (
              SELECT grps.g, pooled.v, coalesce(cells.f, 0) AS f
              FROM pooled CROSS JOIN grps
              LEFT JOIN cells
                ON cells.g = grps.g AND cells.v = pooled.v
            ), gcum AS (
              SELECT g, v, f,
                     CAST(sum(f) OVER (PARTITION BY g ORDER BY v ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND
                          CURRENT ROW) AS BIGINT) AS fcum
              FROM dense
            ), ni AS (
              SELECT g, CAST(sum(f) AS BIGINT) AS n_i FROM cells
              GROUP BY 1
            ), terms AS (
              SELECT gcum.g, ni.n_i,
                     CAST(pcum.h AS DOUBLE) AS hd,
                     CAST(nn.N AS DOUBLE) AS nd,
                     CAST(CAST(nn.N AS DECIMAL(18,0))
                            * CAST(2 * gcum.fcum - gcum.f
                                   AS DECIMAL(19,0))
                          - CAST(ni.n_i AS DECIMAL(18,0))
                            * CAST(2 * pcum.hcum - pcum.h
                                   AS DECIMAL(19,0)) AS DOUBLE) AS num,
                     CAST(CAST(2 * pcum.hcum - pcum.h AS DECIMAL(19,0))
                            * CAST(2 * nn.N - (2 * pcum.hcum - pcum.h)
                                   AS DECIMAL(19,0))
                          - CAST(nn.N AS DECIMAL(18,0))
                            * CAST(pcum.h AS DECIMAL(19,0))
                          AS DOUBLE) AS den4
              FROM gcum
              JOIN pcum ON gcum.v = pcum.v
              JOIN ni ON ni.g = gcum.g
              CROSS JOIN nn
            ), perg AS (
              SELECT g, max(n_i) AS n_i,
                     CAST(sum(CAST(round(hd * num * num / (nd * den4),
                                         12) AS DECIMAL(38,12)))
                          AS DOUBLE) AS si
              FROM terms GROUP BY 1
            ), a2r AS (
              SELECT CAST(sum(CAST(round(si / CAST(n_i AS DOUBLE), 12)
                                   AS DECIMAL(38,12))) AS DOUBLE)
                       * ((CAST(nn.N AS DOUBLE) - 1.0)
                          / CAST(nn.N AS DOUBLE)) AS a2
              FROM perg CROSS JOIN nn GROUP BY nn.N
            ), iframe AS (
              SELECT row_number() OVER () AS i FROM pu
            ), hseq AS (
              SELECT i, CAST(round(1.0 / CAST(i AS DOUBLE), 15)
                             AS DECIMAL(38,15)) AS t
              FROM iframe WHERE i < (SELECT N FROM nn)
            ), hcum2 AS (
              SELECT i, sum(t) OVER (ORDER BY i ASC ROWS BETWEEN
                     UNBOUNDED PRECEDING AND CURRENT ROW) AS ht
              FROM hseq
            ), hrow AS (
              SELECT CAST(max(ht) AS DOUBLE) AS hc FROM hcum2
            ), grow AS (
              SELECT CAST(sum(CAST(round(
                       (1.0 / CAST(u.i AS DOUBLE))
                       * (hrow.hc - CAST(h2.ht AS DOUBLE)), 15)
                       AS DECIMAL(38,15))) AS DOUBLE) AS gc
              FROM hcum2 u
              JOIN hcum2 h2 ON h2.i = (SELECT N FROM nn) - u.i
              CROSS JOIN hrow
              WHERE u.i >= 2
            ), bigh AS (
              SELECT CAST(sum(CAST(round(1.0 / CAST(n_i AS DOUBLE), 15)
                                   AS DECIMAL(38,15))) AS DOUBLE) AS HH
              FROM ni
            ), fin AS (
              SELECT a2, hc, gc, HH, CAST(nn.N AS DOUBLE) AS nd, nn.N
              FROM a2r CROSS JOIN hrow CROSS JOIN grow
              CROSS JOIN bigh CROSS JOIN nn
            ), abcd AS (
              SELECT a2, nd, N,
                     (4.0 * gc - 6.0) * 2.0 + (10.0 - 6.0 * gc) * HH
                       AS ca,
                     (2.0 * gc - 4.0) * 9.0 + 24.0 * hc
                       + (2.0 * gc - 14.0 * hc - 4.0) * HH
                       - 8.0 * hc + 4.0 * gc - 6.0 AS cb,
                     (6.0 * hc + 2.0 * gc - 2.0) * 9.0
                       + (4.0 * hc - 4.0 * gc + 6.0) * 3.0
                       + (2.0 * hc - 6.0) * HH + 4.0 * hc AS cc,
                     (2.0 * hc + 6.0) * 9.0 - 12.0 * hc AS cd
              FROM fin
            ), sig AS (
              SELECT a2, N,
                     (ca * (nd * nd * nd) + cb * (nd * nd)
                      + cc * nd + cd)
                     / ((nd - 1.0) * (nd - 2.0) * (nd - 3.0)) AS ss
              FROM abcd
            ), z AS (
              SELECT a2, N,
                     CASE WHEN ss > 0 THEN sqrt(ss) END AS sigma
              FROM sig
            )
            SELECT CAST(N AS BIGINT) AS n_units,
                   CAST(3 AS INT) AS n_groups,
                   round(a2, 6) AS a2_stat,
                   round(sigma, 6) AS sigma,
                   round((a2 - 2.0) / sigma, 6) + 0.0 AS t_stat,
                   1.943418 AS t_crit_05,
                   CAST(coalesce(round((a2 - 2.0) / sigma, 6)
                                 > 1.943418, false) AS INT)
                     AS significant
            FROM z
        """,
        # replays operators/experiment.cvm_test_report: squared-ECDF-
        # gap integral at the pooled distinct-value grain, 12dp-decimal
        # per-value terms, Anderson's exact moments, omega-square-scale
        # adjustment — every expression in the operator's IEEE order
        "events_cvm": """
            WITH pu AS (
              SELECT user_id,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS rev
              FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
              GROUP BY 1
            ), u AS (
              SELECT CASE WHEN user_id % 2 = 0 THEN 't' ELSE 'c' END AS g,
                     rev
              FROM pu
            ), pv AS (
              SELECT rev AS val,
                     CAST(sum(CASE WHEN g = 't' THEN 1 ELSE 0 END)
                          AS BIGINT) AS ct,
                     count(*) AS c
              FROM u GROUP BY 1
            ), rk AS (
              SELECT c,
                     CAST(sum(ct) OVER w AS BIGINT) AS cum1,
                     CAST(sum(c) OVER w - sum(ct) OVER w AS BIGINT)
                       AS cum2,
                     CAST(sum(ct) OVER () AS BIGINT) AS n1,
                     CAST(sum(c) OVER () - sum(ct) OVER () AS BIGINT)
                       AS n2
              FROM pv
              WINDOW w AS (ORDER BY val ASC ROWS BETWEEN
                           UNBOUNDED PRECEDING AND CURRENT ROW)
            ), g AS (
              SELECT c, n1, n2,
                     CAST(CAST(cum1 AS DECIMAL(38,0)) * n2
                          - CAST(cum2 AS DECIMAL(38,0)) * n1 AS DOUBLE)
                       / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                       AS gap
              FROM rk
            ), m AS (
              SELECT max(n1) AS n1, max(n2) AS n2,
                     CAST(sum(CAST(round(CAST(c AS DOUBLE) * gap * gap,
                                         12) AS DECIMAL(38,12)))
                          AS DOUBLE) AS s
              FROM g
            ), f AS (
              SELECT n1, n2,
                     CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
                     CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) AS nn,
                     s
              FROM m
            ), z AS (
              SELECT n1, n2,
                     CASE WHEN n1 > 0 AND n2 > 0
                          THEN n1d * n2d / (nn * nn) * s END AS t,
                     (1.0 + 1.0 / nn) / 6.0 AS et,
                     (nn + 1.0)
                       * (4.0 * n1d * n2d * nn
                          - 3.0 * (n1d * n1d + n2d * n2d)
                          - 2.0 * n1d * n2d)
                       / (45.0 * nn * nn * 4.0 * n1d * n2d) AS vt
              FROM f
            ), w2 AS (
              SELECT n1, n2, t,
                     CASE WHEN n1 > 0 AND n2 > 0 AND vt > 0
                          THEN round((1.0 / 6.0)
                               + (t - et) * sqrt((1.0 / 45.0) / vt), 6)
                               + 0.0
                     END AS t_adj
              FROM z
            )
            SELECT n1 AS n_treat, n2 AS n_control,
                   round(t, 6) AS t_stat, t_adj,
                   CAST(coalesce(t_adj > 0.461249, false) AS INT)
                     AS significant
            FROM w2
        """,
        # replays operators/experiment.bootstrap_mean_ci: md5-60-derived
        # Poisson(1) weights per (user, replicate), decimal weighted
        # sums, rank-selected bounds. The lo/hi probability literals
        # replay the operator's own IEEE expressions (module constants).
        "events_bootstrap_ci": f"""
            WITH pu AS (
              SELECT user_id,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS rev
              FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
              GROUP BY 1
            ), rep AS (
              SELECT user_id, rev, r,
                     CAST({_h60_sql(
                       "'bs|' || CAST(user_id AS VARCHAR) || '#'"
                       " || CAST(r AS VARCHAR)"
                     )} AS DOUBLE) / 1152921504606846976.0 AS u
              FROM pu, (SELECT unnest(generate_series(1, {_BS_NBOOT}))
                        AS r)
            ), wtd AS (
              SELECT r, rev, {_pois_w_sql("u")} AS w FROM rep
            ), mr AS (
              SELECT r,
                     round(CAST(sum(CAST(rev AS DECIMAL(28,6)) * w)
                                AS DOUBLE)
                           / CAST(sum(w) AS DOUBLE), 9) AS m
              FROM wtd GROUP BY r
              HAVING sum(w) > 0
            ), rkd AS (
              SELECT m,
                     row_number() OVER (ORDER BY m ASC, r ASC) AS rnk,
                     count(*) OVER () AS nb
              FROM mr
            )
            SELECT
              (SELECT count(*) FROM pu) AS n_units,
              CAST(max(nb) AS INT) AS n_boot,
              (SELECT round(CAST(sum(CAST(rev AS DECIMAL(28,6)))
                                 AS DOUBLE)
                            / CAST(count(*) AS DOUBLE), 6)
               FROM pu) AS mean,
              round(max(CASE WHEN rnk = greatest(1,
                  CAST(ceil(nb * {_BS_LO_P!r}) AS INT)) THEN m END), 6)
                AS ci_lo,
              round(max(CASE WHEN rnk = least(CAST(nb AS INT),
                  CAST(ceil(nb * {_BS_HI_P!r}) AS INT)) THEN m END), 6)
                AS ci_hi
            FROM rkd
        """,
        "events_daily_ma": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS day,
                     sum(CAST(value AS DECIMAL(18,6))) AS rev
              FROM events WHERE event_type = 'purchase' GROUP BY 1
            ), d2 AS (
              SELECT day, rev,
                     date_diff('day', DATE '1970-01-01', day) AS dn
              FROM daily
            )
            SELECT CAST(day AS VARCHAR) AS day,
                   round(CAST(rev AS DOUBLE), 6) AS revenue,
                   round(CAST(sum(rev) OVER w AS DOUBLE)
                         / CAST(count(*) OVER w AS DOUBLE), 6) AS ma7
            FROM d2
            WINDOW w AS (ORDER BY dn RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        """,
        # replays timeseries.detect_anomalies: decimal window moments,
        # var = (s2 - n*mean^2)/(n-1) in the same IEEE expression shape
        "events_anomaly": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS day,
                     CAST(sum(CAST(value AS DECIMAL(18,6)))
                          AS DECIMAL(18,6)) AS rd
              FROM events WHERE event_type = 'purchase' GROUP BY 1
            ), d2 AS (
              SELECT day, rd,
                     date_diff('day', DATE '1970-01-01', day) AS dn
              FROM daily
            ), m AS (
              SELECT day, rd,
                     CAST(count(*) OVER w AS DOUBLE) AS n,
                     CAST(sum(rd) OVER w AS DOUBLE) AS s,
                     -- one operand widened: DuckDB does not auto-grow
                     -- the product precision the way Spark does
                     CAST(sum(CAST(rd AS DECIMAL(19,6)) * rd) OVER w
                          AS DOUBLE) AS s2
              FROM d2
              WINDOW w AS (ORDER BY dn RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
            ), calc AS (
              SELECT day, CAST(rd AS DOUBLE) AS r, n, s, s2,
                     (s2 - n * (s / n) * (s / n)) / (n - 1.0) AS var
              FROM m
            ), z AS (
              SELECT day, r, n, s,
                     round((r - s / n)
                           / (CASE WHEN var > 0 THEN sqrt(var) END), 6) AS zz
              FROM calc
            )
            SELECT CAST(day AS VARCHAR) AS day,
                   round(r, 6) AS revenue,
                   CASE WHEN n >= 2 THEN round(s / n, 6) END AS trailing_mean,
                   CASE WHEN n >= 2 THEN zz END AS z_score,
                   CAST(coalesce(CASE WHEN n >= 2 THEN abs(zz) >= 2.0 END,
                                 false) AS INT) AS is_anomaly
            FROM z
        """,
        # replays experiment.ab_test_report over the parity-split users:
        # exact integer counts, fixed IEEE z expression, rounded BEFORE
        # the significance compare (like the engine)
        "events_ab_test": """
            WITH units AS (
              SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
                       AS variant,
                     CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                        THEN 1 ELSE 0 END) >= 15
                          THEN 1 ELSE 0 END AS converted
              FROM events WHERE user_id IS NOT NULL GROUP BY user_id
            ), pv AS (
              SELECT variant, count(*) AS n_units,
                     CAST(sum(CASE WHEN converted > 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_converted
              FROM units GROUP BY 1
            ), ctrl AS (
              SELECT n_units AS nc, n_converted AS xc FROM pv
              WHERE variant = 'A'
            ), calc AS (
              SELECT variant, n_units, n_converted,
                     CAST(n_units AS DOUBLE) AS nv,
                     CAST(n_converted AS DOUBLE) AS xv,
                     CAST(nc AS DOUBLE) AS ncd, CAST(xc AS DOUBLE) AS xcd
              FROM pv CROSS JOIN ctrl
            ), zed AS (
              SELECT variant, n_units, n_converted,
                     round(xv / nv, 6) AS rate,
                     round(
                       CASE WHEN variant <> 'A'
                             AND sqrt(((xv + xcd) / (nv + ncd))
                                      * (1.0 - (xv + xcd) / (nv + ncd))
                                      * (1.0 / nv + 1.0 / ncd)) > 0
                            THEN (xv / nv - xcd / ncd)
                                 / sqrt(((xv + xcd) / (nv + ncd))
                                        * (1.0 - (xv + xcd) / (nv + ncd))
                                        * (1.0 / nv + 1.0 / ncd)) END,
                       6) AS z_vs_control
              FROM calc
            )
            SELECT variant, n_units, n_converted, rate, z_vs_control,
                   CAST(coalesce(abs(z_vs_control) >= 1.959964, false)
                        AS INT) AS significant
            FROM zed
        """,
        # replays profiling.winsorize: type-7 quantile fences per group,
        # least/greatest clamp (null guard explicit — both engines'
        # least/greatest SKIP nulls)
        "lineitem_winsorized": """
            WITH fences AS (
              SELECT l_returnflag,
                     quantile_cont(l_extendedprice, 0.05) AS lo,
                     quantile_cont(l_extendedprice, 0.95) AS hi
              FROM lineitem GROUP BY 1
            )
            SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
                   l.l_extendedprice,
                   round(CASE WHEN l.l_extendedprice IS NOT NULL
                              THEN least(greatest(l.l_extendedprice, f.lo),
                                         f.hi) END,
                         6) AS price_w
            FROM lineitem l LEFT JOIN fences f
              ON l.l_returnflag = f.l_returnflag
        """,
        "lineitem_quantiles": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
                   round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
                   round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
                   round(quantile_cont(l_extendedprice, 0.95), 6) AS p95
            FROM lineitem GROUP BY l_returnflag
        """,
        # replays eventlog.transition_matrix: lead over (user, ts,
        # event_id), terminal 'end', prob = exact-int division in double
        "events_transitions": """
            WITH base AS (
              SELECT user_id, event_type, ts, event_id FROM events
              WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            ), p AS (
              SELECT event_type AS from_type,
                     coalesce(lead(event_type) OVER
                              (PARTITION BY user_id ORDER BY ts, event_id),
                              'end') AS to_type
              FROM base
            ), c AS (
              SELECT from_type, to_type, count(*) AS n_transitions
              FROM p GROUP BY 1, 2
            )
            SELECT from_type, to_type, n_transitions,
                   round(CAST(n_transitions AS DOUBLE)
                         / CAST(sum(n_transitions) OVER
                                (PARTITION BY from_type) AS DOUBLE),
                         6) AS prob
            FROM c
        """,
        # replays eventlog.top_paths: one lead chain per window, complete
        # windows only, (count desc, path asc) total-order cutoff
        "events_paths": """
            WITH base AS (
              SELECT user_id, event_type, ts, event_id FROM events
              WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            ), p AS (
              SELECT event_type AS s0,
                     lead(event_type, 1) OVER w AS s1,
                     lead(event_type, 2) OVER w AS s2
              FROM base
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT s0 || '>' || s1 || '>' || s2 AS path,
                   count(*) AS n_paths
            FROM p WHERE s2 IS NOT NULL
            GROUP BY 1
            ORDER BY n_paths DESC, path ASC
            LIMIT 20
        """,
        # replays eventlog.scd2_from_log: rn=1 OR IS DISTINCT FROM gaps
        # and islands, interval close-off over the change points
        "events_scd2": """
            WITH base AS (
              SELECT user_id, event_type, ts, event_id FROM events
              WHERE user_id IS NOT NULL
            ), m AS (
              SELECT user_id, event_type, ts, event_id,
                     row_number() OVER w AS rn,
                     lag(event_type) OVER w AS prev
              FROM base
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), chg AS (
              SELECT user_id, event_type, ts, event_id FROM m
              WHERE rn = 1 OR event_type IS DISTINCT FROM prev
            )
            SELECT user_id, event_type,
                   ts AS effective_from,
                   lead(ts) OVER w2 AS effective_to,
                   CAST(row_number() OVER w2 AS INT) AS version,
                   CAST(lead(ts) OVER w2 IS NULL AS INT) AS is_current
            FROM chg
            WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        # replays profiling.trend_lines: decimal moments per group, the
        # same IEEE closed-form slope/intercept/r2 expressions
        "lineitem_trend": """
            WITH f AS (
              SELECT l_returnflag, l_quantity AS x, l_extendedprice AS y
              FROM lineitem
              WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
            ), s AS (
              SELECT l_returnflag, count(*) AS n,
                     CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                     CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
                     CAST(sum(CAST(x AS DECIMAL(19,6))
                              * CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
                     CAST(sum(CAST(y AS DECIMAL(19,6))
                              * CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS syy,
                     CAST(sum(CAST(x AS DECIMAL(19,6))
                              * CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sxy
              FROM f GROUP BY 1
            ), c AS (
              SELECT l_returnflag, n,
                     CAST(n AS DOUBLE) AS nd, sx, sy, sxx, syy, sxy
              FROM s
            ), e AS (
              SELECT l_returnflag, n, nd, sx, sy, sxx, syy, sxy,
                     CASE WHEN nd * sxx - sx * sx > 0
                          THEN (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
                          END AS slope
              FROM c
            )
            SELECT l_returnflag, n,
                   round(slope, 6) AS slope,
                   round((sy - slope * sx) / nd, 6) AS intercept,
                   round(CASE WHEN nd * sxx - sx * sx > 0
                               AND nd * syy - sy * sy > 0
                              THEN ((nd * sxy - sx * sy)
                                    * (nd * sxy - sx * sy))
                                   / ((nd * sxx - sx * sx)
                                      * (nd * syy - sy * sy)) END,
                         6) AS r2
            FROM e
        """,
        # replays windows.session_stats over the sessionize CTE: exact
        # long span sums, one division on the totals
        "events_session_stats": """
            WITH marked AS (
              SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w >= INTERVAL '30 minutes'
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), sess AS (
              SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
              FROM marked
            ), sessions AS (
              SELECT user_id, min(ts) AS session_start,
                     max(ts) + INTERVAL '30 minutes' AS session_end,
                     count(*) AS n_events
              FROM sess GROUP BY user_id, sid
            )
            SELECT count(*) AS n_sessions,
                   count(DISTINCT user_id) AS n_users,
                   round(CAST(sum(n_events) AS DOUBLE)
                         / CAST(count(*) AS DOUBLE), 6)
                     AS avg_events_per_session,
                   round(CAST(sum(epoch_us(session_end)
                                  - epoch_us(session_start)) AS DOUBLE)
                         / CAST(count(*) AS DOUBLE) / 60000000.0 - 30.0,
                         6) AS avg_span_minutes,
                   round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                              AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                     AS bounce_rate
            FROM sessions
        """,
        # replays funnel.funnel_lag_stats over the funnel CTEs: exact
        # long micro sums for the mean; percentiles on the SAME per-user
        # minute doubles (double-cast before the division)
        "events_funnel_lags": """
            WITH s1 AS (
              SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'signup' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN s1 USING (user_id)
              WHERE e.event_type = 'view' AND e.ts > s1.t1
                AND e.ts <= s1.t1 + INTERVAL '12 hours'
              GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(e.ts) AS t3
              FROM events e JOIN s2 USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                AND e.ts <= s2.t2 + INTERVAL '12 hours'
              GROUP BY e.user_id
            ), f AS (
              SELECT s1.user_id, s1.t1, s2.t2, s3.t3
              FROM s1 LEFT JOIN s2 USING (user_id)
                      LEFT JOIN s3 USING (user_id)
            )
            SELECT 'signup' AS step_from, 'view' AS step_to,
                   count(t2) AS n_converted,
                   round(CAST(sum(epoch_us(t2) - epoch_us(t1)) AS DOUBLE)
                         / CAST(count(t2) AS DOUBLE) / 60000000.0, 6)
                     AS mean_minutes,
                   round(quantile_cont(CAST(epoch_us(t2) - epoch_us(t1)
                                            AS DOUBLE) / 60000000.0, 0.5),
                         6) AS p50_minutes,
                   round(quantile_cont(CAST(epoch_us(t2) - epoch_us(t1)
                                            AS DOUBLE) / 60000000.0, 0.9),
                         6) AS p90_minutes
            FROM f
            UNION ALL
            SELECT 'view', 'purchase',
                   count(t3),
                   round(CAST(sum(epoch_us(t3) - epoch_us(t2)) AS DOUBLE)
                         / CAST(count(t3) AS DOUBLE) / 60000000.0, 6),
                   round(quantile_cont(CAST(epoch_us(t3) - epoch_us(t2)
                                            AS DOUBLE) / 60000000.0, 0.5),
                         6),
                   round(quantile_cont(CAST(epoch_us(t3) - epoch_us(t2)
                                            AS DOUBLE) / 60000000.0, 0.9),
                         6)
            FROM f
        """,
        # replays eventlog.dau_mau: the MAU contribution explode (each
        # user-day feeds the next 28 days), trailing window bounded at
        # the data's max day
        "events_dau_mau": """
            WITH ud AS (
              SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
              FROM events WHERE user_id IS NOT NULL
            ), b AS (
              SELECT max(day) AS dmax FROM ud
            ), dau AS (
              SELECT day, count(DISTINCT u) AS dau FROM ud GROUP BY 1
            ), contrib AS (
              SELECT u,
                     CAST(unnest(generate_series(day,
                                                 day + INTERVAL 27 DAY,
                                                 INTERVAL 1 DAY))
                          AS DATE) AS day
              FROM ud
            ), mau AS (
              SELECT c.day, count(DISTINCT c.u) AS mau
              FROM contrib c CROSS JOIN b
              WHERE c.day <= b.dmax GROUP BY 1
            )
            SELECT CAST(d.day AS VARCHAR) AS day, d.dau, m.mau,
                   round(CAST(d.dau AS DOUBLE) / CAST(m.mau AS DOUBLE), 6)
                     AS stickiness
            FROM dau d JOIN mau m ON d.day = m.day
        """,
        # replays basket.association_rules: distinct (basket, item),
        # mega-basket guard, Apriori item prefilter, within-basket
        # self-join, directional support/confidence/lift
        "basket_rules": """
            WITH bi AS (
              SELECT DISTINCT l_orderkey AS b, l_partkey AS i
              FROM lineitem
              WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
            ), ok AS (
              SELECT b FROM bi GROUP BY b HAVING count(*) <= 1000
            ), bix AS (
              SELECT bi.b, bi.i FROM bi JOIN ok ON bi.b = ok.b
            ), nb AS (
              SELECT count(DISTINCT b) AS n FROM bix
            ), icnt AS (
              SELECT i, count(*) AS ic FROM bix GROUP BY 1
            ), freq AS (
              SELECT i, ic FROM icnt CROSS JOIN nb
              WHERE CAST(ic AS DOUBLE) >= 0.0002 * CAST(n AS DOUBLE)
            ), bif AS (
              SELECT bix.b, bix.i FROM bix JOIN freq ON bix.i = freq.i
            ), pairs AS (
              SELECT x.i AS ia, y.i AS ib, count(*) AS pn
              FROM bif x JOIN bif y ON x.b = y.b AND x.i < y.i
              GROUP BY 1, 2
            ), directional AS (
              SELECT ia AS antecedent, ib AS consequent, pn FROM pairs
              UNION ALL
              SELECT ib AS antecedent, ia AS consequent, pn FROM pairs
            )
            SELECT d.antecedent, d.consequent, d.pn AS pair_n,
                   round(CAST(d.pn AS DOUBLE) / CAST(n AS DOUBLE), 6)
                     AS support,
                   round(CAST(d.pn AS DOUBLE) / CAST(fa.ic AS DOUBLE), 6)
                     AS confidence,
                   round((CAST(d.pn AS DOUBLE) / CAST(fa.ic AS DOUBLE))
                         / (CAST(fb.ic AS DOUBLE) / CAST(n AS DOUBLE)),
                         6) AS lift
            FROM directional d
            JOIN freq fa ON d.antecedent = fa.i
            JOIN freq fb ON d.consequent = fb.i
            CROSS JOIN nb
            WHERE CAST(d.pn AS DOUBLE) >= 0.0002 * CAST(n AS DOUBLE)
        """,
        # replays basket.association_rules3: the prunes (frequent-pair
        # semi-join, Apriori closure) are support-monotone, so the
        # oracle counts triples directly from frequent-item baskets and
        # thresholds once at the end — same result, simpler SQL
        "basket_rules3": """
            WITH bi AS (
              SELECT DISTINCT l_orderkey AS b, l_partkey AS i
              FROM lineitem
              WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
            ), ok AS (
              SELECT b FROM bi GROUP BY b HAVING count(*) <= 1000
            ), bix AS (
              SELECT bi.b, bi.i FROM bi JOIN ok ON bi.b = ok.b
            ), nb AS (
              SELECT count(DISTINCT b) AS n FROM bix
            ), icnt AS (
              SELECT i, count(*) AS ic FROM bix GROUP BY 1
            ), freq AS (
              SELECT i, ic FROM icnt CROSS JOIN nb
              WHERE CAST(ic AS DOUBLE) >= 0.00013 * CAST(n AS DOUBLE)
            ), bif AS (
              SELECT bix.b, bix.i FROM bix JOIN freq ON bix.i = freq.i
            ), pairs AS (
              SELECT x.i AS ia, y.i AS ib, count(*) AS pn
              FROM bif x JOIN bif y ON x.b = y.b AND x.i < y.i
              GROUP BY 1, 2
            ), triples AS (
              SELECT x.i AS ia, y.i AS ib, z.i AS ic3, count(*) AS tn
              FROM bif x
              JOIN bif y ON x.b = y.b AND x.i < y.i
              JOIN bif z ON y.b = z.b AND y.i < z.i
              GROUP BY 1, 2, 3
            ), ft AS (
              SELECT ia, ib, ic3, tn, n FROM triples CROSS JOIN nb
              WHERE CAST(tn AS DOUBLE) >= 0.00013 * CAST(n AS DOUBLE)
            ), rules AS (
              SELECT ib AS a1, ic3 AS a2, ia AS cq, tn, n FROM ft
              UNION ALL
              SELECT ia AS a1, ic3 AS a2, ib AS cq, tn, n FROM ft
              UNION ALL
              SELECT ia AS a1, ib AS a2, ic3 AS cq, tn, n FROM ft
            )
            SELECT r.a1 AS antecedent_1, r.a2 AS antecedent_2,
                   r.cq AS consequent, r.tn AS triple_n,
                   round(CAST(r.tn AS DOUBLE) / CAST(r.n AS DOUBLE), 6)
                     AS support,
                   round(CAST(r.tn AS DOUBLE) / CAST(p.pn AS DOUBLE), 6)
                     AS confidence,
                   round((CAST(r.tn AS DOUBLE) / CAST(p.pn AS DOUBLE))
                         / (CAST(f.ic AS DOUBLE) / CAST(r.n AS DOUBLE)),
                         6) AS lift
            FROM rules r
            JOIN pairs p ON r.a1 = p.ia AND r.a2 = p.ib
            JOIN freq f ON r.cq = f.i
        """,
        # replays profiling.target_encode: decimal category sums, LOO
        # (cs - y)/(cn - 1), deterministic fallbacks to prior/cat mean
        "lineitem_target_encoded": """
            WITH pc AS (
              SELECT l_returnflag,
                     sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS cs,
                     count(CASE WHEN l_extendedprice IS NOT NULL
                                THEN 1 END) AS cn
              FROM lineitem GROUP BY 1
            ), pr AS (
              SELECT sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS gs,
                     count(CASE WHEN l_extendedprice IS NOT NULL
                                THEN 1 END) AS gn
              FROM lineitem
            )
            SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
                   l.l_extendedprice,
                   round(
                     CASE WHEN l.l_returnflag IS NULL
                            OR coalesce(pc.cn, 0) = 0
                          THEN CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)
                          WHEN l.l_extendedprice IS NULL
                          THEN CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE)
                          WHEN pc.cn = 1
                          THEN CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)
                          ELSE (CAST(cs AS DOUBLE) - l.l_extendedprice)
                               / (CAST(cn AS DOUBLE) - 1.0) END,
                     6) AS l_returnflag_te
            FROM lineitem l
            LEFT JOIN pc ON l.l_returnflag = pc.l_returnflag
            CROSS JOIN pr
        """,
        # replays eventlog.rolling_user_features: shared entity-keyed
        # RANGE windows over the day-grain rollup; DuckDB window sums of
        # BIGINT widen — cast back
        "events_rolling_features": """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                     count(*) AS n,
                     CAST(sum(CAST(value AS DECIMAL(18,6)))
                          AS DECIMAL(18,6)) AS dv
              FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
            ), d2 AS (
              SELECT *, date_diff('day', DATE '1970-01-01', day) AS dn
              FROM daily
            )
            SELECT user_id, CAST(day AS VARCHAR) AS day,
                   CAST(sum(n) OVER w7 AS BIGINT) AS n_events_7d,
                   round(CAST(sum(dv) OVER w7 AS DOUBLE), 6) AS value_7d,
                   CAST(count(*) OVER w7 AS BIGINT) AS days_active_7d,
                   CAST(sum(n) OVER w30 AS BIGINT) AS n_events_30d,
                   round(CAST(sum(dv) OVER w30 AS DOUBLE), 6) AS value_30d,
                   CAST(count(*) OVER w30 AS BIGINT) AS days_active_30d
            FROM d2
            WINDOW w7 AS (PARTITION BY user_id ORDER BY dn
                          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW),
                   w30 AS (PARTITION BY user_id ORDER BY dn
                           RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
        """,
        # replays timeseries.detect_level_shift: same IEEE moment shapes
        # as events_anomaly; drifts quantized to DECIMAL(18,6) so the
        # prefix sums are segment-tree-order-independent; CUSUM via
        # prefix - running-min (the closed form of the recursion)
        "events_cusum": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS day,
                     CAST(sum(CAST(value AS DECIMAL(18,6)))
                          AS DECIMAL(18,6)) AS rd
              FROM events WHERE event_type = 'purchase' GROUP BY 1
            ), d2 AS (
              SELECT day, rd,
                     date_diff('day', DATE '1970-01-01', day) AS dn
              FROM daily
            ), st AS (
              SELECT CAST(count(*) AS DOUBLE) AS n,
                     CAST(sum(rd) AS DOUBLE) AS s,
                     CAST(sum(CAST(rd AS DECIMAL(19,6)) * rd) AS DOUBLE)
                       AS s2
              FROM d2
            ), m AS (
              SELECT day, dn, CAST(rd AS DOUBLE) AS x, n, s, s2,
                     CASE WHEN (s2 - n * (s / n) * (s / n)) / (n - 1.0) > 0
                          THEN sqrt((s2 - n * (s / n) * (s / n))
                                    / (n - 1.0)) END AS sd
              FROM d2 CROSS JOIN st
            ), dr AS (
              SELECT day, dn, x, 4.0 * sd AS h,
                     CAST(round(x - s / n - 0.5 * sd, 6)
                          AS DECIMAL(18,6)) AS du,
                     CAST(round(s / n - x - 0.5 * sd, 6)
                          AS DECIMAL(18,6)) AS dd
              FROM m
            ), p AS (
              SELECT day, x, h,
                     sum(du) OVER wc AS pu,
                     sum(dd) OVER wc AS pd
              FROM dr
              WINDOW wc AS (ORDER BY dn
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)
            ), f AS (
              SELECT day, x, h,
                     CAST(pu - least(CAST(0 AS DECIMAL(18,6)),
                                     min(pu) OVER wc) AS DOUBLE) AS cu,
                     CAST(pd - least(CAST(0 AS DECIMAL(18,6)),
                                     min(pd) OVER wc) AS DOUBLE) AS cd
              FROM p
              WINDOW wc AS (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)
            )
            SELECT CAST(day AS VARCHAR) AS day,
                   round(x, 6) AS revenue,
                   round(cu, 6) AS cusum_up,
                   round(cd, 6) AS cusum_down,
                   CAST(coalesce(round(cu, 6) > h, false) AS INT)
                     AS shift_up,
                   CAST(coalesce(round(cd, 6) > h, false) AS INT)
                     AS shift_down
            FROM f
        """,
        # replays eventlog.gapfill_daily: decimal day totals,
        # generate_series calendar, IGNORE NULLS forward fill
        "events_gapfill": """
            WITH daily AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                     count(*) AS n_events,
                     CAST(sum(CAST(value AS DECIMAL(18,6)))
                          AS DECIMAL(18,6)) AS dv
              FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
            ), span AS (
              SELECT user_id, min(day) AS d0, max(day) AS d1
              FROM daily GROUP BY 1
            ), cal AS (
              SELECT user_id,
                     CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                          AS DATE) AS day
              FROM span
            ), j AS (
              SELECT c.user_id, c.day, d.n_events, d.dv
              FROM cal c LEFT JOIN daily d
                ON c.user_id = d.user_id AND c.day = d.day
            )
            SELECT user_id, CAST(day AS VARCHAR) AS day,
                   coalesce(n_events, 0) AS n_events,
                   CAST(n_events IS NULL AS INT) AS is_gap,
                   round(CAST(dv AS DOUBLE), 6) AS day_value,
                   round(last_value(CAST(dv AS DOUBLE) IGNORE NULLS) OVER
                         (PARTITION BY user_id ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                         6) AS carried_value
            FROM j
        """,
        # replays eventlog.enrich_with_scd2: the scd2 CTE as the
        # dimension, ASOF LEFT JOIN for latest-version-at-or-before,
        # interval validity mask nulling past-the-interval matches
        "events_scd2_enrich": """
            WITH base AS (
              SELECT user_id, event_type, ts, event_id FROM events
              WHERE user_id IS NOT NULL
            ), m AS (
              SELECT user_id, event_type, ts, event_id,
                     row_number() OVER w AS rn,
                     lag(event_type) OVER w AS prev
              FROM base
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), chg AS (
              SELECT user_id, event_type, ts, event_id FROM m
              WHERE rn = 1 OR event_type IS DISTINCT FROM prev
            ), dim AS (
              SELECT user_id, event_type AS segment,
                     ts AS effective_from,
                     lead(ts) OVER w2 AS effective_to,
                     CAST(row_number() OVER w2 AS INT) AS version
              FROM chg
              WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), p AS (
              SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
            )
            SELECT p.event_id, p.user_id, p.ts, p.value,
                   CASE WHEN d.effective_to IS NULL OR p.ts < d.effective_to
                        THEN d.segment END AS segment,
                   CASE WHEN d.effective_to IS NULL OR p.ts < d.effective_to
                        THEN d.version END AS version
            FROM p ASOF LEFT JOIN dim d
              ON p.user_id = d.user_id AND d.effective_from <= p.ts
        """,
        # replays cdc.snapshot_diff over the derived customer snapshots:
        # full outer join, IS DISTINCT FROM column compares
        "customer_cdc": """
            WITH o AS (
              SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
              WHERE c_custkey % 10 <> 3
            ), n AS (
              SELECT c_custkey,
                     CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 100.0
                          ELSE c_acctbal END AS c_acctbal,
                     c_mktsegment
              FROM customer WHERE c_custkey % 10 <> 7
            ), d AS (
              SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
                     CASE WHEN o.c_custkey IS NULL THEN 'insert'
                          WHEN n.c_custkey IS NULL THEN 'delete'
                          WHEN (o.c_acctbal IS DISTINCT FROM n.c_acctbal)
                            OR (o.c_mktsegment IS DISTINCT FROM
                                n.c_mktsegment) THEN 'update'
                          ELSE 'unchanged' END AS change_type,
                     o.c_acctbal AS old_c_acctbal,
                     o.c_mktsegment AS old_c_mktsegment,
                     n.c_acctbal AS new_c_acctbal,
                     n.c_mktsegment AS new_c_mktsegment
              FROM o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey
            )
            SELECT * FROM d WHERE change_type <> 'unchanged'
        """,
        # replays graph.pagerank, 2 iterations unrolled: teleport spelled
        # (1.0 - 0.85)/n — NOT 0.15/n, a DIFFERENT double — and 12dp
        # decimal contribution quantization for order-independent sums
        "graph_pagerank": """
            WITH raw AS (
              SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                     's' || CAST(l_suppkey AS VARCHAR) AS dst
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            ), e AS (
              SELECT src, dst FROM raw
              UNION ALL SELECT dst AS src, src AS dst FROM raw
            ), nodes AS (
              SELECT DISTINCT node FROM (
                SELECT src AS node FROM e UNION ALL SELECT dst FROM e
              )
            ), deg AS (
              SELECT src, count(*) AS dg FROM e GROUP BY 1
            ), nn AS (
              SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
            ), r0 AS (
              SELECT node, 1.0 / n AS r FROM nodes CROSS JOIN nn
            ), c1 AS (
              SELECT e.dst,
                     CAST(round(r0.r / deg.dg, 12) AS DECIMAL(28,12)) AS c
              FROM r0 JOIN deg ON r0.node = deg.src
                      JOIN e ON e.src = r0.node
            ), s1 AS (
              SELECT dst, sum(c) AS s FROM c1 GROUP BY 1
            ), r1 AS (
              SELECT nodes.node,
                     ((1.0 - 0.85) / n)
                     + 0.85 * coalesce(CAST(s AS DOUBLE), 0.0) AS r
              FROM nodes CROSS JOIN nn LEFT JOIN s1 ON nodes.node = s1.dst
            ), c2 AS (
              SELECT e.dst,
                     CAST(round(r1.r / deg.dg, 12) AS DECIMAL(28,12)) AS c
              FROM r1 JOIN deg ON r1.node = deg.src
                      JOIN e ON e.src = r1.node
            ), s2 AS (
              SELECT dst, sum(c) AS s FROM c2 GROUP BY 1
            ), r2 AS (
              SELECT nodes.node,
                     ((1.0 - 0.85) / n)
                     + 0.85 * coalesce(CAST(s AS DOUBLE), 0.0) AS r
              FROM nodes CROSS JOIN nn LEFT JOIN s2 ON nodes.node = s2.dst
            )
            SELECT node, round(r, 6) AS rank FROM r2
        """,
        # replays sketch.quantile_sketch + sketch_quantiles: bottom-128
        # by salted hash per type, rank-selected p50/p95 (type-1)
        "events_quantile_sketch": f"""
            WITH r AS (
              SELECT event_type,
                     {_h60_sql(
                       "'qs|' || CAST(event_id AS VARCHAR)"
                     )} AS h,
                     CAST(value AS DOUBLE) AS v
              FROM events
              WHERE value IS NOT NULL AND event_id IS NOT NULL
            ), rk AS (
              SELECT event_type, h, v,
                     row_number() OVER (
                       PARTITION BY event_type ORDER BY h ASC) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS cnt
              FROM r
            ), kept AS (
              SELECT event_type, v,
                     least(CAST(cnt AS BIGINT), 128) AS m
              FROM rk WHERE rn <= 128
            ), vr AS (
              SELECT event_type, m, v,
                     row_number() OVER (
                       PARTITION BY event_type ORDER BY v ASC) AS vrn
              FROM kept
            )
            SELECT event_type, m AS n_kept,
                   round(max(CASE WHEN vrn = greatest(1,
                     CAST(ceil(m * 0.5) AS INT)) THEN v END), 6) AS p50,
                   round(max(CASE WHEN vrn = greatest(1,
                     CAST(ceil(m * 0.95) AS INT)) THEN v END), 6) AS p95
            FROM vr GROUP BY 1, 2
        """,
        # replays profiling.skew_report per column (non-null top-n rank)
        "events_skew_report": " UNION ALL ".join(
            _skew_col_sql(c, 10) for c in ["event_type", "user_id", "props"]
        ),
        # replays graph.personalized_pagerank: same unrolled shape as
        # graph_pagerank, restart mass on the 3 seed customers only
        "graph_ppr": """
            WITH raw AS (
              SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                     's' || CAST(l_suppkey AS VARCHAR) AS dst
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            ), e AS (
              SELECT src, dst FROM raw
              UNION ALL SELECT dst AS src, src AS dst FROM raw
            ), nodes AS (
              SELECT node,
                     node IN ('c1', 'c2', 'c3') AS is_seed
              FROM (
                SELECT DISTINCT node FROM (
                  SELECT src AS node FROM e UNION ALL SELECT dst FROM e
                )
              )
            ), deg AS (
              SELECT src, count(*) AS dg FROM e GROUP BY 1
            ), r0 AS (
              SELECT node, is_seed,
                     CASE WHEN is_seed THEN 1.0 / 3 ELSE 0.0 END AS r
              FROM nodes
            ), c1 AS (
              SELECT e.dst,
                     CAST(round(r0.r / deg.dg, 12) AS DECIMAL(28,12)) AS c
              FROM r0 JOIN deg ON r0.node = deg.src
                      JOIN e ON e.src = r0.node
            ), s1 AS (
              SELECT dst, sum(c) AS s FROM c1 GROUP BY 1
            ), r1 AS (
              SELECT nodes.node, nodes.is_seed,
                     (CASE WHEN nodes.is_seed
                           THEN (1.0 - 0.85) / 3 ELSE 0.0 END)
                     + 0.85 * coalesce(CAST(s AS DOUBLE), 0.0) AS r
              FROM nodes LEFT JOIN s1 ON nodes.node = s1.dst
            ), c2 AS (
              SELECT e.dst,
                     CAST(round(r1.r / deg.dg, 12) AS DECIMAL(28,12)) AS c
              FROM r1 JOIN deg ON r1.node = deg.src
                      JOIN e ON e.src = r1.node
            ), s2 AS (
              SELECT dst, sum(c) AS s FROM c2 GROUP BY 1
            ), r2 AS (
              SELECT nodes.node,
                     (CASE WHEN nodes.is_seed
                           THEN (1.0 - 0.85) / 3 ELSE 0.0 END)
                     + 0.85 * coalesce(CAST(s AS DOUBLE), 0.0) AS r
              FROM nodes LEFT JOIN s2 ON nodes.node = s2.dst
            )
            SELECT node, round(r, 6) AS rank FROM r2
        """,
        # replays cdc.scd2_apply over the seeded dimension + the diff:
        # close changed/deleted currents at the merge ts, open new
        # versions at prev+1
        "customer_scd2_apply": """
            WITH o AS (
              SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
              WHERE c_custkey % 10 <> 3
            ), n AS (
              SELECT c_custkey,
                     CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 100.0
                          ELSE c_acctbal END AS c_acctbal,
                     c_mktsegment
              FROM customer WHERE c_custkey % 10 <> 7
            ), ch AS (
              SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
                     CASE WHEN o.c_custkey IS NULL THEN 'insert'
                          WHEN n.c_custkey IS NULL THEN 'delete'
                          WHEN (o.c_acctbal IS DISTINCT FROM n.c_acctbal)
                            OR (o.c_mktsegment IS DISTINCT FROM
                                n.c_mktsegment) THEN 'update'
                          ELSE 'unchanged' END AS change_type,
                     n.c_acctbal AS new_c_acctbal,
                     n.c_mktsegment AS new_c_mktsegment
              FROM o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey
            ), chx AS (
              SELECT * FROM ch WHERE change_type <> 'unchanged'
            ), dim0 AS (
              SELECT c_custkey, c_acctbal, c_mktsegment,
                     TIMESTAMP '2024-01-01 00:00:00' AS effective_from,
                     CAST(NULL AS TIMESTAMP) AS effective_to,
                     1 AS version, 1 AS is_current
              FROM o
            ), closed AS (
              SELECT d.c_custkey, d.c_acctbal, d.c_mktsegment,
                     d.effective_from,
                     CASE WHEN d.is_current = 1
                            AND c.change_type IN ('update', 'delete')
                          THEN TIMESTAMP '2024-06-01 00:00:00'
                          ELSE d.effective_to END AS effective_to,
                     d.version,
                     CASE WHEN d.is_current = 1
                            AND c.change_type IN ('update', 'delete')
                          THEN 0 ELSE d.is_current END AS is_current
              FROM dim0 d LEFT JOIN chx c ON d.c_custkey = c.c_custkey
            ), opened AS (
              SELECT c.c_custkey,
                     c.new_c_acctbal AS c_acctbal,
                     c.new_c_mktsegment AS c_mktsegment,
                     TIMESTAMP '2024-06-01 00:00:00' AS effective_from,
                     CAST(NULL AS TIMESTAMP) AS effective_to,
                     coalesce(v.version, 0) + 1 AS version,
                     1 AS is_current
              FROM chx c LEFT JOIN
                   (SELECT c_custkey, version FROM dim0
                    WHERE is_current = 1) v
                ON c.c_custkey = v.c_custkey
              WHERE c.change_type IN ('insert', 'update')
            )
            SELECT * FROM closed UNION ALL SELECT * FROM opened
        """,
        # replays privacy.k_anonymity_report over (lang, 50-char bucket);
        # the bucket spells the same double division + floor the engine
        # computes (DuckDB bare / on integers is decimal division)
        "privacy_kanon": """
            SELECT lang,
                   CAST(floor(n_chars / 50.0) AS BIGINT) AS len_bucket,
                   count(*) AS group_size,
                   CAST(count(*) >= 5 AS INT) AS anonymous
            FROM documents GROUP BY 1, 2
        """,
        # replays privacy.suppress_quasi on (lang, source), k=3
        "privacy_suppress": """
            WITH m AS (
              SELECT doc_id, lang, source, n_chars,
                     count(*) OVER (PARTITION BY lang, source) AS n
              FROM documents
            )
            SELECT doc_id,
                   CASE WHEN n >= 3 THEN lang END AS lang,
                   CASE WHEN n >= 3 THEN source END AS source,
                   n_chars
            FROM m
        """,
        # replays quality_checks.check_constraints: one metrics CTE,
        # one report row per declared rule (passed compares the ROUNDED
        # fraction, like the engine)
        "docs_quality_checks": """
            WITH m AS (
              SELECT count(*) AS n,
                     count(text) AS m0,
                     count(DISTINCT doc_id) AS m1, count(doc_id) AS m1nn,
                     CAST(min(n_chars) AS DOUBLE) AS m2,
                     CAST(max(n_chars) AS DOUBLE) AS m3,
                     sum(CASE WHEN source IN (__SRCS__)
                         THEN 1 ELSE 0 END) AS m4,
                     count(source) AS m4nn,
                     count(lang) AS m5
              FROM documents
            )
            SELECT 0 AS rule_idx, 'not_null' AS rule, 'text' AS "column",
                   round(CASE WHEN n > 0 THEN CAST(m0 AS DOUBLE) / n
                              ELSE 1.0 END, 6) AS metric,
                   CAST(round(CASE WHEN n > 0 THEN CAST(m0 AS DOUBLE) / n
                              ELSE 1.0 END, 6) >= 0.5 AS INT) AS passed
            FROM m
            UNION ALL
            SELECT 1, 'unique', 'doc_id',
                   round(CASE WHEN m1nn > 0 THEN CAST(m1 AS DOUBLE) / m1nn
                              ELSE 1.0 END, 6),
                   CAST(m1 = m1nn AS INT) FROM m
            UNION ALL
            SELECT 2, 'min', 'n_chars', round(m2, 6),
                   CAST(coalesce(m2 >= 0.0, true) AS INT) FROM m
            UNION ALL
            SELECT 3, 'max', 'n_chars', round(m3, 6),
                   CAST(coalesce(m3 <= 100000.0, true) AS INT) FROM m
            UNION ALL
            SELECT 4, 'in_set', 'source',
                   round(CASE WHEN m4nn > 0
                              THEN CAST(coalesce(m4, 0) AS DOUBLE) / m4nn
                              ELSE 1.0 END, 6),
                   CAST(coalesce(m4, 0) = m4nn AS INT) FROM m
            UNION ALL
            SELECT 5, 'not_null', 'lang',
                   round(CASE WHEN n > 0 THEN CAST(m5 AS DOUBLE) / n
                              ELSE 1.0 END, 6),
                   CAST(round(CASE WHEN n > 0 THEN CAST(m5 AS DOUBLE) / n
                              ELSE 1.0 END, 6) >= 0.99 AS INT) FROM m
        """.replace("__SRCS__", "'src0', 'src1', 'src2', 'src3', 'src4', 'src5', 'src6', 'src7', 'src8', 'src9', 'src10', 'src11', 'src12', 'src13', 'src14', 'src15', 'src16', 'src17', 'src18', 'src19'"),
        # replays chunking.chunk_documents: starts 0,400,800,... while
        # start + overlap < len (start 0 always — greatest(len-100,1)
        # keeps range non-empty for short docs), chunk_id = start //
        # step (derived, no ordinality needed)
        "docs_chunk": """
            SELECT doc_id,
                   CAST(start // 400 AS INT) AS chunk_id,
                   CAST(start AS INT) AS char_start,
                   substr(text, CAST(start AS INT) + 1, 500) AS chunk_text
            FROM (
              SELECT doc_id, text,
                     unnest(range(0, CASE WHEN length(text) > 0
                                          THEN greatest(length(text) - 100, 1)
                                          ELSE 0 END,
                                  400)) AS start
              FROM documents
            )
        """,
        # replays sampling.weighted_take_per_group: A-ES score
        # u^(1/w) over the md5-60 hash-uniform, 12dp-rounded (pow ulp
        # absorption, the docs_mixture_temp precedent), doc_id tiebreak
        "docs_sample_weighted": f"""
            SELECT doc_id, source, weight FROM (
              SELECT doc_id, source,
                     CAST(length(text) AS DOUBLE) AS weight,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY round(
                           pow(CAST({_h60_sql("'|' || CAST(doc_id AS VARCHAR)")} + 1
                                    AS DOUBLE) / 1152921504606846976.0,
                               1.0 / CAST(length(text) AS DOUBLE)),
                           12) DESC,
                         doc_id ASC
                     ) AS rk
              FROM documents
              WHERE length(text) IS NOT NULL
                AND CAST(length(text) AS DOUBLE) > 0
            ) WHERE rk <= 15
        """,
        "docs_sample_prop": f"""
            SELECT doc_id, source, round(p, 6) AS p_keep FROM (
              SELECT doc_id, source,
                     least(1.0, CAST(length(text) AS DOUBLE) / 5000.0) AS p,
                     CAST({_h60_sql("'|' || CAST(doc_id AS VARCHAR)")} AS DOUBLE)
                       / 1152921504606846976.0 AS u
              FROM documents
            ) WHERE u < p
        """,
        # replays sketch.kmv_distinct + kmv_pairwise_overlap: per-type
        # bottom-64 sketches, union sketch per pair, (k-1)*2^60/h_k and
        # the jaccard fraction of the union sketch present in both sides
        "events_audience_overlap": f"""
            WITH h AS (
              SELECT DISTINCT event_type,
                     {_h60_sql("'|' || CAST(user_id AS VARCHAR)")} AS hv
              FROM events WHERE user_id IS NOT NULL
            ), rk AS (
              SELECT event_type, hv,
                     row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
              FROM h
            ), sk AS (
              SELECT event_type, list(hv ORDER BY hv) AS hs
              FROM rk WHERE rn <= {_KMV_OVERLAP_K} GROUP BY event_type
            ), pairs AS (
              SELECT a.event_type AS group_a, b.event_type AS group_b,
                     (list_sort(list_distinct(list_cat(a.hs, b.hs))))
                       [1:{_KMV_OVERLAP_K}] AS u,
                     list_intersect(a.hs, b.hs) AS iab
              FROM sk a JOIN sk b ON a.event_type < b.event_type
            ), m AS (
              SELECT group_a, group_b,
                     len(u) AS nu,
                     CAST(u[len(u)] AS DOUBLE) AS hk,
                     len(list_intersect(u, iab)) AS c
              FROM pairs
            ), est AS (
              SELECT group_a, group_b,
                     CASE WHEN nu < {_KMV_OVERLAP_K} THEN CAST(nu AS DOUBLE)
                          ELSE {_KMV_OVERLAP_K - 1}.0 * 1152921504606846976.0 / hk
                     END AS union_raw,
                     CAST(c AS DOUBLE) / CAST(nu AS DOUBLE) AS jac_raw
              FROM m
            )
            SELECT group_a, group_b,
                   round(union_raw, 6) AS union_est,
                   round(jac_raw * union_raw, 6) AS intersect_est,
                   round(jac_raw, 6) AS jaccard_est
            FROM est
        """,
        # replays operators/sketch.kmv_distinct: distinct md5-60 user
        # hashes per type, bottom-32 by row_number, (k-1)*2^60/h_k
        "events_distinct_kmv": f"""
            WITH h AS (
              SELECT DISTINCT event_type,
                     {_h60_sql("'|' || CAST(user_id AS VARCHAR)")} AS hv
              FROM events WHERE user_id IS NOT NULL
            ), rk AS (
              SELECT event_type, hv,
                     row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
              FROM h
            ), kept AS (
              SELECT event_type,
                     string_agg(CAST(hv AS VARCHAR), ',' ORDER BY hv)
                       AS kmv_hashes,
                     count(*) AS n_kept,
                     max(hv) AS hk
              FROM rk WHERE rn <= {_KMV_K} GROUP BY event_type
            )
            SELECT event_type, kmv_hashes, n_kept,
                   round(CASE WHEN n_kept < {_KMV_K} THEN CAST(n_kept AS DOUBLE)
                              ELSE {_KMV_K - 1}.0 * 1152921504606846976.0
                                   / CAST(hk AS DOUBLE) END,
                         6) AS distinct_est
            FROM kept
        """,
        "docs_curation_report": f"""
            WITH bucketed AS (
              SELECT doc_id, text, source,
                     {_h60_sql("'bench|' || CAST(doc_id AS VARCHAR)")} % 1000000 AS __b
              FROM documents
            ), corp AS (
              SELECT * FROM bucketed WHERE __b >= {_BENCH_BUCKETS}
            ), {_lines_cte("corp")}, cleaned AS (
              SELECT doc_id,
                     coalesce(string_agg(CASE WHEN df < 2 THEN line END,
                                         chr(10) ORDER BY pos), '') AS text
              FROM j GROUP BY doc_id
            ), cleaned_src AS (
              SELECT c.doc_id, c.text, b.source
              FROM cleaned c JOIN corp b USING (doc_id)
            ), fpv AS (
              SELECT doc_id, source, text, md5({_NORM_TEXT_SQL}) AS fp
              FROM cleaned_src
            ), surv AS (
              SELECT fp, min(doc_id) AS keep FROM fpv GROUP BY fp
            ), rep AS (
              SELECT doc_id,
                     CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS top_frac
              FROM (
                SELECT doc_id, ng, count(*) AS cnt
                FROM (SELECT doc_id, unnest({_shingles_sql_n(2)}) AS ng
                      FROM cleaned_src)
                GROUP BY 1, 2
              ) GROUP BY doc_id
            ), bench_grams AS (
              SELECT DISTINCT {_h60_sql("shingle")} AS h
              FROM (SELECT unnest(list_distinct({_SHINGLES_SQL})) AS shingle
                    FROM bucketed WHERE __b < {_BENCH_BUCKETS})
            ), contaminated AS (
              SELECT DISTINCT doc_id
              FROM (SELECT doc_id, {_h60_sql("shingle")} AS h
                    FROM (SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS shingle
                          FROM cleaned_src)) cg
              WHERE cg.h IN (SELECT h FROM bench_grams)
            ), consts AS (
              SELECT {_qwts_sql} AS wl
            ), quality AS (
              SELECT doc_id,
                     round(list_sum(list_transform(ws2,
                             x -> wl[({_h60_sql(f"'{_QUALITY_HSALT}|' || x")}
                                      % {_QUALITY_BUCKETS})::INT + 1]))
                           / len(ws2), 6) AS logit
              FROM (SELECT doc_id, string_split({_NORM_TEXT_SQL}, ' ') AS ws2
                    FROM cleaned_src), consts
            )
            SELECT f.doc_id, f.source,
                   CASE WHEN f.doc_id != s.keep THEN 'exact_dup'
                        WHEN {_ws_tok} < 20 THEN 'too_short'
                        WHEN {_ws_tok} > 2000 THEN 'too_long'
                        WHEN r.top_frac > 0.3 THEN 'repetitive'
                        WHEN f.doc_id IN (SELECT doc_id FROM contaminated)
                          THEN 'contaminated'
                        WHEN q.logit < 0.0 THEN 'low_quality'
                        ELSE 'pass' END AS stage
            FROM fpv f
            JOIN surv s ON s.fp = f.fp
            JOIN rep r ON r.doc_id = f.doc_id
            JOIN quality q ON q.doc_id = f.doc_id
        """,
        "docs_curated2": f"""
            WITH bucketed AS (
              SELECT doc_id, text, source,
                     {_h60_sql("'bench|' || CAST(doc_id AS VARCHAR)")} % 1000000 AS __b
              FROM documents
            ), corp AS (
              SELECT * FROM bucketed WHERE __b >= {_BENCH_BUCKETS}
            ), {_lines_cte("corp")}, cleaned AS (
              SELECT doc_id,
                     coalesce(string_agg(CASE WHEN df < 2 THEN line END,
                                         chr(10) ORDER BY pos), '') AS text
              FROM j GROUP BY doc_id
            ), cleaned_src AS (
              SELECT c.doc_id, c.text, b.source
              FROM cleaned c JOIN corp b USING (doc_id)
            ), surv_ids AS (
              SELECT min(doc_id) AS doc_id FROM cleaned_src
              GROUP BY md5({_NORM_TEXT_SQL})
            ), rep AS (
              SELECT doc_id,
                     CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS top_frac
              FROM (
                SELECT doc_id, ng, count(*) AS cnt
                FROM (SELECT doc_id, unnest({_shingles_sql_n(2)}) AS ng
                      FROM cleaned_src)
                GROUP BY 1, 2
              ) GROUP BY doc_id
            ), bench_grams AS (
              SELECT DISTINCT {_h60_sql("shingle")} AS h
              FROM (SELECT unnest(list_distinct({_SHINGLES_SQL})) AS shingle
                    FROM bucketed WHERE __b < {_BENCH_BUCKETS})
            ), contaminated AS (
              SELECT DISTINCT doc_id
              FROM (SELECT doc_id, {_h60_sql("shingle")} AS h
                    FROM (SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS shingle
                          FROM cleaned_src)) cg
              WHERE cg.h IN (SELECT h FROM bench_grams)
            ), consts AS (
              SELECT {_qwts_sql} AS wl
            ), quality AS (
              SELECT doc_id,
                     round(list_sum(list_transform(ws2,
                             x -> wl[({_h60_sql(f"'{_QUALITY_HSALT}|' || x")}
                                      % {_QUALITY_BUCKETS})::INT + 1]))
                           / len(ws2), 6) AS logit
              FROM (SELECT doc_id, string_split({_NORM_TEXT_SQL}, ' ') AS ws2
                    FROM cleaned_src), consts
            )
            SELECT c.doc_id, c.source, {_ws_tok} AS n_tokens, r.top_frac, q.logit
            FROM cleaned_src c
            JOIN surv_ids s ON c.doc_id = s.doc_id
            JOIN rep r ON c.doc_id = r.doc_id
            JOIN quality q ON c.doc_id = q.doc_id
            WHERE {_ws_tok} BETWEEN 20 AND 2000
              AND r.top_frac <= 0.3
              AND c.doc_id NOT IN (SELECT doc_id FROM contaminated)
              AND q.logit >= 0.0
        """,
        "search_eq": """
            SELECT p_partkey, p_name, p_brand FROM part WHERE p_brand = 'Brand#13'
        """,
        "search_isin": """
            SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        """,
        "search_regex": """
            SELECT p_partkey, p_name FROM part WHERE regexp_matches(p_name, '^small .*')
        """,
        "search_null": """
            SELECT o_orderkey, o_orderstatus FROM orders
            WHERE nullif(o_orderstatus, 'F') IS NULL
        """,
        "search_membership": """
            SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
        """,
        "require_all_on": """
            SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
              AND o_custkey IN (
                SELECT o_custkey FROM orders
                WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
                GROUP BY o_custkey
                HAVING count(DISTINCT o_orderpriority) = 2
              )
        """,
        "groupby_keys": """
            SELECT DISTINCT l_returnflag || '.' || l_linestatus AS key,
                   l_returnflag, l_linestatus
            FROM lineitem
        """,
        "nunique": """
            SELECT count(DISTINCT o_custkey) AS n_custkey,
                   count(DISTINCT o_orderstatus) AS n_orderstatus,
                   count(DISTINCT o_orderpriority) AS n_orderpriority,
                   count(DISTINCT o_orderdate) AS n_orderdate
            FROM orders
        """,
        "unique_flat": """
            SELECT DISTINCT l_returnflag AS value FROM lineitem
        """,
        "union_dedup": """
            SELECT p_partkey, p_brand, p_size FROM part WHERE p_brand = 'Brand#13'
            UNION
            SELECT p_partkey, p_brand, p_size FROM part WHERE p_size IN (1, 2)
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING'
              AND c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
              AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
        """,
        "q5_local_supplier": """
            SELECT n_name,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
            GROUP BY n_name
        """,
        "top_suppliers": """
            WITH rev AS (
              SELECT l_suppkey,
                     CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
              FROM lineitem GROUP BY l_suppkey
            ), ranked AS (
              SELECT n_name, s_suppkey, s_name, revenue,
                     row_number() OVER (PARTITION BY n_name ORDER BY revenue DESC, s_suppkey ASC) AS rnk
              FROM rev JOIN supplier ON l_suppkey = s_suppkey
                       JOIN nation ON s_nationkey = n_nationkey
            )
            SELECT n_name, s_suppkey, s_name, revenue, CAST(rnk AS INT) AS rnk
            FROM ranked WHERE rnk <= 3
        """,
        "cube_rollup": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
                   count(*) AS n_rows
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "events_hourly": """
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
                   count(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "events_json": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
            FROM events
        """,
        "events_sessionize": """
            WITH marked AS (
              SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w >= INTERVAL '30 minutes'
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), sess AS (
              SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
              FROM marked
            )
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL '30 minutes' AS session_end,
                   count(*) AS n_events,
                   round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_value
            FROM sess GROUP BY user_id, sid
        """,
        "asof_join": """
            SELECT c.event_id, c.user_id, p.value AS purchase_value
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id AND c.ts >= p.ts
        """,
        "text_stats": """
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
                   len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9])')) AS n_bpe_tokens,
                   length(text) AS len_chars,
                   round(CASE WHEN length(text) = 0 THEN 0.0
                        ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS punct_ratio,
                   round(CASE WHEN length(text) = 0 THEN 0.0
                        ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS digit_ratio
            FROM documents
        """,
        "q6_forecast_revenue": """
            SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "pivot_returnflag": """
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS qty_a,
                   CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS qty_n,
                   CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS qty_r
            FROM lineitem GROUP BY l_linestatus
        """,
        "cube_agg": """
            SELECT coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(o_orderpriority, 'ALL') AS priority,
                   count(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "customer_order_stats": """
            SELECT c_custkey, c_mktsegment,
                   count(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_mktsegment
        """,
        "profile_numeric": """
            SELECT
              min(l_quantity) AS l_quantity_min,
              max(l_quantity) AS l_quantity_max,
              round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS l_quantity_avg,
              round(quantile_cont(l_quantity, 0.5), 6) AS l_quantity_p50,
              min(l_extendedprice) AS l_extendedprice_min,
              max(l_extendedprice) AS l_extendedprice_max,
              round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS l_extendedprice_avg,
              round(quantile_cont(l_extendedprice, 0.5), 6) AS l_extendedprice_p50,
              min(l_discount) AS l_discount_min,
              max(l_discount) AS l_discount_max,
              round(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS l_discount_avg,
              round(quantile_cont(l_discount, 0.5), 6) AS l_discount_p50
            FROM lineitem
        """,
        "events_sliding": """
            WITH bucketed AS (
              SELECT event_type, value,
                     unnest([time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)),
                             time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) - INTERVAL '30 minutes'
                            ]) AS window_start
              FROM events
            )
            SELECT window_start, event_type,
                   count(*) AS n_events,
                   round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_value
            FROM bucketed GROUP BY window_start, event_type
        """,
        "events_topk_user": """
            SELECT user_id, event_id, value, CAST(rnk AS INT) AS rnk FROM (
              SELECT user_id, event_id, value,
                     row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rnk
              FROM events
            ) WHERE rnk <= 3
        """,
        "text_quality": f"""
            SELECT doc_id,
                   round((
                     least(length(text) / 500.0, 1.0)
                     + (1.0 - least(({_PUNCT_RATIO_SQL}) * 4, 1.0))
                     + (1.0 - least(({_DIGIT_RATIO_SQL}) * 5, 1.0))
                     + least(({_STOP_RATIO_SQL}) * 3, 1.0)
                   ) / 4, 6) AS quality,
                   round({_STOP_RATIO_SQL}, 6) AS stop_ratio,
                   round(CASE WHEN len(string_split_regex(trim(text), '\\s+')) <= 0 THEN 0.0
                         ELSE CAST(list_sum(list_transform(string_split_regex(trim(text), '\\s+'), w -> length(w))) AS DOUBLE)
                              / len(string_split_regex(trim(text), '\\s+')) END, 6) AS mean_word_len
            FROM documents
        """,
        "text_lang_id": f"""
            WITH hits AS (
              SELECT doc_id, lang,
                     {_sw_hits_sql('en')} AS h_en,
                     {_sw_hits_sql('de')} AS h_de,
                     {_sw_hits_sql('fr')} AS h_fr,
                     {_sw_hits_sql('es')} AS h_es
              FROM documents
            )
            SELECT doc_id, lang,
                   CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
                        WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
                        WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
                        WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                        ELSE 'de' END AS lang_pred
            FROM hits
        """,
        "text_fingerprint": f"""
            SELECT doc_id, md5({_NORM_TEXT_SQL}) AS fp FROM documents
        """,
        # replays evaluation.confusion_report over the lang-id replay:
        # one (actual, predicted) count collapse, margins, IEEE metrics
        # computed raw and rounded at the end (the operator's order).
        "docs_langid_confusion": f"""
            WITH hits AS (
              SELECT doc_id, lang,
                     {_sw_hits_sql('en')} AS h_en,
                     {_sw_hits_sql('de')} AS h_de,
                     {_sw_hits_sql('fr')} AS h_fr,
                     {_sw_hits_sql('es')} AS h_es
              FROM documents
            ), scored AS (
              SELECT lang AS a,
                     CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0
                            THEN 'und'
                          WHEN h_fr = greatest(h_en, h_de, h_fr, h_es)
                            THEN 'fr'
                          WHEN h_es = greatest(h_en, h_de, h_fr, h_es)
                            THEN 'es'
                          WHEN h_en = greatest(h_en, h_de, h_fr, h_es)
                            THEN 'en'
                          ELSE 'de' END AS p
              FROM hits
            ), pairs AS (
              SELECT a, p, count(*) AS c FROM scored
              WHERE a IS NOT NULL AND p IS NOT NULL
              GROUP BY 1, 2
            ), act AS (
              SELECT a AS label, CAST(sum(c) AS BIGINT) AS n_actual,
                     CAST(coalesce(sum(CASE WHEN a = p THEN c END), 0)
                          AS BIGINT) AS n_correct
              FROM pairs GROUP BY 1
            ), pred AS (
              SELECT p AS label, CAST(sum(c) AS BIGINT) AS n_predicted
              FROM pairs GROUP BY 1
            ), m AS (
              SELECT coalesce(act.label, pred.label) AS label,
                     coalesce(n_actual, 0) AS n_actual,
                     coalesce(n_predicted, 0) AS n_predicted,
                     coalesce(n_correct, 0) AS n_correct
              FROM act FULL OUTER JOIN pred ON act.label = pred.label
            ), raw AS (
              SELECT label, n_actual, n_predicted, n_correct,
                     CASE WHEN n_predicted > 0 THEN
                       CAST(n_correct AS DOUBLE)
                       / CAST(n_predicted AS DOUBLE) END AS pr,
                     CASE WHEN n_actual > 0 THEN
                       CAST(n_correct AS DOUBLE)
                       / CAST(n_actual AS DOUBLE) END AS rc
              FROM m
            )
            SELECT label, n_actual, n_predicted, n_correct,
                   round(pr, 6) AS precision,
                   round(rc, 6) AS recall,
                   CASE WHEN pr IS NOT NULL AND rc IS NOT NULL
                         AND pr + rc > 0
                        THEN round(2.0 * pr * rc / (pr + rc), 6)
                        END AS f1
            FROM raw
        """,
        # replays evaluation.regression_metrics over the 7-day
        # seasonal-naive forecast: one decimal-moment aggregation.
        "events_forecast_metrics": """
            WITH daily AS (
              SELECT CAST(ts AS DATE) AS day,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS rev
              FROM events WHERE event_type = 'purchase' GROUP BY 1
            ), l AS (
              SELECT rev, lag(rev, 7) OVER (ORDER BY day) AS pred
              FROM daily
            ), c AS (
              SELECT rev AS y, pred FROM l WHERE pred IS NOT NULL
            ), mm AS (
              SELECT count(*) AS n,
                     CAST(sum(CAST(abs(pred - y) AS DECIMAL(19,6)))
                          AS DOUBLE) AS sae,
                     CAST(sum(CAST(pred - y AS DECIMAL(19,6)))
                          AS DOUBLE) AS se,
                     CAST(sum(CAST(pred - y AS DECIMAL(19,6))
                              * CAST(pred - y AS DECIMAL(19,6)))
                          AS DOUBLE) AS see,
                     CAST(sum(CAST(y AS DECIMAL(19,6))) AS DOUBLE) AS sy,
                     CAST(sum(CAST(y AS DECIMAL(19,6))
                              * CAST(y AS DECIMAL(19,6)))
                          AS DOUBLE) AS syy
              FROM c
            )
            SELECT n,
                   round(sae / CAST(n AS DOUBLE), 6) AS mae,
                   round(sqrt(see / CAST(n AS DOUBLE)), 6) AS rmse,
                   round(se / CAST(n AS DOUBLE), 6) AS bias,
                   CASE WHEN syy - sy * sy / CAST(n AS DOUBLE) > 0
                        THEN round(1.0 - see
                             / (syy - sy * sy / CAST(n AS DOUBLE)), 6)
                        END AS r2
            FROM mm
        """,
        # same md5-bucket construction as operators/sampling.hash_bucket:
        # md5(salt || '|' || key), first 15 hex chars -> 60-bit int ->
        # mod 1e6, threshold = fraction*1e6
        "docs_hash_sample": f"""
            SELECT doc_id, lang, source FROM documents
            WHERE CAST(('0x' || substr(md5('|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  % {1_000_000} < {100_000}
        """,
        # replays sampling.deterministic_split (80/10/10, salt split-v1):
        # cumulative bucket thresholds in splits-dict order
        "docs_split": f"""
            WITH h AS (
              SELECT doc_id, source,
                     CAST(('0x' || substr(md5('split-v1' || '|'
                                              || CAST(doc_id AS VARCHAR)),
                                          1, 15)) AS BIGINT)
                     % {1_000_000} AS b
              FROM documents
            )
            SELECT doc_id, source,
                   CASE WHEN b < {800_000} THEN 'train'
                        WHEN b < {900_000} THEN 'val'
                        ELSE 'test' END AS split
            FROM h
        """,
        "docs_sample_stratified": f"""
            SELECT doc_id, lang FROM documents
            WHERE CAST(('0x' || substr(md5('|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  % {1_000_000}
                  < CASE WHEN lang = 'en' THEN {200_000}
                         WHEN lang = 'de' THEN {1_000_000}
                         ELSE {50_000} END
        """,
        "text_vocab": f"""
            SELECT token, freq FROM (
              SELECT token, count(*) AS freq FROM (
                SELECT unnest(string_split({_NORM_TEXT_SQL}, ' ')) AS token
                FROM documents
              ) WHERE token != ''
              GROUP BY token
            ) ORDER BY freq DESC, token ASC LIMIT 100
        """,
        "docs_length_hist": """
            SELECT CAST(floor(length(text) / 100) * 100 AS BIGINT) AS bin_start,
                   count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "docs_sample_per_source": f"""
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY CAST(('0x' || substr(md5('|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                                % {1_000_000} ASC,
                                doc_id ASC
                     ) AS rk
              FROM documents
            ) WHERE rk <= 10
        """,
        "text_redact": _redact_sql(),
        "dedup_exact": f"""
            SELECT doc_id, lang, source, n_chars FROM documents
            WHERE doc_id IN (
              SELECT min(doc_id) FROM documents GROUP BY {_NORM_TEXT_SQL}
            )
        """,
        "dedup_groups": f"""
            SELECT md5({_NORM_TEXT_SQL}) AS fp,
                   count(*) AS n_dups,
                   min(doc_id) AS canonical_id
            FROM documents
            GROUP BY {_NORM_TEXT_SQL}
            HAVING count(*) > 1
        """,
        "dedup_prefix_groups": f"""
            SELECT md5(substr({_NORM_TEXT_SQL}, 1, 64)) AS fp,
                   count(*) AS n_dups,
                   min(doc_id) AS canonical_id
            FROM documents
            GROUP BY substr({_NORM_TEXT_SQL}, 1, 64)
            HAVING count(*) > 1
        """,
        # the doc-frequency cap (boilerplate-shingle guard, dedup.DEFAULT_MAX_DOC_FREQ)
        # is part of the operator's contract, so the oracle applies the SAME
        # cap — the constant is interpolated from the engine so they cannot drift
        "dedup_minhash": _minhash_oracle_sql(num_hashes=32, bands=16),
        "dedup_simhash": _simhash_oracle_sql(max_hamming=3),
        "dedup_jaccard": _JACCARD_PAIRS_SQL,
        # replays dedup.containment_pairs: same capped shingle frame,
        # n_inter/min(n_a, n_b) with jaccard alongside
        "dedup_containment": f"""
            WITH sh AS (
              SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS shingles
              FROM documents
            ), exploded_all AS (
              SELECT doc_id, unnest(shingles) AS shingle FROM sh
            ), exploded AS (
              SELECT doc_id, shingle FROM exploded_all
              WHERE shingle NOT IN (
                SELECT shingle FROM exploded_all
                GROUP BY shingle HAVING count(*) > {dedup.DEFAULT_MAX_DOC_FREQ}
              )
            ), sizes AS (
              SELECT doc_id, count(*) AS n_sh FROM exploded GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              FROM exploded a JOIN exploded b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(CAST(n_inter AS DOUBLE)
                         / least(sa.n_sh, sb.n_sh), 6) AS containment,
                   round(CAST(n_inter AS DOUBLE)
                         / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= 0.5
        """,
        # the fused LSH+verify pipeline's contract is exact equality with
        # the all-pairs pass, so it shares the oracle — see q_dedup_near
        "dedup_near": _JACCARD_PAIRS_SQL,
        # transitive closure of the same pair graph: recursive min-label
        # walk over symmetric edges == large-star/small-star fixpoint
        "dedup_components": _COMPONENTS_SQL,
        "dedup_cluster_survivors": _CLUSTER_SURVIVORS_SQL,
        "dedup_exact_incr": f"""
            WITH h AS (
              SELECT DISTINCT md5({_NORM_TEXT_SQL}) AS fp FROM documents
              WHERE doc_id >= {_INCR_SPLIT}
            ), b AS (
              SELECT doc_id, lang, source, md5({_NORM_TEXT_SQL}) AS fp
              FROM documents WHERE doc_id < {_INCR_SPLIT}
            )
            SELECT doc_id, lang, source FROM b
            WHERE fp NOT IN (SELECT fp FROM h)
              AND doc_id IN (SELECT min(doc_id) FROM b GROUP BY fp)
        """,
        # incremental near-dup contract: all-pairs STRICT Jaccard (no df
        # cap — corpus-global state an incremental probe doesn't own)
        # restricted to pairs touching the batch; id_a < id_b makes
        # id_a < split the exact restriction
        "dedup_near_incr": _jaccard_pairs_sql(
            max_doc_freq=None, extra_where=f"AND id_a < {_INCR_SPLIT}"
        ),
        "simsearch_scores": """
            SELECT e.vec_id,
                   round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                CAST(q.embedding AS DOUBLE[])), 6) AS cos_sim
            FROM embeddings e,
                 (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        """,
        "simsearch_pairs": _SIMSEARCH_PAIRS_SQL,
        # the blocked-GEMM variant emits fold-recomputed cos_sim for the
        # GEMM-selected ids, so it is bit-portable and shares the oracle
        "simsearch_pairs_blocked": _SIMSEARCH_PAIRS_SQL,
        "simsearch_pairs_lsh": _hyperlsh_pairs_sql(),
        "multimodal_stats": """
            SELECT doc_id AS media_id,
                   octet_length(encode(text)) AS n_bytes,
                   CASE CAST(doc_id % 3 AS INT)
                     WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
                   END AS media_type,
                   n_chars % 640 AS width,
                   n_chars % 480 AS height
            FROM documents
        """,
        # symbolic replay of the stdlib decoders: the WAV sample stream /
        # PGM pixel stream are closed-form in doc_id, integer sums are
        # exact on both sides, so every decoded feature matches bit-for-bit
        "multimodal_features": """
            WITH wav AS (
              SELECT doc_id AS media_id, 64 + doc_id % 64 AS n,
                     list_transform(range(0, 64 + doc_id % 64),
                                    i -> (doc_id * 7 + i * 13) % 256 - 128) AS s
              FROM documents WHERE doc_id % 2 = 0
            ), wavf AS (
              SELECT media_id,
                     CAST(44 + 2 * n AS BIGINT) AS n_bytes,
                     1.0 AS f0, 8000.0 AS f1, CAST(n AS DOUBLE) AS f2,
                     1000.0 * n / 8000 AS f3,
                     CAST(list_sum(s) AS DOUBLE) / n AS f4,
                     sqrt(CAST(list_sum(list_transform(s, x -> x * x)) AS DOUBLE) / n) AS f5,
                     CAST(list_aggregate(s, 'min') AS DOUBLE) AS f6,
                     CAST(list_aggregate(s, 'max') AS DOUBLE) AS f7
              FROM wav
            ), pgm AS (
              SELECT doc_id AS media_id,
                     list_transform(range(0, 128), i -> (doc_id * 3 + i * 5) % 256) AS px
              FROM documents WHERE doc_id % 2 = 1
            ), pgmf AS (
              SELECT media_id,
                     CAST(12 + 128 AS BIGINT) AS n_bytes,
                     16.0 AS f0, 8.0 AS f1, 1.0 AS f2, 255.0 AS f3,
                     CAST(list_sum(px) AS DOUBLE) / 128 AS f4,
                     CAST(list_aggregate(px, 'min') AS DOUBLE) AS f5,
                     CAST(list_aggregate(px, 'max') AS DOUBLE) AS f6,
                     128.0 AS f7
              FROM pgm
            )
            SELECT * FROM wavf UNION ALL SELECT * FROM pgmf
        """,
        "multimodal_frames": """
            SELECT doc_id AS media_id,
                   unnest(range(0, greatest(CAST(n_chars AS BIGINT) * 10 - 1, 0) + 1, 1000)) AS frame_ts_ms
            FROM documents
            WHERE CAST(doc_id % 3 AS INT) = 2 AND doc_id % 7 != 3
            UNION ALL
            SELECT doc_id AS media_id, CAST(NULL AS BIGINT) AS frame_ts_ms
            FROM documents
            WHERE CAST(doc_id % 3 AS INT) = 2 AND doc_id % 7 = 3
        """,
        "dedup_embedding": """
            SELECT e.vec_id, e.label FROM embeddings e
            WHERE NOT EXISTS (
              SELECT 1 FROM embeddings b
              WHERE b.label = e.label AND b.vec_id < e.vec_id
                AND round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                                 CAST(e.embedding AS DOUBLE[])), 6) >= 0.4
            )
        """,
        "simsearch_topk": """
            SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim FROM (
              SELECT q.vec_id AS query_id, e.vec_id,
                     list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])) AS cos_sim,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                       CAST(q.embedding AS DOUBLE[])) DESC,
                                e.vec_id ASC
                     ) AS rnk
              FROM embeddings e,
                   (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
            ) WHERE rnk <= 10
        """,
        # the centroid choice (embeddings of vec_id < 16) is explicit and
        # deterministic, so the WHOLE ANN pipeline — bucket assignment,
        # query probing, pruned scoring, top-k — is reproduced in SQL;
        # assignment and probing order by 6dp-rounded cosine with ties to
        # the higher centroid id, exactly as ivf_topk does
        "simsearch_ivf_int8": """
            WITH cent AS (
              SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
              FROM embeddings WHERE vec_id < 16
            ), x AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            ), s AS (
              SELECT vec_id, e,
                     list_max(list_transform(e, v -> abs(v))) / 127.0 AS scale
              FROM x
            ), q8 AS (
              SELECT vec_id, scale,
                     CASE WHEN scale = 0
                          THEN list_transform(e, v -> 0)
                          ELSE list_transform(e, v -> greatest(-127, least(127,
                               CAST(floor(v / scale + 0.5) AS INT))))
                     END AS qv
              FROM s
            ), deq AS (
              SELECT vec_id, list_transform(qv, v -> v * scale) AS dvec FROM q8
            ), assign AS (
              SELECT vec_id, dvec, cid AS bucket FROM (
                SELECT d.vec_id, d.dvec, c.cid,
                       row_number() OVER (
                         PARTITION BY d.vec_id
                         ORDER BY round(list_cosine_similarity(d.dvec, c.cvec), 6) DESC,
                                  c.cid DESC
                       ) AS rn
                FROM deq d, cent c
              ) WHERE rn = 1
            ), probe AS (
              SELECT query_id, qvec, cid AS bucket FROM (
                SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qvec, c.cid,
                       row_number() OVER (
                         PARTITION BY q.vec_id
                         ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                               c.cvec), 6) DESC,
                                  c.cid DESC
                       ) AS rn
                FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q, cent c
              ) WHERE rn <= 4
            ), scored AS (
              SELECT p.query_id, a.vec_id,
                     list_cosine_similarity(a.dvec, p.qvec) AS cos_sim
              FROM probe p JOIN assign a ON a.bucket = p.bucket
            )
            SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim FROM (
              SELECT query_id, vec_id, cos_sim,
                     row_number() OVER (
                       PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC
                     ) AS rnk
              FROM scored
            ) WHERE rnk <= 10
        """,
        "simsearch_ivf": """
            WITH cent AS (
              SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16
            ), assign AS (
              SELECT vec_id, embedding, cid AS bucket FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                       row_number() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                               CAST(c.cvec AS DOUBLE[])), 6) DESC,
                                  c.cid DESC
                       ) AS rn
                FROM embeddings e, cent c
              ) WHERE rn = 1
            ), probe AS (
              SELECT query_id, qvec, cid AS bucket FROM (
                SELECT q.vec_id AS query_id, q.embedding AS qvec, c.cid,
                       row_number() OVER (
                         PARTITION BY q.vec_id
                         ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                               CAST(c.cvec AS DOUBLE[])), 6) DESC,
                                  c.cid DESC
                       ) AS rn
                FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q, cent c
              ) WHERE rn <= 4
            ), scored AS (
              SELECT p.query_id, a.vec_id,
                     list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(p.qvec AS DOUBLE[])) AS cos_sim
              FROM probe p JOIN assign a ON a.bucket = p.bucket
            )
            SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim FROM (
              SELECT query_id, vec_id, cos_sim,
                     row_number() OVER (
                       PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC
                     ) AS rnk
              FROM scored
            ) WHERE rnk <= 10
        """,
        # replays operators/groupstats.py kruskal_wallis_report: the
        # Mann-Whitney midrank algebra generalized to k groups —
        # 2·midrank = 2·cum − c + 1 (integer), per-group doubled rank
        # sums as DECIMAL(38,0), 6dp-decimal cross-group R²/n sum,
        # exact Σ(t³−t) tie correction
        "events_kruskal": """
            WITH pu AS (
              SELECT user_id,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS rev
              FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
              GROUP BY 1
            ), u AS (
              SELECT CAST(user_id % 3 AS VARCHAR) AS g, rev FROM pu
            ), pvg AS (
              SELECT rev AS val, g, count(*) AS cg FROM u GROUP BY 1, 2
            ), pv AS (
              SELECT val, CAST(sum(cg) AS BIGINT) AS c
              FROM pvg GROUP BY 1
            ), rk AS (
              SELECT val, c,
                     sum(c) OVER (ORDER BY val ASC ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM pv
            ), pg AS (
              SELECT g, CAST(sum(cg) AS BIGINT) AS ng,
                     CAST(sum(CAST(cg AS DECIMAL(38,0))
                              * (2 * rk.cum - rk.c + 1)) AS DOUBLE)
                       AS r2
              FROM pvg JOIN rk USING (val) GROUP BY 1
            ), tt AS (
              SELECT CAST(sum(CAST(c AS DECIMAL(38,0)) * c * c - c)
                          AS DOUBLE) AS tt
              FROM pv
            ), m AS (
              SELECT CAST(sum(ng) AS BIGINT) AS tn,
                     count(*) AS k,
                     CAST(sum(CAST(round((r2 / 2.0) * (r2 / 2.0)
                                         / CAST(ng AS DOUBLE), 6)
                                   AS DECIMAL(38,6))) AS DOUBLE) AS st
              FROM pg
            ), f AS (
              SELECT tn, k, st, tt, CAST(tn AS DOUBLE) AS tnd
              FROM m CROSS JOIN tt
            )
            SELECT tn AS n_units, k AS n_groups,
                   CASE WHEN k >= 2 THEN k - 1 END AS dof,
                   CASE WHEN k >= 2 AND tn >= 2
                         AND (1.0 - tt / (tnd * tnd * tnd - tnd)) > 0
                        THEN round(
                          (12.0 / (tnd * (tnd + 1.0)) * st
                           - 3.0 * (tnd + 1.0))
                          / (1.0 - tt / (tnd * tnd * tnd - tnd)), 6)
                   END AS h_stat
            FROM f
        """,
        # replays operators/groupstats.py anova_report: 6dp-decimal
        # per-group moments, 12dp-decimal cross-group SSB/SSW
        # contributions, Welch weight totals broadcast back — the
        # identical closed-form IEEE expressions
        "events_anova": """
            WITH pu AS (
              SELECT user_id,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS rev
              FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
              GROUP BY 1
            ), u AS (
              SELECT CAST(user_id % 3 AS VARCHAR) AS g, rev FROM pu
            ), pg AS (
              SELECT g, count(*) AS n,
                     sum(CAST(round(rev, 6) AS DECIMAL(18,6))) AS s1,
                     sum(CAST(CAST(round(rev, 6) AS DECIMAL(19,6))
                              * CAST(round(rev, 6) AS DECIMAL(19,6))
                              AS DECIMAL(38,12))) AS s2
              FROM u GROUP BY 1
            ), base AS (
              SELECT n, s1,
                     CAST(round(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                / CAST(n AS DOUBLE), 12)
                          AS DECIMAL(38,12)) AS cb,
                     CAST(round(CAST(s2 AS DOUBLE)
                                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                  / CAST(n AS DOUBLE), 12)
                          AS DECIMAL(38,12)) AS cw,
                     CASE WHEN n >= 2
                           AND (CAST(s2 AS DOUBLE)
                                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                  / CAST(n AS DOUBLE))
                               / (CAST(n AS DOUBLE) - 1.0) > 0
                          THEN CAST(n AS DOUBLE)
                               / ((CAST(s2 AS DOUBLE)
                                   - CAST(s1 AS DOUBLE)
                                     * CAST(s1 AS DOUBLE)
                                     / CAST(n AS DOUBLE))
                                  / (CAST(n AS DOUBLE) - 1.0))
                     END AS w
              FROM pg
            ), base2 AS (
              SELECT n, s1, cb, cw, w,
                     w * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS wm
              FROM base
            ), tot1 AS (
              SELECT CAST(sum(n) AS BIGINT) AS tn, sum(s1) AS ts1,
                     count(*) AS k,
                     CAST(sum(cb) AS DOUBLE) AS sb,
                     CAST(sum(cw) AS DOUBLE) AS sw,
                     sum(CASE WHEN w IS NOT NULL THEN 1 END) AS wk,
                     sum(w) AS tw, sum(wm) AS twm
              FROM base2
            ), wt AS (
              SELECT
                CAST(sum(CAST(round(
                  b.w * (CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE)
                         - t.twm / t.tw)
                      * (CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE)
                         - t.twm / t.tw), 12)
                  AS DECIMAL(38,12))) AS DOUBLE) AS wa,
                CAST(sum(CAST(round(
                  (1.0 - b.w / t.tw) * (1.0 - b.w / t.tw)
                    / (CAST(b.n AS DOUBLE) - 1.0), 12)
                  AS DECIMAL(38,12))) AS DOUBLE) AS wb
              FROM base2 b CROSS JOIN tot1 t
            ), f AS (
              SELECT tn, k, wk, wa, wb,
                     CAST(tn AS DOUBLE) AS tnd,
                     CAST(k AS DOUBLE) AS kd,
                     sb - CAST(ts1 AS DOUBLE) * CAST(ts1 AS DOUBLE)
                          / CAST(tn AS DOUBLE) AS ssb,
                     sw AS ssw,
                     (k >= 2 AND tn > k) AS ok
              FROM tot1 CROSS JOIN wt
            )
            SELECT tn AS n_units, k AS n_groups,
                   CASE WHEN ok THEN k - 1 END AS df_between,
                   CASE WHEN ok THEN tn - k END AS df_within,
                   round(CASE WHEN ok AND ssw > 0
                         THEN (ssb / (kd - 1.0)) / (ssw / (tnd - kd))
                         END, 6) AS f_stat,
                   round(CASE WHEN ok AND ssb + ssw > 0
                         THEN ssb / (ssb + ssw) END, 6) AS eta_sq,
                   round(CASE WHEN ok AND wk = k AND wb >= 0
                         THEN (wa / (kd - 1.0))
                              / (1.0 + 2.0 * (kd - 2.0)
                                 / ((kd - 1.0) * (kd + 1.0)) * wb)
                         END, 6) AS welch_f,
                   round(CASE WHEN ok AND wk = k AND wb > 0
                         THEN (kd - 1.0) * (kd + 1.0) / (3.0 * wb)
                         END, 6) AS welch_df2
            FROM f
        """,
        # replays operators/groupstats.py brown_forsythe_report:
        # per-group type-7 medians by row_number element selection
        # (6dp), then the anova moment replay on |x − median_g|
        "events_brown_forsythe": """
            WITH pu AS (
              SELECT user_id,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS rev
              FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
              GROUP BY 1
            ), u AS (
              SELECT CAST(user_id % 3 AS VARCHAR) AS g, rev FROM pu
            ), nn AS (
              SELECT g, count(*) AS n FROM u GROUP BY 1
            ), r AS (
              SELECT g, rev,
                     row_number() OVER (PARTITION BY g ORDER BY rev)
                       AS rn
              FROM u
            ), hh AS (
              SELECT g, n,
                     (CAST(n AS DOUBLE) - 1.0) * 0.5 + 1.0 AS h
              FROM nn
            ), med AS (
              SELECT hh.g,
                     round(CAST(rl.rev AS DOUBLE)
                           + (hh.h - floor(hh.h))
                             * (CAST(rh.rev AS DOUBLE)
                                - CAST(rl.rev AS DOUBLE)), 6) AS m
              FROM hh
              JOIN r rl ON rl.g = hh.g
                AND rl.rn = CAST(floor(hh.h) AS BIGINT)
              JOIN r rh ON rh.g = hh.g
                AND rh.rn = CAST(ceil(hh.h) AS BIGINT)
            ), z AS (
              SELECT u.g, abs(u.rev - med.m) AS zv
              FROM u JOIN med ON u.g = med.g
            ), pg AS (
              SELECT g, count(*) AS n,
                     sum(CAST(round(zv, 6) AS DECIMAL(18,6))) AS s1,
                     sum(CAST(CAST(round(zv, 6) AS DECIMAL(19,6))
                              * CAST(round(zv, 6) AS DECIMAL(19,6))
                              AS DECIMAL(38,12))) AS s2
              FROM z GROUP BY 1
            ), tot1 AS (
              SELECT CAST(sum(n) AS BIGINT) AS tn, sum(s1) AS ts1,
                     count(*) AS k,
                     CAST(sum(CAST(round(CAST(s1 AS DOUBLE)
                                         * CAST(s1 AS DOUBLE)
                                         / CAST(n AS DOUBLE), 12)
                                   AS DECIMAL(38,12))) AS DOUBLE) AS sb,
                     CAST(sum(CAST(round(CAST(s2 AS DOUBLE)
                                         - CAST(s1 AS DOUBLE)
                                           * CAST(s1 AS DOUBLE)
                                           / CAST(n AS DOUBLE), 12)
                                   AS DECIMAL(38,12))) AS DOUBLE) AS sw
              FROM pg
            ), f AS (
              SELECT tn, k,
                     CAST(tn AS DOUBLE) AS tnd, CAST(k AS DOUBLE) AS kd,
                     sb - CAST(ts1 AS DOUBLE) * CAST(ts1 AS DOUBLE)
                          / CAST(tn AS DOUBLE) AS ssb,
                     sw AS ssw,
                     (k >= 2 AND tn > k) AS ok
              FROM tot1
            )
            SELECT tn AS n_units, k AS n_groups,
                   CASE WHEN ok THEN k - 1 END AS df1,
                   CASE WHEN ok THEN tn - k END AS df2,
                   round(CASE WHEN ok AND ssw > 0
                         THEN (ssb / (kd - 1.0)) / (ssw / (tnd - kd))
                         END, 6) AS bf_stat
            FROM f
        """,
        # replays operators/groupstats.py spearman_report: midrank maps
        # per column (2·cum − c + 1, integer) joined back by value;
        # three exact DECIMAL(38,0) sums; means are the known constant
        # N(N+1)² because midranks preserve the rank total
        "lineitem_spearman": """
            WITH b AS (
              SELECT CAST(l_quantity AS DOUBLE) AS x,
                     CAST(l_extendedprice AS DOUBLE) AS y
              FROM lineitem
              WHERE l_quantity IS NOT NULL
                AND l_extendedprice IS NOT NULL
            ), rx AS (
              SELECT x, 2 * cum - c + 1 AS tmx FROM (
                SELECT x, c,
                       sum(c) OVER (ORDER BY x ASC ROWS BETWEEN
                         UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM (SELECT x, count(*) AS c FROM b GROUP BY 1)
              )
            ), ry AS (
              SELECT y, 2 * cum - c + 1 AS tmy FROM (
                SELECT y, c,
                       sum(c) OVER (ORDER BY y ASC ROWS BETWEEN
                         UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM (SELECT y, count(*) AS c FROM b GROUP BY 1)
              )
            ), rowd AS (
              SELECT tmx, tmy
              FROM b JOIN rx USING (x) JOIN ry USING (y)
            ), m AS (
              SELECT count(*) AS n,
                     CAST(sum(CAST(tmx AS DECIMAL(38,0))
                              * CAST(tmy AS DECIMAL(38,0)))
                          AS DOUBLE) AS sxy,
                     CAST(sum(CAST(tmx AS DECIMAL(38,0))
                              * CAST(tmx AS DECIMAL(38,0)))
                          AS DOUBLE) AS sxx,
                     CAST(sum(CAST(tmy AS DECIMAL(38,0))
                              * CAST(tmy AS DECIMAL(38,0)))
                          AS DOUBLE) AS syy
              FROM rowd
            ), f AS (
              SELECT n,
                     CASE WHEN n >= 2
                           AND sxx - CAST(n AS DOUBLE)
                               * (CAST(n AS DOUBLE) + 1.0)
                               * (CAST(n AS DOUBLE) + 1.0) > 0
                           AND syy - CAST(n AS DOUBLE)
                               * (CAST(n AS DOUBLE) + 1.0)
                               * (CAST(n AS DOUBLE) + 1.0) > 0
                          THEN round(
                            (sxy - CAST(n AS DOUBLE)
                               * (CAST(n AS DOUBLE) + 1.0)
                               * (CAST(n AS DOUBLE) + 1.0))
                            / sqrt(
                              (sxx - CAST(n AS DOUBLE)
                                 * (CAST(n AS DOUBLE) + 1.0)
                                 * (CAST(n AS DOUBLE) + 1.0))
                              * (syy - CAST(n AS DOUBLE)
                                 * (CAST(n AS DOUBLE) + 1.0)
                                 * (CAST(n AS DOUBLE) + 1.0))), 6)
                     END AS rho
              FROM m
            )
            SELECT n AS n_rows, rho,
                   CASE WHEN n > 2 AND abs(rho) < 1
                        THEN round(rho * sqrt(
                          (CAST(n AS DOUBLE) - 2.0)
                          / (1.0 - rho * rho)), 6)
                   END AS t_stat
            FROM f
        """,
        # replays operators/timeseries.py pettitt_test: doubled
        # midranks over the day-grain decimal totals keep U_t an exact
        # integer; earliest-day argmax tiebreak; the classic
        # 2·exp(−6K²/(N³+N²)) calibration
        "events_pettitt": """
            WITH d AS (
              SELECT CAST(ts AS DATE) AS day,
                     sum(CAST(value AS DECIMAL(18,6))) AS rd
              FROM events WHERE event_type = 'purchase'
              GROUP BY 1
            ), r AS (
              SELECT day,
                     CAST(2 * rank() OVER (ORDER BY rd)
                          + count(*) OVER (PARTITION BY rd) - 1
                          AS BIGINT) AS r2
              FROM d
            ), nn AS (
              SELECT count(*) AS nd FROM d
            ), u AS (
              SELECT day, nd,
                     CAST(sum(r2) OVER (ORDER BY day ROWS BETWEEN
                            UNBOUNDED PRECEDING AND CURRENT ROW)
                          - row_number() OVER (ORDER BY day)
                            * (nd + 1) AS BIGINT) AS uu,
                     row_number() OVER (ORDER BY day) AS t
              FROM r CROSS JOIN nn
            ), uf AS (
              SELECT * FROM u WHERE t < nd
            ), best AS (
              SELECT nd, CAST(max(abs(uu)) AS BIGINT) AS k
              FROM uf GROUP BY 1
            ), pick AS (
              SELECT uf.nd, best.k, min(uf.day) AS day
              FROM uf JOIN best
                ON uf.nd = best.nd AND abs(uf.uu) = best.k
              GROUP BY 1, 2
            )
            SELECT nd AS n_days, CAST(day AS VARCHAR) AS change_day,
                   k AS k_stat,
                   round(least(1.0, 2.0 * exp(
                     -6.0 * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
                     / (CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE)
                          * CAST(nd AS DOUBLE)
                        + CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE)))),
                     6) AS p_value
            FROM pick
        """,
        # replays operators/groupstats.py association_report: one
        # cell-grain collapse, margin entropies and MI as 12dp-decimal
        # term sums, χ² via the zero-cell shortcut
        # Σ_{o=0}e = N − Σ_{o>0}e (margins are exact, so the full grid
        # never materializes)
        "events_mutual_info": """
            WITH cells AS (
              SELECT event_type AS a,
                     hour(CAST(ts AS TIMESTAMP)) AS b,
                     count(*) AS obs
              FROM events
              WHERE event_type IS NOT NULL AND ts IS NOT NULL
              GROUP BY 1, 2
            ), am AS (
              SELECT a, CAST(sum(obs) AS BIGINT) AS at FROM cells
              GROUP BY 1
            ), bm AS (
              SELECT b, CAST(sum(obs) AS BIGINT) AS bt FROM cells
              GROUP BY 1
            ), nn AS (
              SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells
            ), ha AS (
              SELECT CAST(sum(CAST(round(
                       -(CAST(at AS DOUBLE) / n)
                       * ln(CAST(at AS DOUBLE) / n), 12)
                       AS DECIMAL(28,12))) AS DOUBLE) AS ha,
                     count(*) AS ka
              FROM am CROSS JOIN nn
            ), hb AS (
              SELECT CAST(sum(CAST(round(
                       -(CAST(bt AS DOUBLE) / n)
                       * ln(CAST(bt AS DOUBLE) / n), 12)
                       AS DECIMAL(28,12))) AS DOUBLE) AS hb,
                     count(*) AS kb
              FROM bm CROSS JOIN nn
            ), terms AS (
              SELECT CAST(obs AS DOUBLE) AS od,
                     CAST(at AS DOUBLE) * CAST(bt AS DOUBLE)
                       / CAST(n AS DOUBLE) AS ed,
                     CAST(n AS DOUBLE) AS ndd
              FROM cells JOIN am USING (a) JOIN bm USING (b)
              CROSS JOIN nn
            ), mis AS (
              SELECT
                CAST(sum(CAST(round(od / ndd * ln(od / ed), 12)
                              AS DECIMAL(28,12))) AS DOUBLE) AS mi,
                CAST(sum(CAST(round((od - ed) * (od - ed) / ed, 12)
                              AS DECIMAL(28,12))) AS DOUBLE) AS x2obs,
                CAST(sum(CAST(round(ed, 12) AS DECIMAL(28,12)))
                     AS DOUBLE) AS eobs
              FROM terms
            )
            SELECT n AS n_units, ka AS n_a, kb AS n_b,
                   round(mi, 6) + 0.0 AS mi,
                   round(CASE WHEN ha > 0 AND hb > 0
                         THEN least(1.0, mi / sqrt(ha * hb)) END, 6)
                     AS nmi,
                   round(CASE WHEN least(ka, kb) >= 2
                         THEN sqrt(
                           greatest(x2obs + (CAST(n AS DOUBLE) - eobs),
                                    0.0)
                           / (CAST(n AS DOUBLE)
                              * (CAST(least(ka, kb) AS DOUBLE) - 1.0)))
                         END, 6) AS cramers_v
            FROM nn CROSS JOIN ha CROSS JOIN hb CROSS JOIN mis
        """,
        # replays operators/profiling.py weighted_quantiles: 6dp-
        # decimal weights to the distinct-value grain, inclusive
        # cumulative weight window, smallest value whose cum reaches
        # p·W (element selection, no interpolation)
        "lineitem_wquantiles": """
            WITH v AS (
              SELECT l_extendedprice AS val,
                     CAST(round(CAST(l_quantity AS DOUBLE), 6)
                          AS DECIMAL(18,6)) AS w
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL
                AND l_quantity IS NOT NULL
                AND round(CAST(l_quantity AS DOUBLE), 6) > 0
            ), pv AS (
              SELECT val, CAST(sum(w) AS DECIMAL(38,6)) AS w,
                     count(*) AS c
              FROM v GROUP BY 1
            ), tot AS (
              SELECT CAST(sum(w) AS DECIMAL(38,6)) AS tw,
                     CAST(sum(c) AS BIGINT) AS n
              FROM pv
            ), ck AS (
              SELECT val, w,
                     sum(w) OVER (ORDER BY val ASC ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM pv
            ), pr AS (
              SELECT * FROM (VALUES
                (CAST(0.1 AS DOUBLE)), (CAST(0.25 AS DOUBLE)),
                (CAST(0.5 AS DOUBLE)), (CAST(0.75 AS DOUBLE)),
                (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE))
              ) AS t(p)
            ), tg AS (
              SELECT p, tw, n, p * CAST(tw AS DOUBLE) AS tgt
              FROM pr CROSS JOIN tot
            )
            SELECT tg.p AS prob, tg.n AS n_rows,
                   CAST(tg.tw AS DOUBLE) AS total_weight,
                   CAST(ck.val AS DOUBLE) AS quantile
            FROM tg JOIN ck
              ON tg.tgt > CAST(ck.cum - ck.w AS DOUBLE)
             AND tg.tgt <= CAST(ck.cum AS DOUBLE)
        """,
        # replays operators/matrix.py embedding_covariance: the oracle
        # may use the naive unnest + self-join (it need not be
        # scale-shaped) — 6dp components, 12dp-decimal product sums,
        # 6dp-decimal first moments, covariance/correlation over the
        # identical exact sums
        "embed_covariance": """
            WITH f AS (
              SELECT vec_id,
                     generate_subscripts(embedding, 1) - 1 AS i,
                     round(CAST(unnest(embedding) AS DOUBLE), 6) AS v
              FROM embeddings WHERE embedding IS NOT NULL
            ), p AS (
              SELECT a.i AS i, b.i AS j,
                     CAST(round(a.v * b.v, 12) AS DECIMAL(28,12)) AS pr
              FROM f a JOIN f b
                ON a.vec_id = b.vec_id AND b.i >= a.i
            ), s2 AS (
              SELECT i, j, sum(pr) AS s2, count(*) AS n
              FROM p GROUP BY 1, 2
            ), m1 AS (
              SELECT i, sum(CAST(v AS DECIMAL(18,6))) AS s1
              FROM f GROUP BY 1
            ), c AS (
              SELECT CAST(s2.i AS INT) AS i, CAST(s2.j AS INT) AS j,
                     CAST(s2.n AS BIGINT) AS n,
                     round((CAST(s2.s2 AS DOUBLE)
                            - CAST(mi.s1 AS DOUBLE)
                              * CAST(mj.s1 AS DOUBLE)
                              / CAST(s2.n AS DOUBLE))
                           / (CAST(s2.n AS DOUBLE) - 1.0), 6)
                       + 0.0 AS cov
              FROM s2
              JOIN m1 mi ON s2.i = mi.i
              JOIN m1 mj ON s2.j = mj.i
              WHERE s2.n >= 2
            ), dg AS (
              SELECT i AS di, cov AS var FROM c WHERE i = j
            )
            SELECT c.i, c.j, c.n AS n_vecs, c.cov,
                   round(CASE WHEN d1.var > 0 AND d2.var > 0
                         THEN c.cov / sqrt(d1.var * d2.var) END, 6)
                       + 0.0 AS corr
            FROM c
            JOIN dg d1 ON c.i = d1.di
            JOIN dg d2 ON c.j = d2.di
        """,
        # replays operators/groupstats.py kendall_tau_b: dominance
        # self-join over the contingency cells, exact DECIMAL(38,0)
        # concordant/discordant sums, doubled tie terms from margins
        "lineitem_kendall": """
            WITH cells AS (
              SELECT l_quantity AS x, l_discount AS y,
                     count(*) AS n
              FROM lineitem
              WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
              GROUP BY 1, 2
            ), cd AS (
              SELECT
                coalesce(sum(CASE WHEN a.ya < b.yb
                  THEN CAST(a.na AS DECIMAL(38,0))
                       * CAST(b.nb AS DECIMAL(38,0)) END),
                  CAST(0 AS DECIMAL(38,0))) AS cc,
                coalesce(sum(CASE WHEN a.ya > b.yb
                  THEN CAST(a.na AS DECIMAL(38,0))
                       * CAST(b.nb AS DECIMAL(38,0)) END),
                  CAST(0 AS DECIMAL(38,0))) AS dd
              FROM (SELECT x AS xa, y AS ya, n AS na FROM cells) a
              JOIN (SELECT x AS xb, y AS yb, n AS nb FROM cells) b
                ON a.xa < b.xb
            ), t1 AS (
              SELECT CAST(sum(CAST(nx AS DECIMAL(38,0)) * (nx - 1))
                          AS DOUBLE) AS t1,
                     CAST(sum(nx) AS BIGINT) AS nr
              FROM (SELECT x, CAST(sum(n) AS BIGINT) AS nx
                    FROM cells GROUP BY 1)
            ), t2 AS (
              SELECT CAST(sum(CAST(ny AS DECIMAL(38,0)) * (ny - 1))
                          AS DOUBLE) AS t2
              FROM (SELECT y, CAST(sum(n) AS BIGINT) AS ny
                    FROM cells GROUP BY 1)
            ), nc AS (
              SELECT count(*) AS ncells FROM cells
            ), f AS (
              SELECT nr, ncells,
                     CAST(cc AS DOUBLE) AS ccd,
                     CAST(dd AS DOUBLE) AS ddd,
                     sqrt((CAST(nr AS DOUBLE) * (CAST(nr AS DOUBLE) - 1.0)
                           - t1)
                          * (CAST(nr AS DOUBLE) * (CAST(nr AS DOUBLE) - 1.0)
                             - t2)) / 2.0 AS den
              FROM cd CROSS JOIN t1 CROSS JOIN t2 CROSS JOIN nc
            )
            SELECT nr AS n_rows, ncells AS n_cells,
                   ccd AS concordant, ddd AS discordant,
                   round(CASE WHEN den > 0
                         THEN (ccd - ddd) / den END, 6) + 0.0 AS tau_b
            FROM f
        """,
        # replays operators/timeseries.py acf_report: day-grain decimal
        # totals, lag fan-out, per-lag exact decimal moments (DuckDB
        # needs DECIMAL(19,6) operands for the int128 product path)
        "events_acf": """
            WITH d AS (
              SELECT CAST(ts AS DATE) AS day,
                     sum(CAST(value AS DECIMAL(18,6))) AS rd
              FROM events WHERE event_type = 'purchase'
              GROUP BY 1
            ), dd AS (
              SELECT datediff('day', DATE '1970-01-01', day) AS dn, rd
              FROM d
            ), lags AS (
              SELECT unnest(generate_series(1, 7)) AS lag
            ), pairs AS (
              SELECT l.lag, a.rd AS x, b.rd AS y
              FROM dd a CROSS JOIN lags l
              JOIN dd b ON b.dn = a.dn + l.lag
            ), m AS (
              SELECT lag, count(*) AS n,
                     sum(x) AS sx, sum(y) AS sy,
                     sum(CAST(CAST(x AS DECIMAL(19,6))
                              * CAST(y AS DECIMAL(19,6))
                              AS DECIMAL(38,12))) AS sxy,
                     sum(CAST(CAST(x AS DECIMAL(19,6))
                              * CAST(x AS DECIMAL(19,6))
                              AS DECIMAL(38,12))) AS sxx,
                     sum(CAST(CAST(y AS DECIMAL(19,6))
                              * CAST(y AS DECIMAL(19,6))
                              AS DECIMAL(38,12))) AS syy
              FROM pairs GROUP BY 1
            ), f AS (
              SELECT lag, n,
                     CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
                     CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
                     CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy
              FROM m
            )
            SELECT lags.lag,
                   coalesce(f.n, 0) AS n_pairs,
                   round(CASE WHEN f.n >= 2 AND f.vx > 0 AND f.vy > 0
                         THEN f.cxy / sqrt(f.vx * f.vy) END, 6) + 0.0
                     AS acf
            FROM lags LEFT JOIN f ON lags.lag = f.lag
        """,
        # replays operators/evaluation.py conformal_interval: the same
        # broadcast price-per-unit scalar, 6dp residuals to the
        # distinct-value grain, the single k-th order statistic
        "lineitem_conformal": """
            WITH c AS (
              SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
                          AS DOUBLE)
                     / CAST(sum(CAST(l_quantity AS DECIMAL(18,6)))
                            AS DOUBLE) AS ratio
              FROM lineitem
            ), b AS (
              SELECT round(abs(CAST(l_extendedprice AS DOUBLE)
                               - CAST(l_quantity AS DOUBLE) * ratio),
                           6) AS r
              FROM lineitem CROSS JOIN c
              WHERE l_extendedprice IS NOT NULL
                AND l_quantity IS NOT NULL
            ), pv AS (
              SELECT r, count(*) AS cnt FROM b GROUP BY 1
            ), nn AS (
              SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n,
                     CAST(ceil((CAST(coalesce(sum(cnt), 0) AS DOUBLE)
                                + 1.0) * 0.9) AS BIGINT) AS k
              FROM pv
            ), ck AS (
              SELECT r, cnt,
                     sum(cnt) OVER (ORDER BY r ASC ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM pv
            )
            SELECT nn.n AS n_calib, CAST(0.1 AS DOUBLE) AS alpha,
                   nn.k AS k_rank,
                   CASE WHEN nn.k <= nn.n THEN max(ck.r) END AS q_hat,
                   round(CAST(nn.k AS DOUBLE)
                         / (CAST(nn.n AS DOUBLE) + 1.0), 6)
                     AS coverage_guarantee
            FROM nn LEFT JOIN ck
              ON nn.k > ck.cum - ck.cnt AND nn.k <= ck.cum
            GROUP BY nn.n, nn.k
        """,
        # replays operators/timeseries.py mann_kendall_test: exact
        # integer S over the day-pair join, tie-corrected variance,
        # continuity-corrected z
        "events_mann_kendall": """
            WITH d AS (
              SELECT CAST(ts AS DATE) AS day,
                     sum(CAST(value AS DECIMAL(18,6))) AS rd
              FROM events WHERE event_type = 'purchase'
              GROUP BY 1
            ), s AS (
              SELECT CAST(coalesce(sum(
                       CASE WHEN b.rd > a.rd THEN 1
                            WHEN b.rd < a.rd THEN -1
                            ELSE 0 END), 0) AS BIGINT) AS s
              FROM d a JOIN d b ON a.day < b.day
            ), t AS (
              SELECT CAST(coalesce(sum(CAST(tc AS DECIMAL(38,0))
                                       * (tc - 1) * (2 * tc + 5)), 0)
                          AS DOUBLE) AS tt,
                     CAST(sum(tc) AS BIGINT) AS nd
              FROM (SELECT rd, count(*) AS tc FROM d GROUP BY 1)
            ), f AS (
              SELECT s, nd,
                     (CAST(nd AS DOUBLE) * (CAST(nd AS DOUBLE) - 1.0)
                      * (2.0 * CAST(nd AS DOUBLE) + 5.0) - tt) / 18.0
                       AS var
              FROM s CROSS JOIN t
            ), z AS (
              SELECT s, nd,
                     round(CASE WHEN nd >= 2 AND var > 0 THEN
                       CASE WHEN s > 0
                            THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(var)
                            WHEN s < 0
                            THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(var)
                            ELSE 0.0 END
                     END, 6) + 0.0 AS z6
              FROM f
            )
            SELECT nd AS n_days, s AS s_stat, z6 AS z,
                   CAST(coalesce(abs(z6) >= 1.959964, false) AS INT)
                     AS significant
            FROM z
        """,
        # replays operators/matrix.py fisher_scores: (label, dim)
        # decimal moments via unnest, 12dp-decimal scatter sums
        "embed_fisher": """
            WITH f AS (
              SELECT label AS l,
                     generate_subscripts(embedding, 1) - 1 AS i,
                     CAST(round(CAST(unnest(embedding) AS DOUBLE), 6)
                          AS DECIMAL(18,6)) AS v
              FROM embeddings
              WHERE embedding IS NOT NULL AND label IS NOT NULL
            ), cells AS (
              SELECT l, i, count(*) AS n, sum(v) AS s1,
                     sum(CAST(CAST(v AS DECIMAL(19,6)) * v
                              AS DECIMAL(38,12))) AS s2
              FROM f GROUP BY 1, 2
            ), gstats AS (
              SELECT i, CAST(sum(n) AS BIGINT) AS gn, sum(s1) AS gs1
              FROM cells GROUP BY 1
            ), j AS (
              SELECT cells.i,
                     CAST(round(CAST(cells.n AS DOUBLE)
                       * (CAST(cells.s1 AS DOUBLE)
                            / CAST(cells.n AS DOUBLE)
                          - CAST(gstats.gs1 AS DOUBLE)
                            / CAST(gstats.gn AS DOUBLE))
                       * (CAST(cells.s1 AS DOUBLE)
                            / CAST(cells.n AS DOUBLE)
                          - CAST(gstats.gs1 AS DOUBLE)
                            / CAST(gstats.gn AS DOUBLE)), 12)
                       AS DECIMAL(38,12)) AS btw,
                     CAST(round(CAST(cells.s2 AS DOUBLE)
                       - CAST(cells.s1 AS DOUBLE)
                         * (CAST(cells.s1 AS DOUBLE)
                            / CAST(cells.n AS DOUBLE)), 12)
                       AS DECIMAL(38,12)) AS wth
              FROM cells JOIN gstats ON cells.i = gstats.i
            ), o AS (
              SELECT CAST(i AS INT) AS i, count(*) AS k,
                     CAST(sum(btw) AS DOUBLE) AS b,
                     CAST(sum(wth) AS DOUBLE) AS w
              FROM j GROUP BY 1
            )
            SELECT i, k AS n_labels,
                   round(CASE WHEN w > 0 THEN b / w END, 6) AS fisher
            FROM o
        """,
        # replays operators/experiment.py ratio_ab_test: per-arm
        # conditional exact-decimal moments, the delta-method variance
        # (sigma_x^2 - 2R sigma_xy + R^2 sigma_y^2)/(n mu_y^2)
        "events_ratio_ab": """
            WITH pu AS (
              SELECT user_id,
                     CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                            THEN CAST(value AS DECIMAL(18,6)) END),
                          0) AS DOUBLE) AS rev,
                     count(*) AS n_events
              FROM events WHERE user_id IS NOT NULL
              GROUP BY 1
            ), u AS (
              SELECT CASE WHEN user_id % 2 = 0 THEN 't' ELSE 'c' END AS g,
                     CAST(round(rev, 6) AS DECIMAL(18,6)) AS xq,
                     CAST(round(CAST(n_events AS DOUBLE), 6)
                          AS DECIMAL(18,6)) AS yq
              FROM pu
            ), m AS (
              SELECT
                CAST(sum(CASE WHEN g = 't' THEN 1 ELSE 0 END)
                     AS BIGINT) AS nt,
                sum(CASE WHEN g = 't' THEN xq END) AS sxt,
                sum(CASE WHEN g = 't' THEN yq END) AS syt,
                sum(CASE WHEN g = 't' THEN CAST(CAST(xq AS DECIMAL(19,6))
                    * xq AS DECIMAL(38,12)) END) AS sxxt,
                sum(CASE WHEN g = 't' THEN CAST(CAST(yq AS DECIMAL(19,6))
                    * yq AS DECIMAL(38,12)) END) AS syyt,
                sum(CASE WHEN g = 't' THEN CAST(CAST(xq AS DECIMAL(19,6))
                    * yq AS DECIMAL(38,12)) END) AS sxyt,
                CAST(sum(CASE WHEN g = 'c' THEN 1 ELSE 0 END)
                     AS BIGINT) AS nc,
                sum(CASE WHEN g = 'c' THEN xq END) AS sxc,
                sum(CASE WHEN g = 'c' THEN yq END) AS syc,
                sum(CASE WHEN g = 'c' THEN CAST(CAST(xq AS DECIMAL(19,6))
                    * xq AS DECIMAL(38,12)) END) AS sxxc,
                sum(CASE WHEN g = 'c' THEN CAST(CAST(yq AS DECIMAL(19,6))
                    * yq AS DECIMAL(38,12)) END) AS syyc,
                sum(CASE WHEN g = 'c' THEN CAST(CAST(xq AS DECIMAL(19,6))
                    * yq AS DECIMAL(38,12)) END) AS sxyc
              FROM u
            ), f AS (
              SELECT nt, nc,
                CASE WHEN CAST(syt AS DOUBLE) <> 0
                     THEN CAST(sxt AS DOUBLE) / CAST(syt AS DOUBLE)
                END AS rt,
                CASE WHEN CAST(syc AS DOUBLE) <> 0
                     THEN CAST(sxc AS DOUBLE) / CAST(syc AS DOUBLE)
                END AS rc,
                CASE WHEN nt >= 2 AND CAST(syt AS DOUBLE) <> 0 THEN
                  ((CAST(sxxt AS DOUBLE) - CAST(sxt AS DOUBLE)
                      * CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE))
                     / (CAST(nt AS DOUBLE) - 1.0)
                   - 2.0 * (CAST(sxt AS DOUBLE) / CAST(syt AS DOUBLE))
                     * ((CAST(sxyt AS DOUBLE) - CAST(sxt AS DOUBLE)
                          * CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE))
                        / (CAST(nt AS DOUBLE) - 1.0))
                   + (CAST(sxt AS DOUBLE) / CAST(syt AS DOUBLE))
                     * (CAST(sxt AS DOUBLE) / CAST(syt AS DOUBLE))
                     * ((CAST(syyt AS DOUBLE) - CAST(syt AS DOUBLE)
                          * CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE))
                        / (CAST(nt AS DOUBLE) - 1.0)))
                  / (CAST(nt AS DOUBLE)
                     * (CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE))
                     * (CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)))
                END AS vt,
                CASE WHEN nc >= 2 AND CAST(syc AS DOUBLE) <> 0 THEN
                  ((CAST(sxxc AS DOUBLE) - CAST(sxc AS DOUBLE)
                      * CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE))
                     / (CAST(nc AS DOUBLE) - 1.0)
                   - 2.0 * (CAST(sxc AS DOUBLE) / CAST(syc AS DOUBLE))
                     * ((CAST(sxyc AS DOUBLE) - CAST(sxc AS DOUBLE)
                          * CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE))
                        / (CAST(nc AS DOUBLE) - 1.0))
                   + (CAST(sxc AS DOUBLE) / CAST(syc AS DOUBLE))
                     * (CAST(sxc AS DOUBLE) / CAST(syc AS DOUBLE))
                     * ((CAST(syyc AS DOUBLE) - CAST(syc AS DOUBLE)
                          * CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE))
                        / (CAST(nc AS DOUBLE) - 1.0)))
                  / (CAST(nc AS DOUBLE)
                     * (CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE))
                     * (CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE)))
                END AS vc
              FROM m
            ), zz AS (
              SELECT nt, nc, rt, rc,
                     round(CASE WHEN vt IS NOT NULL AND vc IS NOT NULL
                                 AND vt + vc > 0
                           THEN (rt - rc) / sqrt(vt + vc) END, 6) + 0.0
                       AS z6
              FROM f
            )
            SELECT nt AS n_treat, nc AS n_control,
                   round(rt, 6) AS ratio_treat,
                   round(rc, 6) AS ratio_control,
                   round(rt - rc, 6) + 0.0 AS diff,
                   z6 AS z,
                   CAST(coalesce(abs(z6) >= 1.959964, false) AS INT)
                     AS significant
            FROM zz
        """,
        # replays operators/experiment.py jackknife_ratio_ci: md5-60
        # unit buckets mod 32, leave-one-out ratios from bucket sums,
        # (B-1)/B spread with 12dp-decimal cross-bucket sums
        "events_jackknife": f"""
            WITH pu AS (
              SELECT user_id,
                     CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                            THEN CAST(value AS DECIMAL(18,6)) END),
                          0) AS DOUBLE) AS rev,
                     count(*) AS n_events
              FROM events WHERE user_id IS NOT NULL
              GROUP BY 1
            ), q AS (
              SELECT CAST(('0x' || substr(md5('|'
                       || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       % {1_000_000} % 32 AS b,
                     CAST(round(rev, 6) AS DECIMAL(18,6)) AS xq,
                     CAST(round(CAST(n_events AS DOUBLE), 6)
                          AS DECIMAL(18,6)) AS yq
              FROM pu
            ), pb AS (
              SELECT b, count(*) AS n, sum(xq) AS sx, sum(yq) AS sy
              FROM q GROUP BY 1
            ), tot AS (
              SELECT CAST(sum(n) AS BIGINT) AS tn, sum(sx) AS ts,
                     sum(sy) AS tt, count(*) AS bu
              FROM pb
            ), th AS (
              SELECT CASE WHEN CAST(tot.tt - pb.sy AS DOUBLE) <> 0
                          THEN CAST(tot.ts - pb.sx AS DOUBLE)
                               / CAST(tot.tt - pb.sy AS DOUBLE)
                     END AS thb
              FROM pb CROSS JOIN tot
            ), s1 AS (
              SELECT CAST(sum(CAST(round(thb, 12) AS DECIMAL(38,12)))
                          AS DOUBLE) AS sth,
                     count(*) AS b2, count(thb) AS bv
              FROM th
            ), s2 AS (
              SELECT CAST(sum(CAST(round(
                       (thb - s1.sth / CAST(s1.b2 AS DOUBLE))
                       * (thb - s1.sth / CAST(s1.b2 AS DOUBLE)), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) AS sdev
              FROM th CROSS JOIN s1
            ), f AS (
              SELECT tot.tn, tot.bu,
                     CASE WHEN CAST(tot.tt AS DOUBLE) <> 0
                          THEN CAST(tot.ts AS DOUBLE)
                               / CAST(tot.tt AS DOUBLE) END AS ratio,
                     CASE WHEN tot.bu >= 2 AND s1.bv = tot.bu
                          AND (CAST(tot.bu AS DOUBLE) - 1.0)
                              / CAST(tot.bu AS DOUBLE) * s2.sdev >= 0
                          THEN sqrt((CAST(tot.bu AS DOUBLE) - 1.0)
                               / CAST(tot.bu AS DOUBLE) * s2.sdev)
                     END AS se
              FROM tot CROSS JOIN s1 CROSS JOIN s2
            )
            SELECT tn AS n_units, bu AS n_buckets_used,
                   round(ratio, 6) AS ratio, round(se, 6) AS se,
                   round(ratio - 1.959964 * se, 6) AS ci_lo,
                   round(ratio + 1.959964 * se, 6) AS ci_hi
            FROM f
        """,
        # replays operators/matrix.py cluster_quality: (cluster, dim)
        # decimal moments via unnest, 12dp scatter sums, centroid-pair
        # distances, CH + DB with identical guards
        "embed_cluster_quality": """
            WITH f AS (
              SELECT label AS c,
                     generate_subscripts(embedding, 1) - 1 AS i,
                     CAST(round(CAST(unnest(embedding) AS DOUBLE), 6)
                          AS DECIMAL(18,6)) AS v
              FROM embeddings
              WHERE embedding IS NOT NULL AND label IS NOT NULL
            ), cells AS (
              SELECT c, i, count(*) AS n, sum(v) AS s1,
                     sum(CAST(CAST(v AS DECIMAL(19,6)) * v
                              AS DECIMAL(38,12))) AS s2
              FROM f GROUP BY 1, 2
            ), gstats AS (
              SELECT i, CAST(sum(n) AS BIGINT) AS gn, sum(s1) AS gs1
              FROM cells GROUP BY 1
            ), perc AS (
              SELECT c, CAST(max(cells.n) AS BIGINT) AS nc,
                CAST(sum(CAST(round(CAST(cells.n AS DOUBLE)
                  * (CAST(cells.s1 AS DOUBLE) / CAST(cells.n AS DOUBLE)
                     - CAST(gstats.gs1 AS DOUBLE)
                       / CAST(gstats.gn AS DOUBLE))
                  * (CAST(cells.s1 AS DOUBLE) / CAST(cells.n AS DOUBLE)
                     - CAST(gstats.gs1 AS DOUBLE)
                       / CAST(gstats.gn AS DOUBLE)), 12)
                  AS DECIMAL(38,12))) AS DOUBLE) AS bc,
                CAST(sum(CAST(round(CAST(cells.s2 AS DOUBLE)
                  - CAST(cells.s1 AS DOUBLE)
                    * (CAST(cells.s1 AS DOUBLE)
                       / CAST(cells.n AS DOUBLE)), 12)
                  AS DECIMAL(38,12))) AS DOUBLE) AS wc
              FROM cells JOIN gstats ON cells.i = gstats.i
              GROUP BY 1
            ), tot AS (
              SELECT CAST(sum(nc) AS BIGINT) AS tn, count(*) AS tk,
                     CAST(sum(CAST(round(bc, 12) AS DECIMAL(38,12)))
                          AS DOUBLE) AS tb,
                     CAST(sum(CAST(round(wc, 12) AS DECIMAL(38,12)))
                          AS DOUBLE) AS tw
              FROM perc
            ), means AS (
              SELECT c, i,
                     CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m
              FROM cells
            ), pd2 AS (
              SELECT a.c AS ca, b.c AS cb,
                     CAST(sum(CAST(round((a.m - b.m) * (a.m - b.m), 12)
                                   AS DECIMAL(38,12))) AS DOUBLE) AS d2
              FROM means a JOIN means b
                ON a.i = b.i AND a.c < b.c
              GROUP BY 1, 2
            ), sc AS (
              SELECT c, sqrt(wc / CAST(nc AS DOUBLE)) AS s FROM perc
            ), rcd AS (
              SELECT ca, cb,
                     CASE WHEN d2 > 0
                          THEN (sa.s + sb.s) / sqrt(d2) END AS r
              FROM pd2
              JOIN sc sa ON pd2.ca = sa.c
              JOIN sc sb ON pd2.cb = sb.c
            ), orient AS (
              SELECT ca AS cc, r FROM rcd
              UNION ALL
              SELECT cb AS cc, r FROM rcd
            ), pm AS (
              SELECT cc, max(r) AS mr,
                     sum(CASE WHEN r IS NULL THEN 1 ELSE 0 END)
                       AS mnull
              FROM orient GROUP BY 1
            ), dbx AS (
              SELECT CAST(sum(CAST(round(mr, 12) AS DECIMAL(38,12)))
                          AS DOUBLE) AS sdb,
                     count(*) AS kdb, count(mr) AS kv,
                     CAST(sum(mnull) AS BIGINT) AS nulpairs
              FROM pm
            )
            SELECT tn AS n_vecs, tk AS n_clusters,
                   round(CASE WHEN tk >= 2 AND tn > tk AND tw > 0
                         THEN (tb / (CAST(tk AS DOUBLE) - 1.0))
                              / (tw / (CAST(tn AS DOUBLE)
                                       - CAST(tk AS DOUBLE)))
                         END, 6) AS calinski_harabasz,
                   round(CASE WHEN tk >= 2 AND kv = tk AND kdb = tk
                              AND nulpairs = 0
                         THEN sdb / CAST(kdb AS DOUBLE) END, 6)
                     AS davies_bouldin
            FROM tot CROSS JOIN dbx
        """,
        # replays operators/experiment.py stratified_ate: ntile strata
        # over (score, id), per-stratum conditional decimal moments,
        # size-weighted effects, no-common-support strata dropped
        "events_stratified_ate": """
            WITH pu AS (
              SELECT user_id,
                     CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                            THEN CAST(value AS DECIMAL(18,6)) END),
                          0) AS DOUBLE) AS rev,
                     count(*) AS ne
              FROM events WHERE user_id IS NOT NULL
              GROUP BY 1
            ), u AS (
              SELECT user_id,
                     CASE WHEN user_id % 2 > 0 THEN 1 ELSE 0 END AS t,
                     CAST(round(rev, 6) AS DECIMAL(18,6)) AS y,
                     ne AS s
              FROM pu
            ), r AS (
              SELECT t, y,
                     ntile(5) OVER (ORDER BY s, user_id) AS st
              FROM u
            ), ps AS (
              SELECT st,
                CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS nt,
                CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS ncn,
                sum(CASE WHEN t = 1 THEN y END) AS sty,
                sum(CASE WHEN t = 0 THEN y END) AS sc0,
                sum(CASE WHEN t = 1 THEN CAST(CAST(y AS DECIMAL(19,6))
                    * y AS DECIMAL(38,12)) END) AS stt,
                sum(CASE WHEN t = 0 THEN CAST(CAST(y AS DECIMAL(19,6))
                    * y AS DECIMAL(38,12)) END) AS scc
              FROM r GROUP BY 1
            ), e AS (
              SELECT st, nt, ncn,
                (nt > 0 AND ncn > 0) AS used,
                CAST(nt + ncn AS DOUBLE) AS ns,
                CAST(sty AS DOUBLE) / CAST(nt AS DOUBLE) AS mt,
                CAST(sc0 AS DOUBLE) / CAST(ncn AS DOUBLE) AS mc,
                CASE WHEN nt >= 2 THEN
                  (CAST(stt AS DOUBLE) - CAST(sty AS DOUBLE)
                     * (CAST(sty AS DOUBLE) / CAST(nt AS DOUBLE)))
                  / (CAST(nt AS DOUBLE) - 1.0) END AS vt,
                CASE WHEN ncn >= 2 THEN
                  (CAST(scc AS DOUBLE) - CAST(sc0 AS DOUBLE)
                     * (CAST(sc0 AS DOUBLE) / CAST(ncn AS DOUBLE)))
                  / (CAST(ncn AS DOUBLE) - 1.0) END AS vc
              FROM ps
            ), nn AS (
              SELECT CAST(count(*) AS BIGINT) AS n FROM u
            ), m AS (
              SELECT nn.n,
                CAST(sum(CASE WHEN used THEN 1 ELSE 0 END)
                     AS BIGINT) AS used_k,
                CAST(sum(CASE WHEN NOT used THEN 1 ELSE 0 END)
                     AS BIGINT) AS dropped_k,
                CAST(sum(CASE WHEN used
                     THEN CAST(ns AS DECIMAL(28,6)) END) AS DOUBLE)
                  AS wtot,
                CAST(sum(CASE WHEN used THEN CAST(round(
                     ns * (mt - mc), 12) AS DECIMAL(38,12)) END)
                     AS DOUBLE) AS eff,
                CAST(sum(CASE WHEN used THEN CAST(round(
                     ns * ns * (vt / CAST(nt AS DOUBLE)
                                + vc / CAST(ncn AS DOUBLE)), 12)
                     AS DECIMAL(38,12)) END) AS DOUBLE) AS var,
                sum(CASE WHEN used AND vt IS NOT NULL
                         AND vc IS NOT NULL THEN 1 END) AS vok
              FROM e CROSS JOIN nn
              GROUP BY nn.n
            ), z AS (
              SELECT n, used_k, dropped_k,
                CASE WHEN used_k >= 1 THEN eff / wtot END AS ate,
                CASE WHEN used_k >= 1 AND vok = used_k AND var >= 0
                     THEN sqrt(var) / wtot END AS se
              FROM m
            ), zz AS (
              SELECT n, used_k, dropped_k, ate, se,
                     round(CASE WHEN se > 0 THEN ate / se END, 6) + 0.0
                       AS z6
              FROM z
            )
            SELECT n AS n_units, used_k AS n_strata_used,
                   dropped_k AS n_strata_dropped,
                   round(ate, 6) + 0.0 AS ate, round(se, 6) AS se,
                   z6 AS z,
                   CAST(coalesce(abs(z6) >= 1.959964, false) AS INT)
                     AS significant
            FROM zz
        """,
        # the salted join is EXECUTION-ONLY: the oracle replays the
        # plain unsalted join — the hash compare proves salting changed
        # nothing but the task shape
        "lineitem_salted_join": """
            SELECT o.o_orderpriority,
                   count(*) AS n_items,
                   CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6)))
                        AS DOUBLE) AS revenue
            FROM lineitem l JOIN orders o
              ON l.l_orderkey = o.o_orderkey
            GROUP BY 1
        """,
        # replays operators/profiling.py quantile_bin: SQL ntile under
        # (value, rowid) — the remainder-rule semantics ntile_from_rank
        # reproduces exactly
        "lineitem_qbins": """
            WITH b AS (
              SELECT l_extendedprice,
                     ntile(10) OVER (ORDER BY l_extendedprice,
                                     l_orderkey * 16 + l_linenumber)
                       AS bin
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL
            )
            SELECT bin, count(*) AS n_rows,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
                        AS DOUBLE) AS revenue
            FROM b GROUP BY 1
        """,
        # replays operators/privacy.py l_diversity_report: grouped
        # count-distinct of the sensitive value, nulls added back as
        # their own disclosure
        "events_l_diversity": """
            SELECT event_type,
                   count(*) AS n_rows,
                   CAST(count(DISTINCT user_id)
                        + max(CASE WHEN user_id IS NULL
                              THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_sensitive,
                   CAST(count(DISTINCT user_id)
                        + max(CASE WHEN user_id IS NULL
                              THEN 1 ELSE 0 END) >= 5 AS INT)
                     AS is_diverse
            FROM events GROUP BY 1
        """,
        # replays operators/privacy.py dp_noisy_counts: the md5-60
        # inverse-Laplace draw keyed by (salt, cell) — noise is a pure
        # deterministic function, so both engines release identical
        # noisy counts; the r12 escape chain (\\x1e→\\x1e\\x1e,
        # \\x1f→\\x1e u, \\x00→\\x1e z) is replayed so separator-
        # bearing values key the same cells in both engines
        "events_dp_counts": f"""
            WITH c AS (
              SELECT event_type, count(*) AS n FROM events GROUP BY 1
            ), u AS (
              SELECT event_type, n,
                     CAST(('0x' || substr(md5('v1' || '|'
                            || coalesce(
                                 replace(replace(replace(event_type,
                                   chr(30), chr(30) || chr(30)),
                                   chr(31), chr(30) || 'u'),
                                   chr(0), chr(30) || 'z'),
                                 chr(0) || 'null')), 1, 15))
                          AS BIGINT)
                       / CAST({2**60} AS DOUBLE) - 0.5 AS half
              FROM c
            )
            SELECT event_type,
                   greatest(CAST(round(CAST(n AS DOUBLE)
                     - 1.0 * sign(half)
                       * ln(greatest(1.0 - 2.0 * abs(half), 1e-18)),
                     0) AS BIGINT), 0) AS noisy_count
            FROM u
        """,
        # replays operators/experiment.py wilcoxon_signed_rank: exact
        # decimal differences (zero diffs discarded), |d| midranks via
        # the window cumsum, tie-corrected variance
        "events_wilcoxon": """
            WITH pu AS (
              SELECT user_id,
                     CAST(coalesce(sum(CASE WHEN
                            day(CAST(ts AS TIMESTAMP)) % 2 = 0
                            THEN CAST(value AS DECIMAL(18,6)) END), 0)
                          AS DOUBLE) AS pre,
                     CAST(coalesce(sum(CASE WHEN
                            day(CAST(ts AS TIMESTAMP)) % 2 = 1
                            THEN CAST(value AS DECIMAL(18,6)) END), 0)
                          AS DOUBLE) AS post
              FROM events
              WHERE event_type = 'purchase' AND user_id IS NOT NULL
              GROUP BY 1
            ), dd AS (
              SELECT CAST(round(post, 6) AS DECIMAL(18,6))
                     - CAST(round(pre, 6) AS DECIMAL(18,6)) AS d
              FROM pu
            ), np AS (
              SELECT count(*) AS n_pairs FROM dd
            ), nz AS (
              SELECT d FROM dd WHERE d <> 0
            ), pv AS (
              SELECT abs(d) AS val,
                     CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS cp,
                     count(*) AS c
              FROM nz GROUP BY 1
            ), rk AS (
              SELECT val, cp, c,
                     sum(c) OVER (ORDER BY val ASC ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM pv
            ), m AS (
              SELECT CAST(sum(c) AS BIGINT) AS nn,
                     CAST(sum(CAST(cp AS DECIMAL(38,0))
                              * (2 * cum - c + 1)) AS DOUBLE) AS w2,
                     CAST(sum(CAST(c AS DECIMAL(38,0)) * c * c - c)
                          AS DOUBLE) AS tt
              FROM rk
            ), f AS (
              SELECT np.n_pairs, coalesce(m.nn, 0) AS nn, m.w2, m.tt,
                     CAST(coalesce(m.nn, 0) AS DOUBLE) AS nd
              FROM np CROSS JOIN m
            ), z AS (
              SELECT n_pairs, nn, w2, nd,
                     round(CASE WHEN nn > 0
                            AND nd * (nd + 1.0) * (2.0 * nd + 1.0)
                                / 24.0 - tt / 48.0 > 0
                           THEN (w2 / 2.0 - nd * (nd + 1.0) / 4.0)
                                / sqrt(nd * (nd + 1.0)
                                       * (2.0 * nd + 1.0) / 24.0
                                       - tt / 48.0)
                           END, 6) + 0.0 AS z6
              FROM f
            )
            SELECT n_pairs, nn AS n_nonzero,
                   CASE WHEN nn > 0 THEN round(w2 / 2.0, 6) END
                     AS w_plus,
                   z6 AS z,
                   CAST(coalesce(abs(z6) >= 1.959964, false) AS INT)
                     AS significant
            FROM z
        """,
        # replays operators/groupstats.py effect_size_report: per-arm
        # 6dp decimal moments (the _group_moments kernel, decimal(19,6)
        # square cast for DuckDB's int128 path), arm a = smaller
        # cohort, fixed IEEE Cohen/Hedges/Glass expressions
        "events_effect_sizes": """
            WITH pu AS (
              SELECT user_id % 2 AS cohort,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS rev
              FROM events
              WHERE user_id IS NOT NULL AND event_type = 'purchase'
              GROUP BY user_id
            ), m AS (
              SELECT cohort, count(*) AS n,
                     sum(CAST(round(rev, 6) AS DECIMAL(18,6))) AS s1,
                     sum(CAST(CAST(round(rev, 6) AS DECIMAL(19,6))
                              * CAST(round(rev, 6) AS DECIMAL(18,6))
                              AS DECIMAL(38,12))) AS s2
              FROM pu
              WHERE rev IS NOT NULL AND NOT isnan(rev)
              GROUP BY 1
            ), aa AS (
              SELECT n, s1, s2 FROM m ORDER BY cohort ASC LIMIT 1
            ), bb AS (
              SELECT n, s1, s2 FROM m ORDER BY cohort DESC LIMIT 1
            ), f AS (
              SELECT aa.n AS na, bb.n AS nb,
                     CAST(aa.n AS DOUBLE) AS n1,
                     CAST(bb.n AS DOUBLE) AS n2,
                     CAST(aa.s1 AS DOUBLE) AS s11,
                     CAST(bb.s1 AS DOUBLE) AS s12,
                     CAST(aa.s2 AS DOUBLE) AS s21,
                     CAST(bb.s2 AS DOUBLE) AS s22
              FROM aa CROSS JOIN bb
            ), g AS (
              SELECT na, nb, n1, n2,
                     s11 / n1 AS mean_a, s12 / n2 AS mean_b,
                     s12 / n2 - s11 / n1 AS diff,
                     s21 - s11 * s11 / n1 AS ssqa,
                     s22 - s12 * s12 / n2 AS ssqb
              FROM f
            ), h AS (
              SELECT na, nb, mean_a, mean_b, diff,
                     sqrt((ssqa + ssqb) / (n1 + n2 - 2.0)) AS pooled,
                     ssqa / (n1 - 1.0) AS var_a,
                     1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0) AS j,
                     na >= 2 AND nb >= 2 AS ok
              FROM g
            )
            SELECT na AS n_a, nb AS n_b,
                   round(mean_a, 6) + 0.0 AS mean_a,
                   round(mean_b, 6) + 0.0 AS mean_b,
                   round(diff, 6) + 0.0 AS mean_diff,
                   round(pooled, 6) + 0.0 AS pooled_sd,
                   round(CASE WHEN ok AND pooled > 0
                         THEN diff / pooled END, 6) + 0.0 AS cohens_d,
                   round(j * (CASE WHEN ok AND pooled > 0
                              THEN diff / pooled END), 6) + 0.0
                     AS hedges_g,
                   round(CASE WHEN ok AND var_a > 0
                         THEN diff / sqrt(var_a) END, 6) + 0.0
                     AS glass_delta
            FROM h
        """,
        # replays operators/groupstats.py cliffs_delta: dominance
        # counts at the distinct-value grain (cum of arm-a counts,
        # exact DECIMAL(38,0) products), Romano magnitude labels
        "events_cliffs_delta": """
            WITH pu AS (
              SELECT user_id % 2 AS g,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       AS v
              FROM events
              WHERE user_id IS NOT NULL AND event_type = 'purchase'
              GROUP BY user_id
            ), pv AS (
              SELECT v,
                     sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS ca,
                     sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS cb
              FROM pu
              WHERE v IS NOT NULL AND NOT isnan(v)
              GROUP BY v
            ), c AS (
              SELECT v, ca, cb,
                     sum(ca) OVER (ORDER BY v ASC
                                   ROWS UNBOUNDED PRECEDING) AS cum
              FROM pv
            ), t AS (
              SELECT sum(ca) AS na, sum(cb) AS nb FROM pv
            ), s AS (
              SELECT max(t.na) AS n1, max(t.nb) AS n2,
                     coalesce(sum(CAST(cb AS DECIMAL(38,0))
                                  * CAST(cum - ca AS DECIMAL(38,0))),
                              CAST(0 AS DECIMAL(38,0))) AS gt,
                     coalesce(sum(CAST(cb AS DECIMAL(38,0))
                                  * (CAST(t.na AS DECIMAL(38,0))
                                     - CAST(cum AS DECIMAL(38,0)))),
                              CAST(0 AS DECIMAL(38,0))) AS lt,
                     coalesce(sum(CAST(cb AS DECIMAL(38,0))
                                  * CAST(ca AS DECIMAL(38,0))),
                              CAST(0 AS DECIMAL(38,0))) AS tie
              FROM c CROSS JOIN t
            ), z AS (
              SELECT n1, n2,
                     CAST(gt AS BIGINT) AS n_gt,
                     CAST(lt AS BIGINT) AS n_lt,
                     CAST(tie AS BIGINT) AS n_tie,
                     round((CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE))
                           / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)),
                           6) + 0.0 AS d6
              FROM s
            )
            SELECT CAST(n1 AS BIGINT) AS n_a,
                   CAST(n2 AS BIGINT) AS n_b, n_gt, n_lt, n_tie,
                   d6 AS cliffs_delta,
                   CASE WHEN abs(d6) < 0.147 THEN 'negligible'
                        WHEN abs(d6) < 0.33 THEN 'small'
                        WHEN abs(d6) < 0.474 THEN 'medium'
                        WHEN abs(d6) >= 0.474 THEN 'large' END
                     AS magnitude
            FROM z
        """,
    }
    # docs_curated3 = docs_curated2 with the encoding-repair stage
    # prepended: the identical chain replay over nfc_normalize(text) —
    # derived from the curated2 SQL so the two oracles can never drift
    d["docs_curated3"] = d["docs_curated2"].replace(
        "SELECT doc_id, text, source,",
        "SELECT doc_id, nfc_normalize(text) AS text, source,",
        1,
    )
    # the merged-sketch entry's oracle IS the direct whole-corpus sketch:
    # the hash compare proves merge(sk(A), sk(B)) == sk(A ∪ B)
    d["events_distinct_kmv_merged"] = d["events_distinct_kmv"]
    # the indexed-BM25 entry's oracle IS the inline corpus-scan SQL: the
    # hash compare proves the index probe reproduces the full-scan
    # scores bit-for-bit (same IEEE expression in query-term order)
    d["docs_bm25_indexed"] = d["docs_bm25"]
    d["lineitem_correlations"] = _corr_sql(
        "lineitem", ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )
    # embed_pca (round 12 — the last rows-only entry, now oracled): the
    # oracle harness is Python, so the loadings need not be "SQL
    # arithmetic" — build them HERE by replaying the proven covariance
    # SQL in DuckDB and calling the SAME LAPACK eigh + sign rule the
    # operator uses, then emit a pure-SQL projection over the literal
    # loadings (construction in _build_embed_pca_oracle)
    d["embed_pca"] = _build_embed_pca_oracle(d["embed_covariance"])
    # embed_whiten: the same construction with the 1/sqrt(lambda)
    # loading scale applied inside the SHARED pca_loadings_from_cov
    # (both sides scale identically, so the literals match bit-for-bit)
    d["embed_whiten"] = _build_embed_pca_oracle(
        d["embed_covariance"], whiten=True
    )
    # lineitem_ols / lineitem_ols_fit: data-derived literal oracles —
    # the moment SQL replays in DuckDB, the SAME shared solve emits
    # bit-identical literals (the embed_pca construction)
    d["lineitem_ols"], d["lineitem_ols_fit"] = _build_ols_oracles()
    # lineitem_ridge (round 13): the same moment replay with the shared
    # solve's l2 branch — the penalty is driver arithmetic, so the
    # oracle construction is unchanged
    d["lineitem_ridge"] = _build_ols_oracles(
        xs=["l_quantity", "l_discount", "l_tax"], l2=RIDGE_L2
    )[0]
    # lineitem_ols_by_group (round 13): grouped moment replay + the
    # identical per-group solve/skip
    d["lineitem_ols_by_group"] = _build_ols_by_group_oracle()
    # lineitem_wls / lineitem_bp / lineitem_ols_residuals (round 13):
    # weighted moments, the two-pass BP replay, and the per-row literal
    # projection — all through the shared solve/finish helpers
    d["lineitem_wls"] = _build_wls_oracle()
    d["lineitem_bp"] = _build_bp_oracle()
    d["lineitem_ols_residuals"] = _build_ols_residuals_oracle()
    # lineitem_vif / lineitem_poisson[_fit] (round 13): the moment
    # replay through the shared correlation-inverse finish, and the
    # Poisson IRLS float trajectory walked pass-by-pass in DuckDB
    d["lineitem_vif"] = _build_vif_oracle()
    d["lineitem_poisson"], d["lineitem_poisson_fit"] = (
        _build_poisson_oracles()
    )
    # lineitem_chow / lineitem_iv / lineitem_dw (round 14): grouped
    # moment replay through the shared Chow solve, the widened IV
    # moment replay through the shared sandwich solve, and the
    # beta-literal pure-SQL Durbin-Watson
    d["lineitem_chow"] = _build_chow_oracle()
    d["lineitem_iv"] = _build_iv_oracle()
    d["lineitem_dw"] = _build_dw_oracle()
    # events_pacf / events_ljung_box / events_adf (round 14): the
    # standard-ACF sidecar replayed once in DuckDB through the shared
    # Durbin-Levinson / cumulative-Q / adf_finish arithmetic
    d["events_pacf"], d["events_ljung_box"] = _build_pacf_lb_oracles()
    d["events_adf"] = _build_adf_oracle()
    # lineitem_stump / lineitem_tree (round 14): range + histogram
    # aggregates replayed in DuckDB through the shared split scan
    d["lineitem_stump"], d["lineitem_tree"] = _build_tree_oracles()
    # docs_nb_confusion (round 14): count replay through the shared
    # driver-side log tables, decimal scoring in pure SQL
    d["docs_nb_confusion"] = _build_nb_oracle()
    # events_holt / events_isotonic (round 14): bounded-sidecar replay
    # through the shared Holt recursion / PAV merge
    d["events_holt"] = _build_holt_oracle()
    d["events_isotonic"] = _build_isotonic_oracle()
    # embed_jl_distortion (round 14): the shared sign-matrix literals
    # + left-fold dot arithmetic replayed via DuckDB list_reduce
    d["embed_jl_distortion"] = _build_jl_oracle()
    # privacy_tcloseness / events_burstiness / docs_heaps (round 14)
    d["privacy_tcloseness"] = _build_tcloseness_oracle()
    d["events_burstiness"] = _BURSTINESS_ORACLE_SQL
    d["docs_heaps"] = _build_heaps_oracle()
    # events_permutation (round 14): relabel/cell replay + the shared
    # driver arithmetic
    d["events_permutation"] = _build_permutation_oracle()
    # events_mh_or / events_smd (round 14)
    d["events_mh_or"] = _mh_oracle_sql()
    d["events_smd"] = _build_smd_oracle()
    # lineitem_negbin / lineitem_huber (round 14): the NB2 and
    # Huber-IRLS float trajectories walked pass-by-pass in DuckDB
    # through the shared warm-start/step/finalize helpers
    d["lineitem_negbin"] = _build_negbin_oracle()
    d["lineitem_huber"] = _build_huber_oracle()
    # lineitem_gamma (round 14): the Gamma-GLM trajectory through the
    # shared warm-start/step and gamma_finalize
    d["lineitem_gamma"] = _build_gamma_oracle()
    # lineitem_logit_by_group (round 13): the grouped IRLS trajectory
    # walked per-segment in DuckDB through the shared step/finalize
    d["lineitem_logit_by_group"] = _build_logit_by_group_oracle()
    # events_cox (round 13): the Breslow partial-likelihood Newton
    # trajectory — per-pass risk-set SQL looped in DuckDB through the
    # same shared step helper
    d["events_cox"] = _build_events_cox_oracle()
    # events_cox_baseline (round 14): the SAME shared DuckDB Cox
    # trajectory, then one plain window-cumsum SQL for H0/S0 at the
    # final beta literals
    d["events_cox_baseline"] = _build_cox_baseline_oracle()
    # events_cox_predict (round 14): the shared trajectory + the
    # bounded H0(tau) probe + a literal-beta per-subject SELECT
    d["events_cox_predict"] = _build_cox_predict_oracle()
    # events_weibull (round 14): the damped-Newton AFT trajectory
    # through the shared warm-start/step helpers
    d["events_weibull"] = _build_weibull_oracle()
    # events_rmst (round 14): one static window-SQL replay
    d["events_rmst"] = _build_rmst_oracle()
    # events_km_ci (round 14): the km window replay + the Greenwood
    # cumsum + the log-log band transform, text-for-text
    d["events_km_ci"] = _KM_CI_ORACLE
    # lineitem_logit / lineitem_logit_fit: the IRLS float trajectory
    # replayed pass-by-pass in DuckDB through the same shared
    # step/finalize helpers
    d["lineitem_logit"], d["lineitem_logit_fit"] = (
        _build_logistic_oracles()
    )
    return d


def _build_logistic_oracles() -> tuple[str, str]:
    """Oracles for the logistic entries: loop the SAME fixed IRLS
    pass count in DuckDB — each pass mirrors the operator's per-row
    expressions text-for-text (decimal-quantized features, 12dp
    decimal term sums, beta literals at full double precision) and
    feeds the SAME shared ``logistic_step`` / ``logistic_finalize``,
    so both engines walk one float trajectory; the final coefficients
    and fit stats are emitted as literal SELECTs."""
    import duckdb

    from intake_esm_spark.operators.regression import (
        N_IRLS_ITER,
        logistic_finalize,
        logistic_step,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    xs = ["l_quantity", "l_discount"]

    def xq(c: str) -> str:
        # plain round: the double IS the nearest double to the 6dp
        # decimal (the decimal round-trip is a numeric no-op the Spark
        # pass also dropped for per-row cost)
        return f"round(CAST({c} AS DOUBLE), 6)"

    def pass_sql(beta: list[float]) -> str:
        eta = repr(float(beta[0]))
        for bj, c in zip(beta[1:], xs):
            eta = f"{eta} + {float(bj)!r} * {xq(c)}"
        pre = (
            f"WITH r AS (SELECT CAST(l_returnflag = 'R' AS INT) AS y,"
            f" {xq(xs[0])} AS x1, {xq(xs[1])} AS x2,"
            f" 1.0 / (1.0 + exp(-({eta}))) AS mu"
            f" FROM '{sf_dir}/lineitem.parquet'"
            " WHERE l_returnflag IS NOT NULL"
            " AND l_quantity IS NOT NULL AND l_discount IS NOT NULL)"
        )
        terms = ["count(*) AS n"]
        xcols = ["1.0", "x1", "x2"]
        for j2, xj in enumerate(xcols):
            terms.append(
                f"sum(CAST(round((CAST(y AS DOUBLE) - mu) * {xj}, 12)"
                f" AS DECIMAL(38,12))) AS g_{j2}"
            )
            for i in range(j2, len(xcols)):
                terms.append(
                    f"sum(CAST(round(mu * (1.0 - mu) * {xj} * {xcols[i]},"
                    f" 12) AS DECIMAL(38,12))) AS h_{j2}_{i}"
                )
        clamp = (
            f"greatest(least(mu, {1.0 - 1e-15!r}), {1e-15!r})"
        )
        terms.append(
            "sum(CAST(round(-(CAST(y AS DOUBLE) * ln(" + clamp + ")"
            " + (1.0 - CAST(y AS DOUBLE)) * ln(1.0 - " + clamp + ")),"
            " 12) AS DECIMAL(38,12))) AS ll"
        )
        return pre + " SELECT " + ", ".join(terms) + " FROM r"

    con = duckdb.connect()

    def run(sql: str) -> dict:
        row = con.execute(sql).fetchone()
        return dict(zip([d0[0] for d0 in con.description], row))

    beta = [0.0] * (len(xs) + 1)
    for _ in range(N_IRLS_ITER):
        beta = logistic_step(run(pass_sql(beta)), beta, len(xs))
    sol = logistic_finalize(run(pass_sql(beta)), beta, xs)

    def lit(v) -> str:
        return "CAST(NULL AS DOUBLE)" if v is None else repr(float(v))

    coef_rows = " UNION ALL ".join(
        f"SELECT '{t}' AS term, {lit(c)} AS coef, {lit(s)} AS std_err,"
        f" {lit(z)} AS z_stat"
        for t, c, s, z in zip(
            sol["terms"], sol["coef"], sol["std_err"], sol["z_stat"]
        )
    )
    fit_sql = (
        f"SELECT CAST({sol['n']} AS BIGINT) AS n_rows,"
        f" CAST({sol['n_iter']} AS INT) AS n_iter,"
        f" {lit(sol['log_loss'])} AS log_loss"
    )
    return coef_rows, fit_sql


def _ols_moment_sql_cols(xs: list[str], y: str) -> list[str]:
    """The DuckDB replay of regression._ols_moment_proj /
    _ols_moment_sums — shared by the plain-OLS, ridge, and grouped-OLS
    oracle builders so the moment SQL can never drift between them."""

    def q6(c: str) -> str:
        return f"CAST(round(CAST({c} AS DOUBLE), 6) AS DECIMAL(18,6))"

    def prod(a: str, b: str) -> str:
        return (
            f"CAST(CAST(round(CAST({a} AS DOUBLE), 6) AS DECIMAL(19,6))"
            f" * {q6(b)} AS DECIMAL(38,12))"
        )

    cols = ["count(*) AS n"]
    for i, c in enumerate(xs):
        cols.append(f"sum({q6(c)}) AS s_{i}")
        cols.append(f"sum({prod(c, y)}) AS q_{i}")
        for j2 in range(i, len(xs)):
            cols.append(f"sum({prod(c, xs[j2])}) AS p_{i}_{j2}")
    cols.append(f"sum({q6(y)}) AS sy")
    cols.append(f"sum({prod(y, y)}) AS syy")
    return cols


def _ols_lit(v) -> str:
    return "CAST(NULL AS DOUBLE)" if v is None else repr(float(v))


def _build_ols_oracles(
    xs: list[str] | None = None, l2: float = 0.0
) -> tuple[str, str]:
    """Oracles for the OLS/ridge entries (regression.py module
    docstring): replay the exact-decimal second-order moment aggregate
    in DuckDB over the same complete-case filter, hand the Decimal
    moments to the SAME :func:`~intake_esm_spark.operators.regression.
    ols_solve_from_moments` the operator uses — including the ridge
    ``l2`` branch (bit-identical floats — the solve never crosses an
    engine boundary), and emit the coefficient rows / fit row as
    literal SELECTs."""
    import duckdb

    from intake_esm_spark.operators.regression import (
        ols_solve_from_moments,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    xs = xs or ["l_quantity", "l_discount"]
    y = "l_extendedprice"
    cols = _ols_moment_sql_cols(xs, y)
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in [y, *xs])
    con = duckdb.connect()
    row = con.execute(
        f"SELECT {', '.join(cols)} FROM "
        f"'{sf_dir}/lineitem.parquet' WHERE {notnull}"
    ).fetchone()
    names = [d[0] for d in con.description]
    sol = ols_solve_from_moments(dict(zip(names, row)), xs, l2=l2)
    lit = _ols_lit
    coef_rows = " UNION ALL ".join(
        f"SELECT '{t}' AS term, {lit(c)} AS coef, {lit(s)} AS std_err,"
        f" {lit(ts)} AS t_stat"
        for t, c, s, ts in zip(
            sol["terms"], sol["coef"], sol["std_err"], sol["t_stat"]
        )
    )
    fit_sql = (
        f"SELECT CAST({sol['n']} AS BIGINT) AS n_rows,"
        f" CAST({sol['df_resid']} AS BIGINT) AS df_resid,"
        f" {lit(sol['r2'])} AS r2, {lit(sol['rmse'])} AS rmse,"
        f" {lit(sol['resid_se'])} AS resid_se,"
        f" {lit(sol['f_stat'])} AS f_stat"
    )
    return coef_rows, fit_sql


def _build_wls_oracle() -> str:
    """Oracle for lineitem_wls: the weighted moment SQL replayed in
    DuckDB (6dp-quantized variables in a subquery, 12dp-rounded
    left-associated products — text-for-text the operator's projection)
    through the SAME shared ``wls_solve_from_moments``."""
    import duckdb

    from intake_esm_spark.operators.regression import (
        wls_solve_from_moments,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    xs = ["l_discount", "l_tax"]
    y, w = "l_extendedprice", "l_quantity"
    inner_cols = [
        f"round(CAST({w} AS DOUBLE), 6) AS wq",
        f"round(CAST({y} AS DOUBLE), 6) AS yq",
    ] + [
        f"round(CAST({c} AS DOUBLE), 6) AS xq{i}"
        for i, c in enumerate(xs)
    ]
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in [y, w, *xs])
    inner = (
        f"SELECT {', '.join(inner_cols)} FROM "
        f"'{sf_dir}/lineitem.parquet' WHERE {notnull}"
        f" AND round(CAST({w} AS DOUBLE), 6) > 0"
    )

    def t12(expr: str) -> str:
        return f"sum(CAST(round({expr}, 12) AS DECIMAL(38,12)))"

    cols = [
        "count(*) AS n",
        "sum(CAST(wq AS DECIMAL(18,6))) AS sw",
    ]
    for i in range(len(xs)):
        cols.append(f"{t12(f'wq * xq{i}')} AS s_{i}")
        cols.append(f"{t12(f'wq * xq{i} * yq')} AS q_{i}")
        for j2 in range(i, len(xs)):
            cols.append(f"{t12(f'wq * xq{i} * xq{j2}')} AS p_{i}_{j2}")
    cols.append(f"{t12('wq * yq')} AS sy")
    cols.append(f"{t12('wq * yq * yq')} AS syy")
    con = duckdb.connect()
    cur = con.execute(f"SELECT {', '.join(cols)} FROM ({inner})")
    row = cur.fetchone()
    sol = wls_solve_from_moments(
        dict(zip([d[0] for d in cur.description], row)), xs
    )
    lit = _ols_lit
    return " UNION ALL ".join(
        f"SELECT '{t}' AS term, {lit(c)} AS coef, {lit(s)} AS std_err,"
        f" {lit(ts)} AS t_stat"
        for t, c, s, ts in zip(
            sol["terms"], sol["coef"], sol["std_err"], sol["t_stat"]
        )
    )


def _build_chow_oracle() -> str:
    """Oracle for lineitem_chow: the grouped exact-decimal moment SQL
    (text-for-text the operator's per-regime aggregate) replayed in
    DuckDB, the two Decimal sidecar rows handed to the SAME shared
    ``chow_solve_from_moments`` (pooled moments = Decimal sums, three
    closed-form fits, the F) — one literal row."""
    import duckdb

    from intake_esm_spark.operators.regression import (
        chow_solve_from_moments,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    xs = ["l_quantity", "l_discount"]
    y, g = "l_extendedprice", "l_linestatus"
    cols = _ols_moment_sql_cols(xs, y)
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in [y, *xs, g])
    con = duckdb.connect()
    cur = con.execute(
        f"SELECT CAST({g} AS VARCHAR) AS __grp, {', '.join(cols)}"
        f" FROM '{sf_dir}/lineitem.parquet' WHERE {notnull}"
        f" GROUP BY 1"
    )
    names = [d[0] for d in cur.description]
    moms = {
        row[0]: dict(zip(names[1:], row[1:])) for row in cur.fetchall()
    }
    sol = chow_solve_from_moments(moms, xs)
    lit = _ols_lit
    return (
        f"SELECT '{sol['grp_a']}' AS grp_a, '{sol['grp_b']}' AS grp_b,"
        f" CAST({sol['n_a']} AS BIGINT) AS n_a,"
        f" CAST({sol['n_b']} AS BIGINT) AS n_b,"
        f" CAST({sol['df_num']} AS BIGINT) AS df_num,"
        f" CAST({sol['df_den']} AS BIGINT) AS df_den,"
        f" {lit(sol['sse_pooled'])} AS sse_pooled,"
        f" {lit(sol['sse_within'])} AS sse_within,"
        f" {lit(sol['f_stat'])} AS f_stat"
    )


def _iv_moment_sql_cols(
    xs: list[str], zs: list[str], y: str
) -> list[str]:
    """The DuckDB replay of regression._iv_moment_proj /
    _iv_moment_sums — the OLS moment-column discipline widened with
    the Z'X (every pair — not symmetric) / Z'Z cross-moments."""

    def q6(c: str) -> str:
        return f"CAST(round(CAST({c} AS DOUBLE), 6) AS DECIMAL(18,6))"

    def prod(a: str, b: str) -> str:
        return (
            f"CAST(CAST(round(CAST({a} AS DOUBLE), 6) AS DECIMAL(19,6))"
            f" * {q6(b)} AS DECIMAL(38,12))"
        )

    cols = [
        "count(*) AS n",
        f"sum({q6(y)}) AS sy",
        f"sum({prod(y, y)}) AS syy",
    ]
    for i, c in enumerate(xs):
        cols.append(f"sum({q6(c)}) AS sx_{i}")
        cols.append(f"sum({prod(c, y)}) AS xy_{i}")
        for j2 in range(i, len(xs)):
            cols.append(f"sum({prod(c, xs[j2])}) AS xx_{i}_{j2}")
    for i, c in enumerate(zs):
        cols.append(f"sum({q6(c)}) AS sz_{i}")
        cols.append(f"sum({prod(c, y)}) AS zy_{i}")
        for j2 in range(i, len(zs)):
            cols.append(f"sum({prod(c, zs[j2])}) AS zz_{i}_{j2}")
        for j2 in range(len(xs)):
            cols.append(f"sum({prod(c, xs[j2])}) AS zx_{i}_{j2}")
    return cols


def _build_iv_oracle() -> str:
    """Oracle for lineitem_iv: the widened (1, x, z, y) moment SQL
    replayed in DuckDB over the same complete-case filter, the Decimal
    moments handed to the SAME shared ``iv_solve_from_moments``
    (closed-form (Z'X)^-1 Z'y + the just-identified sandwich) —
    literal coefficient rows."""
    import duckdb

    from intake_esm_spark.operators.regression import (
        iv_solve_from_moments,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    xs = ["l_quantity", "l_tax"]
    zs = ["l_linenumber", "l_tax"]
    y = "l_extendedprice"
    cols = _iv_moment_sql_cols(xs, zs, y)
    notnull = " AND ".join(
        f"{c} IS NOT NULL" for c in dict.fromkeys([y, *xs, *zs])
    )
    con = duckdb.connect()
    cur = con.execute(
        f"SELECT {', '.join(cols)} FROM "
        f"'{sf_dir}/lineitem.parquet' WHERE {notnull}"
    )
    row = cur.fetchone()
    sol = iv_solve_from_moments(
        dict(zip([d[0] for d in cur.description], row)), xs, zs
    )
    lit = _ols_lit
    return " UNION ALL ".join(
        f"SELECT '{t}' AS term, {lit(c)} AS coef, {lit(s)} AS std_err,"
        f" {lit(ts)} AS t_stat"
        for t, c, s, ts in zip(
            sol["terms"], sol["coef"], sol["std_err"], sol["t_stat"]
        )
    )


def _build_dw_oracle() -> str:
    """Oracle for lineitem_dw: pass 1 (OLS moments -> shared solve ->
    6dp beta literals) replayed in DuckDB, then a PURE-SQL DW — the
    residual expression at beta literals (left-associated,
    text-for-text with the operator's eta chain), row_number over the
    same total order standing in for the bucketed global rank, the
    rank+1 self-join, and the identical 12dp DECIMAL(38,12) sums."""
    from intake_esm_spark.operators.regression import (
        ols_solve_from_moments,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    xs = ["l_quantity", "l_discount"]
    y = "l_extendedprice"
    mom, con = _bp_ols_moments_duckdb(xs, y)
    beta = ols_solve_from_moments(mom, xs)["coef"]
    eta = repr(float(beta[0]))
    for i, bj in enumerate(beta[1:]):
        eta = (
            f"({eta} + {float(bj)!r}"
            f" * round(CAST({xs[i]} AS DOUBLE), 6))"
        )
    notnull = " AND ".join(
        f"{c} IS NOT NULL"
        for c in [y, *xs, "l_orderkey", "l_linenumber"]
    )
    d38 = "DECIMAL(38,12)"
    return f"""
        WITH base AS (
          SELECT CAST(l_orderkey AS DOUBLE) AS ord,
                 l_linenumber AS tb,
                 round(round(CAST({y} AS DOUBLE), 6) - {eta}, 6) AS e
          FROM '{sf_dir}/lineitem.parquet' WHERE {notnull}
        ), ranked AS (
          SELECT e, row_number() OVER (ORDER BY ord, tb) AS rn
          FROM base
        ), pairs AS (
          SELECT
            sum(CAST(round((a.e - b.e) * (a.e - b.e), 12) AS {d38}))
              AS num,
            sum(CAST(round(a.e * b.e, 12) AS {d38})) AS crs
          FROM ranked a JOIN ranked b ON a.rn = b.rn + 1
        ), den AS (
          SELECT count(*) AS n_rows,
                 sum(CAST(round(e * e, 12) AS {d38})) AS dn
          FROM ranked
        )
        SELECT den.n_rows AS n_rows,
          CASE WHEN CAST(dn AS DOUBLE) > 0 THEN
            round(CAST(num AS DOUBLE) / CAST(dn AS DOUBLE), 6) END
            AS dw_stat,
          CASE WHEN CAST(dn AS DOUBLE) > 0 THEN
            round(CAST(crs AS DOUBLE) / CAST(dn AS DOUBLE), 6) END
            AS rho1
        FROM den CROSS JOIN pairs
    """


def _duck_ranges(con, src: str, x_cols: list[str]) -> dict:
    """DuckDB replay of trees.feature_ranges: 6dp min/max."""
    aggs = ", ".join(
        f"min(round(CAST({c} AS DOUBLE), 6)),"
        f" max(round(CAST({c} AS DOUBLE), 6))"
        for c in x_cols
    )
    row = con.execute(f"SELECT {aggs} FROM {src}").fetchone()
    return {
        c: (row[2 * i], row[2 * i + 1]) for i, c in enumerate(x_cols)
    }


def _duck_hist(
    con,
    src: str,
    label_sql: str,
    x_cols: list[str],
    ranges: dict,
    n_bins: int,
) -> dict:
    """DuckDB replay of trees.binned_histogram: per-(feature, bin)
    (cnt, pos) at the same literal boundaries / IEEE bin id."""
    hist: dict = {}
    for c in x_cols:
        mn, mx = ranges[c]
        if mn is None or mx is None or mx <= mn:
            continue
        w = (float(mx) - float(mn)) / n_bins
        bin_expr = (
            f"CAST(least({n_bins - 1}, greatest(0,"
            f" floor((round(CAST({c} AS DOUBLE), 6) - {float(mn)!r})"
            f" / {w!r}))) AS INT)"
        )
        rows = con.execute(
            f"SELECT {bin_expr} AS b, count(*), sum({label_sql})"
            f" FROM {src} GROUP BY 1"
        ).fetchall()
        hist[c] = {int(r[0]): (int(r[1]), int(r[2])) for r in rows}
    return hist


def _build_tree_oracles() -> tuple[str, str]:
    """Oracles for lineitem_stump / lineitem_tree: the range and
    histogram aggregates replayed in DuckDB (literal boundaries,
    identical IEEE bin arithmetic), every split decision through the
    SAME shared ``best_splits_from_hist`` — literal rows.  The tree
    replays the root argmax and both child-region passes with the
    root threshold as the region predicate, exactly the operator's
    recurrence."""
    import duckdb

    from intake_esm_spark.operators.trees import (
        best_splits_from_hist,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    xs = ["l_quantity", "l_discount", "l_tax"]
    label = "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"
    n_bins = 16
    lit = _ols_lit

    def ilit(v) -> str:
        return (
            "CAST(NULL AS BIGINT)"
            if v is None
            else f"CAST({int(v)} AS BIGINT)"
        )

    def split_row(t: tuple, prefix: str = "") -> str:
        return (
            f"SELECT {prefix}'{t[0]}' AS feature,"
            f" {lit(t[1])} AS threshold, {lit(t[2])} AS gain,"
            f" {ilit(t[3])} AS n_left, {ilit(t[4])} AS n_right,"
            f" {ilit(t[5])} AS pos_left, {ilit(t[6])} AS pos_right"
        )

    con = duckdb.connect()
    src = f"'{sf_dir}/lineitem.parquet'"
    ranges = _duck_ranges(con, src, xs)
    hist = _duck_hist(con, src, label, xs, ranges, n_bins)
    roots = best_splits_from_hist(hist, ranges, xs, n_bins)
    stump_sql = " UNION ALL ".join(split_row(t) for t in roots)

    valid = [r for r in roots if r[2] is not None]
    tree_rows = []
    if not valid:
        tree_rows.append(
            "SELECT 'root' AS node, CAST(NULL AS VARCHAR) AS feature,"
            " CAST(NULL AS DOUBLE) AS threshold,"
            " CAST(NULL AS DOUBLE) AS gain,"
            " CAST(NULL AS BIGINT) AS n_left,"
            " CAST(NULL AS BIGINT) AS n_right,"
            " CAST(NULL AS BIGINT) AS pos_left,"
            " CAST(NULL AS BIGINT) AS pos_right"
        )
    else:
        root = max(valid, key=lambda r: r[2])
        tree_rows.append(split_row(root, prefix="'root' AS node, "))
        for node, op in (("L", "<"), ("R", ">=")):
            side = (
                f"(SELECT * FROM {src} WHERE"
                f" round(CAST({root[0]} AS DOUBLE), 6) {op}"
                f" {float(root[1])!r})"
            )
            rng = _duck_ranges(con, side, xs)
            h = _duck_hist(con, side, label, xs, rng, n_bins)
            cand = [
                r
                for r in best_splits_from_hist(h, rng, xs, n_bins)
                if r[2] is not None
            ]
            if cand:
                tree_rows.append(
                    split_row(
                        max(cand, key=lambda r: r[2]),
                        prefix=f"'{node}' AS node, ",
                    )
                )
            else:
                tree_rows.append(
                    f"SELECT '{node}' AS node,"
                    " CAST(NULL AS VARCHAR) AS feature,"
                    " CAST(NULL AS DOUBLE) AS threshold,"
                    " CAST(NULL AS DOUBLE) AS gain,"
                    " CAST(NULL AS BIGINT) AS n_left,"
                    " CAST(NULL AS BIGINT) AS n_right,"
                    " CAST(NULL AS BIGINT) AS pos_left,"
                    " CAST(NULL AS BIGINT) AS pos_right"
                )
    return stump_sql, " UNION ALL ".join(tree_rows)


def _build_nb_oracle() -> str:
    """Oracle for docs_nb_confusion: the token/count aggregates
    replayed in DuckDB, the Decimal counts through the SAME shared
    ``nb_class_tables`` (python math.log both sides — no engine
    libm), then the full decimal scoring/argmax/confusion in pure
    SQL with the log tables inlined as VALUES literals."""
    import duckdb

    from intake_esm_spark.operators.classify import nb_class_tables

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    n_hash = 256
    src = f"'{sf_dir}/documents.parquet'"
    tok = (
        "SELECT doc_id, CAST(lang AS VARCHAR) AS actual,"
        " unnest(list_filter(string_split_regex(lower(trim(text)),"
        " '\\s+'), x -> x <> '')) AS t"
        f" FROM {src}"
        " WHERE text IS NOT NULL AND lang IS NOT NULL"
    )
    tf = (
        f"SELECT doc_id, actual, {_h60_sql('t')} % {n_hash} AS h,"
        f" count(*) AS tf FROM ({tok}) GROUP BY 1, 2, 3"
    )
    con = duckdb.connect()
    counts = {
        (r[0], int(r[1])): int(r[2])
        for r in con.execute(
            f"SELECT actual, h, sum(tf) FROM ({tf}) GROUP BY 1, 2"
        ).fetchall()
    }
    docs_c = {
        r[0]: int(r[1])
        for r in con.execute(
            f"SELECT CAST(lang AS VARCHAR), count(*) FROM {src}"
            " WHERE text IS NOT NULL AND lang IS NOT NULL GROUP BY 1"
        ).fetchall()
    }
    delta, cbase = nb_class_tables(counts, docs_c, n_hash, 1.0)
    theta_vals = ", ".join(
        f"('{c}', {h}, CAST({d} AS DECIMAL(18,9)))"
        for (c, h), d in sorted(delta.items())
    )
    base_vals = ", ".join(
        f"('{c}', CAST({p} AS DECIMAL(18,9)),"
        f" CAST({m} AS DECIMAL(18,9)))"
        for c, (p, m) in sorted(cbase.items())
    )
    return f"""
        WITH docs0 AS (
          SELECT doc_id, CAST(lang AS VARCHAR) AS actual
          FROM {src}
          WHERE text IS NOT NULL AND lang IS NOT NULL
        ),
        tf AS ({tf}),
        theta (cls, h, d) AS (VALUES {theta_vals}),
        cbase (cls, prior, miss) AS (VALUES {base_vals}),
        dt AS (SELECT doc_id, sum(tf) AS tt FROM tf GROUP BY 1),
        present AS (
          SELECT f.doc_id, th.cls,
                 sum(CAST(f.tf AS DECIMAL(18,0)) * th.d) AS p
          FROM tf f JOIN theta th ON f.h = th.h GROUP BY 1, 2
        ),
        scored AS (
          SELECT d.doc_id, d.actual, cb.cls,
                 round(CAST(cb.prior
                   + CAST(coalesce(t.tt, 0) AS DECIMAL(18,0)) * cb.miss
                   + coalesce(p.p, CAST(0 AS DECIMAL(38,9)))
                   AS DOUBLE), 6) AS s
          FROM docs0 d
          LEFT JOIN dt t USING (doc_id)
          CROSS JOIN cbase cb
          LEFT JOIN present p
            ON p.doc_id = d.doc_id AND p.cls = cb.cls
        ),
        best AS (SELECT doc_id, max(s) AS ms FROM scored GROUP BY 1),
        pred AS (
          SELECT s.doc_id, s.actual, max(s.cls) AS predicted
          FROM scored s
          JOIN best b ON s.doc_id = b.doc_id AND s.s = b.ms
          GROUP BY 1, 2
        )
        SELECT actual, predicted, count(*) AS n_docs
        FROM pred GROUP BY 1, 2
    """


def _mh_units_sql() -> str:
    """DuckDB body of the _mh_units frame (weekday numbering differs
    from Spark's but the stratum PARTITION is identical, which is all
    the MH estimator consumes)."""
    coin = _h60_sql("'mh|' || CAST(event_id AS VARCHAR)")
    return (
        "SELECT dayofweek(ts) AS s,"
        f" CASE WHEN {coin} % 2 = 0 THEN 1 ELSE 0 END AS e,"
        " CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,"
        " value, user_id % 100 AS uid_mod"
        " FROM events"
        " WHERE event_type IS NOT NULL AND ts IS NOT NULL"
    )


def _mh_oracle_sql() -> str:
    """Oracle for events_mh_or: cell collapse + 12dp decimal ratio
    terms + the RBG variance, text-for-text the operator's IEEE
    expression order."""
    return f"""
        WITH u AS ({_mh_units_sql()}),
        cells AS (
          SELECT s, e, y, count(*) AS c FROM u GROUP BY 1, 2, 3
        ),
        wide AS (
          SELECT s,
            coalesce(sum(CASE WHEN e = 1 AND y = 1 THEN c END), 0) AS a,
            coalesce(sum(CASE WHEN e = 1 AND y = 0 THEN c END), 0) AS b,
            coalesce(sum(CASE WHEN e = 0 AND y = 1 THEN c END), 0) AS c2,
            coalesce(sum(CASE WHEN e = 0 AND y = 0 THEN c END), 0) AS d
          FROM cells GROUP BY 1
        ),
        t AS (
          SELECT CAST(a + b + c2 + d AS DOUBLE) AS n,
                 CAST(a AS DOUBLE) AS a, CAST(b AS DOUBLE) AS b,
                 CAST(c2 AS DOUBLE) AS c2, CAST(d AS DOUBLE) AS d
          FROM wide WHERE a + b + c2 + d > 0
        ),
        agg AS (
          SELECT count(*) AS n_strata,
            sum(CAST(n AS DECIMAL(28,6))) AS nn,
            sum(CAST(round(a * d / n, 12) AS DECIMAL(38,12))) AS sr,
            sum(CAST(round(b * c2 / n, 12) AS DECIMAL(38,12))) AS ss,
            sum(CAST(round(((a + d) / n) * (a * d / n), 12)
                AS DECIMAL(38,12))) AS spr,
            sum(CAST(round(((a + d) / n) * (b * c2 / n)
                + ((b + c2) / n) * (a * d / n), 12)
                AS DECIMAL(38,12))) AS smix,
            sum(CAST(round(((b + c2) / n) * (b * c2 / n), 12)
                AS DECIMAL(38,12))) AS sqs
          FROM t
        ),
        f AS (
          SELECT CAST(nn AS BIGINT) AS n_units,
                 CAST(n_strata AS BIGINT) AS n_strata,
                 CAST(sr AS DOUBLE) AS srd, CAST(ss AS DOUBLE) AS ssd,
                 CAST(spr AS DOUBLE) AS sprd,
                 CAST(smix AS DOUBLE) AS smixd,
                 CAST(sqs AS DOUBLE) AS sqsd
          FROM agg
        ),
        g AS (
          SELECT n_units, n_strata,
            CASE WHEN srd > 0 AND ssd > 0 THEN srd / ssd END AS orr,
            CASE WHEN srd > 0 AND ssd > 0 THEN
              sprd / (2.0 * srd * srd) + smixd / (2.0 * srd * ssd)
              + sqsd / (2.0 * ssd * ssd) END AS var
          FROM f
        ),
        h AS (
          SELECT n_units, n_strata, orr,
                 CASE WHEN var >= 0 THEN sqrt(var) END AS se
          FROM g
        )
        SELECT n_units, n_strata,
               round(orr, 6) AS or_mh,
               round(se, 6) AS log_or_se,
               round(CASE WHEN se IS NOT NULL THEN
                 orr * exp(-1.959964 * se) END, 6) AS ci_lo,
               round(CASE WHEN se IS NOT NULL THEN
                 orr * exp(1.959964 * se) END, 6) AS ci_hi
        FROM h
    """


def _build_smd_oracle() -> str:
    """Oracle for events_smd: the per-arm moment SQL replayed in
    DuckDB over the same unit frame, the Decimal moments through the
    SAME shared ``smd_rows_from_moments`` — literal rows."""
    import duckdb

    from intake_esm_spark.operators.experiment import (
        smd_rows_from_moments,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    units = _mh_units_sql().replace(
        "FROM events", f"FROM '{sf_dir}/events.parquet'"
    )
    covs = ["value", "uid_mod"]
    aggs = []
    for i, cc in enumerate(covs):
        xq = f"round(CAST({cc} AS DOUBLE), 6)"
        ok = f"{cc} IS NOT NULL AND isfinite(CAST({cc} AS DOUBLE))"
        for arm, flag in (("t", 1), ("c", 0)):
            sel = f"{ok} AND e = {flag}"
            aggs.append(
                f"sum(CASE WHEN {sel} THEN 1 ELSE 0 END) AS n{arm}_{i}"
            )
            aggs.append(
                f"sum(CASE WHEN {sel} THEN CAST({xq} AS DECIMAL(18,6))"
                f" END) AS s{arm}_{i}"
            )
            aggs.append(
                f"sum(CASE WHEN {sel} THEN CAST(round({xq} * {xq}, 12)"
                f" AS DECIMAL(38,12)) END) AS q{arm}_{i}"
            )
    con = duckdb.connect()
    cur = con.execute(
        f"SELECT {', '.join(aggs)} FROM ({units})"
    )
    row = cur.fetchone()
    mom = dict(zip([d[0] for d in cur.description], row))
    rows = smd_rows_from_moments(mom, covs, 0.1)
    lit = _ols_lit

    def ilit(v) -> str:
        return (
            "CAST(NULL AS INT)" if v is None else f"CAST({int(v)} AS INT)"
        )

    return " UNION ALL ".join(
        f"SELECT '{cc}' AS covariate,"
        f" CAST({nt} AS BIGINT) AS n_treat,"
        f" CAST({nc} AS BIGINT) AS n_control,"
        f" {lit(mt)} AS mean_treat, {lit(mc)} AS mean_control,"
        f" {lit(smd)} AS smd, {ilit(bal)} AS balanced"
        for cc, nt, nc, mt, mc, smd, bal in rows
    )


def _build_permutation_oracle() -> str:
    """Oracle for events_permutation: the observed-split decimal sums
    and the 64-relabeling cell grid replayed in DuckDB through the
    SAME salted-md5 formula, the add-one p-value via the identical
    driver arithmetic — one literal row."""
    import duckdb

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    b = PERM_N
    base = (
        "SELECT CAST(event_id AS VARCHAR) AS id, event_type AS g,"
        " CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS v"
        f" FROM '{sf_dir}/events.parquet'"
        " WHERE event_type IN ('click', 'view')"
        " AND value IS NOT NULL AND event_id IS NOT NULL"
    )
    con = duckdb.connect()
    obs = {
        r[0]: (int(r[1]), r[2])
        for r in con.execute(
            f"SELECT g, count(*), sum(v) FROM ({base}) GROUP BY 1"
        ).fetchall()
    }
    ga, gb = sorted(obs)
    n_units = obs[ga][0] + obs[gb][0]
    obs_diff = (
        float(obs[gb][1]) / obs[gb][0]
        - float(obs[ga][1]) / obs[ga][0]
    )
    key = "'perm|' || CAST(p AS VARCHAR) || '|' || id"
    lab = f"{_h60_sql(key)} % 2"
    n_extreme = int(
        con.execute(
            f"""
            WITH u AS ({base}),
            perm AS (
              SELECT unnest(generate_series(0, {b - 1})) AS p, id, v
              FROM u
            ),
            lab AS (SELECT p, v, {lab} AS l FROM perm),
            cells AS (
              SELECT p, l, count(*) AS n, sum(v) AS s
              FROM lab GROUP BY 1, 2
            ),
            wide AS (
              SELECT p,
                sum(CASE WHEN l = 1 THEN n END) AS n1,
                sum(CASE WHEN l = 1 THEN s END) AS s1,
                sum(CASE WHEN l = 0 THEN n END) AS n0,
                sum(CASE WHEN l = 0 THEN s END) AS s0
              FROM cells GROUP BY 1
            )
            SELECT coalesce(sum(CASE WHEN
              abs(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                  - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
              >= {abs(obs_diff)!r} THEN 1 ELSE 0 END), 0)
            FROM wide
            """
        ).fetchone()[0]
    )
    lit = _ols_lit
    return (
        f"SELECT CAST({n_units} AS BIGINT) AS n_units,"
        f" CAST({b} AS INT) AS n_perm,"
        f" {lit(round(obs_diff, 6))} AS obs_diff,"
        f" CAST({n_extreme} AS BIGINT) AS n_extreme,"
        f" {lit(round((1 + n_extreme) / (b + 1), 6))} AS p_value"
    )


def _build_tcloseness_oracle() -> str:
    """Oracle for privacy_tcloseness: the 6dp range replayed in
    DuckDB fixes the SAME boundary literals, then the binned
    cumulative-EMD walk in pure SQL — per-group windows over the
    dense bin grid, 12dp decimal term sums, text-for-text the
    operator's IEEE expressions."""
    import duckdb

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    n_bins, t = 10, 0.002
    src = f"'{sf_dir}/events.parquet'"
    clean = (
        "SELECT event_type AS g, round(CAST(value AS DOUBLE), 6) AS v"
        f" FROM {src} WHERE value IS NOT NULL"
        " AND isfinite(CAST(value AS DOUBLE))"
        " AND event_type IS NOT NULL"
    )
    mn, mx = duckdb.connect().execute(
        f"SELECT min(v), max(v) FROM ({clean})"
    ).fetchone()
    w = (float(mx) - float(mn)) / n_bins
    return f"""
        WITH clean AS ({clean}),
        binned AS (
          SELECT g, CAST(least({n_bins - 1}, greatest(0,
                 floor((v - {float(mn)!r}) / {w!r}))) AS INT) AS b
          FROM clean
        ),
        cells AS (SELECT g, b, count(*) AS c FROM binned GROUP BY 1, 2),
        gn AS (SELECT sum(c) AS tot FROM cells),
        gl AS (SELECT b, sum(c) AS gc FROM cells GROUP BY 1),
        gcum AS (
          SELECT b, CAST(sum(gc) OVER (ORDER BY b) AS DOUBLE)
                    / (SELECT CAST(tot AS DOUBLE) FROM gn) AS cum_all
          FROM gl
        ),
        gtot AS (SELECT g, sum(c) AS n FROM cells GROUP BY 1),
        grid AS (
          SELECT gtot.g, gtot.n, gcum.b FROM gtot CROSS JOIN gcum
        ),
        dense AS (
          SELECT grid.g, grid.n, grid.b, coalesce(cells.c, 0) AS c
          FROM grid LEFT JOIN cells
            ON cells.g = grid.g AND cells.b = grid.b
        ),
        cum AS (
          SELECT g, n, b,
                 CAST(sum(c) OVER (PARTITION BY g ORDER BY b)
                      AS DOUBLE) / CAST(n AS DOUBLE) AS cumg
          FROM dense
        ),
        terms AS (
          SELECT cum.g, cum.n,
                 CAST(round(abs(cumg - cum_all)
                      / {float(n_bins - 1)!r}, 12)
                      AS DECIMAL(38,12)) AS t
          FROM cum JOIN gcum USING (b) WHERE b < {n_bins - 1}
        ),
        agg AS (SELECT g, n, sum(t) AS emd FROM terms GROUP BY 1, 2)
        SELECT g AS event_type, CAST(n AS BIGINT) AS n_rows,
               round(CAST(emd AS DOUBLE), 6) AS emd,
               CAST(round(CAST(emd AS DOUBLE), 6) <= {t!r} AS INT)
                 AS is_close
        FROM agg
    """


_BURSTINESS_ORACLE_SQL = """
    WITH base AS (
      SELECT event_type AS t, user_id AS u,
             CAST(floor(epoch(ts)) AS BIGINT) AS s, event_id AS tb
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
    ),
    g AS (
      SELECT t,
             s - lag(s) OVER (PARTITION BY u, t ORDER BY s, tb) AS gp
      FROM base
    ),
    m AS (
      SELECT t, count(*) AS n_gaps,
             sum(CAST(gp AS DECIMAL(38,0))) AS sg,
             sum(CAST(gp * gp AS DECIMAL(38,0))) AS sg2
      FROM g WHERE gp IS NOT NULL GROUP BY 1
    ),
    f AS (
      SELECT t, n_gaps,
             CAST(n_gaps AS DOUBLE) AS n,
             CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean,
             CAST(sg2 AS DOUBLE) AS sg2d
      FROM m
    ),
    v AS (
      SELECT t, n_gaps, mean,
             CASE WHEN n_gaps >= 2 THEN
               sqrt(greatest((sg2d - n * mean * mean) / (n - 1.0),
                             0.0)) END AS sd
      FROM f
    ),
    c AS (
      SELECT t, n_gaps, mean, sd,
             CASE WHEN n_gaps >= 2 AND mean > 0
                  THEN sd / mean END AS cv
      FROM v
    )
    SELECT t AS event_type, n_gaps,
           round(mean, 6) AS mean_gap_s,
           round(sd, 6) AS sd_gap_s,
           round(cv, 6) AS cv,
           round(CASE WHEN cv IS NOT NULL
                 THEN (cv - 1.0) / (cv + 1.0) END, 6) AS burstiness
    FROM c
"""


def _build_heaps_oracle() -> str:
    """Oracle for docs_heaps: the per-source (tokens, vocab) SQL
    replayed in DuckDB, the bounded points through the SAME shared
    ``heaps_fit`` (python math.log both sides) — one literal row."""
    import duckdb

    from intake_esm_spark.operators.corpus import heaps_fit

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    pts = duckdb.connect().execute(
        f"""
        WITH tok AS (
          SELECT source AS g,
                 unnest(list_filter(
                   string_split_regex(lower(trim(text)), '\\s+'),
                   x -> x <> '')) AS t
          FROM '{sf_dir}/documents.parquet'
          WHERE text IS NOT NULL AND source IS NOT NULL
        )
        SELECT g, count(*) AS T, count(DISTINCT t) AS V
        FROM tok GROUP BY 1
        """
    ).fetchall()
    sol = heaps_fit(sorted((int(t), int(v)) for _g, t, v in pts))
    lit = _ols_lit
    return (
        f"SELECT CAST({sol['n_groups']} AS INT) AS n_groups,"
        f" {lit(sol['beta'])} AS beta,"
        f" {lit(sol['log10_k'])} AS log10_k, {lit(sol['r2'])} AS r2"
    )


def _build_jl_oracle() -> str:
    """Oracle for embed_jl_distortion: the SAME shared
    ``jl_sign_matrix`` rendered as a DOUBLE[][] literal, the
    projection and distance folds replayed with DuckDB
    ``list_reduce`` (left-associated — ``(0.0 + t₁) + t₂ …`` and
    ``(t₁ + t₂) + t₃ …`` are bit-identical in IEEE), the identical
    label-blocked pair join and 12dp decimal ratio sums."""
    from intake_esm_spark.operators.matrix import jl_sign_matrix

    d, k = 64, 16
    s = jl_sign_matrix(d, k)
    smat = (
        "["
        + ", ".join(
            "[" + ", ".join(repr(v) for v in row) + "]" for row in s
        )
        + "]"
    )

    def fold(expr: str, n: int) -> str:
        return (
            f"list_reduce(list_transform(range(1, {n + 1}),"
            f" i -> {expr}), (p, q) -> p + q)"
        )

    return f"""
        WITH base AS (
          SELECT vec_id, label,
                 list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
          FROM embeddings
          WHERE embedding IS NOT NULL AND label IS NOT NULL
            AND len(embedding) = {d}
        ), pr AS (
          SELECT vec_id, label, x,
                 list_transform(CAST({smat} AS DOUBLE[][]), row ->
                   {fold('x[i] * row[i]', d)} / sqrt({float(k)!r})
                 ) AS y
          FROM base
        ), pairs AS (
          SELECT
            {fold('(a.x[i] - b.x[i]) * (a.x[i] - b.x[i])', d)} AS d2x,
            {fold('(a.y[i] - b.y[i]) * (a.y[i] - b.y[i])', k)} AS d2y
          FROM pr a
          JOIN pr b ON a.label = b.label AND a.vec_id < b.vec_id
        ), r AS (
          SELECT CASE WHEN d2x > 0 THEN round(d2y / d2x, 12) END AS r
          FROM pairs
        )
        SELECT count(*) AS n_pairs, CAST({k} AS INT) AS k,
          round(CAST(sum(CAST(r AS DECIMAL(38,12))) AS DOUBLE)
                / CAST(count(r) AS DOUBLE), 6) AS mean_ratio,
          round(min(r), 6) AS min_ratio,
          round(max(r), 6) AS max_ratio,
          round(CAST(sum(CASE WHEN r >= 0.8 AND r <= 1.2
                         THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(count(r) AS DOUBLE), 6) AS frac_within_20pct
        FROM r
    """


def _build_holt_oracle() -> str:
    """Oracle for events_holt: the daily rollup replayed in DuckDB
    (calendar order), the bounded value sequence through the SAME
    shared ``holt_linear`` recursion — literal forecast rows."""
    import duckdb

    from intake_esm_spark.operators.timeseries import holt_linear

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    daily = _ts_daily_sql(sf_dir)
    vals = [
        float(r[0])
        for r in duckdb.connect()
        .execute(
            f"SELECT CAST(rd AS DOUBLE) FROM ({daily}) ORDER BY dn"
        )
        .fetchall()
    ]
    level, trend = holt_linear(vals, 0.3, 0.1)
    lit = _ols_lit
    return " UNION ALL ".join(
        f"SELECT CAST({h} AS INT) AS h,"
        f" {lit(round(level + h * trend, 6))} AS forecast"
        for h in range(1, 8)
    )


def _build_isotonic_oracle() -> str:
    """Oracle for events_isotonic: the bin-count collapse replayed in
    DuckDB (the events_calibration score/bin SQL), the ≤10-row
    sidecar through the SAME shared ``pav_fit`` — literal rows."""
    import duckdb

    from intake_esm_spark.operators.evaluation import pav_fit

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    score = (
        f"CAST({_h60_sql(''''cal|' || CAST(event_id AS VARCHAR)''')}"
        " % 1000000 AS DOUBLE) / 1000000.0"
    )
    rows = duckdb.connect().execute(
        f"""
        WITH u AS (
          SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS label, {score} AS s
          FROM '{sf_dir}/events.parquet' WHERE event_type IS NOT NULL
        )
        SELECT CAST(greatest(0, least(9, CAST(floor(s * 10.0) AS INT)))
                    AS INT) AS bin,
               count(*) AS n, sum(label) AS p
        FROM u WHERE isfinite(s) GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    bins = [(int(b), int(n), int(p)) for b, n, p in rows]
    iso = pav_fit(bins)
    lit = _ols_lit
    return " UNION ALL ".join(
        f"SELECT CAST({b} AS INT) AS bin,"
        f" CAST({n} AS BIGINT) AS n_units,"
        f" {lit(round(p / n, 6))} AS pos_rate,"
        f" {lit(round(v, 6))} AS iso_rate"
        for (b, n, p), v in zip(bins, iso)
    )


def _ts_daily_sql(sf_dir: str) -> str:
    """The purchase-filtered daily-rollup CTE body shared by the
    round-14 time-series oracle builders — the DuckDB replay of
    timeseries._daily_frame over the events_pacf/ljung_box/adf
    entries' filter."""
    return (
        "SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE))"
        " AS dn, sum(CAST(value AS DECIMAL(18,6))) AS rd"
        f" FROM '{sf_dir}/events.parquet'"
        " WHERE event_type = 'purchase' GROUP BY 1"
    )


def _ts_centered_sidecar_duckdb(max_lag: int) -> dict:
    """DuckDB replay of timeseries._centered_acf_sidecar: the daily
    CTE, the 1-row mean pass, the centered SS, and the lag-fanned
    self-join of centered products at the 6dp mean literal — 12dp
    DECIMAL(38,12) sums, text-for-text the operator's arithmetic."""
    import duckdb

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    daily = _ts_daily_sql(sf_dir)
    con = duckdb.connect()
    n, sx = con.execute(
        f"SELECT count(*), sum(rd) FROM ({daily})"
    ).fetchone()
    n = int(n)
    mean = round(float(sx) / n, 6)
    cen = f"round(CAST(rd AS DOUBLE) - {mean!r}, 6)"
    ss = float(
        con.execute(
            f"SELECT sum(CAST(round({cen} * {cen}, 12) AS"
            f" DECIMAL(38,12))) FROM ({daily})"
        ).fetchone()[0]
    )
    rows = con.execute(
        f"""
        WITH d AS ({daily}),
        c AS (SELECT dn, {cen} AS cen FROM d),
        lags AS (SELECT unnest(generate_series(1, {max_lag})) AS lag),
        pairs AS (
          SELECT l.lag, a.cen AS cx, b.cen AS cy
          FROM c a CROSS JOIN lags l
          JOIN c b ON b.dn = a.dn + l.lag
        )
        SELECT lag,
               sum(CAST(round(cx * cy, 12) AS DECIMAL(38,12))) AS c
        FROM pairs GROUP BY 1
        """
    ).fetchall()
    c = {int(r[0]): float(r[1]) for r in rows}
    rho = {
        k: (c.get(k, 0.0) / ss if ss > 0 else 0.0)
        for k in range(1, max_lag + 1)
    }
    return {"n": n, "mean": mean, "ss": ss, "c": c, "rho": rho}


def _build_pacf_lb_oracles() -> tuple[str, str]:
    """Oracles for events_pacf / events_ljung_box: ONE sidecar replay
    (the standard-ACF moments in DuckDB) feeding the SAME shared
    durbin_levinson_pacf recursion and the same cumulative-Q loop the
    operators run — literal rows."""
    from intake_esm_spark.operators.timeseries import (
        durbin_levinson_pacf,
    )

    side = _ts_centered_sidecar_duckdb(7)
    lit = _ols_lit
    pac = durbin_levinson_pacf(side["rho"])
    pacf_sql = " UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS lag,"
        f" {lit(round(side['rho'][k], 6))} AS acf,"
        f" {lit(round(pac[k], 6) if pac[k] is not None else None)}"
        f" AS pacf"
        for k in sorted(side["rho"])
    )
    n = side["n"]
    q = 0.0
    lb_rows = []
    for k in sorted(side["rho"]):
        q += side["rho"][k] ** 2 / (n - k)
        lb_rows.append(
            f"SELECT CAST({k} AS INT) AS lag,"
            f" {lit(round(side['rho'][k], 6))} AS acf,"
            f" {lit(round(n * (n + 2) * q, 6))} AS q_stat,"
            f" CAST({k} AS INT) AS dof"
        )
    return pacf_sql, " UNION ALL ".join(lb_rows)


def _build_adf_oracle() -> str:
    """Oracle for events_adf: the daily CTE + the lag_order+1 shift
    equi-joins + the shared OLS moment SQL replayed in DuckDB, the
    Decimal moments through the SAME shared ols_solve_from_moments /
    adf_finish — one literal row."""
    import duckdb

    from intake_esm_spark.operators.regression import (
        ols_solve_from_moments,
    )
    from intake_esm_spark.operators.timeseries import adf_finish

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    daily = _ts_daily_sql(sf_dir)
    # 0.001 mirrors the entry's scale=1e-3 (daily revenue in thousands
    # — the cond-guard fix; same IEEE multiply before the 6dp round)
    x = "round(CAST(rd AS DOUBLE) * 0.001, 6)"
    p = 1
    joins = " ".join(
        f"JOIN (SELECT dn + {s} AS d, {x} AS x{s} FROM d) a{s}"
        f" USING (d)"
        for s in range(1, p + 2)
    )
    frame = f"""
        WITH d AS ({daily}),
        a0 AS (SELECT dn AS d, {x} AS x0 FROM d),
        j AS (SELECT * FROM a0 {joins})
        SELECT round(x0 - x1, 6) AS dy, x1 AS y1,
               round(x1 - x2, 6) AS dy1
        FROM j
    """
    xs = ["y1", "dy1"]
    cols = _ols_moment_sql_cols(xs, "dy")
    con = duckdb.connect()
    cur = con.execute(f"SELECT {', '.join(cols)} FROM ({frame})")
    row = cur.fetchone()
    sol = ols_solve_from_moments(
        dict(zip([d[0] for d in cur.description], row)), xs
    )
    n_obs, lag_order, gamma, tau, alpha = adf_finish(sol, p)
    lit = _ols_lit
    return (
        f"SELECT CAST({n_obs} AS BIGINT) AS n_obs,"
        f" CAST({lag_order} AS INT) AS lag_order,"
        f" {lit(gamma)} AS gamma, {lit(tau)} AS tau,"
        f" {lit(alpha)} AS alpha"
    )


def _bp_ols_moments_duckdb(xs: list[str], y: str) -> tuple[dict, object]:
    """Pass-1 replay shared by the BP and residuals oracle builders:
    the OLS moment SQL in DuckDB, returned as a dict (plus the open
    connection for the caller's second pass)."""
    import duckdb

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    cols = _ols_moment_sql_cols(xs, y)
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in [y, *xs])
    con = duckdb.connect()
    cur = con.execute(
        f"SELECT {', '.join(cols)} FROM "
        f"'{sf_dir}/lineitem.parquet' WHERE {notnull}"
    )
    row = cur.fetchone()
    return dict(zip([d[0] for d in cur.description], row)), con


def _build_bp_oracle() -> str:
    """Oracle for lineitem_bp: pass 1 (OLS moments -> shared solve ->
    6dp beta literals) and pass 2 (squared-residual moments at those
    literals, left-associated text-for-text with the operator's
    projection) both replayed in DuckDB; the finish goes through the
    SAME shared ``bp_stat_from_moments``."""
    from intake_esm_spark.operators.regression import (
        bp_stat_from_moments,
        ols_solve_from_moments,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    xs = ["l_quantity", "l_discount"]
    y = "l_extendedprice"
    mom, con = _bp_ols_moments_duckdb(xs, y)
    sol = ols_solve_from_moments(mom, xs)
    beta = sol["coef"]
    inner_cols = [f"round(CAST({y} AS DOUBLE), 6) AS yq"] + [
        f"round(CAST({c} AS DOUBLE), 6) AS xq{i}"
        for i, c in enumerate(xs)
    ]
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in [y, *xs])
    eta = repr(float(beta[0]))
    for i, bj in enumerate(beta[1:]):
        eta = f"{eta} + {float(bj)!r} * xq{i}"
    mid = (
        f"SELECT (yq - ({eta})) AS e, * FROM ("
        f"SELECT {', '.join(inner_cols)} FROM "
        f"'{sf_dir}/lineitem.parquet' WHERE {notnull})"
    )

    def t12(expr: str) -> str:
        return f"sum(CAST(round({expr}, 12) AS DECIMAL(38,12)))"

    aux_cols = ["count(*) AS n", f"{t12('e * e')} AS su"]
    for i in range(len(xs)):
        aux_cols.append(f"{t12(f'e * e * xq{i}')} AS su_{i}")
    aux_cols.append(f"{t12('(e * e) * (e * e)')} AS suu")
    cur = con.execute(f"SELECT {', '.join(aux_cols)} FROM ({mid})")
    aux = dict(zip([d[0] for d in cur.description], cur.fetchone()))
    out = bp_stat_from_moments(mom, aux, xs)
    lit = _ols_lit
    return (
        f"SELECT CAST({out['n']} AS BIGINT) AS n_rows,"
        f" {lit(out['lm_stat'])} AS lm_stat,"
        f" CAST({out['dof']} AS INT) AS dof,"
        f" {lit(out['chi2_crit_05'])} AS chi2_crit_05,"
        f" CAST({out['significant']} AS INT) AS significant,"
        f" {lit(out['r2_aux'])} AS r2_aux"
    )


def _build_ols_residuals_oracle() -> str:
    """Oracle for lineitem_ols_residuals: beta from the pass-1 moment
    replay + shared solve, then a pure-SQL per-row projection over the
    6dp-rounded literals (left-associated like the operator's
    expression; ``+ 0.0`` kills DuckDB's IEEE -0.0 on the rounded
    outputs — the embed_pca construction)."""
    from intake_esm_spark.operators.regression import (
        ols_solve_from_moments,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    xs = ["l_quantity", "l_discount"]
    y = "l_extendedprice"
    mom, _ = _bp_ols_moments_duckdb(xs, y)
    beta = ols_solve_from_moments(mom, xs)["coef"]
    eta = repr(float(beta[0]))
    for bj, c in zip(beta[1:], xs):
        eta = f"{eta} + {float(bj)!r} * round(CAST({c} AS DOUBLE), 6)"
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in [y, *xs])
    return (
        f"SELECT l_orderkey, l_linenumber,"
        f" round(({eta}), 6) + 0.0 AS fitted,"
        f" round(round(CAST({y} AS DOUBLE), 6) - ({eta}), 6) + 0.0"
        f" AS residual"
        f" FROM '{sf_dir}/lineitem.parquet' WHERE {notnull}"
    )


def _build_vif_oracle() -> str:
    """Oracle for lineitem_vif: the design-moment SQL replayed in
    DuckDB (the operator's first feature doubles as the complete-case
    anchor) through the SAME shared ``vif_from_moments``."""
    import duckdb

    from intake_esm_spark.operators.regression import vif_from_moments

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    xs = ["l_quantity", "l_extendedprice", "l_discount"]
    cols = _ols_moment_sql_cols(xs, xs[0])
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in xs)
    con = duckdb.connect()
    cur = con.execute(
        f"SELECT {', '.join(cols)} FROM "
        f"'{sf_dir}/lineitem.parquet' WHERE {notnull}"
    )
    mom = dict(zip([d[0] for d in cur.description], cur.fetchone()))
    rows = vif_from_moments(mom, xs)
    lit = _ols_lit
    return " UNION ALL ".join(
        f"SELECT '{r['term']}' AS term, {lit(r['vif'])} AS vif,"
        f" {lit(r['r2_other'])} AS r2_other"
        for r in rows
    )


def _build_poisson_oracles() -> tuple[str, str]:
    """Oracles for the Poisson entries: loop the SAME fixed IRLS pass
    count in DuckDB — each pass mirrors the operator's per-row
    expressions text-for-text (6dp features, the ±50 eta clamp before
    exp, 12dp decimal term sums, beta literals at full double
    precision) through the SAME shared ``logistic_step`` /
    ``poisson_finalize``, one float trajectory."""
    import duckdb

    from intake_esm_spark.operators.regression import (
        N_IRLS_ITER,
        logistic_step,
        poisson_finalize,
        poisson_warm_start,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    xs = ["l_discount", "l_tax"]
    y = "l_quantity"

    def xq(c: str) -> str:
        return f"round(CAST({c} AS DOUBLE), 6)"

    def pass_sql(beta: list[float]) -> str:
        eta = repr(float(beta[0]))
        for bj, c in zip(beta[1:], ["x1", "x2"]):
            eta = f"{eta} + {float(bj)!r} * {c}"
        notnull = " AND ".join(f"{c} IS NOT NULL" for c in [y, *xs])
        pre = (
            f"WITH r AS (SELECT CAST({y} AS DOUBLE) AS y,"
            f" {xq(xs[0])} AS x1, {xq(xs[1])} AS x2"
            f" FROM '{sf_dir}/lineitem.parquet' WHERE {notnull}),"
            f" m AS (SELECT y, x1, x2,"
            f" exp(greatest(least({eta}, 50.0), -50.0)) AS mu FROM r)"
        )
        terms = ["count(*) AS n"]
        xcols = ["1.0", "x1", "x2"]
        for j2, xj in enumerate(xcols):
            terms.append(
                f"sum(CAST(round((y - mu) * {xj}, 12)"
                f" AS DECIMAL(38,12))) AS g_{j2}"
            )
            for i in range(j2, len(xcols)):
                terms.append(
                    f"sum(CAST(round(mu * {xj} * {xcols[i]}, 12)"
                    f" AS DECIMAL(38,12))) AS h_{j2}_{i}"
                )
        terms.append(
            "sum(CAST(round(2.0 * ((CASE WHEN y > 0"
            " THEN y * ln(y / mu) ELSE 0.0 END) - (y - mu)), 12)"
            " AS DECIMAL(38,12))) AS dev"
        )
        terms.append("min(y) AS ymin")
        return pre + " SELECT " + ", ".join(terms) + " FROM m"

    con = duckdb.connect()

    def run(sql: str) -> dict:
        row = con.execute(sql).fetchone()
        return dict(zip([d0[0] for d0 in con.description], row))

    beta = [0.0] * (len(xs) + 1)
    for it in range(N_IRLS_ITER):
        mom = run(pass_sql(beta))
        # pass 0 is the SHARED mean-matched warm start, not Newton
        beta = (
            poisson_warm_start(mom, len(xs))
            if it == 0
            else logistic_step(mom, beta, len(xs))
        )
    sol = poisson_finalize(run(pass_sql(beta)), beta, xs, N_IRLS_ITER)
    lit = _ols_lit
    coef_rows = " UNION ALL ".join(
        f"SELECT '{t}' AS term, {lit(c)} AS coef, {lit(s)} AS std_err,"
        f" {lit(z)} AS z_stat"
        for t, c, s, z in zip(
            sol["terms"], sol["coef"], sol["std_err"], sol["z_stat"]
        )
    )
    fit_sql = (
        f"SELECT CAST({sol['n']} AS BIGINT) AS n_rows,"
        f" CAST({sol['n_iter']} AS INT) AS n_iter,"
        f" {lit(sol['mean_deviance'])} AS mean_deviance"
    )
    return coef_rows, fit_sql


def _build_negbin_oracle() -> str:
    """Oracle for lineitem_negbin: the NB2 Fisher-scoring pass SQL
    (6dp features, the ±50 eta clamp, the in-row shrink weight
    1/(1+αμ) with α a literal, 12dp decimal term sums — text-for-text
    the operator's projection) looped in DuckDB through the SAME
    shared ``negbin_warm_start`` / ``logistic_step`` /
    ``poisson_finalize``, one float trajectory."""
    import duckdb

    from intake_esm_spark.operators.regression import (
        N_IRLS_ITER,
        logistic_step,
        negbin_warm_start,
        poisson_finalize,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    xs = ["l_discount", "l_tax"]
    y = "l_quantity"
    alpha = 0.5
    al = repr(float(alpha))
    inv_a = repr(1.0 / float(alpha))

    def xq(c: str) -> str:
        return f"round(CAST({c} AS DOUBLE), 6)"

    def pass_sql(beta: list[float]) -> str:
        eta = repr(float(beta[0]))
        for bj, c in zip(beta[1:], ["x1", "x2"]):
            eta = f"{eta} + {float(bj)!r} * {c}"
        notnull = " AND ".join(f"{c} IS NOT NULL" for c in [y, *xs])
        pre = (
            f"WITH r AS (SELECT CAST({y} AS DOUBLE) AS y,"
            f" {xq(xs[0])} AS x1, {xq(xs[1])} AS x2"
            f" FROM '{sf_dir}/lineitem.parquet' WHERE {notnull}),"
            f" m AS (SELECT y, x1, x2,"
            f" exp(greatest(least({eta}, 50.0), -50.0)) AS mu FROM r),"
            f" mw AS (SELECT y, x1, x2, mu,"
            f" 1.0 / (1.0 + {al} * mu) AS w FROM m)"
        )
        terms = ["count(*) AS n"]
        xcols = ["1.0", "x1", "x2"]
        for j2, xj in enumerate(xcols):
            terms.append(
                f"sum(CAST(round((y - mu) * w * {xj}, 12)"
                f" AS DECIMAL(38,12))) AS g_{j2}"
            )
            for i in range(j2, len(xcols)):
                terms.append(
                    f"sum(CAST(round(mu * w * {xj} * {xcols[i]}, 12)"
                    f" AS DECIMAL(38,12))) AS h_{j2}_{i}"
                )
        terms.append(
            "sum(CAST(round(2.0 * ((CASE WHEN y > 0"
            " THEN y * ln(y / mu) ELSE 0.0 END)"
            f" - (y + {inv_a}) * ln((1.0 + {al} * y)"
            f" / (1.0 + {al} * mu))), 12)"
            " AS DECIMAL(38,12))) AS dev"
        )
        terms.append(
            "sum(CAST(round(y, 6) AS DECIMAL(18,6))) AS sy"
        )
        terms.append("min(y) AS ymin")
        return pre + " SELECT " + ", ".join(terms) + " FROM mw"

    con = duckdb.connect()

    def run(sql: str) -> dict:
        cur = con.execute(sql)
        return dict(
            zip([d0[0] for d0 in cur.description], cur.fetchone())
        )

    beta = [0.0] * (len(xs) + 1)
    for it in range(N_IRLS_ITER):
        mom = run(pass_sql(beta))
        beta = (
            negbin_warm_start(mom, len(xs))
            if it == 0
            else logistic_step(mom, beta, len(xs))
        )
    sol = poisson_finalize(run(pass_sql(beta)), beta, xs, N_IRLS_ITER)
    lit = _ols_lit
    return " UNION ALL ".join(
        f"SELECT '{t}' AS term, {lit(c)} AS coef, {lit(s)} AS std_err,"
        f" {lit(z)} AS z_stat"
        for t, c, s, z in zip(
            sol["terms"], sol["coef"], sol["std_err"], sol["z_stat"]
        )
    )


def _build_gamma_oracle() -> str:
    """Oracle for lineitem_gamma: the Gamma-GLM (log link) pass SQL
    (6dp features, ±50 eta clamp, constant-information h terms,
    Pearson/deviance sidecars — text-for-text the operator's
    projection) looped in DuckDB through the SAME shared
    ``poisson_warm_start`` / ``logistic_step`` / ``gamma_finalize``,
    one float trajectory."""
    import duckdb

    from intake_esm_spark.operators.regression import (
        N_IRLS_ITER,
        gamma_finalize,
        logistic_step,
        poisson_warm_start,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    xs = ["l_quantity", "l_discount"]
    y = "l_extendedprice"

    def xq(c: str) -> str:
        return f"round(CAST({c} AS DOUBLE), 6)"

    def pass_sql(beta: list[float]) -> str:
        eta = repr(float(beta[0]))
        for bj, c in zip(beta[1:], ["x1", "x2"]):
            eta = f"{eta} + {float(bj)!r} * {c}"
        notnull = " AND ".join(f"{c} IS NOT NULL" for c in [y, *xs])
        pre = (
            f"WITH r AS (SELECT CAST({y} AS DOUBLE) AS y,"
            f" {xq(xs[0])} AS x1, {xq(xs[1])} AS x2"
            f" FROM '{sf_dir}/lineitem.parquet' WHERE {notnull}),"
            f" m AS (SELECT y, x1, x2,"
            f" exp(greatest(least({eta}, 50.0), -50.0)) AS mu FROM r)"
        )
        terms = ["count(*) AS n"]
        xcols = ["1.0", "x1", "x2"]
        for j2, xj in enumerate(xcols):
            terms.append(
                f"sum(CAST(round((y / mu - 1.0) * {xj}, 12)"
                f" AS DECIMAL(38,12))) AS g_{j2}"
            )
            for i in range(j2, len(xcols)):
                terms.append(
                    f"sum(CAST(round({xj} * {xcols[i]}, 12)"
                    f" AS DECIMAL(38,12))) AS h_{j2}_{i}"
                )
        terms.append(
            "sum(CAST(round(((y - mu) / mu) * ((y - mu) / mu), 12)"
            " AS DECIMAL(38,12))) AS pearson"
        )
        terms.append(
            "sum(CAST(round(2.0 * (-ln(y / mu) + (y - mu) / mu), 12)"
            " AS DECIMAL(38,12))) AS dev"
        )
        terms.append("min(y) AS ymin")
        return pre + " SELECT " + ", ".join(terms) + " FROM m"

    con = duckdb.connect()

    def run(sql: str) -> dict:
        cur = con.execute(sql)
        return dict(
            zip([d0[0] for d0 in cur.description], cur.fetchone())
        )

    beta = [0.0] * (len(xs) + 1)
    for it in range(N_IRLS_ITER):
        mom = run(pass_sql(beta))
        beta = (
            poisson_warm_start(mom, len(xs))
            if it == 0
            else logistic_step(mom, beta, len(xs))
        )
    sol = gamma_finalize(run(pass_sql(beta)), beta, xs, N_IRLS_ITER)
    lit = _ols_lit
    return " UNION ALL ".join(
        f"SELECT '{t}' AS term, {lit(c)} AS coef, {lit(s)} AS std_err,"
        f" {lit(z)} AS z_stat"
        for t, c, s, z in zip(
            sol["terms"], sol["coef"], sol["std_err"], sol["z_stat"]
        )
    )


def _build_huber_oracle() -> str:
    """Oracle for lineitem_huber: β₀ via the shared OLS moment SQL +
    ``ols_solve_from_moments``, the MAD scale via ``quantile_cont``
    over the same 6dp residuals (type-7-equal at p = 0.5 — the
    exact_quantiles parity pin), then the Huber-IRLS pass SQL (in-row
    weight at the SAME ``|e| ≤ a`` branch, 12dp decimal moment sums —
    text-for-text the operator's projection) looped in DuckDB through
    the SAME shared ``huber_step_from_moments`` /
    ``huber_finalize``."""
    import duckdb

    from intake_esm_spark.operators.regression import (
        N_IRLS_ITER,
        huber_finalize,
        huber_step_from_moments,
        ols_solve_from_moments,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    xs = ["l_quantity", "l_discount"]
    y = "l_extendedprice"
    c_thr = 1.345
    p = len(xs)
    con = duckdb.connect()
    notnull = " AND ".join(f"{cc} IS NOT NULL" for cc in [y, *xs])
    frame = (
        "SELECT round(CAST({y} AS DOUBLE), 6) AS y,"
        " round(CAST({x0} AS DOUBLE), 6) AS x1,"
        " round(CAST({x1} AS DOUBLE), 6) AS x2"
        " FROM '{sf}/lineitem.parquet' WHERE {nn}"
    ).format(y=y, x0=xs[0], x1=xs[1], sf=sf_dir, nn=notnull)

    def run(sql: str) -> dict:
        cur = con.execute(sql)
        return dict(
            zip([d0[0] for d0 in cur.description], cur.fetchone())
        )

    # starting β: the shared OLS solve over the same 6dp moments
    cols = _ols_moment_sql_cols(xs, y)
    mom0 = run(
        f"SELECT {', '.join(cols)} FROM "
        f"'{sf_dir}/lineitem.parquet' WHERE {notnull}"
    )
    sol0 = ols_solve_from_moments(mom0, xs)
    beta = [float(b) for b in sol0["coef"]]

    def eta_sql(b: list[float]) -> str:
        e = repr(float(b[0]))
        for bj, cc in zip(b[1:], ["x1", "x2"]):
            e = f"{e} + {float(bj)!r} * {cc}"
        return e

    med = float(
        con.execute(
            f"SELECT round(quantile_cont(e6, 0.5), 6) FROM"
            f" (SELECT round(y - ({eta_sql(beta)}), 6) AS e6"
            f" FROM ({frame}))"
        ).fetchone()[0]
    )
    mad = float(
        con.execute(
            f"SELECT round(quantile_cont(d6, 0.5), 6) FROM"
            f" (SELECT round(abs(round(y - ({eta_sql(beta)}), 6)"
            f" - {med!r}), 6) AS d6 FROM ({frame}))"
        ).fetchone()[0]
    )
    scale = round(1.4826 * mad, 6)
    a = float(c_thr) * float(scale)

    def pass_sql(b: list[float], sidecars: bool) -> str:
        pre = (
            f"WITH r AS ({frame}),"
            f" m AS (SELECT y, x1, x2, y - ({eta_sql(b)}) AS e FROM r),"
            f" mw AS (SELECT y, x1, x2, e, CASE WHEN abs(e) <= {a!r}"
            f" THEN 1.0 ELSE {a!r} / abs(e) END AS w FROM m)"
        )
        d38 = "DECIMAL(38,12)"
        xcols = ["x1", "x2"]
        terms = [
            "count(*) AS n",
            f"sum(CAST(round(w, 12) AS {d38})) AS sw",
        ]
        for i, xi in enumerate(xcols):
            terms.append(
                f"sum(CAST(round(w * {xi}, 12) AS {d38})) AS s_{i}"
            )
            terms.append(
                f"sum(CAST(round(w * {xi} * y, 12) AS {d38})) AS q_{i}"
            )
            for j2 in range(i, p):
                terms.append(
                    f"sum(CAST(round(w * {xi} * {xcols[j2]}, 12)"
                    f" AS {d38})) AS p_{i}_{j2}"
                )
        terms.append(f"sum(CAST(round(w * y, 12) AS {d38})) AS sy")
        if sidecars:
            psi = (
                f"CASE WHEN abs(e) <= {a!r} THEN e / {float(scale)!r}"
                f" ELSE sign(e) * {float(c_thr)!r} END"
            )
            terms.append(
                f"sum(CAST(round(({psi}) * ({psi}), 12) AS {d38}))"
                " AS spsi2"
            )
            terms.append(
                f"sum(CASE WHEN abs(e) <= {a!r} THEN 1 ELSE 0 END)"
                " AS npsi"
            )
            for i, xi in enumerate(xcols):
                terms.append(
                    f"sum(CAST({xi} AS DECIMAL(18,6))) AS us_{i}"
                )
                for j2 in range(i, p):
                    terms.append(
                        f"sum(CAST(round({xi} * {xcols[j2]}, 12)"
                        f" AS {d38})) AS up_{i}_{j2}"
                    )
        return pre + " SELECT " + ", ".join(terms) + " FROM mw"

    for _ in range(N_IRLS_ITER):
        beta = huber_step_from_moments(run(pass_sql(beta, False)), p)
    sol = huber_finalize(
        run(pass_sql(beta, True)), beta, xs, scale, N_IRLS_ITER
    )
    lit = _ols_lit
    return " UNION ALL ".join(
        f"SELECT '{t}' AS term, {lit(cf)} AS coef, {lit(s)} AS std_err,"
        f" {lit(ts)} AS t_stat"
        for t, cf, s, ts in zip(
            sol["terms"], sol["coef"], sol["std_err"], sol["t_stat"]
        )
    )


def _build_logit_by_group_oracle() -> str:
    """Oracle for lineitem_logit_by_group: the GROUPED IRLS pass SQL
    looped in DuckDB — per-row mu from a CASE over each group's beta
    literals (text-mirror of the operator's when-chain), per-group
    sums, the SAME shared ``logistic_step``/``logistic_finalize`` with
    the identical freeze/omit rule — every group's float trajectory
    engine-identical; literal rows out, group-sorted."""
    import duckdb

    from intake_esm_spark.operators.regression import (
        logistic_finalize,
        logistic_step,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    xs = ["l_quantity", "l_discount"]

    def xq(c: str) -> str:
        return f"round(CAST({c} AS DOUBLE), 6)"

    con = duckdb.connect()
    notnull = (
        "l_linestatus IS NOT NULL AND l_quantity IS NOT NULL AND "
        "l_discount IS NOT NULL AND l_returnflag IS NOT NULL"
    )
    pre = (
        f"WITH r AS (SELECT CAST(l_returnflag AS VARCHAR) AS grp,"
        f" CAST(l_linestatus = 'F' AS INT) AS y,"
        f" {xq(xs[0])} AS x1, {xq(xs[1])} AS x2"
        f" FROM '{sf_dir}/lineitem.parquet' WHERE {notnull})"
    )
    groups = sorted(
        r[0]
        for r in con.execute(pre + " SELECT DISTINCT grp FROM r").fetchall()
    )

    def pass_sql(betas: dict) -> str:
        branches = []
        for g in sorted(betas):
            b = betas[g]
            eta = repr(float(b[0]))
            for bj, c in zip(b[1:], ["x1", "x2"]):
                eta = f"{eta} + {float(bj)!r} * {c}"
            esc = g.replace("'", "''")
            branches.append(f"WHEN grp = '{esc}' THEN {eta}")
        case = "CASE " + " ".join(branches) + " END"
        mid = (
            f", m AS (SELECT grp, y, x1, x2,"
            f" 1.0 / (1.0 + exp(-({case}))) AS mu FROM r)"
        )
        terms = ["grp", "count(*) AS n"]
        xcols = ["1.0", "x1", "x2"]
        for j2, xj in enumerate(xcols):
            terms.append(
                f"sum(CAST(round((CAST(y AS DOUBLE) - mu) * {xj}, 12)"
                f" AS DECIMAL(38,12))) AS g_{j2}"
            )
            for i in range(j2, len(xcols)):
                terms.append(
                    f"sum(CAST(round(mu * (1.0 - mu) * {xj} * {xcols[i]},"
                    f" 12) AS DECIMAL(38,12))) AS h_{j2}_{i}"
                )
        clamp = f"greatest(least(mu, {1.0 - 1e-15!r}), {1e-15!r})"
        terms.append(
            "sum(CAST(round(-(CAST(y AS DOUBLE) * ln(" + clamp + ")"
            " + (1.0 - CAST(y AS DOUBLE)) * ln(1.0 - " + clamp + ")),"
            " 12) AS DECIMAL(38,12))) AS ll"
        )
        return (
            pre + mid + " SELECT " + ", ".join(terms)
            + " FROM m GROUP BY grp"
        )

    def run(sql: str) -> dict:
        cur = con.execute(sql)
        names = [d0[0] for d0 in cur.description]
        return {
            row[0]: dict(zip(names, row)) for row in cur.fetchall()
        }

    p = len(xs)
    betas = {g: [0.0] * (p + 1) for g in groups}
    dead: set = set()
    for _ in range(LOGIT_BY_GROUP_ITER):
        moms = run(pass_sql(betas))
        for g in groups:
            if g in dead:
                continue
            try:
                betas[g] = logistic_step(moms[g], betas[g], p)
            except ValueError:
                dead.add(g)
    final = run(pass_sql(betas))
    lit = _ols_lit
    rows = []
    for g in groups:
        if g in dead:
            continue
        try:
            sol = logistic_finalize(
                final[g], betas[g], xs, LOGIT_BY_GROUP_ITER
            )
        except ValueError:
            continue
        esc = g.replace("'", "''")
        for t, c, s, z in zip(
            sol["terms"], sol["coef"], sol["std_err"], sol["z_stat"]
        ):
            rows.append(
                f"SELECT '{esc}' AS grp, '{t}' AS term, {lit(c)} AS coef,"
                f" {lit(s)} AS std_err, {lit(z)} AS z_stat"
            )
    return " UNION ALL ".join(rows)


def _cox_oracle_subject_cte(sf_dir: str) -> str:
    """The DuckDB replay of ``_cox_subjects`` + the operator's
    complete-case 6dp frame — shared by the coefficient and
    baseline-hazard oracle builders so the subject frame can never
    drift between them."""
    return (
        "WITH pu AS (SELECT user_id, min(ts) AS f, max(ts) AS l,"
        " min(CASE WHEN event_type = 'purchase' THEN ts END) AS p,"
        " count(*) AS cnt,"
        " sum(CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)))"
        " AS sv, count(value) AS nv"
        f" FROM '{sf_dir}/events.parquet' WHERE user_id IS NOT NULL"
        " GROUP BY user_id),"
        # integer-second epochs: DuckDB epoch() returns DOUBLE with
        # fractional seconds while Spark unix_timestamp truncates to
        # whole seconds — floor each endpoint BEFORE differencing so
        # both engines build identical durations (and identical
        # Breslow tie groups) for sub-second timestamps (driver
        # ADVICE r14; verified 121/150 sf0.01 subjects differed)
        " subj AS (SELECT user_id AS uid,"
        " CAST(floor(epoch(coalesce(p, l))) AS BIGINT)"
        " - CAST(floor(epoch(f)) AS BIGINT) AS dur,"
        " CAST(p IS NOT NULL AS INT) AS ev,"
        " ln(1.0 + CAST(cnt AS DOUBLE)) AS x1,"
        " CAST(sv AS DOUBLE) / CAST(nv AS DOUBLE) AS x2 FROM pu),"
        " q AS (SELECT uid, round(CAST(dur AS DOUBLE), 6) AS t,"
        " ev AS e,"
        " round(CAST(x1 AS DOUBLE), 6) AS xa,"
        " round(CAST(x2 AS DOUBLE), 6) AS xb FROM subj"
        " WHERE dur IS NOT NULL AND ev IS NOT NULL"
        " AND x1 IS NOT NULL AND x2 IS NOT NULL"
        " AND NOT isnan(x2) AND abs(x2) != 'inf'::DOUBLE)"
    )


def _cox_oracle_fit(sf_dir: str) -> tuple[str, list[float], dict]:
    """Run the operator's 8-pass Cox Newton trajectory in DuckDB over
    the shared subject CTE and return ``(subject_cte, beta, final
    moment dict)`` — shared by the coefficient and baseline-hazard
    oracle builders, ONE float trajectory for both surfaces (exactly
    the operator's shared ``_cox_fit``)."""
    import duckdb

    from intake_esm_spark.operators.regression import logistic_step

    con = duckdb.connect()
    subj = _cox_oracle_subject_cte(sf_dir)
    d38 = "DECIMAL(38,12)"
    xs = ["xa", "xb"]
    p = len(xs)

    def pass_sql(beta: list[float]) -> str:
        eta = "0.0"
        for bj, c in zip(beta, xs):
            eta = f"{eta} + {float(bj)!r} * {c}"
        m = f", m AS (SELECT t, e, xa, xb, exp({eta}) AS r FROM q)"
        pt_cols = ["t", "sum(e) AS d", f"sum(CAST(round(r, 12) AS {d38})) AS r0"]
        for i, c in enumerate(xs):
            pt_cols.append(
                f"sum(CAST(round(r * {c}, 12) AS {d38})) AS r1_{i}"
            )
            pt_cols.append(
                f"sum(CAST(round(e * {c}, 12) AS {d38})) AS z_{i}"
            )
            for j2 in range(i, p):
                pt_cols.append(
                    f"sum(CAST(round(r * {c} * {xs[j2]}, 12) AS {d38}))"
                    f" AS r2_{i}_{j2}"
                )
        pt = f", pt AS (SELECT {', '.join(pt_cols)} FROM m GROUP BY t)"
        win = (
            "OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING"
            " AND CURRENT ROW)"
        )
        c_cols = ["d", f"sum(r0) {win} AS S0"]
        for i in range(p):
            c_cols.append(f"z_{i}")
            c_cols.append(f"sum(r1_{i}) {win} AS S1_{i}")
            for j2 in range(i, p):
                c_cols.append(f"sum(r2_{i}_{j2}) {win} AS S2_{i}_{j2}")
        cw = f", c AS (SELECT {', '.join(c_cols)} FROM pt)"
        s0 = "CAST(S0 AS DOUBLE)"
        dd = "CAST(d AS DOUBLE)"
        out = ["sum(d) AS n_events"]
        for i in range(p):
            g = (
                f"CAST(z_{i} AS DOUBLE) - {dd} *"
                f" (CAST(S1_{i} AS DOUBLE) / {s0})"
            )
            out.append(
                f"sum(CASE WHEN d > 0 THEN CAST(round({g}, 12) AS {d38})"
                f" END) AS g_{i}"
            )
            for j2 in range(i, p):
                h = (
                    f"{dd} * (CAST(S2_{i}_{j2} AS DOUBLE) / {s0}"
                    f" - (CAST(S1_{i} AS DOUBLE) / {s0})"
                    f" * (CAST(S1_{j2} AS DOUBLE) / {s0}))"
                )
                out.append(
                    f"sum(CASE WHEN d > 0 THEN CAST(round({h}, 12)"
                    f" AS {d38}) END) AS h_{i}_{j2}"
                )
        return subj + m + pt + cw + " SELECT " + ", ".join(out) + " FROM c"

    def run(sql: str) -> dict:
        cur = con.execute(sql)
        return dict(
            zip([d0[0] for d0 in cur.description], cur.fetchone())
        )

    beta = [0.0] * p
    for _ in range(8):  # the operator's default n_iter
        beta = logistic_step(run(pass_sql(beta)), beta, p - 1)
    final = run(pass_sql(beta))
    con.close()
    return subj, beta, final


def _build_events_cox_oracle() -> str:
    """Oracle for events_cox: the per-pass Cox SQL (subject frame →
    exp(η) moments at β literals → distinct-time grain → window
    reverse-cumsum risk sets → 12dp-quantized per-event-time terms)
    looped in DuckDB through the SAME shared ``logistic_step``; the
    final coefficients/SEs are driver arithmetic on the last pass's
    information matrix, identical to the operator's finish."""
    import numpy as np

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    _, beta, final = _cox_oracle_fit(sf_dir)
    p = len(beta)
    hmat = np.zeros((p, p))
    for i in range(p):
        for j2 in range(i, p):
            hmat[i, j2] = hmat[j2, i] = float(final[f"h_{i}_{j2}"])
    inv = np.linalg.inv(hmat)
    se = [float(np.sqrt(max(0.0, inv[i, i]))) for i in range(p)]
    lit = _ols_lit
    rows = []
    for i, term in enumerate(["x1", "x2"]):
        b = round(float(beta[i]), 6)
        s = round(se[i], 6)
        z = round(float(beta[i]) / se[i], 6) if se[i] > 0 else None
        hr = round(float(np.exp(beta[i])), 6)
        rows.append(
            f"SELECT '{term}' AS term, {lit(b)} AS coef,"
            f" {lit(s)} AS std_err, {lit(z)} AS z_stat,"
            f" {lit(hr)} AS hazard_ratio"
        )
    return " UNION ALL ".join(rows)


def _build_cox_baseline_oracle() -> str:
    """Oracle for events_cox_baseline: the SAME shared DuckDB Cox
    trajectory (``_cox_oracle_fit`` — one float trajectory with the
    events_cox oracle), then ONE plain-SQL final pass at the β
    literals: per-time exp(η) sums → DESC window cumsum risk sets →
    12dp-quantized Breslow increments d/S0 → ASC window cumsum H₀ →
    6dp (H₀, exp(−H₀)) — text-for-text the operator's final pass with
    the bucketed prefix sums in window form."""
    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    subj, beta, _ = _cox_oracle_fit(sf_dir)
    d38 = "DECIMAL(38,12)"
    eta = "0.0"
    for bj, c in zip(beta, ["xa", "xb"]):
        eta = f"{eta} + {float(bj)!r} * {c}"
    win_desc = (
        "OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW)"
    )
    win_asc = (
        "OVER (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW)"
    )
    return (
        subj
        + f", m AS (SELECT t, e, exp({eta}) AS r FROM q)"
        + f", pt AS (SELECT t, sum(e) AS d,"
        f" sum(CAST(round(r, 12) AS {d38})) AS r0 FROM m GROUP BY t)"
        + f", cw AS (SELECT t, d, sum(r0) {win_desc} AS S0 FROM pt)"
        + f", ev AS (SELECT t, d, CAST(round(CAST(d AS DOUBLE)"
        f" / CAST(S0 AS DOUBLE), 12) AS {d38}) AS inc FROM cw"
        " WHERE d > 0)"
        + f", hh AS (SELECT t, d, sum(inc) {win_asc} AS H0 FROM ev)"
        + " SELECT t, CAST(d AS BIGINT) AS n_events,"
        " round(CAST(H0 AS DOUBLE), 6) AS cum_hazard,"
        " round(exp(-CAST(H0 AS DOUBLE)), 6) AS baseline_survival"
        " FROM hh"
    )


def _build_weibull_oracle() -> str:
    """Oracle for events_weibull: the Weibull-AFT pass SQL (6dp ln t
    over the shared Cox subject CTE shifted +1 s, ±30 z clamp, 1/σ as
    a Python-computed literal, 12dp decimal term sums — text-for-text
    the operator's projection) looped in DuckDB through the SAME
    shared ``weibull_warm_start`` / ``damped_newton_step`` with the
    same fixed damping schedule, one float trajectory."""
    import math

    import duckdb
    import numpy as np

    from intake_esm_spark.operators.regression import damped_newton_step
    from intake_esm_spark.operators.survival import (
        WEIBULL_DAMPING,
        weibull_warm_start,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    subj = _cox_oracle_subject_cte(sf_dir)
    p = 2
    n_iter = 12
    d38 = "DECIMAL(38,12)"
    xs = ["1.0", "xa", "xb"]

    def pass_sql(theta: list[float]) -> str:
        s = float(theta[p + 1])
        inv_s = repr(math.exp(-s))
        inv_s2 = repr(math.exp(-s) * math.exp(-s))
        eta = repr(float(theta[0]))
        for bj, c in zip(theta[1 : p + 1], ["xa", "xb"]):
            eta = f"{eta} + {float(bj)!r} * {c}"
        pre = (
            subj
            + ", f AS (SELECT t + 1.0 AS tt,"
            " round(ln(t + 1.0), 6) AS lt,"
            " CAST(e AS DOUBLE) AS ed, e, xa, xb FROM q),"
            " m AS (SELECT tt, lt, ed, e, xa, xb,"
            f" greatest(least((lt - ({eta})) * {inv_s}, 30.0), -30.0)"
            " AS z FROM f),"
            " mw AS (SELECT tt, lt, ed, e, xa, xb, z, exp(z) AS w"
            " FROM m)"
        )
        terms = ["count(*) AS n"]
        for j2 in range(p + 1):
            terms.append(
                f"sum(CAST(round((w - ed) * {xs[j2]} * {inv_s}, 12)"
                f" AS {d38})) AS g_{j2}"
            )
            for i in range(j2, p + 1):
                terms.append(
                    f"sum(CAST(round(w * {xs[j2]} * {xs[i]} * {inv_s2},"
                    f" 12) AS {d38})) AS h_{j2}_{i}"
                )
            terms.append(
                f"sum(CAST(round({xs[j2]} * (w * z + w - ed) * {inv_s},"
                f" 12) AS {d38})) AS h_{j2}_{p + 1}"
            )
        terms.append(
            f"sum(CAST(round((w - ed) * z - ed, 12) AS {d38}))"
            f" AS g_{p + 1}"
        )
        terms.append(
            f"sum(CAST(round(z * (w * z + w - ed), 12) AS {d38}))"
            f" AS h_{p + 1}_{p + 1}"
        )
        terms.append("sum(CAST(lt AS DECIMAL(18,6))) AS slt")
        terms.append(
            f"sum(CAST(round(lt * lt, 12) AS {d38})) AS sltt"
        )
        terms.append("min(tt) AS tmin")
        terms.append("sum(e) AS n_events")
        return pre + " SELECT " + ", ".join(terms) + " FROM mw"

    con = duckdb.connect()

    def run(sql: str) -> dict:
        cur = con.execute(sql)
        return dict(
            zip([d0[0] for d0 in cur.description], cur.fetchone())
        )

    alphas = list(WEIBULL_DAMPING) + [1.0] * (
        n_iter - 1 - len(WEIBULL_DAMPING)
    )
    theta = [0.0] * (p + 2)
    for it in range(n_iter):
        mom = run(pass_sql(theta))
        theta = (
            weibull_warm_start(mom, p)
            if it == 0
            else damped_newton_step(mom, theta, p + 1, alphas[it - 1])
        )
    final = run(pass_sql(theta))
    k = p + 2
    hmat = np.zeros((k, k))
    for j2 in range(k):
        for i in range(j2, k):
            hmat[j2, i] = hmat[i, j2] = float(final[f"h_{j2}_{i}"])
    inv = np.linalg.inv(hmat)
    se = [float(np.sqrt(max(0.0, inv[j, j]))) for j in range(k)]
    lit = _ols_lit
    rows = []
    for t, b, sv in zip(
        ["_intercept", "x1", "x2", "_ln_sigma"], theta, se
    ):
        cf = round(float(b), 6)
        sr = round(sv, 6)
        z = round(float(b) / sv, 6) if sv > 0 else None
        rows.append(
            f"SELECT '{t}' AS term, {lit(cf)} AS coef,"
            f" {lit(sr)} AS std_err, {lit(z)} AS z_stat"
        )
    return " UNION ALL ".join(rows)


_KM_CI_ORACLE = """
    WITH pu AS (
      SELECT user_id, min(ts) AS f, max(ts) AS l
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ), mx AS (
      SELECT max(l) AS m FROM pu
    ), subj AS (
      SELECT round(CAST(CAST(date_diff('day', CAST(f AS DATE),
                   CAST(l AS DATE)) AS INT) AS DOUBLE), 6) AS t,
             CASE WHEN l < m - INTERVAL 14 DAY THEN 1 ELSE 0 END AS e
      FROM pu CROSS JOIN mx
    ), per_t AS (
      SELECT t, sum(e) AS d, count(*) AS c FROM subj GROUP BY 1
    ), ar AS (
      SELECT t, d,
             sum(c) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                          AND UNBOUNDED FOLLOWING) AS nrisk
      FROM per_t
    ), hz AS (
      SELECT t, d, nrisk,
             CAST(d AS DOUBLE) / CAST(nrisk AS DOUBLE) AS h
      FROM ar
    ), acc AS (
      SELECT t, d, nrisk,
             sum(CASE WHEN h >= 1.0 THEN 1 ELSE 0 END) OVER w AS hzs,
             sum(CASE WHEN h < 1.0 THEN CAST(round(ln(1.0 - h), 12)
                      AS DECIMAL(28,12)) END) OVER w AS cumlt,
             sum(CASE WHEN nrisk > d THEN
                   CAST(round(CAST(d AS DOUBLE)
                        / (CAST(nrisk AS DOUBLE)
                           * (CAST(nrisk AS DOUBLE)
                              - CAST(d AS DOUBLE))), 12)
                        AS DECIMAL(28,12)) END) OVER w AS cumgw,
             sum(CASE WHEN d > 0 AND nrisk <= d THEN 1 ELSE 0 END)
               OVER w AS cumgbad
      FROM hz
      WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ), sv AS (
      SELECT t, d, nrisk, cumgw, cumgbad,
             CASE WHEN coalesce(hzs, 0) > 0 THEN 0.0
                  ELSE round(exp(coalesce(CAST(cumlt AS DOUBLE), 0.0)),
                             6) END AS s
      FROM acc
    )
    SELECT t, CAST(nrisk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_events, s AS survival,
           CASE WHEN s > 0.0 AND s < 1.0 AND coalesce(cumgbad, 0) = 0
                     AND cumgw IS NOT NULL
                THEN round(pow(s, exp(1.959964
                     * -(sqrt(CAST(cumgw AS DOUBLE)) / ln(s)))), 6)
           END AS lo,
           CASE WHEN s > 0.0 AND s < 1.0 AND coalesce(cumgbad, 0) = 0
                     AND cumgw IS NOT NULL
                THEN round(pow(s, exp(1.959964
                     * (sqrt(CAST(cumgw AS DOUBLE)) / ln(s)))), 6)
           END AS hi
    FROM sv
"""


def _build_rmst_oracle() -> str:
    """Oracle for events_rmst: one static window-SQL replay of the
    operator — the duration-grain collapse, at-risk reverse cumulative,
    12dp log-term survival cumsum (the km oracle construction), 6dp S,
    lead-by-rank segment areas as DECIMAL(18,6), DESC-cumsum suffix
    areas, and the Greenwood-style variance terms — text-for-text the
    operator's fixed IEEE expressions.  The subject frame replays
    ``_cox_subjects`` (dur/ev only — rmst keeps rows the Cox
    covariate filter would drop)."""
    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    tau = repr(86400.0)
    dd = "CAST(d AS DOUBLE)"
    nn = "CAST(nrisk AS DOUBLE)"
    wasc = (
        "OVER (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW)"
    )
    wdesc = (
        "OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW)"
    )
    h = f"{dd} / {nn}"
    return (
        "WITH pu AS (SELECT user_id, min(ts) AS f, max(ts) AS l,"
        " min(CASE WHEN event_type = 'purchase' THEN ts END) AS p"
        f" FROM '{sf_dir}/events.parquet' WHERE user_id IS NOT NULL"
        " GROUP BY user_id),"
        " subj AS (SELECT"
        " CAST(floor(epoch(coalesce(p, l))) AS BIGINT)"
        " - CAST(floor(epoch(f)) AS BIGINT) AS dur,"
        " CAST(p IS NOT NULL AS INT) AS ev FROM pu),"
        " qq AS (SELECT round(CAST(dur AS DOUBLE), 6) AS t, ev AS e"
        " FROM subj WHERE dur IS NOT NULL AND ev IS NOT NULL),"
        " pt AS (SELECT t, sum(e) AS d, count(*) AS c FROM qq"
        " GROUP BY t),"
        " meta AS (SELECT sum(c) AS tot, min(t) AS t1 FROM pt),"
        f" c1 AS (SELECT t, d, c, sum(c) {wasc} AS cumc,"
        f" row_number() OVER (ORDER BY t ASC) AS r FROM pt),"
        " st AS (SELECT t, d, r,"
        " (SELECT tot FROM meta) - cumc + c AS nrisk FROM c1),"
        " lg AS (SELECT t, d, nrisk, r,"
        f" CASE WHEN {h} < 1.0 THEN CAST(round(ln(1.0 - {h}), 12)"
        " AS DECIMAL(28,12)) END AS lt2,"
        f" CAST({h} >= 1.0 AS BIGINT) AS hz FROM st),"
        f" c2 AS (SELECT t, d, nrisk, r, sum(lt2) {wasc} AS cumlt,"
        f" sum(hz) {wasc} AS cumhz FROM lg),"
        " sv AS (SELECT t, d, nrisk, r,"
        " round(CASE WHEN coalesce(cumhz, 0) > 0 THEN 0.0"
        " ELSE exp(coalesce(CAST(cumlt AS DOUBLE), 0.0)) END, 6)"
        " AS s FROM c2),"
        " seg AS (SELECT a.t AS t, a.d AS d, a.nrisk AS nrisk,"
        f" CAST(round(a.s * greatest(least(coalesce(b.t, {tau}),"
        f" {tau}) - a.t, 0.0), 6) AS DECIMAL(18,6)) AS a6"
        " FROM sv a LEFT JOIN sv b ON b.r = a.r + 1),"
        f" c3 AS (SELECT t, d, nrisk, a6, sum(a6) {wdesc} AS suf"
        " FROM seg)"
        f" SELECT {tau} AS tau,"
        " CAST((SELECT tot FROM meta) AS BIGINT) AS n_subjects,"
        f" CAST(coalesce(sum(CASE WHEN t <= {tau} THEN d END), 0)"
        " AS BIGINT) AS n_events,"
        f" round(least((SELECT t1 FROM meta), {tau})"
        " + coalesce(CAST(sum(a6) AS DOUBLE), 0.0), 6) AS rmst,"
        " round(sqrt(CAST(sum(CASE WHEN d > 0 AND t < "
        f"{tau} AND nrisk > d THEN CAST(round({dd} / ({nn} * ({nn}"
        f" - {dd})) * CAST(suf AS DOUBLE) * CAST(suf AS DOUBLE), 6)"
        " AS DECIMAL(18,6)) END) AS DOUBLE)), 6) AS se"
        " FROM c3"
    )


def _build_cox_predict_oracle() -> str:
    """Oracle for events_cox_predict: the SAME shared DuckDB Cox
    trajectory, H₀(τ) as one sum over the window-cumsum Breslow
    increments at t ≤ τ (replaying the operator's bounded 1-row
    probe), then a literal-β per-subject SELECT of
    ``(uid, exp(η), exp(−H₀(τ)·exp(η)))`` over the shared subject
    CTE."""
    import duckdb

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    tau = 86400.0
    subj, beta, _ = _cox_oracle_fit(sf_dir)
    d38 = "DECIMAL(38,12)"
    eta = "0.0"
    for bj, c in zip(beta, ["xa", "xb"]):
        eta = f"{eta} + {float(bj)!r} * {c}"
    win_desc = (
        "OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW)"
    )
    con = duckdb.connect()
    h0row = con.execute(
        subj
        + f", m AS (SELECT t, e, exp({eta}) AS r FROM q)"
        + f", pt AS (SELECT t, sum(e) AS d,"
        f" sum(CAST(round(r, 12) AS {d38})) AS r0 FROM m GROUP BY t)"
        + f", cw AS (SELECT t, d, sum(r0) {win_desc} AS S0 FROM pt)"
        + f" SELECT sum(CAST(round(CAST(d AS DOUBLE)"
        f" / CAST(S0 AS DOUBLE), 12) AS {d38})) FROM cw"
        f" WHERE d > 0 AND t <= {tau!r}"
    ).fetchone()
    con.close()
    h0tau = float(h0row[0]) if h0row[0] is not None else 0.0
    return (
        subj
        + f" SELECT uid AS user_id, round(exp({eta}), 6) AS risk_score,"
        f" round(exp(-{h0tau!r} * exp({eta})), 6)"
        " AS survival_at_horizon FROM q"
    )


def _build_ols_by_group_oracle() -> str:
    """Oracle for lineitem_ols_by_group: the grouped moment SQL in
    DuckDB (group key cast to VARCHAR exactly like the operator), each
    group's Decimal moments through the SAME shared solve with the
    SAME try/skip on degenerate segments, literal rows out."""
    import duckdb

    from intake_esm_spark.operators.regression import (
        ols_solve_from_moments,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    xs = ["l_quantity", "l_discount"]
    y = "l_extendedprice"
    cols = _ols_moment_sql_cols(xs, y)
    notnull = " AND ".join(
        f"{c} IS NOT NULL" for c in [y, *xs, "l_returnflag"]
    )
    con = duckdb.connect()
    cur = con.execute(
        f"SELECT CAST(l_returnflag AS VARCHAR) AS grp, "
        f"{', '.join(cols)} FROM '{sf_dir}/lineitem.parquet' "
        f"WHERE {notnull} GROUP BY 1 ORDER BY 1"
    )
    names = [d[0] for d in cur.description]
    lit = _ols_lit
    rows = []
    for raw in cur.fetchall():
        mom = dict(zip(names, raw))
        try:
            sol = ols_solve_from_moments(mom, xs)
        except ValueError:
            continue  # the operator's documented skip, replayed
        for t, c, s, ts in zip(
            sol["terms"], sol["coef"], sol["std_err"], sol["t_stat"]
        ):
            rows.append(
                f"SELECT '{mom['grp']}' AS grp, '{t}' AS term,"
                f" {lit(c)} AS coef, {lit(s)} AS std_err,"
                f" {lit(ts)} AS t_stat,"
                f" CAST({sol['n']} AS BIGINT) AS n_rows"
            )
    return " UNION ALL ".join(rows)


def _build_embed_pca_oracle(
    cov_sql: str, k: int = 2, whiten: bool = False
) -> str:
    """Pure-SQL oracle for ``embed_pca``, built at oracle-collection
    time (matrix.py pca_project:135 documents the operator's split):

    1. replay the 6dp-quantized covariance in DuckDB — ``cov_sql`` IS
       the ``embed_covariance`` entry's SQL, already proven hash-equal
       to the Spark moments, so the matrix is bit-identical;
    2. replay the first-moment means exactly as the operator's driver
       pass (decimal sum of 6dp components → ``float(Decimal)/n``);
    3. call the SAME :func:`~intake_esm_spark.operators.matrix.
       pca_loadings_from_cov` (one shared eigh + sign canonicalization
       — both sides hand bit-identical input to the same LAPACK, so
       the loadings are deterministic; a repeated eigenvalue makes the
       eigenBASIS non-unique but not the eigh OUTPUT for identical
       bits);
    4. return a projection SQL whose per-row fold replays Spark's
       ``aggregate(zip_with(...))`` left fold term-for-term —
       ``0.0 + t₁ + t₂ + …`` is the identical IEEE sequence — over the
       same 6dp-quantized components, with the loadings and the
       centering offset as full-precision (repr round-trip) literals.

    The data the literals derive from comes from
    ``$SPARK_GRAFT_ORACLE_SF_DIR`` (default sf0.01 — the sf the driver
    compares at; scripts/check_oracle.py pins it to its sweep dir)."""
    import duckdb
    import numpy as np

    from intake_esm_spark.operators.matrix import pca_loadings_from_cov

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{sf_dir}/embeddings.parquet'"
    )
    cov_rows = con.execute(cov_sql).fetchall()  # (i, j, n_vecs, cov, corr)
    moms = con.execute(
        """
        SELECT i, sum(CAST(v AS DECIMAL(18,6))) AS s1, count(*) AS n
        FROM (
          SELECT generate_subscripts(embedding, 1) - 1 AS i,
                 round(CAST(unnest(embedding) AS DOUBLE), 6) AS v
          FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) >= 1
        ) GROUP BY 1
        """
    ).fetchall()
    d_dim = len(moms)
    means = np.zeros(d_dim)
    for i, s1, n in moms:
        means[i] = float(s1) / n
    cmat = np.zeros((d_dim, d_dim))
    for r in cov_rows:
        cmat[r[0], r[1]] = r[3]
        cmat[r[1], r[0]] = r[3]
    comps = pca_loadings_from_cov(cmat, k, whiten=whiten)
    cols = []
    for c, v in enumerate(comps, start=1):
        terms = " + ".join(
            f"round(CAST(embedding[{i + 1}] AS DOUBLE), 6) * ({float(w)!r})"
            for i, w in enumerate(v)
        )
        offset = repr(float(np.dot(v, means)))
        cols.append(
            f"round((0.0 + {terms}) - ({offset}), 6) + 0.0 AS pc_{c}"
        )
    return (
        "SELECT vec_id, "
        + ", ".join(cols)
        + " FROM embeddings"
        + " WHERE embedding IS NOT NULL AND len(embedding) >= 1"
    )
