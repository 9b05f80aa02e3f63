"""Shared execution-shape helpers used across operator modules.

``_spread`` started as a private helper of ``dedup`` (r14's systemic
single-file-scan fix) and was imported from there by eight other
modules; promoted here (ADVICE r15) so generic partitioning utilities
do not couple unrelated operators to the dedup module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_WIDTH_MEMO: dict[tuple[str, int], int] = {}
"""Per-application memo of the ``.rdd.getNumPartitions()`` width probe,
keyed by (applicationId, analyzed-plan semanticHash).  EXECUTION
metadata only — never results: the same analyzed plan in the same
session always plans the same initial partition count, and iterative
fits rebuild semantically identical frames every pass (ADVICE r15: the
ADF moment passes re-paid a full driver-side physical-planning
conversion per pass on their lagged-join frame just to re-learn its
width).

Staleness: a memoized width can be stale when a plan with the same
hash plans differently later in the application — a session that
changes ``spark.sql.shuffle.partitions`` mid-flight, or a path that is
overwritten with a different file layout and read again.  A stale
width only decides whether ``_spread`` adds one round-robin shuffle:
it shapes execution, never values.

Bounded: cleared whenever it reaches ``_WIDTH_MEMO_MAX`` entries, so a
long-lived driver that builds many distinct plans holds at most that
many small entries."""

_WIDTH_MEMO_MAX = 4096


# r15 NOTE: a `_pin_partitioned` helper lived here during the graph-
# iterative probe (AQE-off EAGER localCheckpoint preserves the executed
# plan's hashpartitioning+ordering, where the lazy pin materializes as
# UnknownPartitioning — probe plans in plans/r15/graph_pagerank_
# iteration_*.txt). Removed after paired A/B legs showed every consumer
# regressing at bench scale (AQE broadcasts already avoid the invariant-
# side exchange); re-create it from the plans + graph.py notes if a
# cluster-scale deployment needs the exchange-free loop join.


def _spread(df: DataFrame) -> DataFrame:
    """Ensure row-inflating kernels use every core: a single parquet file
    with one row group arrives as ONE partition, serializing the whole
    per-row pipeline. One narrow round-robin shuffle buys full
    parallelism; on a many-file 100 TB table the partition count is
    already >= cores and this is a no-op.

    Two-step width probe: ``df.inputFiles()`` first — a driver-side file
    listing (already cached by the scan relation) that settles the common
    case (a many-file table is always wide) without touching ``.rdd``.
    Only when the file count is below target does it fall back to the
    precise ``df.rdd.getNumPartitions()`` (which pays a driver-side
    physical-planning conversion — memoized per analyzed plan above, so
    per-pass rebuilders pay it once): files UNDER-count partitions when
    one large file splits against ``maxPartitionBytes`` (a 10×1 TB table
    is ~80k partitions, not 10 — repartitioning it would be a
    full-corpus exchange), and a non-file source reports zero files
    regardless of its real width.

    Streaming frames pass through untouched (r14): the width probes are
    batch-only APIs, and the shared moment builders (OLS/WLS twins
    #25/#26) call this on both batch and streaming inputs — a streaming
    source's parallelism is the reader's concern, not ours."""
    if df.isStreaming:
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) >= target:
        return df
    key = None
    try:
        key = (spark.sparkContext.applicationId, df.semanticHash())
    except Exception:  # noqa: BLE001 — probe memo is best-effort
        key = None
    n = _WIDTH_MEMO.get(key) if key is not None else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            if len(_WIDTH_MEMO) >= _WIDTH_MEMO_MAX:
                _WIDTH_MEMO.clear()
            _WIDTH_MEMO[key] = n
    if n >= target:
        return df
    return df.repartition(target)
