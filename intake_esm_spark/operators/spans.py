"""Exact substring-run dedup — the third dedup modality.

Document-level dedup (``operators.dedup``, MinHash/SimHash) removes
whole near-identical documents; line-level structural dedup
(``operators.structural``) removes boilerplate lines. Both miss LONG
VERBATIM SPANS embedded in otherwise-distinct documents — the quoted
article inside a blog post, the license text pasted mid-README, the
copied paragraph that makes two documents 20% identical and 80%
different. Lee et al., "Deduplicating Training Data Makes Language
Models Better" (ACL 2022), attack exactly this with a suffix array over
the concatenated corpus; a suffix array is inherently sequential and
memory-resident, so this module implements the standard distributed
approximation instead (the reference engine — a catalog query engine —
has no dedup at all; extension per SURVEY §2.9):

1. slide a fixed ``n``-token window over each document and fingerprint
   every window with the engine-portable 60-bit hash
   (``functions.text.rolling_hashes`` — the same shingle machinery the
   MinHash family uses, so window ``i`` is exactly the word n-gram
   starting at token ``i``);
2. count each window hash's distinct-document frequency corpus-wide
   (:func:`duplicated_window_hashes` — the one report every removal
   path reads, inline or from a snapshot);
3. a MAXIMAL RUN of >= ``min_run`` consecutive duplicated windows in a
   document marks a verbatim span (a span of L shared tokens yields
   L - n + 1 consecutive duplicated windows, so ``min_run = K`` detects
   shared spans of K + n - 1 tokens — Lee et al.'s 50-token threshold is
   ``min_run = 51 - n``);
4. the covered tokens are cut and the document reassembled
   (:func:`span_dedup`), or reported per run (:func:`duplicated_spans`).

Tokens are the CCNet-normalized words (lowercase, collapsed whitespace)
— the same token space every other dedup operator fingerprints in, so
"verbatim" here means verbatim-after-normalization, and the reassembled
text is normalized text. Both outputs are exactly replayable in SQL
(unnest + window-function gaps-and-islands), which is what makes the
operator hash-checkable against a DuckDB oracle.

100 TB shape
------------
Per-document work is linear (one regex shingle pass, one md5 per
window). Exchanges, in order, all on short keys:

* window-hash document frequency: one groupBy on the 8-byte hash —
  countDistinct collapses per-partition before the shuffle;
* a LEFT SEMI join of window rows against the >= ``min_doc_freq``
  hashes (the duplicated-window vocabulary — usually small; a shuffle
  join keyed by the same 8-byte hash, AQE downgrades to broadcast when
  stats allow and splits skewed universal hashes);
* the gaps-and-islands window, PARTITIONED BY DOCUMENT (ordered by
  window position) — per-task state is one document's duplicated
  windows, bounded by document length, never corpus-scale; the
  subsequent (doc, island) and per-doc aggregations reuse the same
  hash partitioning (subset of the clustering keys), so they add no
  exchange;
* the final id-keyed join of span intervals back onto the token
  arrays; token cutting is one in-row ``filter``/``exists`` pass —
  O(tokens x runs) per document, runs per doc being small by
  construction (each needs >= min_run duplicated windows).

No global window, no driver collect, no all-pairs joins. Unlike
suffix-array dedup, cross-document span BOUNDARIES are approximate to
the window grain (a run can start at most n - 1 tokens after the true
shared-span start); frequency, however, is exact per window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from intake_esm_spark.functions.text import rolling_hashes, words_array
from intake_esm_spark.util import read_text_sidecar, write_text_sidecar


def _inline_report(
    df: DataFrame, id_col: str, text_col: str, n: int, min_doc_freq: int
) -> DataFrame:
    """The thresholded :func:`duplicated_window_hashes` report of ``df``
    itself — the duplicated-window vocabulary of the inline operators."""
    if min_doc_freq < 2:
        raise ValueError(
            f"min_doc_freq must be >= 2 (1 would mark every window), got {min_doc_freq}"
        )
    return duplicated_window_hashes(df, id_col, text_col, n, min_doc_freq)


def _window_runs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    min_run: int,
    report: DataFrame,
) -> DataFrame:
    """Maximal runs of consecutive duplicated windows per document:
    ``(id_col, __s, __e_tok, n_windows)`` with ``__s`` the run's first
    token index and ``__e_tok`` its last covered token index (both
    0-based, in the normalized word array). A window is duplicated when
    its hash is in the first column of ``report``."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_run < 1:
        raise ValueError(f"min_run must be >= 1, got {min_run}")

    wins = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode(rolling_hashes(F.col(text_col), n)).alias("__wpos", "__h"),
    )
    vocab = report.select(F.col(report.columns[0]).alias("__h"))
    dup = wins.join(vocab, "__h", "left_semi")

    # gaps-and-islands: consecutive window positions share (wpos - rank)
    w = Window.partitionBy(id_col).orderBy("__wpos")
    isl = dup.withColumn("__g", F.col("__wpos") - F.row_number().over(w))
    return (
        isl.groupBy(id_col, "__g")
        .agg(
            F.min("__wpos").alias("__s"),
            (F.max("__wpos") + F.lit(n - 1)).alias("__e_tok"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .filter(F.col("n_windows") >= min_run)
        .drop("__g")
    )


def _cut_runs(df: DataFrame, runs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Shared reassembly for span_dedup / span_dedup_against: collect a
    doc's run intervals, index the token array once, cut every covered
    token in one in-row pass (O(tokens x runs), runs small), and emit
    the rewritten text + diagnostics. ONE definition for the inline and
    against-snapshot paths."""
    spans = runs.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("__s").alias("s"), F.col("__e_tok").alias("e"))
        ).alias("__spans")
    )
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), words_array(F.col(text_col)).alias("__toks")
    )
    joined = toks.join(spans, id_col, "left")
    idx = F.transform(
        F.col("__toks"), lambda t, i: F.struct(i.alias("i"), t.alias("t"))
    )
    covered = lambda st: F.exists(  # noqa: E731
        F.col("__spans"), lambda sp: (sp["s"] <= st["i"]) & (st["i"] <= sp["e"])
    )
    kept = F.when(F.col("__spans").isNull(), F.col("__toks")).otherwise(
        F.transform(F.filter(idx, lambda st: ~covered(st)), lambda st: st["t"])
    )
    return joined.select(
        F.col(id_col),
        F.array_join(kept, " ").alias(text_col),
        F.size("__toks").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).alias("n_removed"),
    )


def span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_doc_freq: int = 2,
    min_run: int = 2,
) -> DataFrame:
    """Cut every >= ``min_run``-window duplicated run from every document
    and reassemble (see module docstring for semantics).

    Returns one row per non-null-text input document:
    ``(id_col, text_col, n_tokens, n_removed)`` — ``text_col`` is the
    normalized text with covered tokens removed (empty string when the
    whole document was one big duplicated span — the row survives with a
    diagnostic ``n_removed = n_tokens``, same convention as
    ``structural.line_dedup``), ``n_tokens`` the pre-cut normalized
    token count.

    Note both copies of a duplicated span are cut (the CCNet
    ``keep="none"`` rule): window frequency is corpus-global, so there
    is no cheap "first holder" at span grain — run document-level dedup
    first if one canonical copy must survive.

    This IS report-then-remove: the duplicated windows are those of
    :func:`duplicated_window_hashes` at ``min_doc_freq``, and the runs and
    token cutting are :func:`span_dedup_against`'s.
    """
    report = _inline_report(df, id_col, text_col, n, min_doc_freq)
    runs = _window_runs(df, id_col, text_col, n, min_run, report)
    return _cut_runs(df, runs, id_col, text_col)


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_doc_freq: int = 2,
    min_run: int = 2,
) -> DataFrame:
    """The span REPORT: one row per maximal duplicated run —
    ``(id_col, start_token, end_token, n_windows, span)`` with 0-based
    inclusive token indices into the normalized word array and ``span``
    the covered text — what a curation run reads to choose ``min_run``
    (what IS getting cut, and how long it is). Aggregate it by ``span``
    (or ``md5(span)`` at scale) for the corpus-wide top duplicated
    spans. The duplicated windows are :func:`span_dedup`'s."""
    report = _inline_report(df, id_col, text_col, n, min_doc_freq)
    runs = _window_runs(df, id_col, text_col, n, min_run, report)
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), words_array(F.col(text_col)).alias("__toks")
    )
    joined = runs.join(toks, id_col)
    end_tok = F.least(F.col("__e_tok"), F.size("__toks") - 1)
    return joined.select(
        F.col(id_col),
        F.col("__s").alias("start_token"),
        end_tok.alias("end_token"),
        F.col("n_windows"),
        F.array_join(
            F.slice(
                F.col("__toks"), F.col("__s") + 1, end_tok - F.col("__s") + 1
            ),
            " ",
        ).alias("span"),
    )


def duplicated_window_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_doc_freq: int = 1,
) -> DataFrame:
    """The window-frequency SNAPSHOT behind span dedup: one row per
    distinct window hash with its distinct-document frequency and total
    occurrence count — ``(window_hash, doc_freq, n_occurrences)``. The
    line-report pattern (``structural.duplicated_lines``) at window
    grain: production materializes this per ingest batch at
    ``min_doc_freq=1``, tree-merges snapshots with
    :func:`merge_window_reports`, and feeds the thresholded result to
    :func:`span_dedup_against` — the corpus is window-hashed once per
    batch, history never rescanned. Single exchange keyed by the 8-byte
    hash."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    wins = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.explode(rolling_hashes(F.col(text_col), n)).alias("window_hash"),
    )
    return (
        wins.groupBy("window_hash")
        .agg(
            F.countDistinct(id_col).alias("doc_freq"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("doc_freq") >= min_doc_freq)
    )


def merge_window_reports(*reports: DataFrame) -> DataFrame:
    """Merge :func:`duplicated_window_hashes` snapshots from DISJOINT
    document batches into the union snapshot — same contracts as
    ``structural.merge_line_reports``: inputs must be UNFILTERED
    (``min_doc_freq=1``) over disjoint doc sets; threshold the MERGED
    output. Associative and commutative; one hash-keyed exchange over
    vocabulary-sized inputs."""
    if len(reports) < 2:
        raise ValueError(f"need at least 2 reports to merge, got {len(reports)}")
    merged = reports[0]
    for r in reports[1:]:
        merged = merged.unionByName(r)
    return merged.groupBy("window_hash").agg(
        F.sum("doc_freq").alias("doc_freq"),
        F.sum("n_occurrences").alias("n_occurrences"),
    )


def span_dedup_against(
    df: DataFrame,
    report: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_run: int = 2,
) -> DataFrame:
    """:func:`span_dedup` against a PRECOMPUTED window snapshot (the
    thresholded output of :func:`duplicated_window_hashes` /
    :func:`merge_window_reports`, or any frame whose first column is the
    duplicated window hashes): every window whose hash appears in the
    report counts as duplicated; runs and token cutting as in
    :func:`span_dedup`.

    The scan-count lever, exactly as ``structural.line_dedup_against``:
    :func:`span_dedup` window-hashes the corpus TWICE (frequency branch
    + join branch — column pruning makes the branches non-identical, so
    exchange reuse cannot merge them); with the snapshot materialized
    this is ONE corpus window pass + the token pass. ``n`` must match
    the snapshot's window size (hashes of different n never collide
    into false runs — they simply miss — but the semantics the caller
    gets would be silently empty; there is no sidecar to check against,
    so the contract is documented, not enforced).

    ``span_dedup(df, n, mdf, mr)`` is this function over
    ``duplicated_window_hashes(df, n=n, min_doc_freq=mdf)``."""
    vocab = report.select(F.col(report.columns[0]).alias("__h")).dropDuplicates(
        ["__h"]
    )
    runs = _window_runs(df, id_col, text_col, n, min_run, vocab)
    return _cut_runs(df, runs, id_col, text_col)


# stamped into every materialized window snapshot; windows hash with
# functions.text.portable_hash60 (the md5-60 family) — the same
# refuse-loudly contract as the LSH index's hash_scheme
SPAN_HASH_SCHEME = "md5-60-v1"


def write_window_snapshot(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_doc_freq: int = 1,
) -> None:
    """Materialize the :func:`duplicated_window_hashes` snapshot as a
    parquet table plus a parameter sidecar (Hadoop-FS-written like the
    IVF/LSH ones) stamping ``n``, the threshold, and the hash scheme —
    which turns the "``n`` must match the snapshot" contract from
    documented into ENFORCED: :func:`span_dedup_indexed` reads the
    sidecar and refuses a mismatched probe loudly (a wrong-``n`` probe
    joins to essentially zero hits, so duplicated spans would silently
    survive — the LSH stale-index failure mode at window grain)."""
    import json as _json

    snap = duplicated_window_hashes(df, id_col, text_col, n, min_doc_freq)
    snap.write.mode("overwrite").parquet(f"{path}/windows")
    sidecar = _json.dumps(
        {
            "n": n,
            "min_doc_freq": min_doc_freq,
            "text_col": text_col,
            "hash_scheme": SPAN_HASH_SCHEME,
        }
    )
    write_text_sidecar(df.sparkSession, f"{path}/_span_params", sidecar)


def span_dedup_indexed(
    spark,
    path: str,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_freq: int = 2,
    min_run: int = 2,
) -> DataFrame:
    """:func:`span_dedup_against` driven by a :func:`write_window_snapshot`
    table: the window size comes FROM the sidecar (no way to pass a
    mismatched ``n``), the snapshot is thresholded to ``min_doc_freq``
    here (so one unfiltered snapshot serves every policy), and a
    snapshot written under a different hash scheme or a sub-threshold
    ``min_doc_freq`` stamp is refused loudly instead of silently
    missing spans."""
    import json as _json

    params = _json.loads(read_text_sidecar(spark, f"{path}/_span_params"))
    scheme = params.get("hash_scheme")
    if scheme != SPAN_HASH_SCHEME:
        detail = (
            "predates the hash scheme stamp"
            if scheme is None
            else f"was written with hash scheme {scheme!r}"
        )
        raise ValueError(
            f"window snapshot at {path} {detail}; this engine computes "
            f"{SPAN_HASH_SCHEME!r} — rebuild with write_window_snapshot"
        )
    if params["min_doc_freq"] > min_doc_freq:
        raise ValueError(
            f"window snapshot at {path} was thresholded at min_doc_freq="
            f"{params['min_doc_freq']} — it cannot answer a min_doc_freq="
            f"{min_doc_freq} probe (sub-threshold frequencies were "
            "dropped at write time); rebuild with min_doc_freq=1"
        )
    snap = spark.read.parquet(f"{path}/windows").filter(
        F.col("doc_freq") >= min_doc_freq
    )
    return span_dedup_against(
        df, snap.select("window_hash"), id_col, text_col,
        n=params["n"], min_run=min_run,
    )
