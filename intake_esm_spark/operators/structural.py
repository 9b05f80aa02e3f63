"""Line/paragraph-level structural dedup (CCNet / C4 style).

Document-level dedup (``operators.dedup``) removes whole near-identical
documents; what it cannot touch is the *boilerplate* problem — the same
navigation bar, cookie banner, or license footer repeated across millions
of otherwise-distinct pages. CCNet and C4 attack that structurally: split
every document into lines (or paragraphs), fingerprint each line, and
remove lines whose copies appear in many documents, then reassemble the
documents. This module is that operator, Spark-first. (The reference
engine — a catalog query engine — has no dedup at all; extension per
SURVEY §2.9, same family as ``operators.dedup``.)

Semantics
---------
* A document is split into lines by a regex separator (default ``\\n``),
  or by any caller-supplied array expression (paragraphs, sentence-ish
  chunks, fixed word windows — segmentation is policy, the
  count/remove/reassemble machinery is not).
* Each line is fingerprinted with ``md5`` of its CCNet-normalized text
  (lowercase, collapsed whitespace, trimmed) — so trailing-space and
  case variants of a boilerplate line dedup together; pass
  ``normalize=False`` for byte-exact matching.
* A line's **document frequency** is the number of *distinct* documents
  containing it (a line repeated inside one document counts once — an
  intra-document repeat is repetition, handled by
  ``corpus.repetition_stats``, not cross-document boilerplate).
* Lines with document frequency >= ``min_doc_freq`` are removed from
  EVERY document (``keep="none"``, the CCNet rule) or from every document
  except the lowest-id one (``keep="first"`` — preserves exactly one copy
  of shared content, the C4-ish variant).
* Documents are reassembled preserving intra-document line order; a
  document whose every line was removed survives with empty text (the
  downstream length filter is where empty documents die, with a
  diagnostic ``n_kept = 0`` — silently dropping the row would hide the
  document from the pipeline).

100 TB shape
------------
Three exchanges, all at line grain with short keys, no global window, no
driver collect:

1. the document-frequency aggregation, keyed by the 32-hex md5
   fingerprint (map-side partial aggregation applies — the per-partition
   distinct-(fp, doc) collapse happens before the shuffle);
2. the join of the exploded lines against the thresholded frequency
   report, keyed by the same fingerprint (the report is
   line-vocabulary-sized — often broadcastable in practice, but
   boilerplate vocabularies are corpus-sized in the worst case, so the
   plan stays a shuffle join and lets AQE downgrade it to broadcast when
   the stats allow);
3. the per-document reassembly groupBy, keyed by document id.

Removal happens INSIDE the reassembly aggregate (``collect_list`` skips
the nulls a filtered ``when`` produces) rather than as a pre-filter, so
fully-boilerplate documents are never lost and the kept/total counts come
out of the same pass. Per-group state is one document's lines — bounded
by document size, no skew beyond a pathological single document.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from intake_esm_spark.functions.text import normalized_text


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_freq: int = 2,
    keep: str = "none",
    sep: str = "\n",
    join_sep: str = "\n",
    normalize: bool = True,
    lines: Column | None = None,
) -> DataFrame:
    """Remove lines duplicated across >= ``min_doc_freq`` documents and
    reassemble the documents (see module docstring for semantics). This
    IS report-then-remove: :func:`line_dedup_against` over
    :func:`duplicated_lines` of the same frame.

    Parameters
    ----------
    sep:
        Regex separator splitting ``text_col`` into lines. Ignored when
        ``lines`` is given.
    join_sep:
        LITERAL separator used to reassemble the kept lines (``sep`` is a
        regex, so it cannot be reused for joining).
    lines:
        Optional array<string> expression producing the segmentation
        directly (paragraphs, fixed word windows, ...). The reassembled
        text joins those segments with ``join_sep``.
    keep:
        ``"none"`` removes every copy of an over-frequent line (CCNet);
        ``"first"`` keeps the copy in the lowest-``id_col`` document.

    Returns
    -------
    One row per input document with non-null lines:
    ``(id_col, text_col, n_lines, n_kept)`` where ``text_col`` is the
    reassembled text (empty string when nothing survived), ``n_lines``
    the pre-dedup line count, ``n_kept`` the post-dedup count. Documents
    with null ``text_col`` (null segmentation) are dropped, matching
    SQL ``unnest`` semantics.
    """
    if min_doc_freq < 2:
        raise ValueError(
            f"min_doc_freq must be >= 2 (1 would remove every line), got {min_doc_freq}"
        )
    report = duplicated_lines(
        df, text_col, id_col, min_doc_freq, sep=sep, normalize=normalize, lines=lines
    )
    return line_dedup_against(
        df, report, text_col, id_col, keep=keep, sep=sep, join_sep=join_sep,
        normalize=normalize, lines=lines,
    )


def _line_fp(normalize: bool) -> Column:
    """The line fingerprint: md5 of the (CCNet-normalized) ``__line``."""
    return F.md5(normalized_text(F.col("__line")) if normalize else F.col("__line"))


def line_dedup_against(
    df: DataFrame,
    report: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "none",
    sep: str = "\n",
    join_sep: str = "\n",
    normalize: bool = True,
    lines: Column | None = None,
) -> DataFrame:
    """:func:`line_dedup` against a PRECOMPUTED boilerplate ``report``
    (the output of :func:`duplicated_lines`, or any frame with
    ``fingerprint`` + ``first_doc`` columns): lines whose fingerprint
    appears in the report are removed (``keep="first"`` spares the
    ``first_doc`` holder's copy), documents reassembled as in
    :func:`line_dedup`.

    The scan-count lever at 100 TB: :func:`line_dedup` is this function
    over an inline ``duplicated_lines(df, min_doc_freq=...)``, so it
    reads and segments the corpus TWICE (the report branch and the join
    branch — column pruning makes them non-identical, so exchange reuse
    cannot merge them). With the report materialized once (it is
    line-vocabulary-sized, and production reuses it across batches and
    feeds the same snapshot to ``streaming.stateful.stream_line_filter``),
    this is ONE corpus scan + one join against the small report + the
    reassembly. Note the report's ``min_doc_freq`` plays the threshold
    role here — this function removes every reported line."""
    if keep not in ("none", "first"):
        raise ValueError(f"keep must be 'none' or 'first', got {keep!r}")
    arr = lines if lines is not None else F.split(F.col(text_col), sep)
    exploded = df.select(
        F.col(id_col), F.posexplode(arr).alias("__pos", "__line")
    )
    line_rows = exploded.withColumn("__fp", _line_fp(normalize))
    # the contract says "any frame with fingerprint + first_doc columns",
    # so defend against duplicate fingerprint rows (each would duplicate
    # every matching line in the reassembly and inflate n_lines/n_kept);
    # the projection is line-vocabulary-sized, the distinct is cheap
    # (min, not dropDuplicates: duplicate fingerprints with DIFFERENT
    # first_doc values would otherwise keep a partition-order-dependent
    # keeper, breaking the determinism contract)
    rep = (
        report.select(
            F.col("fingerprint").alias("__fp"),
            F.col("first_doc").alias("__keeper"),
        )
        .groupBy("__fp")
        .agg(F.min("__keeper").alias("__keeper"))
        .withColumn("__hit", F.lit(True))
    )
    joined = line_rows.join(rep, "__fp", "left")
    keep_line = F.col("__hit").isNull()
    if keep == "first":
        keep_line = keep_line | (F.col(id_col) == F.col("__keeper"))
    # removal inside the aggregate: when() without otherwise() yields null
    # for removed lines and collect_list skips nulls, so a document whose
    # every line is boilerplate still emits a row (text = "", n_kept = 0)
    picked = F.when(keep_line, F.struct(F.col("__pos"), F.col("__line")))
    return joined.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(picked)), lambda s: s["__line"]
            ),
            join_sep,
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(keep_line.cast("bigint")).alias("n_kept"),
    )


def merge_line_reports(*reports: DataFrame) -> DataFrame:
    """Merge :func:`duplicated_lines` reports from DISJOINT document
    batches into the report of their union — the incremental refresh
    path: production keeps a line-frequency snapshot per ingest batch
    and re-aggregates snapshots as the corpus grows, instead of
    rescanning the whole history corpus per refresh (the
    ``dedup_exact_incr`` pattern at line grain). The merged snapshot
    feeds ``streaming.stateful.stream_line_filter`` and
    :func:`line_dedup_against`.

    PRECONDITIONS (both asserted nowhere — they are contracts):

    * every input must be an UNFILTERED report (``min_doc_freq=1``) —
      a line seen once in each of two batches only crosses the
      threshold in the union, so merging already-filtered reports
      undercounts; filter the MERGED output instead;
    * the batches' document sets must be disjoint (true for ingest
      batches) — ``doc_freq`` sums assume no document is counted twice.

    Exactness: ``merge(report(A), report(B)) == report(A ∪ B)``
    column-for-column (sums of disjoint counts; ``min`` of mins for the
    representative spelling and first holder) — asserted in tests. The
    merge is associative and commutative, so snapshots tree-merge.

    One exchange, keyed by fingerprint over line-vocabulary-sized
    inputs (not corpora) — the scan-count win at 100 TB: the delta
    batch is segmented once, history is never re-read."""
    if len(reports) < 2:
        raise ValueError(f"need at least 2 reports to merge, got {len(reports)}")
    merged = reports[0]
    for r in reports[1:]:
        merged = merged.unionByName(r)
    return merged.groupBy("fingerprint").agg(
        F.min("line").alias("line"),
        F.sum("doc_freq").alias("doc_freq"),
        F.sum("n_occurrences").alias("n_occurrences"),
        F.min("first_doc").alias("first_doc"),
    )


def duplicated_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_freq: int = 2,
    sep: str = "\n",
    normalize: bool = True,
    lines: Column | None = None,
) -> DataFrame:
    """The boilerplate REPORT: one row per line duplicated across >=
    ``min_doc_freq`` documents — ``(fingerprint, line, doc_freq,
    n_occurrences, first_doc)`` — the diagnostic a curation run reads
    before choosing ``min_doc_freq`` (what IS the boilerplate, and how
    widespread). ``line`` is one arbitrary-but-deterministic raw spelling
    (the min) of the normalized fingerprint. Single exchange, keyed by
    fingerprint."""
    arr = lines if lines is not None else F.split(F.col(text_col), sep)
    exploded = df.select(
        F.col(id_col), F.explode(arr).alias("__line")
    )
    return (
        exploded.withColumn("fingerprint", _line_fp(normalize))
        .groupBy("fingerprint")
        .agg(
            F.min("__line").alias("line"),
            F.countDistinct(id_col).alias("doc_freq"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(id_col).alias("first_doc"),
        )
        .filter(F.col("doc_freq") >= min_doc_freq)
    )
