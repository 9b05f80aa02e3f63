"""Grouping, key construction, and per-column profiling (unique/nunique).

Reference semantics (/root/reference/intake_esm/cat.py):

* group-by attrs with ALL-null values are silently dropped from the
  grouping; a MIXED null/non-null attr is an error (cat.py:26-45, applied
  at cat.py:356-376)
* when there is no aggregation_control, no groupby_attrs remain, or the
  attrs equal the full column set, grouping falls back to ALL columns
* the public dataset key is the group values joined with ``sep``
  (default '.') — cat.py:378-385
* ``unique()``: distinct non-null values per column; iterable columns are
  flattened first (cat.py:387-402)
* ``nunique()``: distinct counts per column, iterable columns exploded
  (cat.py:404-407, 570-579)

All of these are single-pass Spark aggregations — the null-profile
pre-pass is ONE ``agg`` over every attr (not a scan per column),
``group_summary`` is one grouped aggregate per datastore, and
unique/nunique likewise aggregate all columns in one job each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class MixedNullColumnError(ValueError):
    """A group-by column mixes null and non-null values (cat.py:39-45)."""


def null_profile(df: DataFrame, columns: list[str]) -> dict[str, str]:
    """Classify each column as 'all_null' | 'no_null' | 'mixed' in ONE
    aggregation pass.

    Only duplicate-agnostic aggregates (min/max of ``isNull``), so when
    ``df`` ends in a ``dropDuplicates`` (a derived-variable search) the
    optimizer drops that shuffle from this pass. Empty input gives null
    for both, which classifies as 'all_null'."""
    if not columns:
        return {}
    aggs = []
    for i, c in enumerate(columns):
        aggs.append(F.max(F.col(c).isNull()).alias(f"__any{i}"))
        aggs.append(F.min(F.col(c).isNull()).alias(f"__all{i}"))
    row = df.agg(*aggs).collect()[0]
    out = {}
    for i, c in enumerate(columns):
        if row[f"__all{i}"] is not False:
            out[c] = "all_null"
        elif row[f"__any{i}"] is False:
            out[c] = "no_null"
        else:
            out[c] = "mixed"
    return out


def effective_groupby_attrs(
    df: DataFrame, groupby_attrs: list[str], has_aggregation_control: bool
) -> list[str]:
    """Apply the all-null-drop / mixed-null-error / fall-back-to-all-columns
    rules and return the attrs actually used for grouping."""

    def fully_populated(columns: list[str]) -> list[str]:
        profile = null_profile(df, columns)
        mixed = [c for c, s in profile.items() if s == "mixed"]
        if mixed:
            raise MixedNullColumnError(
                f"group-by columns {mixed} mix null and non-null values; "
                "they must be all-null (dropped) or fully populated"
            )
        return [c for c in columns if profile[c] == "no_null"]

    attrs = fully_populated(list(groupby_attrs)) if has_aggregation_control else []
    if attrs and set(attrs) != set(df.columns):
        return attrs
    # fall back to all (non-all-null, non-mixed) columns
    return fully_populated(list(df.columns))


def key_column(attrs: list[str], sep: str = ".") -> F.Column:
    """The public dataset key: group values joined with ``sep``
    (reference cat.py:378-385, core.py:172-181)."""
    return F.concat_ws(sep, *[F.col(a).cast("string") for a in attrs]).alias("key")


def group_keys(df: DataFrame, attrs: list[str], sep: str = ".") -> DataFrame:
    """Distinct public keys — one narrow shuffle on the group attrs."""
    return (
        df.select(key_column(attrs, sep), *attrs)
        .distinct()
    )


def group_summary(
    df: DataFrame, attrs: list[str], with_variables: str | None = None
) -> DataFrame:
    """One row per distinct ``attrs`` tuple, in ONE grouped aggregate:
    the raw ``attrs`` values; ``__str``, those values cast to string
    (effective attrs are null-free, so ``sep.join(__str)`` equals
    :func:`key_column` for every ``sep``); and, when ``with_variables``
    names the variable column, ``__vars``, its distinct (flattened)
    values in the group. With no attrs the aggregate is global and yields
    one row even on empty input; the ``__n`` filter drops it. Every
    aggregate is duplicate-agnostic, so the optimizer drops a trailing
    ``dropDuplicates`` of ``df`` (a derived-variable search) from the
    plan."""
    aggs = [F.max(F.lit(1)).alias("__n")]
    if with_variables is not None:
        values = F.collect_set(F.col(with_variables))
        if _is_array(df.schema[with_variables].dataType):
            values = F.array_distinct(F.array_compact(F.flatten(values)))
        aggs.append(values.alias("__vars"))
    return (
        df.groupBy(*attrs)
        .agg(*aggs)
        .filter(F.col("__n").isNotNull())
        .withColumn("__str", F.array(*[F.col(a).cast("string") for a in attrs]))
        .drop("__n")
    )


def _is_array(dtype: T.DataType) -> bool:
    return isinstance(dtype, T.ArrayType)


def unique(df: DataFrame, columns: list[str] | None = None) -> dict[str, list]:
    """Distinct non-null values per column; iterable columns flattened.

    One aggregation job: ``collect_set`` per scalar column and
    ``collect_set`` over a ``flatten``ed array column — Spark's map-side
    partial aggregation keeps the shuffle tiny regardless of row count.
    """
    columns = columns or df.columns
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    aggs = []
    for c in columns:
        if _is_array(dtypes[c]):
            # flatten the per-row arrays then distinct the elements
            aggs.append(
                F.array_distinct(F.flatten(F.collect_set(F.col(c)))).alias(c)
            )
        else:
            aggs.append(F.collect_set(F.col(c)).alias(c))
    row = df.agg(*aggs).collect()[0]
    # inner nulls survive array flatten; the reference drops NA values
    # before uniquing (cat.py:387-402)
    return {
        c: sorted(v for v in row[c] if v is not None) if row[c] is not None else []
        for c in columns
    }


def nunique(
    df: DataFrame,
    columns: list[str] | None = None,
    exact: bool = True,
) -> dict[str, int]:
    """Distinct-value count per column (iterable columns count distinct
    *elements*). ``exact=True`` (default) matches a SQL oracle exactly;
    ``exact=False`` is the 100 TB profile path — HyperLogLog++
    (``approx_count_distinct``, default 5% rsd) in a SINGLE partial-
    aggregated pass with NO ``Expand`` node: multi-column exact
    countDistinct expands the input once per distinct column (xN data
    amplification before the shuffle), while the sketches fold map-side
    in one pass. Iterable columns in approx mode explode to elements
    first (one extra bounded job per array column — catalogs have few)."""
    columns = columns or df.columns
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    out: dict[str, int] = {}
    aggs = []
    scalar_cols = []
    for c in columns:
        if _is_array(dtypes[c]):
            if exact:
                # array_compact drops inner nulls after the flatten, matching
                # unique()'s NA filter (and pandas nunique, which drops NA) —
                # otherwise nunique could exceed len(unique(col)) by one
                aggs.append(
                    F.size(
                        F.array_distinct(
                            F.array_compact(F.flatten(F.collect_set(F.col(c))))
                        )
                    ).alias(c)
                )
                scalar_cols.append(c)
            else:
                row = (
                    df.select(F.explode(c).alias("__e"))
                    .agg(F.approx_count_distinct("__e").alias("n"))
                    .collect()[0]
                )
                out[c] = int(row["n"])
        else:
            aggs.append(
                F.countDistinct(F.col(c)).alias(c)
                if exact
                else F.approx_count_distinct(F.col(c)).alias(c)
            )
            scalar_cols.append(c)
    if aggs:
        row = df.agg(*aggs).collect()[0]
        for c in scalar_cols:
            out[c] = int(row[c])
    return {c: out[c] for c in columns}
