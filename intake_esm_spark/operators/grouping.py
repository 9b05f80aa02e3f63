"""Grouping, key construction, and per-column profiling (unique/nunique).

Reference semantics (/root/reference/intake_esm/cat.py):

* group-by attrs with ALL-null values are silently dropped from the
  grouping; a MIXED null/non-null attr is an error (cat.py:26-45, applied
  at cat.py:356-376)
* when there is no aggregation_control, no groupby_attrs remain, or the
  attrs equal the full column set, grouping falls back to ALL columns
* the public dataset key is the group values joined with ``sep``
  (default '.') — cat.py:378-385
* ``unique()``: distinct non-NA values per column (NaN is NA); iterable
  columns are flattened first (cat.py:387-402)
* ``nunique()``: distinct counts per column, iterable columns exploded
  (cat.py:404-407, 570-579)

All of these are single-pass Spark aggregations — the null-profile
pre-pass is ONE ``agg`` over every attr (not a scan per column),
``group_summary`` is one grouped aggregate per datastore, and
unique/nunique likewise aggregate all columns in one job each. A
column's distinct values have ONE definition, :func:`_value_set`:
``unique`` collects the sets and exact ``nunique`` their sizes, so the
two always agree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
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
        aggs.append(_value_set(df, with_variables).alias("__vars"))
    return (
        df.groupBy(*attrs)
        .agg(*aggs)
        .filter(F.col("__n").isNotNull())
        .withColumn("__str", F.array(*[F.col(a).cast("string") for a in attrs]))
        .drop("__n")
    )


def _is_array(dtype: T.DataType) -> bool:
    return isinstance(dtype, T.ArrayType)


def _value(df: DataFrame, c: str) -> Column:
    """Column ``c`` with NaN as null: the reference's dropna treats NaN as
    NA (cat.py:387-407)."""
    dtype = df.schema[c].dataType
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return F.nanvl(F.col(c), F.lit(None).cast(dtype))
    return F.col(c)


def _value_set(df: DataFrame, c: str) -> Column:
    """Column ``c``'s distinct non-NA values as ONE Spark set — the single
    definition behind :func:`unique` (the set), exact :func:`nunique` (its
    ``size``) and :func:`group_summary`'s ``__vars``. ``collect_set``
    skips nulls; an array column's per-row sets are flattened and its
    inner nulls compacted away."""
    values = F.collect_set(_value(df, c))
    if _is_array(df.schema[c].dataType):
        return F.array_distinct(F.array_compact(F.flatten(values)))
    return values


def unique(df: DataFrame, columns: list[str] | None = None) -> dict[str, list]:
    """Distinct non-NA values per column; iterable columns flattened.

    One aggregation job over every column's :func:`_value_set` — Spark's
    map-side partial aggregation keeps the shuffle tiny regardless of row
    count; each column's set is merged in one task."""
    columns = columns or df.columns
    row = df.agg(*[_value_set(df, c).alias(c) for c in columns]).collect()[0]
    return {c: sorted(row[c]) for c in columns}


def nunique(
    df: DataFrame,
    columns: list[str] | None = None,
    exact: bool = True,
) -> dict[str, int]:
    """Distinct-value count per column (iterable columns count distinct
    *elements*, NA dropped).

    ``exact=True`` (default) counts the sets :func:`unique` collects: the
    ``size`` of each column's :func:`_value_set`, in one aggregate, so
    ``nunique()[c] == len(unique()[c])`` by construction. As in
    :func:`unique`, one column's set is merged in one task.

    ``exact=False`` is the scale path: HyperLogLog++
    (``approx_count_distinct``, default 5% rsd) over the same NaN-as-null
    values, in a SINGLE partial-aggregated pass whose fixed-size sketches
    fold map-side, so no task holds a column's distinct values. Iterable
    columns explode to elements first (one extra bounded job per array
    column — catalogs have few)."""
    columns = columns or df.columns
    if exact:
        sizes = [F.size(_value_set(df, c)).alias(c) for c in columns]
        return df.agg(*sizes).collect()[0].asDict()
    arrays = [c for c in columns if _is_array(df.schema[c].dataType)]
    out = {
        c: df.select(F.explode(c).alias("__e"))
        .agg(F.approx_count_distinct("__e"))
        .collect()[0][0]
        for c in arrays
    }
    scalars = [F.approx_count_distinct(_value(df, c)).alias(c)
               for c in columns if c not in arrays]
    if scalars:
        out.update(df.agg(*scalars).collect()[0].asDict())
    return {c: out[c] for c in columns}
