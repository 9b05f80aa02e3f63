"""``require_all_on`` — relational division over the searched catalog.

Reference semantics (/root/reference/intake_esm/_search.py:61-99):

* drop ``require_all_on`` columns from the query; the remaining columns are
  the division *keys*
* ``condition`` = Cartesian product of the remaining query value-lists
* group the (already-searched) frame by ``require_all_on``; within a group,
  unpack iterable key columns, collect the set of key-value tuples; KEEP the
  group iff ``condition ⊆ tuples`` ("with iterables we could have more than
  requested" — a superset is fine, _search.py:93)
* pandas ``groupby`` drops null group keys, so rows with null
  ``require_all_on`` values can never survive — plain (non-null-safe) join
  equality reproduces that for free.

Spark plan (no driver-side loops — scales to any number of groups):

    explode iterable key cols -> project (rao_cols + keys) -> filter to
    tuples ∈ condition -> groupBy(rao_cols).agg(size(collect_set(keys))) ->
    keep count == |condition| -> LEFT SEMI join back on rao_cols

A group's distinct tuples are counted as the size of one set (the idiom
of ``grouping.nunique``), which aggregates under the groupBy's own
exchange; a ``countDistinct`` would add a second hash exchange. The
kept-groups side is tiny (distinct group keys), so Catalyst broadcasts
the semi-join; the only shuffle is the groupBy on the division keys.
"""

from __future__ import annotations

import itertools
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from intake_esm_spark.plans.query import Query, is_na


def _combo_predicate(keys: list[str], combo: tuple) -> Column:
    parts = []
    for k, v in zip(keys, combo):
        parts.append(F.col(k).isNull() if is_na(v) else (F.col(k) == F.lit(v)))
    return reduce(lambda a, b: a & b, parts)


def apply_require_all_on(
    df: DataFrame,
    query: Query,
    iterable_columns: set[str] | frozenset[str] = frozenset(),
) -> DataFrame:
    """Filter ``df`` (already searched) down to the groups that contain
    EVERY combination of the non-``require_all_on`` query values."""
    rao = query.require_all_on
    sub_query = {c: v for c, v in query.query.items() if c not in rao}
    keys = list(sub_query)
    if not rao or not keys:
        return df

    # dedup combinations exactly like the reference's set() (_search.py:90)
    # — duplicate query values must not inflate the required distinct
    # count (the tuple count could never reach it and every group would be
    # dropped); dict.fromkeys keeps a deterministic order
    condition = list(
        dict.fromkeys(itertools.product(*[tuple(v) for v in sub_query.values()]))
    )
    # a compiled-pattern value can never equal a concrete cell value, so
    # the subset test is unsatisfiable — the reference returns an empty
    # frame here (condition.issubset(index) with a Pattern element is
    # always False, _search.py:93); mirror that instead of crashing on
    # F.lit(re.Pattern)
    import re as _re

    if any(isinstance(v, _re.Pattern) for combo in condition for v in combo):
        return df.limit(0)

    exploded = df
    for c in set(iterable_columns) & set(keys):
        exploded = exploded.withColumn(c, F.explode(F.col(c)))

    in_condition = reduce(
        lambda a, b: a | b, [_combo_predicate(keys, combo) for combo in condition]
    )
    kept_groups = (
        exploded.select(*rao, *keys)
        .filter(in_condition)
        .groupBy(*rao)
        .agg(F.size(F.collect_set(F.struct(*keys))).alias("_n_combos"))
        .filter(F.col("_n_combos") == len(condition))
        .select(*rao)
    )
    return df.join(F.broadcast(kept_groups), on=rao, how="left_semi")
