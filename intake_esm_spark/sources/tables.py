"""Synthetic-table loader for the driver's TPC-H-ish parquet fixtures.

One wrinkle: ``events.parquet`` stores ``ts`` as parquet TIMESTAMP(NANOS),
which Spark's vectorized reader rejects (PARQUET_TYPE_ILLEGAL). We flip
``spark.sql.legacy.parquet.nanosAsLong`` and convert the raw nanosecond
longs to microsecond timestamps with integer division (``div`` — a double
round-trip would lose precision above 2^53 ns). DuckDB truncates ns->us the
same way, so oracle comparisons agree.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pyarrow.types as pat
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _nano_ts_columns(path: str) -> list[str]:
    schema = pq.read_schema(path)
    return [
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    # the caller's session may not be ours (the driver harness builds its
    # own): pin UTC so timestamp values agree with DuckDB's UTC-naive ones
    # regardless of host timezone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ns_cols = _nano_ts_columns(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = ns_ts_to_timestamp(df, c)
    # parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
    # TIMESTAMP_NTZ under Spark 4's NTZ inference; normalize those too so
    # every consumer (incl. streaming watermarks) sees session-TZ TIMESTAMP.
    # The rewrite is DEEP: an NTZ nested inside a struct/array/map (e.g. a
    # typed media-metadata struct) is normalized through a struct-level
    # cast, not just top-level columns.
    from pyspark.sql.types import TimestampNTZType

    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = ns_ts_to_timestamp(df, f.name)
        else:
            target = _deep_ntz_to_ltz(f.dataType)
            if target != f.dataType:
                df = df.withColumn(f.name, _quoted(f.name).cast(target))
    return df


def _quoted(name: str) -> F.Column:
    """Column reference that treats ``name`` literally — backtick-quoted
    so dots are never parsed as nested-field access."""
    return F.col("`" + name.replace("`", "``") + "`")


def _deep_ntz_to_ltz(dt):
    """Rewrite a (possibly nested) datatype replacing TIMESTAMP_NTZ with
    session-TZ TIMESTAMP; non-timestamp leaves pass through unchanged."""
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    if isinstance(dt, TimestampNTZType):
        return TimestampType()
    if isinstance(dt, ArrayType):
        return ArrayType(_deep_ntz_to_ltz(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(
            _deep_ntz_to_ltz(dt.keyType),
            _deep_ntz_to_ltz(dt.valueType),
            dt.valueContainsNull,
        )
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(
                    f.name, _deep_ntz_to_ltz(f.dataType), f.nullable, f.metadata
                )
                for f in dt.fields
            ]
        )
    return dt


def ns_ts_to_timestamp(df: DataFrame, col: str) -> DataFrame:
    """Normalize a timestamp-carrying column to session-timezone
    ``TIMESTAMP`` (LTZ):

    - ``LongType`` — raw nanoseconds read under ``nanosAsLong``; integer
      div 1000 then ``timestamp_micros`` (a double round-trip would lose
      precision above 2^53 ns).
    - ``TimestampNTZType`` — parquet µs-naive under Spark 4's NTZ
      inference; the NTZ->LTZ cast is value-preserving only in a UTC
      session, so a non-UTC session RAISES instead of silently shifting
      values (this function is public and callable outside load_table;
      mutating the caller's global session timezone here would be a
      hidden side effect, and the cast evaluates at action time anyway —
      set ``spark.sql.session.timeZone=UTC`` before building the plan,
      as ``get_spark``/``load_table`` do).
    - ``TimestampType`` — already the target type; no-op.

    Any other type raises: silently passing through e.g. a StringType
    ``ts`` would mask a misconfigured fixture.
    """
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    if isinstance(dt, TimestampNTZType):
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            raise ValueError(
                f"ns_ts_to_timestamp: session timezone is {tz!r}; the "
                "NTZ->TIMESTAMP cast is only value-preserving under UTC — "
                "set spark.sql.session.timeZone=UTC (get_spark/load_table "
                "do) before normalizing NTZ columns"
            )
        # backtick-quoted so a dotted name is never parsed as a
        # nested-field reference (consistent with the LongType branch;
        # note df[col] does NOT protect dots — Dataset.col parses them)
        return df.withColumn(col, _quoted(col).cast(TimestampType()))
    if isinstance(dt, TimestampType):
        return df
    raise TypeError(
        f"column {col!r} has type {dt.simpleString()}; expected a raw "
        "nanosecond long, TIMESTAMP_NTZ, or TIMESTAMP"
    )
