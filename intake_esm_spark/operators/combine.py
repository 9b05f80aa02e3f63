"""Dataset assembly: catalog groups -> combined long-format DataFrames.

The reference materializes each group of assets into one xarray.Dataset via
``xr.combine_by_coords`` with join_new / join_existing / union aggregations
(/root/reference/intake_esm/source.py:264-322, cat.py:46-60). In long
format, all three collapse into column operations:

* ``join_new`` (new dim, e.g. member_id)   -> the attribute is attached as a
  column from the catalog row that owns the asset
* ``join_existing`` (concat along e.g. time) -> rows already carry the dim
  coord; union is the concat
* ``union`` (merge disjoint variables)       -> rows with different
  ``variable`` values coexist

Execution model (contrast with the reference's ThreadPoolExecutor + dask,
core.py:744-760): ONE scan per asset *format* over every asset of every
selected group — Spark schedules a task per file split, which *is* the
reference's per-asset parallelism, minus the driver-side pool — then one
BROADCAST join against the (metadata-scale) catalog to attach group
attributes. No shuffle of asset data at all; at 100 TB the only data
movement is the scan itself. The scan targets are the exact asset paths
from one bounded collect, or, above ``MAX_DRIVER_PATHS``, the per-format
parent directories from one more (:func:`_scan_plan`).

Format dispatch (reference source.py:87-100): the descriptor's
``assets.format`` (uniform) or ``assets.format_column_name`` (per-row)
selects a reader from ``sources.assets.READERS``; mixed-format catalogs
union the per-format scans.

``requested_variables`` projection (reference source.py:116-131): a
``variable IN (...)`` filter pushed into the scan. Coordinate columns are
structural in long format, so the reference's "scalar vars promoted to
coords and retained" rule is automatic.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from intake_esm_spark.sources import assets as asset_readers
from intake_esm_spark.sources.descriptor import (
    AggregationType,
    ESMCatalogDescriptor,
)


class ESMDataSourceError(RuntimeError):
    """Asset assembly failed for a dataset group (reference source.py:327-332)."""


_ANCESTOR_LEVELS = 4
"""How many ancestor directories of an asset FILE are tried when matching
it back to its catalog entry: level 0 is the file itself, 1 its parent
(plain ``df.write.parquet`` dirs), 2-4 cover Hive-partitioned layouts with
up to three partition columns (``tbl/k1=a/k2=b/k3=c/part-....parquet``).
Deeper layouts raise (see open_asset_union) rather than silently dropping
rows."""


def to_wide(
    df: DataFrame,
    coord_columns: list[str],
    variable_column: str = "variable",
    value_column: str = "value",
    variables: list[str] | None = None,
) -> DataFrame:
    """Long -> wide: one column per variable over the coordinate grid — the
    DataFrame analogue of an xarray.Dataset (variables as data_vars, coords
    as the index). Passing ``variables`` pins the pivot values so the plan
    needs no pre-scan (at 100 TB the variable universe comes from the
    catalog, which knows it for free)."""
    pivot = df.groupBy(*coord_columns)
    if variables is not None:
        pivoted = pivot.pivot(variable_column, variables)
    else:
        pivoted = pivot.pivot(variable_column)
    return pivoted.agg(F.first(F.col(value_column), ignorenulls=True))


def _norm(col: Column) -> Column:
    # input_file_name() yields file:///p/q; catalog paths are usually /p/q
    # (possibly with a trailing slash when they name a directory)
    stripped = F.regexp_replace(col, r"^file:/{0,2}", "/")
    stripped = F.regexp_replace(stripped, r"(.)/+$", "$1")
    return F.regexp_replace(stripped, r"^/+", "/").cast("string")


MAX_DRIVER_PATHS = 1024
"""Above this many distinct asset paths the scan switches from an exact
per-file list (collected to the driver) to per-format parent-DIRECTORY
scans pruned by the catalog join — a catalog of millions of assets must
never materialize a driver-side per-asset list (reference scale point:
27k zstore assets, core.py:574-586; a 100 TB corpus is orders beyond)."""


def _scan_plan(
    catalog: DataFrame, desc: ESMCatalogDescriptor, max_driver_paths: int
) -> tuple[dict[str, list[str]], bool]:
    """Decide what the asset scan reads: ``(paths_by_format, strict)``.

    * **exact mode** (``strict=True``) — few distinct paths: collect them
      and scan exactly the catalog's files; a data row matching no catalog
      entry is then an engine bug and raises.
    * **directory mode** (``strict=False``) — the catalog's distinct-path
      count exceeds ``max_driver_paths``: derive the distinct PARENT
      DIRECTORIES distributedly (a ``regexp_replace`` + ``distinct`` over
      the catalog, never a per-asset driver list), scan those per format,
      and let the broadcast catalog join PRUNE rows of files the catalog
      doesn't reference (a directory may legitimately hold non-catalog
      files, so unmatched rows are dropped, not an error). ``reference``
      manifests and ``tar://`` URLs are exempt: each is driver-parsed
      metadata, so its exact path is the target. One collect after the
      head probe returns every (target, format) pair.

    Directory mode requires each directory to be format-homogeneous —
    reading one directory under two readers would double-scan it; that
    layout raises with a clear message.
    """
    assert desc.assets is not None
    path_col = desc.assets.column_name
    fmt_expr = (
        F.lit(desc.assets.format)
        if desc.assets.format is not None
        else F.col(desc.assets.format_column_name)
    )
    pf = catalog.select(
        F.col(path_col).alias("__p"), fmt_expr.alias("__f")
    ).distinct()
    head = pf.limit(max_driver_paths + 1).collect()
    if not head:
        raise ESMDataSourceError("no asset paths for this dataset group")
    by_fmt: dict[str, list[str]] = {}
    if len(head) <= max_driver_paths:
        for r in head:
            by_fmt.setdefault(r["__f"], []).append(r["__p"])
        return by_fmt, True
    # directory mode — per-asset paths stay on the executors. Manifests
    # and tar:// chain URLs are exempt (both are driver-parsed metadata;
    # a dirname of a tar URL is meaningless), so their exact paths are
    # the targets.
    exempt = (F.col("__f") == "reference") | F.col("__p").startswith("tar://")
    parent = F.regexp_replace("__p", r"/[^/]*$", "")
    targets = pf.select(
        F.when(exempt, F.col("__p")).otherwise(parent).alias("__t"), "__f"
    ).distinct()
    seen: dict[str, str] = {}
    for t, f in targets.collect():
        if seen.setdefault(t, f) != f:
            raise ESMDataSourceError(
                f"directory {t!r} holds assets of multiple formats "
                f"({seen[t]!r} and {f!r}); directory-mode scanning needs "
                "format-homogeneous directories — split the formats into "
                "separate directories"
            )
        by_fmt.setdefault(f, []).append(t)
    return by_fmt, False


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def _read_format(spark: SparkSession, fmt: str, fpaths: list[str]) -> DataFrame:
    """One scan per format, each row tagged with its source asset path.

    ``tar://`` members are driver-staged to local files first (reference
    source.py:100 semantics) and read in the same scan as the plain
    paths; a staged row's tag maps back to its ORIGINAL tar:// URL so the
    catalog attach matches the catalog entry. An unmapped path keeps its
    physical form: in strict mode it then fails the attach LOUDLY instead
    of matching nothing."""
    local = {
        p: asset_readers.stage_tar_url(p) if asset_readers.is_tar_url(p) else p
        for p in fpaths
    }
    if fmt == "reference":
        # a manifest scan's input files are the REFERENCED members, so tag
        # each manifest's rows with its catalog path directly
        return _union([
            asset_readers.read_assets(spark, fmt, [m]).withColumn(
                "__asset_path", _norm(F.lit(orig))
            )
            for orig, m in local.items()
        ])
    df = asset_readers.read_assets(spark, fmt, list(local.values()))
    # reader-provided tags (e.g. netcdf ingest) win: input_file_name() is
    # empty for rows a reader builds itself
    if "__asset_path" in df.columns:
        tag = _norm(F.col("__asset_path"))
    else:
        tag = _norm(F.input_file_name())
    staged = [(_norm(F.lit(m)), _norm(F.lit(p))) for p, m in local.items() if m != p]
    if staged:
        to_url = F.create_map(*[c for kv in staged for c in kv])
        tag = F.coalesce(to_url[tag], tag)
    return df.withColumn("__asset_path", tag)


def open_asset_union(
    spark: SparkSession,
    catalog: DataFrame,
    desc: ESMCatalogDescriptor,
    requested_variables: list[str] | None = None,
    extra_catalog_columns: list[str] | None = None,
    max_driver_paths: int = MAX_DRIVER_PATHS,
) -> DataFrame:
    """Read every asset of the catalog once and attach catalog attributes.

    Returns the long-format union with one extra column per join_new
    attribute (plus any ``extra_catalog_columns``, e.g. the computed group
    key). Scan targets come from :func:`_scan_plan`: exact file paths for
    small catalogs, per-format parent directories (with catalog-join
    pruning of unreferenced files) above ``max_driver_paths`` — the driver
    never holds a per-asset list for a large catalog.
    """
    assert desc.assets is not None
    path_col = desc.assets.column_name

    join_new_attrs = []
    if desc.aggregation_control:
        join_new_attrs = [
            a.attribute_name
            for a in desc.aggregation_control.aggregations_of(AggregationType.join_new)
        ]
    attach = list(dict.fromkeys(join_new_attrs + (extra_catalog_columns or [])))

    by_fmt, strict = _scan_plan(catalog, desc, max_driver_paths)
    assets = _union(
        [_read_format(spark, fmt, fpaths) for fmt, fpaths in by_fmt.items()]
    )

    # catalog columns that collide with asset data columns are not attached
    # (e.g. aggregate=False groups by ALL catalog columns, including an
    # iterable `variable` column whose name the long-format rows also use).
    # The computed group `key` is the one attach column grouping depends
    # on — a silent drop there would key datasets off arbitrary data
    # values, so that collision is an error instead.
    if "key" in attach and "key" in assets.columns:
        raise ESMDataSourceError(
            "asset data contains a column named 'key', which collides with "
            "the computed dataset group key; rename the data column"
        )
    attach = [c for c in attach if c not in assets.columns]

    # Asset rows carry their physical FILE path (input_file_name), but a
    # catalog entry may point at a DIRECTORY — the native Spark write
    # layout (part-files inside a dir), possibly Hive-partitioned
    # (nested key=value subdirs, the layout this engine's own to_parquet
    # produces). Resolve with a chain of broadcast equi-joins: the exact
    # file first, then each ancestor directory up to _ANCESTOR_LEVELS
    # deep; coalesce prefers the DEEPEST match. Every join is a hashed
    # broadcast lookup against the metadata-scale catalog (no non-equi
    # prefix join), so the attach stays map-side at any scale. An asset
    # row matching NO catalog path is an engine bug or an over-deep
    # layout — raise_error() names the offending file at action time
    # instead of silently dropping the rows (an empty dataset with no
    # diagnostic). The `__matched` lit makes the struct non-empty even
    # when nothing is attached (plain membership filtering).
    cat_side = catalog.select(
        _norm(F.col(path_col)).alias("__cat_path"),
        F.struct(
            F.lit(True).alias("__matched"), *[F.col(c) for c in attach]
        ).alias("__cat"),
    ).dropDuplicates(["__cat_path"])
    combined = assets
    match_cols = []
    for lvl in range(_ANCESTOR_LEVELS + 1):
        key_col = "__asset_path" if lvl == 0 else f"__anc{lvl}"
        if lvl > 0:
            combined = combined.withColumn(
                key_col, F.regexp_replace(F.col(prev_col), r"/[^/]*$", "")
            )
        prev_col = key_col
        cat_lvl = cat_side.select(
            F.col("__cat_path").alias(key_col),
            F.col("__cat").alias(f"__cat_{lvl}"),
        )
        combined = combined.join(F.broadcast(cat_lvl), on=key_col, how="left")
        match_cols.append(F.col(f"__cat_{lvl}"))
    resolved = F.coalesce(*match_cols)
    if strict:
        combined = combined.withColumn(
            "__cat",
            F.when(resolved.isNotNull(), resolved).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "asset file matches no catalog entry (not the file, "
                            f"not an ancestor directory within {_ANCESTOR_LEVELS} "
                            "levels): "
                        ),
                        F.col("__asset_path"),
                    )
                )
            ),
        )
    else:
        # directory mode scans a SUPERSET of the catalog's files, so rows
        # from unreferenced files are pruned by the join, not an error
        combined = combined.withColumn("__cat", resolved).filter(
            F.col("__cat").isNotNull()
        )
    combined = combined.select(
        *[c for c in assets.columns if c != "__asset_path"],
        *[F.col(f"__cat.{c}").alias(c) for c in attach],
    )

    if requested_variables and desc.variable_column_name:
        var_col = (
            "variable"
            if "variable" in combined.columns
            else desc.variable_column_name
        )
        # compiled-pattern variable queries project by regex; literal names
        # by membership (extension: the reference's set-intersection at
        # source.py:116-131 silently drops pattern-matched variables)
        import re as _re

        from intake_esm_spark.plans.predicates import to_java_regex

        literal_vars = [v for v in requested_variables if isinstance(v, str)]
        pattern_vars = [v for v in requested_variables if isinstance(v, _re.Pattern)]
        if var_col in combined.columns and (literal_vars or pattern_vars):
            mask = F.lit(False)
            if literal_vars:
                mask = mask | F.col(var_col).isin(literal_vars)
            for p in pattern_vars:
                mask = mask | F.col(var_col).rlike(to_java_regex(p))
            combined = combined.filter(mask)
    return combined
