"""Public catalog API — the Spark-native ``esm_datastore``.

Mirrors the reference's user surface (/root/reference/intake_esm/core.py:89-922)
on a lazy Spark DataFrame:

* ``open_esm_datastore(obj)`` — JSON path / descriptor dict / (descriptor,
  DataFrame) pair (core.py:139-146)
* ``search(require_all_on=..., **query)`` — returns a NEW datastore whose
  DataFrame is the filtered Catalyst plan (core.py:400-510), including
  derived-variable dependency expansion + union + dedup (core.py:464-493)
* ``keys`` / ``keys_info`` / ``key_template`` / ``__len__`` /
  ``__contains__`` / ``__getitem__`` (core.py:172-345)
* ``unique`` / ``nunique`` incl. the synthetic ``derived_<variable_col>``
  entry (core.py:567-604)
* ``to_dataset_dict`` / ``to_datatree`` / ``to_dataframe`` (to_dask
  analogue) (core.py:607-894)
* ``serialize`` (core.py:513-565)

The datastore never holds asset or catalog rows — only the descriptor
(metadata), the DataFrame plan and, once asked, one row per dataset group
(bounded by ``MAX_DATASET_KEYS``), so the same handle works against a
100 TB catalog on a cluster.
"""

from __future__ import annotations

import copy
from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from intake_esm_spark.derived import DerivedVariableRegistry
from intake_esm_spark.operators import grouping
from intake_esm_spark.operators.combine import open_asset_union
from intake_esm_spark.operators.division import apply_require_all_on
from intake_esm_spark.plans.predicates import search as base_search
from intake_esm_spark.plans.query import Query
from intake_esm_spark.sources import catalog_io
from intake_esm_spark.sources.descriptor import ESMCatalogDescriptor

MAX_DATASET_KEYS = 1_000_000
"""Cap on dataset keys materialized driver-side by keys()/to_dataset_dict().
See ESMDataStore._bounded_key_collect."""


class ESMDataStore:
    """A catalog handle: descriptor + lazy catalog DataFrame + registries."""

    def __init__(
        self,
        spark: SparkSession,
        descriptor: ESMCatalogDescriptor,
        df: DataFrame,
        registry: DerivedVariableRegistry | None = None,
        requested_variables: list[str] | None = None,
        sep: str = ".",
    ) -> None:
        self.spark = spark
        self.descriptor = descriptor
        self._df = df
        self.derivedcat = registry or DerivedVariableRegistry()
        self._requested_variables = requested_variables or []
        self.sep = sep
        # _df is immutable per instance, so the null profile (per
        # aggregate flag) and the group summary (per attrs tuple) — one
        # catalog aggregation each — run at most once per datastore
        self._attrs_cache: dict[bool, list[str]] = {}
        self._summaries: dict[tuple[str, ...], list[Row]] = {}
        self._validate_registry()

    # -- construction --------------------------------------------------------

    @classmethod
    def from_json(
        cls,
        spark: SparkSession,
        json_path: str,
        registry: DerivedVariableRegistry | None = None,
        sep: str = ".",
    ) -> "ESMDataStore":
        desc = ESMCatalogDescriptor.load(json_path)
        df, _ = catalog_io.load_catalog(spark, desc)
        return cls(spark, desc, df, registry=registry, sep=sep)

    @classmethod
    def from_dict(
        cls,
        spark: SparkSession,
        obj: dict[str, Any],
        registry: DerivedVariableRegistry | None = None,
        sep: str = ".",
    ) -> "ESMDataStore":
        desc = ESMCatalogDescriptor.from_dict(obj)
        df, _ = catalog_io.load_catalog(spark, desc)
        return cls(spark, desc, df, registry=registry, sep=sep)

    def _validate_registry(self) -> None:
        """Derived queries must reference the variable column and known
        columns; requires aggregation_control (reference core.py:155-170)."""
        if not len(self.derivedcat):
            return
        if self.descriptor.aggregation_control is None:
            raise ValueError(
                "derived variables require a descriptor with aggregation_control"
            )
        var_col = self.descriptor.variable_column_name
        cols = set(self.df.columns)
        for name, dv in self.derivedcat.items():
            if var_col not in dv.query:
                raise ValueError(
                    f"derived variable {name!r} query must include the "
                    f"variable column {var_col!r}"
                )
            unknown = sorted(set(dv.query) - cols)
            if unknown:
                raise ValueError(
                    f"derived variable {name!r} query has unknown columns {unknown}"
                )

    # -- basic introspection ---------------------------------------------------

    @property
    def df(self) -> DataFrame:
        return self._df

    @property
    def iterable_columns(self) -> set[str]:
        return {
            f.name
            for f in self._df.schema.fields
            if isinstance(f.dataType, T.ArrayType)
        }

    @property
    def has_multiple_variable_assets(self) -> bool:
        var_col = self.descriptor.variable_column_name
        return var_col is not None and var_col in self.iterable_columns

    def __repr__(self) -> str:
        return (
            f"<ESMDataStore {self.descriptor.id or '(unnamed)'}: "
            f"{len(self)} dataset group(s)>"
        )

    # -- grouping / keys -------------------------------------------------------

    def _effective_attrs(self, aggregate: bool = True) -> list[str]:
        """The grouping attrs after the null rules; ``aggregate=False``
        groups by every usable column."""
        if aggregate not in self._attrs_cache:
            self._attrs_cache[aggregate] = grouping.effective_groupby_attrs(
                self._df,
                self.descriptor.groupby_attrs if aggregate else [],
                self.descriptor.aggregation_control is not None,
            )
        return self._attrs_cache[aggregate]

    def _summary(
        self, api: str, aggregate: bool = True, sep: str | None = None
    ) -> list[tuple[str, Row]]:
        """``(key, row)`` per dataset group of grouping.group_summary: ONE
        bounded catalog collect, cached per attrs tuple, answers keys(),
        len(), ``in``, attrs_for() and to_dataset_dict()'s emptiness, keys
        and variable sets, for any ``sep``. Variable sets are collected
        only when derived variables need them."""
        attrs = tuple(self._effective_attrs(aggregate))
        if attrs not in self._summaries:
            var_col = self.descriptor.variable_column_name
            summary = grouping.group_summary(
                self._df, list(attrs), var_col if len(self.derivedcat) else None
            )
            self._summaries[attrs] = self._bounded_key_collect(summary, api)
        sep = sep or self.sep
        return [(sep.join(r["__str"]), r) for r in self._summaries[attrs]]

    @property
    def key_template(self) -> str:
        return self.sep.join(self._effective_attrs())

    def keys(self) -> list[str]:
        return sorted(k for k, _ in self._summary("keys()"))

    def _bounded_key_collect(self, keys_df: DataFrame, api: str) -> list:
        """Guarded driver-side collect for APIs whose CONTRACT is a Python
        list/dict/count of dataset groups (keys(), len(), to_dataset_dict(),
        as the reference's dict-of-datasets API). Bounded by dataset-GROUP
        count, not rows — generous for any real catalog (the reference's
        largest cited catalog has ~27k assets) — a catalog whose groupby
        attrs have pathological cardinality gets a diagnostic steering to
        keys_info() (a DataFrame) instead of a driver OOM."""
        rows = keys_df.limit(MAX_DATASET_KEYS + 1).collect()
        if len(rows) > MAX_DATASET_KEYS:
            raise ValueError(
                f"{api} would materialize more than {MAX_DATASET_KEYS:,} "
                "dataset keys on the driver. This catalog's groupby attrs "
                "produce pathological group cardinality — use keys_info() "
                "(a DataFrame) or coarser groupby_attrs instead."
            )
        return rows

    def keys_info(self) -> DataFrame:
        """One row per dataset key with its group attribute values."""
        return grouping.group_keys(self._df, self._effective_attrs(), self.sep)

    def attrs_for(self, key: str) -> dict[str, Any]:
        """Dataset metadata for one group: ``<attrs_prefix>:<attr> -> value``
        plus the dataset key (reference F10, source.py:140-150)."""
        from intake_esm_spark.options import OPTIONS

        row = next((r for k, r in self._summary("attrs_for()") if k == key), None)
        if row is None:
            raise KeyError(key)
        prefix = OPTIONS["attrs_prefix"]
        out = {f"{prefix}:{a}": row[a] for a in self._effective_attrs()}
        out[OPTIONS["dataset_key"]] = key
        return out

    def __len__(self) -> int:
        """Number of dataset groups (distinct attr tuples). Above
        ``MAX_DATASET_KEYS`` groups it raises the same ValueError as
        keys(), steering to keys_info()."""
        return len(self._summary("len()"))

    def __contains__(self, key: str) -> bool:
        return any(k == key for k, _ in self._summary("`in`"))

    def __getitem__(self, key: str) -> DataFrame:
        """Catalog rows of one dataset group (reference: the records that
        feed one ESMDataSource, core.py:311-341). An unknown key raises
        KeyError like the reference (core.py:343-345) — a silently empty
        DataFrame gives downstream code zero rows with no diagnostic.
        The group summary is cached per instance, so repeated access
        costs no extra jobs."""
        if key not in self:
            raise KeyError(
                f"{key!r} not found in catalog; available keys: {self.keys()[:20]}"
            )
        key_col = grouping.key_column(self._effective_attrs(), self.sep)
        return self._df.filter(key_col == key)

    # -- profiling ---------------------------------------------------------------

    def unique(self) -> dict[str, list]:
        out = grouping.unique(self._df)
        var_col = self.descriptor.variable_column_name
        if var_col and len(self.derivedcat):
            out[f"derived_{var_col}"] = sorted(self.derivedcat.keys())
        return out

    def nunique(self, exact: bool = True) -> dict[str, int]:
        out = grouping.nunique(self._df, exact=exact)
        var_col = self.descriptor.variable_column_name
        if var_col and len(self.derivedcat):
            out[f"derived_{var_col}"] = len(self.derivedcat)
        return out

    # -- search --------------------------------------------------------------------

    def search(
        self, require_all_on: str | list[str] | None = None, **query: Any
    ) -> "ESMDataStore":
        """Multi-column predicate search + optional relational division +
        derived-variable dependency expansion. Returns a new datastore over
        the filtered (still lazy) DataFrame."""

        def select(terms: dict[str, Any]) -> DataFrame:
            q = Query.normalize(terms, self._df.columns, require_all_on)
            rows = base_search(self._df, q)
            if q.require_all_on and q.query:
                rows = apply_require_all_on(rows, q, self.iterable_columns)
            return rows

        results = select(query)

        # derived-variable expansion (reference core.py:464-493)
        var_col = self.descriptor.variable_column_name
        variables = query.get(var_col) if var_col else None
        if variables is not None and not isinstance(variables, (list, tuple, set)):
            variables = [variables]
        dependents: list[str] = []
        derived_subset: dict[str, Any] = {}
        if variables:
            rest = {k: v for k, v in query.items() if k != var_col}
            for name, dv in self.derivedcat.items():
                if name in variables:
                    results = results.unionByName(select({**dv.query, **rest}))
                    dependents.extend(dv.dependent_variables(var_col))
                    derived_subset[name] = dv
            if derived_subset:
                # dedup only when derived results were actually merged
                # (reference gates on query_results, core.py:490-493) —
                # a plain variable search must neither drop legitimate
                # duplicate catalog rows nor pay a full-width shuffle
                results = results.dropDuplicates()

        new_desc = copy.deepcopy(self.descriptor)
        new_desc.catalog_file = None
        new_desc.catalog_dict = None
        if self.has_multiple_variable_assets:
            # no sort: variables may mix str and re.Pattern (reference
            # supports compiled-pattern variable queries, core.py docstring)
            requested = list(dict.fromkeys(list(variables or []) + dependents))
        else:
            requested = []
        if variables is not None:
            reg = DerivedVariableRegistry()
            reg._registry = derived_subset
        else:
            reg = self.derivedcat
        return self.__class__(
            self.spark,
            new_desc,
            results,
            registry=reg,
            requested_variables=requested,
            sep=self.sep,
        )

    # -- dataset assembly -------------------------------------------------------------

    def to_dataset_dict(
        self,
        aggregate: bool = True,
        skip_on_error: bool = False,
        requested_variables: list[str] | None = None,
        sep: str | None = None,
        preprocess: Any | None = None,
    ) -> dict[str, DataFrame]:
        """Assemble each dataset group into a long-format DataFrame.

        All groups share ONE scan plan; the dict values are key-filtered
        views of it (cheap — Catalyst prunes files by the pushed key
        predicate when assets are partitioned by group attrs).

        Emptiness, keys and per-key variables come from the one cached
        group summary (``_summary``), never from a scan of asset data.

        ``preprocess`` (reference U4, core.py:611 / source.py:105-111): a
        ``DataFrame -> DataFrame`` transformation applied to the combined
        long-format rows before grouping — the Spark-idiomatic equivalent
        of the per-asset xarray preprocess (rows carry their group/asset
        attributes, so per-asset logic is a filter away).
        """
        sep = sep or self.sep
        summary = self._summary("to_dataset_dict()", aggregate, sep)
        if not summary:
            return {}
        combined = self._combined_plan(
            self._effective_attrs(aggregate), requested_variables, sep
        )
        if preprocess is not None:
            combined = preprocess(combined)
            # a preprocess may drop whole groups, so only then is a key
            # probe of the combined rows needed
            keys = [
                r["key"]
                for r in self._bounded_key_collect(
                    combined.select("key").distinct(), "to_dataset_dict()"
                )
            ]
        else:
            keys = [k for k, _ in summary]
        datasets = {k: combined.filter(F.col("key") == k) for k in sorted(keys)}
        var_col = self.descriptor.variable_column_name
        if len(self.derivedcat) and var_col:
            long_var_col = "variable" if "variable" in combined.columns else var_col
            # per-group variable sets come from the summary instead of a
            # distinct() probe scan of every dataset's asset rows (one
            # full-data job per group). A user preprocess may add/drop
            # variables the catalog cannot know about, so only then fall
            # back to probing.
            dataset_variables = None
            if preprocess is None:
                dataset_variables = self._catalog_dataset_variables(
                    summary, requested_variables
                )
            datasets = self.derivedcat.update_datasets(
                datasets,
                long_var_col,
                skip_on_error=skip_on_error,
                dataset_variables=dataset_variables,
            )
        return datasets

    def _catalog_dataset_variables(
        self,
        summary: list[tuple[str, Row]],
        requested_variables: list[str] | None,
    ) -> dict[str, set[str]]:
        """Per-dataset-key variable sets read off the group summary.

        The catalog declares which variables each asset carries, so
        derived-variable application needs ZERO extra scans of asset data.
        Respects the requested-variables projection (literal names and
        compiled patterns) exactly as combine.open_asset_union applies it
        to the data rows."""
        import re as _re

        out = {k: set(r["__vars"] or []) for k, r in summary}
        requested = requested_variables or self._requested_variables or None
        if requested:
            literals = {v for v in requested if isinstance(v, str)}
            patterns = [p for p in requested if isinstance(p, _re.Pattern)]
            out = {
                k: {
                    v
                    for v in vs
                    if v in literals or any(p.search(v) for p in patterns)
                }
                for k, vs in out.items()
            }
        return out

    def _combined_plan(
        self, attrs: list[str], requested_variables: list[str] | None, sep: str
    ) -> DataFrame:
        requested = requested_variables or self._requested_variables or None
        # the public key is computed on the CATALOG side (its attrs may
        # collide with asset data columns, e.g. `variable`), then attached
        # to asset rows through the broadcast join; asset-path resolution
        # (exact files vs pruned directory scans) happens inside
        # open_asset_union so a huge catalog never lists every asset on
        # the driver
        return open_asset_union(
            self.spark,
            self._df.withColumn("key", grouping.key_column(attrs, sep)),
            self.descriptor,
            requested_variables=requested,
            extra_catalog_columns=["key"] + attrs,
        )

    def to_dataframe(
        self,
        aggregate: bool = True,
        requested_variables: list[str] | None = None,
    ) -> DataFrame:
        """The whole result as ONE DataFrame with a ``key`` column — the
        scale-friendly alternative to a dict of datasets (and the analogue
        of ``to_dask`` when exactly one group matches)."""
        return self._combined_plan(
            self._effective_attrs(aggregate), requested_variables, self.sep
        )

    def to_datatree(self, **kwargs: Any) -> dict[str, DataFrame]:
        """Dataset dict keyed by '/'-joined paths (reference core.py:765-867).
        Passes sep through rather than mutating shared state — a
        concurrent reader of this datastore must never observe '/'."""
        kwargs.setdefault("sep", "/")
        return self.to_dataset_dict(**kwargs)

    def to_dask(self, **kwargs: Any) -> DataFrame:
        """Single-dataset accessor: errors unless exactly one group
        (reference core.py:869-894)."""
        if len(self) != 1:
            raise ValueError(
                "expected exactly one dataset group; use to_dataset_dict()"
            )
        datasets = self.to_dataset_dict(**kwargs)
        return next(iter(datasets.values()))

    def to_parquet(
        self,
        path: str,
        partition_by: list[str] | None = None,
        mode: str = "overwrite",
        requested_variables: list[str] | None = None,
    ) -> None:
        """Materialize the assembled result as parquet partitioned by the
        group attributes (default) — the scale-path sink: downstream reads
        of one dataset group become partition-pruned scans, and re-assembly
        never touches the other groups' files."""
        attrs = self._effective_attrs()
        combined = self._combined_plan(attrs, requested_variables, self.sep)
        partition_by = partition_by if partition_by is not None else attrs
        writer = combined.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

    def to_pandas(self, limit: int | None = 10_000):
        """Driver-side pandas view of the CATALOG table (display boundary,
        reference keeps pandas for repr — core.py:240-248). Guarded by a
        limit so a 100 TB-scale catalog can't flatten the driver."""
        df = self._df.limit(limit) if limit is not None else self._df
        return df.toPandas()

    # -- serialization ------------------------------------------------------------------

    def serialize(
        self,
        name: str,
        directory: str = ".",
        catalog_type: str = "dict",
        file_format: str = "csv",
        compression: str | None = None,
    ) -> str:
        return catalog_io.save_catalog(
            self._df,
            self.descriptor,
            name,
            directory,
            catalog_type=catalog_type,
            file_format=file_format,
            compression=compression,
        )


def open_esm_datastore(
    obj: str | dict[str, Any],
    spark: SparkSession | None = None,
    registry: DerivedVariableRegistry | None = None,
    sep: str = ".",
) -> ESMDataStore:
    """Open a catalog from a JSON path or a descriptor dict
    (reference core.py:139-146 dispatch)."""
    if spark is None:
        from intake_esm_spark.session import get_spark

        spark = get_spark()
    if isinstance(obj, str):
        return ESMDataStore.from_json(spark, obj, registry=registry, sep=sep)
    if isinstance(obj, dict):
        return ESMDataStore.from_dict(spark, obj, registry=registry, sep=sep)
    raise TypeError(f"cannot open a datastore from {type(obj)!r}")
