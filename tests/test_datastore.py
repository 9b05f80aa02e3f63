"""End-to-end datastore tests: the minimum-slice scenario of SURVEY.md §7.2
(open -> search -> to_dataset_dict with join_new/join_existing/union) plus
derived variables, serialize round-trip, and API surface parity checks."""

import json
import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from intake_esm_spark.datastore import ESMDataStore, open_esm_datastore
from intake_esm_spark.derived import DerivedVariableRegistry, elementwise
from intake_esm_spark.plans.query import QueryError


@pytest.fixture(scope="module")
def catalog_env(spark, tmp_path_factory):
    """CESM-LENS-like catalog: 2 experiments x 2 members x 2 time slices,
    each asset a long-format parquet with variables SHF/SST (+FLNS/FLUT for
    the derived-variable cases)."""
    work = tmp_path_factory.mktemp("cat")
    assets_dir = work / "assets"
    assets_dir.mkdir()
    rows = []
    for exp in ["CTRL", "20C"]:
        for member in [1, 2]:
            for t0 in [2000, 2005]:
                path = str(assets_dir / f"{exp}_m{member}_{t0}.parquet")
                pd.DataFrame(
                    {
                        "variable": ["SHF"] * 5 + ["SST"] * 5 + ["FLNS"] * 5 + ["FLUT"] * 5,
                        "time": list(range(t0, t0 + 5)) * 4,
                        "lat": [0.0] * 20,
                        "value": [float(member * 100 + t - t0) for t in range(t0, t0 + 5)] * 4,
                    }
                ).to_parquet(path)
                rows.append(
                    dict(
                        component="ocn",
                        experiment=exp,
                        stream="pop.h",
                        variable="('SHF', 'SST', 'FLNS', 'FLUT')",
                        member_id=member,
                        time_range=f"{t0}-{t0+4}",
                        path=path,
                    )
                )
    csv_path = work / "catalog.csv"
    pd.DataFrame(rows).to_csv(csv_path, index=False)
    desc = {
        "esmcat_version": "0.1.0",
        "id": "test_cat",
        "description": "unit-test catalog",
        "attributes": [],
        "assets": {"column_name": "path", "format": "parquet"},
        "aggregation_control": {
            "variable_column_name": "variable",
            "groupby_attrs": ["component", "experiment", "stream"],
            "aggregations": [
                {"type": "join_new", "attribute_name": "member_id", "options": {}},
                {
                    "type": "join_existing",
                    "attribute_name": "time_range",
                    "options": {"dim": "time"},
                },
                {"type": "union", "attribute_name": "variable", "options": {}},
            ],
        },
        "catalog_file": str(csv_path),
    }
    json_path = work / "catalog.json"
    json_path.write_text(json.dumps(desc))
    return str(json_path)


def test_open_and_keys(spark, catalog_env):
    cat = open_esm_datastore(catalog_env, spark=spark)
    assert len(cat) == 2
    assert cat.keys() == ["ocn.20C.pop.h", "ocn.CTRL.pop.h"]
    assert cat.key_template == "component.experiment.stream"
    assert "ocn.CTRL.pop.h" in cat
    assert cat.iterable_columns == {"variable"}
    assert cat.has_multiple_variable_assets


def test_search_and_assemble(spark, catalog_env):
    cat = open_esm_datastore(catalog_env, spark=spark)
    sub = cat.search(experiment="CTRL", variable="SHF")
    assert sub.df.count() == 4
    dsets = sub.to_dataset_dict()
    assert list(dsets) == ["ocn.CTRL.pop.h"]
    ds = dsets["ocn.CTRL.pop.h"]
    # join_new: both members present; join_existing: full time span;
    # union + requested-variable projection: only SHF rows
    assert ds.select("member_id").distinct().count() == 2
    row = ds.select(F.min("time"), F.max("time")).collect()[0]
    assert [row[0], row[1]] == [2000, 2009]
    assert [r[0] for r in ds.select("variable").distinct().collect()] == ["SHF"]


def _jobs(spark, fn) -> int:
    """Spark jobs launched by ``fn()``, counted under a job group of its
    own once the listener bus has recorded them."""
    sc = spark.sparkContext
    group = f"jobs-{time.perf_counter_ns()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_group_summary_job_counts(spark, catalog_env, monkeypatch):
    """One cached group summary answers len / keys / in / attrs_for: on a
    fresh searched datastore len() then keys() costs no more jobs than
    keys() alone, repeats cost none, and a second to_dataframe() on an
    opened datastore re-runs no null profile."""
    from intake_esm_spark.operators import grouping

    cat = open_esm_datastore(catalog_env, spark=spark)
    keys_alone = _jobs(spark, lambda: cat.search(experiment="CTRL").keys())
    sub = cat.search(experiment="CTRL")
    assert _jobs(spark, lambda: (len(sub), sub.keys())) <= keys_alone
    key = sub.keys()[0]
    assert _jobs(spark, lambda: (len(sub), sub.keys(), key in sub, sub.attrs_for(key))) == 0

    profiles = []
    null_profile = grouping.null_profile

    def counted(df, columns):
        profiles.append(columns)
        return null_profile(df, columns)

    monkeypatch.setattr(grouping, "null_profile", counted)
    opened = open_esm_datastore(catalog_env, spark=spark)
    first = _jobs(spark, opened.to_dataframe)
    assert len(profiles) == 1
    # the second call re-runs only the asset-path collect
    assert _jobs(spark, opened.to_dataframe) < first
    assert len(profiles) == 1


def test_profile_and_division_job_cuts(spark, catalog_env):
    """Exact nunique counts the sets unique collects, so it launches no
    more jobs than unique; require_all_on counts each group's tuples as
    the size of one set, so its plan has one hash exchange (the groupBy
    on the require_all_on columns) and the semi-join is broadcast."""
    from intake_esm_spark.operators.division import apply_require_all_on
    from intake_esm_spark.plans.query import Query

    cat = open_esm_datastore(catalog_env, spark=spark)
    sub = cat.search(experiment="CTRL")
    assert _jobs(spark, sub.nunique) <= _jobs(spark, sub.unique)

    q = Query.normalize(
        {"experiment": ["CTRL", "20C"], "time_range": ["2000-2004", "2005-2009"]},
        cat.df.columns,
        "member_id",
    )
    divided = apply_require_all_on(cat.df, q, cat.iterable_columns)
    plan = divided._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert divided.count() == 8


def test_text_sidecar_round_trip_without_jobs(spark, tmp_path):
    """read_text_sidecar reads a write_text_sidecar payload through the
    Hadoop FS (no Spark job), and still loads a sidecar that a Spark text
    write left as a part file under a hidden directory."""
    from intake_esm_spark.util import read_text_sidecar, write_text_sidecar

    payload = json.dumps({"hash_scheme": "x", "bands": 16})
    path = str(tmp_path / "_params")
    write_text_sidecar(spark, path, payload)
    got = []
    assert _jobs(spark, lambda: got.append(read_text_sidecar(spark, path))) == 0
    assert got == [payload]

    legacy = str(tmp_path / "_legacy")
    spark.createDataFrame([(payload,)], "value string").coalesce(1).write.text(legacy)
    assert json.loads(read_text_sidecar(spark, legacy)) == json.loads(payload)
    with pytest.raises(FileNotFoundError):
        read_text_sidecar(spark, str(tmp_path / "_missing"))


def test_getitem_and_contains(spark, catalog_env):
    cat = open_esm_datastore(catalog_env, spark=spark)
    grp = cat["ocn.CTRL.pop.h"]
    assert grp.count() == 4
    assert "nope" not in cat


def test_aggregate_false(spark, catalog_env):
    cat = open_esm_datastore(catalog_env, spark=spark)
    sub = cat.search(experiment="CTRL", variable="SHF")
    dsets = sub.to_dataset_dict(aggregate=False)
    # every asset row becomes its own dataset
    assert len(dsets) == 4


def test_to_datatree_keys(spark, catalog_env):
    cat = open_esm_datastore(catalog_env, spark=spark)
    dsets = cat.search(experiment="CTRL", variable="SHF").to_datatree()
    assert list(dsets) == ["ocn/CTRL/pop.h"]


def test_summary_keys_match_key_column_for_typed_attrs(spark, tmp_path):
    """keys() and to_datatree() join the summary's string-cast attr values
    on the driver; for int, bool, double and string attrs that must equal
    the Spark key column (concat_ws over cast(string)) behind keys_info(),
    under the default '.' and to_datatree()'s '/'."""
    from intake_esm_spark.operators import grouping
    from intake_esm_spark.sources.descriptor import (
        AggregationControl,
        Assets,
        ESMCatalogDescriptor,
    )

    rows = []
    for n, flag, x, name in [
        (7, True, 1.5, "a/b"),
        (-3, False, 1e20, "c"),
        (0, True, 0.1, "d.e"),
    ]:
        path = str(tmp_path / f"a{len(rows)}.parquet")
        pd.DataFrame({"variable": ["v"], "value": [1.0]}).to_parquet(path)
        rows.append((n, flag, x, name, path))
    df = spark.createDataFrame(rows, "n int, flag boolean, x double, name string, path string")
    desc = ESMCatalogDescriptor(
        assets=Assets(column_name="path", format="parquet"),
        aggregation_control=AggregationControl(
            variable_column_name="variable",
            groupby_attrs=["n", "flag", "x", "name"],
        ),
    )
    store = ESMDataStore(spark, desc, df)
    want = sorted(r["key"] for r in store.keys_info().collect())
    assert store.keys() == want and len(want) == 3
    # Spark's cast spells 1e20 as 1.0E20 (Python's str would give 1e+20)
    assert any("1.0E20" in k for k in want)
    want_tree = sorted(
        r["key"] for r in grouping.group_keys(df, ["n", "flag", "x", "name"], "/").collect()
    )
    assert sorted(store.to_datatree()) == want_tree
    assert all(k in store for k in want)


def test_to_dask_single_group_guard(spark, catalog_env):
    cat = open_esm_datastore(catalog_env, spark=spark)
    with pytest.raises(ValueError):
        cat.to_dask()  # two groups
    one = cat.search(experiment="CTRL", variable="SHF")
    assert one.to_dask().count() > 0


def test_unknown_search_column(spark, catalog_env):
    cat = open_esm_datastore(catalog_env, spark=spark)
    with pytest.raises(QueryError):
        cat.search(bogus="x")


def test_derived_variable_flow(spark, catalog_env):
    registry = DerivedVariableRegistry()
    registry.register(
        elementwise("FOO", ["FLNS", "FLUT"], lambda a, b: a + b),
        variable="FOO",
        query={"variable": ["FLNS", "FLUT"]},
    )
    cat = open_esm_datastore(catalog_env, spark=spark, registry=registry)
    # searching for the derived name pulls in dependency assets
    sub = cat.search(experiment="CTRL", variable="FOO")
    assert sub.df.count() == 4
    assert sorted(sub._requested_variables) == ["FLNS", "FLUT", "FOO"]
    dsets = sub.to_dataset_dict()
    ds = dsets["ocn.CTRL.pop.h"]
    vars_present = {r[0] for r in ds.select("variable").distinct().collect()}
    assert "FOO" in vars_present
    # FOO = FLNS + FLUT pointwise
    foo = ds.filter("variable = 'FOO'")
    chk = (
        ds.filter(F.col("variable").isin("FLNS", "FLUT"))
        .groupBy("time", "lat", "member_id")
        .agg(F.sum("value").alias("expected"))
        .join(foo, ["time", "lat", "member_id"])
        .filter(F.abs(F.col("expected") - F.col("value")) > 1e-9)
    )
    assert chk.count() == 0


def test_derived_unique_entries(spark, catalog_env):
    registry = DerivedVariableRegistry()
    registry.register(
        elementwise("FOO", ["FLNS", "FLUT"], lambda a, b: a + b),
        variable="FOO",
        query={"variable": ["FLNS", "FLUT"]},
    )
    cat = open_esm_datastore(catalog_env, spark=spark, registry=registry)
    assert cat.nunique()["derived_variable"] == 1
    assert cat.unique()["derived_variable"] == ["FOO"]


def test_serialize_round_trip(spark, catalog_env, tmp_path):
    cat = open_esm_datastore(catalog_env, spark=spark)
    out_json = cat.serialize("saved", directory=str(tmp_path), catalog_type="file")
    cat2 = open_esm_datastore(out_json, spark=spark)
    assert cat2.df.count() == cat.df.count()
    assert cat2.iterable_columns == {"variable"}
    assert sorted(cat2.df.columns) == sorted(cat.df.columns)
    # container type preserved
    saved = json.load(open(out_json))
    assert saved["iterable_dtypes"] == {"variable": "tuple"}


def test_preprocess_hook(spark, catalog_env):
    cat = open_esm_datastore(catalog_env, spark=spark)
    sub = cat.search(experiment="CTRL", variable="SHF")
    dsets = sub.to_dataset_dict(
        preprocess=lambda df: df.withColumn("value", F.col("value") * 2)
    )
    ds = dsets["ocn.CTRL.pop.h"]
    assert ds.agg(F.min("value")).collect()[0][0] == 200.0  # 100*2


def test_attrs_for(spark, catalog_env):
    cat = open_esm_datastore(catalog_env, spark=spark)
    attrs = cat.attrs_for("ocn.CTRL.pop.h")
    assert attrs["intake_esm_attrs:experiment"] == "CTRL"
    assert attrs["intake_esm_dataset_key"] == "ocn.CTRL.pop.h"
    with pytest.raises(KeyError):
        cat.attrs_for("nope")


def test_to_parquet_partitioned_sink(spark, catalog_env, tmp_path):
    import os

    cat = open_esm_datastore(catalog_env, spark=spark)
    sub = cat.search(experiment="CTRL", variable="SHF")
    out = str(tmp_path / "sink")
    sub.to_parquet(out)
    # partitioned by group attrs -> directory per attr value
    assert any(d.startswith("component=") for d in os.listdir(out))
    back = spark.read.parquet(out)
    assert back.count() == 20
    # partition pruning: filtering one experiment reads only its directory
    pruned = back.filter(F.col("experiment") == "CTRL")
    assert "experiment=CTRL" in pruned._jdf.queryExecution().executedPlan().toString() or pruned.count() == 20


def test_to_pandas_boundary(spark, catalog_env):
    cat = open_esm_datastore(catalog_env, spark=spark)
    pdf = cat.to_pandas(limit=3)
    assert len(pdf) == 3


def test_empty_search_returns_empty_dict(spark, catalog_env):
    cat = open_esm_datastore(catalog_env, spark=spark)
    sub = cat.search(experiment="NOPE")
    assert sub.to_dataset_dict() == {}
    # an empty selection's attrs are all all-null, so it groups by zero
    # attrs — and groupBy() with zero attrs yields one row even on empty
    # input; the summary must still report no groups
    assert len(sub) == 0
    assert sub.keys() == []


def test_directory_layout_assets(spark, tmp_path):
    """A catalog asset may point at a parquet DIRECTORY (Spark's native
    write layout: part-files inside a dir), a single file, or a dir path
    with a trailing slash — all three must attach catalog attributes and
    assemble (combine.open_asset_union resolves file-exact first, then
    parent-directory)."""
    rows = []
    for i, (exp, trailing) in enumerate([("CTRL", False), ("20C", True)]):
        path = str(tmp_path / f"dir_{exp}.parquet")
        spark.createDataFrame(
            [(t, float(i * 10 + t), "SHF") for t in range(5)],
            "time int, value double, variable string",
        ).write.mode("overwrite").parquet(path)
        rows.append(
            dict(
                component="ocn",
                experiment=exp,
                variable="SHF",
                member_id=1,
                path=path + "/" if trailing else path,
            )
        )
    # plus one plain single-file asset in the same catalog
    fpath = str(tmp_path / "file_HIST.parquet")
    pd.DataFrame(
        {"time": range(5), "value": [9.0] * 5, "variable": ["SHF"] * 5}
    ).to_parquet(fpath)
    rows.append(
        dict(component="ocn", experiment="HIST", variable="SHF", member_id=1, path=fpath)
    )
    csv_path = tmp_path / "catalog.csv"
    pd.DataFrame(rows).to_csv(csv_path, index=False)
    desc = {
        "esmcat_version": "0.1.0",
        "id": "dir_assets",
        "description": "directory-layout assets",
        "attributes": [],
        "assets": {"column_name": "path", "format": "parquet"},
        "aggregation_control": {
            "variable_column_name": "variable",
            "groupby_attrs": ["component", "experiment"],
            "aggregations": [
                {"type": "join_new", "attribute_name": "member_id", "options": {}}
            ],
        },
        "catalog_file": str(csv_path),
    }
    json_path = tmp_path / "catalog.json"
    json_path.write_text(json.dumps(desc))

    cat = open_esm_datastore(str(json_path), spark=spark)
    dsets = cat.to_dataset_dict()
    assert sorted(dsets) == ["ocn.20C", "ocn.CTRL", "ocn.HIST"]
    for key, df in dsets.items():
        assert df.count() == 5, key
        assert df.select("member_id").distinct().collect()[0][0] == 1
    # directory rows carry the right per-asset values (no cross-attach)
    vals = {r[0] for r in dsets["ocn.CTRL"].select("value").collect()}
    assert vals == {0.0, 1.0, 2.0, 3.0, 4.0}


def _dir_catalog(tmp_path, rows):
    csv_path = tmp_path / "catalog.csv"
    pd.DataFrame(rows).to_csv(csv_path, index=False)
    desc = {
        "esmcat_version": "0.1.0",
        "id": "dir_assets",
        "description": "directory-layout assets",
        "attributes": [],
        "assets": {"column_name": "path", "format": "parquet"},
        "aggregation_control": {
            "variable_column_name": "variable",
            "groupby_attrs": ["component", "experiment"],
            "aggregations": [
                {"type": "join_new", "attribute_name": "member_id", "options": {}}
            ],
        },
        "catalog_file": str(csv_path),
    }
    json_path = tmp_path / "catalog.json"
    json_path.write_text(json.dumps(desc))
    return str(json_path)


def test_directory_mode_prunes_and_attaches(spark, tmp_path):
    """Above max_driver_paths the scan reads parent DIRECTORIES (derived
    distributedly) instead of a collected per-file list; files in those
    directories that the catalog does NOT reference are pruned by the
    attach join rather than raising."""
    from intake_esm_spark.operators.combine import open_asset_union
    from intake_esm_spark.sources.descriptor import ESMCatalogDescriptor

    d = tmp_path / "assets"
    d.mkdir()
    rows = []
    for i, exp in enumerate(["CTRL", "20C", "HIST"]):
        fpath = str(d / f"{exp}.parquet")
        pd.DataFrame(
            {"time": range(4), "value": [float(i)] * 4, "variable": ["SHF"] * 4}
        ).to_parquet(fpath)
        rows.append(dict(experiment=exp, member_id=i, path=fpath))
    # stray file in the same directory, absent from the catalog
    pd.DataFrame(
        {"time": range(4), "value": [99.0] * 4, "variable": ["SHF"] * 4}
    ).to_parquet(str(d / "stray.parquet"))

    desc = ESMCatalogDescriptor.from_dict(
        {
            "esmcat_version": "0.1.0",
            "id": "dirmode",
            "assets": {"column_name": "path", "format": "parquet"},
            "aggregation_control": {
                "variable_column_name": "variable",
                "groupby_attrs": ["experiment"],
                "aggregations": [
                    {"type": "join_new", "attribute_name": "member_id", "options": {}}
                ],
            },
        }
    )
    catalog = spark.createDataFrame(pd.DataFrame(rows))
    out = open_asset_union(
        spark, catalog, desc, extra_catalog_columns=["experiment"],
        max_driver_paths=2,  # force directory mode with 3 assets
    )
    got = out.collect()
    assert len(got) == 12  # 3 catalog assets x 4 rows; stray's 4 pruned
    assert {r["value"] for r in got} == {0.0, 1.0, 2.0}
    by_exp = {r["experiment"]: r["member_id"] for r in got}
    assert by_exp == {"CTRL": 0, "20C": 1, "HIST": 2}
    # exact mode on the same catalog: the stray file is never scanned and
    # per-file attach still works
    exact = open_asset_union(
        spark, catalog, desc, extra_catalog_columns=["experiment"]
    )
    assert exact.count() == 12


def test_large_catalog_no_driver_path_list(spark, tmp_path):
    """A >10k-distinct-asset catalog assembles without a driver-side
    per-asset path list: the distinct-path probe trips the threshold and
    only the (two) parent directories reach the driver. Phantom catalog
    entries whose files don't exist are simply absent from the data."""
    from intake_esm_spark.operators.combine import open_asset_union
    from intake_esm_spark.sources.descriptor import ESMCatalogDescriptor

    real_rows = []
    for sub in ["a", "b"]:
        d = tmp_path / sub
        d.mkdir()
        for j in range(3):
            fpath = str(d / f"real_{j}.parquet")
            pd.DataFrame(
                {
                    "time": range(2),
                    "value": [float(j)] * 2,
                    "variable": ["SHF"] * 2,
                }
            ).to_parquet(fpath)
            real_rows.append(dict(experiment=f"{sub}{j}", member_id=j, path=fpath))
    phantom = [
        dict(
            experiment="PHANTOM",
            member_id=0,
            path=str(tmp_path / "a" / f"phantom_{i}.parquet"),
        )
        for i in range(10_050)
    ]
    catalog = spark.createDataFrame(pd.DataFrame(real_rows + phantom))
    desc = ESMCatalogDescriptor.from_dict(
        {
            "esmcat_version": "0.1.0",
            "id": "bigcat",
            "assets": {"column_name": "path", "format": "parquet"},
            "aggregation_control": {
                "variable_column_name": "variable",
                "groupby_attrs": ["experiment"],
                "aggregations": [
                    {"type": "join_new", "attribute_name": "member_id", "options": {}}
                ],
            },
        }
    )
    out = open_asset_union(
        spark, catalog, desc, extra_catalog_columns=["experiment"]
    )
    got = out.collect()
    assert len(got) == 12  # 6 real files x 2 rows
    assert {r["experiment"] for r in got} == {"a0", "a1", "a2", "b0", "b1", "b2"}


def test_directory_mode_mixed_format_dir_raises(spark, tmp_path):
    from intake_esm_spark.operators.combine import ESMDataSourceError, open_asset_union
    from intake_esm_spark.sources.descriptor import ESMCatalogDescriptor

    rows = [
        dict(path=str(tmp_path / "x" / "one.parquet"), fmt="parquet"),
        dict(path=str(tmp_path / "x" / "two.csv"), fmt="csv"),
        dict(path=str(tmp_path / "x" / "three.parquet"), fmt="parquet"),
    ]
    catalog = spark.createDataFrame(pd.DataFrame(rows))
    desc = ESMCatalogDescriptor.from_dict(
        {
            "esmcat_version": "0.1.0",
            "id": "mixed",
            "assets": {"column_name": "path", "format_column_name": "fmt"},
        }
    )
    with pytest.raises(ESMDataSourceError, match="multiple formats"):
        open_asset_union(spark, catalog, desc, max_driver_paths=1)


def test_hive_partitioned_directory_assets(spark, tmp_path):
    """A catalog entry may point at a Hive-PARTITIONED parquet directory —
    the layout this engine's own to_parquet sink produces — where the data
    files sit levels below the catalog path (tbl/run=X/part-*.parquet).
    The ancestor walk in open_asset_union must attach these; before it,
    such rows were silently dropped (empty dataset, no diagnostic)."""
    path = str(tmp_path / "hive.parquet")
    spark.createDataFrame(
        [(t, float(t), "SHF", "CTRL" if t % 2 == 0 else "20C") for t in range(6)],
        "time int, value double, variable string, run string",
    ).write.mode("overwrite").partitionBy("run").parquet(path)
    cat = open_esm_datastore(
        _dir_catalog(
            tmp_path,
            [dict(component="ocn", experiment="CTRL", variable="SHF", member_id=1, path=path)],
        ),
        spark=spark,
    )
    dsets = cat.to_dataset_dict()
    assert sorted(dsets) == ["ocn.CTRL"]
    df = dsets["ocn.CTRL"]
    assert df.count() == 6
    assert {r[0] for r in df.select("run").distinct().collect()} == {"CTRL", "20C"}
    assert df.select("member_id").distinct().collect()[0][0] == 1


def test_unresolvable_asset_raises_not_drops(spark, tmp_path):
    """A layout deeper than the ancestor walk (here: 4 partition columns,
    files 5 levels below the catalog path) must raise a diagnostic naming
    the offending file — never silently filter to an empty dataset."""
    path = str(tmp_path / "deep.parquet")
    spark.createDataFrame(
        [(t, float(t), "SHF", "a", "b", "c", f"d{t}") for t in range(4)],
        "time int, value double, variable string, k1 string, k2 string, k3 string, k4 string",
    ).write.mode("overwrite").partitionBy("k1", "k2", "k3", "k4").parquet(path)
    cat = open_esm_datastore(
        _dir_catalog(
            tmp_path,
            [dict(component="ocn", experiment="CTRL", variable="SHF", member_id=1, path=path)],
        ),
        spark=spark,
    )
    with pytest.raises(Exception, match="matches no catalog entry"):
        dsets = cat.to_dataset_dict()
        for df in dsets.values():
            df.count()


def test_derived_uses_catalog_variables_no_probe(spark, catalog_env, monkeypatch):
    """Derived-variable application gets its per-dataset variable sets from
    the catalog (one metadata aggregation), never from a distinct() probe
    scan of each dataset's asset rows — at scale the probe is a full-data
    job per group. The sets passed must match what probing would return."""
    registry = DerivedVariableRegistry()
    registry.register(
        elementwise("FOO", ["FLNS", "FLUT"], lambda a, b: a + b),
        variable="FOO",
        query={"variable": ["FLNS", "FLUT"]},
    )
    cat = open_esm_datastore(catalog_env, spark=spark, registry=registry)
    sub = cat.search(experiment="CTRL", variable="FOO")

    captured = {}
    orig = DerivedVariableRegistry.update_datasets

    def spy(self, datasets, variable_key_name, skip_on_error=False, dataset_variables=None):
        captured["dataset_variables"] = dataset_variables
        return orig(self, datasets, variable_key_name, skip_on_error, dataset_variables)

    monkeypatch.setattr(DerivedVariableRegistry, "update_datasets", spy)
    dsets = sub.to_dataset_dict()
    dv = captured["dataset_variables"]
    assert dv is not None, "to_dataset_dict fell back to per-dataset probing"
    assert set(dv) == set(dsets)
    # catalog-derived sets equal what a data probe would have returned
    for key, df in dsets.items():
        probed = {
            r[0]
            for r in df.filter(F.col("variable") != "FOO")
            .select("variable")
            .distinct()
            .collect()
        }
        assert dv[key] == probed, key
    # and with a preprocess hook (which may alter variables) we fall back
    captured.clear()
    sub.to_dataset_dict(preprocess=lambda df: df)
    assert captured["dataset_variables"] is None


def test_tar_archive_assets(spark, tmp_path):
    """S11: tar://member::archive chain URLs (reference source.py:100,
    test_source.py:58-75) — the member is driver-staged via stdlib
    tarfile and rows attach against the ORIGINAL tar URL in the
    catalog."""
    import tarfile

    inner = tmp_path / "inner.parquet"
    pd.DataFrame(
        {"time": range(4), "value": [7.0] * 4, "variable": ["SHF"] * 4}
    ).to_parquet(str(inner))
    archive = tmp_path / "assets.tar"
    with tarfile.open(archive, "w") as tf:
        tf.add(str(inner), arcname="inner.parquet")
    tar_url = f"tar://inner.parquet::{archive}"

    plain = tmp_path / "plain.parquet"
    pd.DataFrame(
        {"time": range(4), "value": [9.0] * 4, "variable": ["SHF"] * 4}
    ).to_parquet(str(plain))

    json_path = _dir_catalog(
        tmp_path,
        [
            dict(component="ocn", experiment="TAR", variable="SHF", member_id=1, path=tar_url),
            dict(component="ocn", experiment="PLAIN", variable="SHF", member_id=2, path=str(plain)),
        ],
    )
    cat = open_esm_datastore(json_path, spark=spark)
    dsets = cat.to_dataset_dict()
    assert sorted(dsets) == ["ocn.PLAIN", "ocn.TAR"]
    assert {r["value"] for r in dsets["ocn.TAR"].collect()} == {7.0}
    assert {r["value"] for r in dsets["ocn.PLAIN"].collect()} == {9.0}
    assert dsets["ocn.TAR"].select("member_id").distinct().collect()[0][0] == 1


def test_tar_archive_catalog_file(spark, tmp_path):
    """A catalog CSV inside a tar archive loads through the same chain-URL
    form on catalog_file."""
    import tarfile

    asset = tmp_path / "a.parquet"
    pd.DataFrame(
        {"time": range(3), "value": [1.0] * 3, "variable": ["SHF"] * 3}
    ).to_parquet(str(asset))
    csv_inner = tmp_path / "catalog_inner.csv"
    pd.DataFrame(
        [dict(component="ocn", experiment="CTRL", variable="SHF", member_id=1, path=str(asset))]
    ).to_csv(csv_inner, index=False)
    archive = tmp_path / "cat.tar"
    with tarfile.open(archive, "w") as tf:
        tf.add(str(csv_inner), arcname="catalog_inner.csv")

    desc = {
        "esmcat_version": "0.1.0",
        "id": "tar_cat",
        "description": "catalog in a tarball",
        "attributes": [],
        "assets": {"column_name": "path", "format": "parquet"},
        "aggregation_control": {
            "variable_column_name": "variable",
            "groupby_attrs": ["component", "experiment"],
            "aggregations": [],
        },
        "catalog_file": f"tar://catalog_inner.csv::{archive}",
    }
    json_path = tmp_path / "cat.json"
    json_path.write_text(json.dumps(desc))
    cat = open_esm_datastore(str(json_path), spark=spark)
    assert cat.df.count() == 1
    dsets = cat.to_dataset_dict()
    assert list(dsets) == ["ocn.CTRL"] and dsets["ocn.CTRL"].count() == 3


def test_tar_member_path_escape_raises(tmp_path):
    """A malicious member path must not escape the staging dir."""
    import tarfile

    from intake_esm_spark.sources.assets import stage_tar_url

    victim = tmp_path / "payload.txt"
    victim.write_text("x")
    archive = tmp_path / "evil.tar"
    with tarfile.open(archive, "w") as tf:
        tf.add(str(victim), arcname="../../escaped.txt")
    with pytest.raises(Exception) as ei:
        stage_tar_url(f"tar://../../escaped.txt::{archive}")
    # a TypeError would mean the 'filter' kwarg was rejected (feature
    # broken), not that the escape was blocked
    assert not isinstance(ei.value, TypeError)
    with pytest.raises(ValueError, match="malformed tar URL"):
        stage_tar_url("tar://no-archive-part")


def test_tar_relative_archive_resolved_against_json_dir(spark, tmp_path, monkeypatch):
    """A tar catalog_file with a RELATIVE archive part must resolve
    against the descriptor JSON's directory, not the process cwd."""
    import tarfile

    asset = tmp_path / "b.parquet"
    pd.DataFrame(
        {"time": range(2), "value": [4.0] * 2, "variable": ["SHF"] * 2}
    ).to_parquet(str(asset))
    csv_inner = tmp_path / "inner.csv"
    pd.DataFrame(
        [dict(component="ocn", experiment="REL", variable="SHF", member_id=1, path=str(asset))]
    ).to_csv(csv_inner, index=False)
    with tarfile.open(tmp_path / "relcat.tar", "w") as tf:
        tf.add(str(csv_inner), arcname="inner.csv")
    desc = {
        "esmcat_version": "0.1.0",
        "id": "rel_tar",
        "assets": {"column_name": "path", "format": "parquet"},
        "aggregation_control": {
            "variable_column_name": "variable",
            "groupby_attrs": ["experiment"],
            "aggregations": [],
        },
        "catalog_file": "tar://inner.csv::relcat.tar",
    }
    json_path = tmp_path / "rel.json"
    json_path.write_text(json.dumps(desc))
    monkeypatch.chdir("/")  # cwd must not matter
    cat = open_esm_datastore(str(json_path), spark=spark)
    assert cat.df.count() == 1
    assert list(cat.to_dataset_dict()) == ["REL"]


def test_tar_restage_after_archive_rewrite(spark, tmp_path):
    """Rewriting an archive must re-stage, not serve the stale member."""
    import tarfile
    import time as _time

    from intake_esm_spark.sources.assets import stage_tar_url

    inner = tmp_path / "v.csv"
    inner.write_text("a\n1\n")
    archive = tmp_path / "v.tar"
    with tarfile.open(archive, "w") as tf:
        tf.add(str(inner), arcname="v.csv")
    first = open(stage_tar_url(f"tar://v.csv::{archive}")).read()
    _time.sleep(0.01)
    inner.write_text("a\n2\n")
    with tarfile.open(archive, "w") as tf:
        tf.add(str(inner), arcname="v.csv")
    second = open(stage_tar_url(f"tar://v.csv::{archive}")).read()
    assert first != second and "2" in second


def test_getitem_unknown_key_raises(spark, catalog_env):
    cat = open_esm_datastore(catalog_env, spark=spark)
    with pytest.raises(KeyError):
        cat["typo.in.key"]


def test_search_without_derived_keeps_duplicates(spark, catalog_env):
    """A plain variable search must not silently drop duplicate catalog
    rows (reference dedups only after merging derived results)."""
    cat = open_esm_datastore(catalog_env, spark=spark)
    doubled = ESMDataStore(
        spark, cat.descriptor, cat.df.unionByName(cat.df), sep=cat.sep
    )
    sub = doubled.search(experiment="CTRL", variable="SHF")
    assert sub.df.count() == 8  # 4 rows, duplicated, preserved


def test_serialize_honors_to_csv_kwargs_compression(spark, catalog_env, tmp_path):
    from intake_esm_spark.sources import catalog_io

    cat = open_esm_datastore(catalog_env, spark=spark)
    out_json = catalog_io.save_catalog(
        cat.df,
        cat.descriptor,
        "gz_via_kwargs",
        str(tmp_path),
        catalog_type="file",
        to_csv_kwargs={"compression": "gzip"},
    )
    saved = json.load(open(out_json))
    assert saved["catalog_file"].endswith(".csv.gz")
    cat2 = open_esm_datastore(out_json, spark=spark)
    assert cat2.df.count() == cat.df.count()
    with pytest.raises(ValueError, match="unsupported to_csv_kwargs"):
        catalog_io.save_catalog(
            cat.df, cat.descriptor, "bad", str(tmp_path),
            catalog_type="file", to_csv_kwargs={"sep": ";"},
        )
