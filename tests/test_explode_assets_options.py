"""MinimalExploder planner, asset-format dispatch, options, preprocess,
tutorial registry."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from intake_esm_spark.options import OPTIONS, set_options
from intake_esm_spark.plans.explode import MinimalExploder
from intake_esm_spark.sources import assets as asset_readers
from intake_esm_spark.tutorial import available_catalogs, get_url, register_catalog


@pytest.fixture()
def multi_list_df(spark):
    # the reference's golden frame (tests/test_utils.py:135-160)
    rows = [
        (["a", "b"], ["a"], ["a", "b", "c"], [1, 2], "first"),
        (["c"], ["b", "c"], ["d"], [3], "second"),
        (["d", "e", "f"], ["d", "e", "f"], ["e", "f"], [4, 5, 6], "third"),
    ]
    return spark.createDataFrame(rows, ["a", "b", "c", "d", "e"])


def test_exploder_groups(multi_list_df):
    me = MinimalExploder(multi_list_df)
    assert me.list_columns == ["a", "b", "c", "d"]
    assert me.explodable_groups == [["a", "d"], ["b"], ["c"]]
    assert me.summary["unique_patterns"] == 3
    assert me.summary["total_columns"] == 5


def test_exploder_zip_explode(spark):
    """Columns with identical patterns zip-explode (one pass, no Cartesian)."""
    df = spark.createDataFrame(
        [(["x", "y"], [1, 2], "r1"), (["z"], [3], "r2")], ["a", "d", "e"]
    )
    out = MinimalExploder(df)().collect()
    assert len(out) == 3
    got = {(r["a"], r["d"]) for r in out}
    assert got == {("x", 1), ("y", 2), ("z", 3)}


def test_exploder_cartesian_across_groups(spark):
    df = spark.createDataFrame([(["x", "y"], ["p", "q", "r"])], ["a", "b"])
    out = MinimalExploder(df)().count()
    assert out == 6  # 2 x 3 Cartesian, like two sequential polars explodes


def test_exploder_no_list_columns(spark):
    df = spark.createDataFrame([("x", 1)], ["a", "b"])
    assert MinimalExploder(df)().collect() == df.collect()


def test_manifest_asset_reader(spark, tmp_path):
    files = []
    for i in range(2):
        p = str(tmp_path / f"chunk{i}.parquet")
        pd.DataFrame({"variable": ["v"], "value": [float(i)]}).to_parquet(p)
        files.append(p)
    manifest = tmp_path / "manifest.json"
    manifest.write_text(json.dumps({"files": files}))
    df = asset_readers.read_assets(spark, "reference", [str(manifest)])
    assert df.count() == 2


def test_unavailable_formats_raise(spark):
    with pytest.raises(asset_readers.FormatNotAvailable):
        asset_readers.read_assets(spark, "opendap", ["http://example/ds"])
    with pytest.raises(ValueError):
        asset_readers.read_assets(spark, "nope", ["x"])


def test_mixed_format_catalog(spark, tmp_path):
    """format_column_name dispatch: parquet + manifest assets in one catalog."""
    from intake_esm_spark.datastore import ESMDataStore
    from intake_esm_spark.sources.descriptor import (
        Assets,
        ESMCatalogDescriptor,
    )

    direct = str(tmp_path / "direct.parquet")
    pd.DataFrame({"variable": ["SHF"], "value": [1.0]}).to_parquet(direct)
    member = str(tmp_path / "member.parquet")
    pd.DataFrame({"variable": ["SST"], "value": [2.0]}).to_parquet(member)
    manifest = str(tmp_path / "m.json")
    with open(manifest, "w") as f:
        json.dump({"files": [member]}, f)

    cat_df = spark.createDataFrame(
        [("expA", direct, "parquet"), ("expA", manifest, "reference")],
        ["experiment", "path", "format"],
    )
    desc = ESMCatalogDescriptor(
        assets=Assets(column_name="path", format_column_name="format")
    )
    store = ESMDataStore(spark, desc, cat_df)
    out = store.to_dataframe()
    vals = {r["variable"]: r["value"] for r in out.collect()}
    assert vals == {"SHF": 1.0, "SST": 2.0}


def test_manifest_inside_tar_attaches_to_tar_url(spark, tmp_path):
    """tar:// chain URL + 'reference' format: a manifest scan's input files
    are the referenced members, never the staged manifest JSON, so rows
    must be tagged with the original tar URL directly (combine._read_format
    reference-in-tar branch) — previously every row fell through to the
    physical-path fallback and the attach dropped or raised."""
    import tarfile

    from intake_esm_spark.datastore import ESMDataStore
    from intake_esm_spark.sources.descriptor import Assets, ESMCatalogDescriptor

    member = str(tmp_path / "member.parquet")
    pd.DataFrame({"variable": ["SST"], "value": [2.0]}).to_parquet(member)
    manifest_inner = tmp_path / "m.json"
    manifest_inner.write_text(json.dumps({"files": [member]}))
    archive = tmp_path / "manifests.tar"
    with tarfile.open(archive, "w") as tf:
        tf.add(str(manifest_inner), arcname="m.json")
    tar_url = f"tar://m.json::{archive}"

    cat_df = spark.createDataFrame(
        [("expA", 7, tar_url, "reference")],
        ["experiment", "member_id", "path", "format"],
    )
    desc = ESMCatalogDescriptor(
        assets=Assets(column_name="path", format_column_name="format")
    )
    store = ESMDataStore(spark, desc, cat_df)
    rows = store.to_dataframe().collect()
    assert [(r["variable"], r["value"], r["member_id"]) for r in rows] == [
        ("SST", 2.0, 7)
    ]


def test_self_tagging_reader_inside_tar_attaches_to_tar_url(
    spark, tmp_path, monkeypatch
):
    """A reader that tags its own rows with ``__asset_path`` (the netcdf /
    zarr kernel) gives rows with an empty input_file_name(); a tar://
    asset read through it must still attach to its catalog entry, both
    beside a plain asset in the same scan and on its own."""
    import tarfile

    from intake_esm_spark.datastore import ESMDataStore
    from intake_esm_spark.sources.descriptor import Assets, ESMCatalogDescriptor

    def fake_netcdf(spark, paths):
        return spark.createDataFrame(
            [(f"v{i}", float(i), p) for i, p in enumerate(paths)],
            "variable string, value double, __asset_path string",
        )

    monkeypatch.setitem(asset_readers.READERS, "netcdf", fake_netcdf)
    inner = tmp_path / "a.nc"
    inner.write_bytes(b"not really netcdf")
    archive = tmp_path / "assets.tar"
    with tarfile.open(archive, "w") as tf:
        tf.add(str(inner), arcname="a.nc")
    tar_url = f"tar://a.nc::{archive}"
    plain = str(tmp_path / "b.nc")

    desc = ESMCatalogDescriptor(assets=Assets(column_name="path", format="netcdf"))
    cat_df = spark.createDataFrame(
        [("expA", 7, tar_url), ("expA", 8, plain)],
        ["experiment", "member_id", "path"],
    )
    rows = ESMDataStore(spark, desc, cat_df).to_dataframe().collect()
    assert sorted(r["member_id"] for r in rows) == [7, 8]
    only_tar = cat_df.filter(F.col("member_id") == 7)
    rows = ESMDataStore(spark, desc, only_tar).to_dataframe().collect()
    assert [(r["variable"], r["member_id"]) for r in rows] == [("v0", 7)]


def test_keys_group_count_guard(spark, monkeypatch):
    """keys()/len()/to_dataset_dict() materialize one entry per dataset
    GROUP on the driver (the reference's dict-of-datasets contract; len()
    counts the same cached group summary); a catalog with pathological
    group cardinality must get a diagnostic steering to keys_info(), not
    a driver OOM."""
    import intake_esm_spark.datastore as ds_mod
    from intake_esm_spark.datastore import ESMDataStore
    from intake_esm_spark.sources.descriptor import Assets, ESMCatalogDescriptor

    cat_df = spark.createDataFrame(
        [(f"exp{i}", f"/tmp/a{i}.parquet") for i in range(5)],
        ["experiment", "path"],
    )
    desc = ESMCatalogDescriptor(assets=Assets(column_name="path", format="parquet"))
    monkeypatch.setattr(ds_mod, "MAX_DATASET_KEYS", 3)
    store = ESMDataStore(spark, desc, cat_df)
    with pytest.raises(ValueError, match="keys_info"):
        store.keys()
    with pytest.raises(ValueError, match="keys_info"):
        len(store)
    # under the cap everything still works
    monkeypatch.setattr(ds_mod, "MAX_DATASET_KEYS", 5)
    store2 = ESMDataStore(spark, desc, cat_df)
    assert len(store2.keys()) == 5


def test_set_options_context():
    assert OPTIONS["attrs_prefix"] == "intake_esm_attrs"
    with set_options(attrs_prefix="xx"):
        assert OPTIONS["attrs_prefix"] == "xx"
    assert OPTIONS["attrs_prefix"] == "intake_esm_attrs"
    with pytest.raises(ValueError):
        with set_options(bogus="y"):
            pass


def test_tutorial_registry():
    assert "google-cmip6" in available_catalogs()
    register_catalog("mine", "file:///tmp/cat.json")
    assert get_url("mine") == "file:///tmp/cat.json"
    with pytest.raises(KeyError):
        get_url("nope")
