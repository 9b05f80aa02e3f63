"""Seeded input generators for the benchmark workloads.

Everything here uses numpy + pyarrow only, so the engine under test never
helps build its own inputs and the oracle reads exactly the files the
engine reads. The same seed always writes byte-identical tables.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- catalog_path queries: a CMIP6-shaped catalog ---------------------------

ACTIVITIES = ["CMIP", "ScenarioMIP", "DCPP", "HighResMIP", "OMIP"]
INSTITUTIONS = [f"INST{i:02d}" for i in range(20)]
SOURCES = [f"MODEL-{i:02d}" for i in range(30)]
EXPERIMENTS = ["historical", "ssp126", "ssp245", "ssp370", "ssp585", "piControl"]
TABLES = ["Amon", "Omon", "day", "Lmon"]
VARIABLES = ["tas", "pr", "psl", "zg", "ua", "va", "tos", "sos", "o2", "chl"]
GRIDS = ["gn", "gr"]
REALMS = {
    "Amon": ["atmos"],
    "day": ["atmos"],
    "Lmon": ["land", "atmos"],
    "Omon": ["ocean", "ocnBgchem"],
}
GROUPBY = [
    "activity_id", "institution_id", "source_id",
    "experiment_id", "table_id", "grid_label",
]


CATALOG_MEMBERS = 10


def catalog_inputs(seed: int, root: str) -> dict:
    """A catalog shaped like ``scripts/catalog_scale_demo.py:build_catalog``:
    the (activity, institution, source, experiment) cross times
    ``CATALOG_MEMBERS`` members, about 2/3 of which survive a sparsity draw,
    each with one random table / variable / grid: ~120k rows. ``realms`` is
    the array column (for membership search and explode);
    ``dcpp_init_year`` is null outside the DCPP activity (for null
    predicates)."""
    rng = np.random.default_rng([seed, 1])
    cross = np.array(
        np.meshgrid(
            np.arange(len(ACTIVITIES)), np.arange(len(INSTITUTIONS)),
            np.arange(len(SOURCES)), np.arange(len(EXPERIMENTS)),
            np.arange(1, CATALOG_MEMBERS + 1), indexing="ij",
        )
    ).reshape(5, -1)
    keep = rng.random(cross.shape[1]) >= 1 / 3
    a, i, s, e, m = cross[:, keep]
    n = a.size
    t = rng.integers(0, len(TABLES), n)
    v = rng.integers(0, len(VARIABLES), n)
    g = rng.integers(0, len(GRIDS), n)
    year = rng.integers(2000, 2020, n).astype("float64")
    cols = {
        "activity_id": np.array(ACTIVITIES)[a],
        "institution_id": np.array(INSTITUTIONS)[i],
        "source_id": np.array(SOURCES)[s],
        "experiment_id": np.array(EXPERIMENTS)[e],
        "member_id": np.char.add(np.char.add("r", m.astype(str)), "i1p1f1"),
        "table_id": np.array(TABLES)[t],
        "variable_id": np.array(VARIABLES)[v],
        "grid_label": np.array(GRIDS)[g],
    }
    zstore = np.full(n, "s3://bench-cmip6", dtype=object)
    for c in cols.values():
        zstore = zstore + "/" + c.astype(object)
    dcpp = np.array(ACTIVITIES)[a] == "DCPP"
    table = pa.table(
        {
            **{k: pa.array(c.tolist(), pa.string()) for k, c in cols.items()},
            "zstore": pa.array(zstore.tolist(), pa.string()),
            "dcpp_init_year": pa.array(year, mask=~dcpp),
            "realms": pa.array([REALMS[x] for x in cols["table_id"]],
                               pa.list_(pa.string())),
        }
    )
    os.makedirs(root, exist_ok=True)
    cat_path = os.path.join(root, "catalog.parquet")
    pq.write_table(table, cat_path)
    desc = {
        "esmcat_version": "0.1.0",
        "id": "bench-cmip6",
        "description": "seeded CMIP6-shaped catalog",
        "catalog_file": cat_path,
        "attributes": [{"column_name": c, "vocabulary": ""} for c in cols],
        "assets": {"column_name": "zstore", "format": "zarr"},
        "aggregation_control": {
            "variable_column_name": "variable_id",
            "groupby_attrs": GROUPBY,
            "aggregations": [
                {"type": "union", "attribute_name": "variable_id"},
                {"type": "join_new", "attribute_name": "member_id",
                 "options": {"coords": "minimal"}},
            ],
        },
    }
    desc_path = os.path.join(root, "catalog.json")
    with open(desc_path, "w") as f:
        json.dump(desc, f)
    return {"json": desc_path, "catalog": cat_path, "rows": n}


# -- catalog_path assembly: long-format parquet assets ---------------------

A_SOURCES = [f"ESM-{i}" for i in range(5)]
A_EXPERIMENTS = ["historical", "ssp126", "ssp245", "ssp585"]
A_MEMBERS = [f"r{i}i1p1f1" for i in range(1, 9)]
A_VARIABLES = ["tas", "pr", "psl", "ua", "va", "zg", "hus"]
A_TIMES, A_LATS, A_LONS = 8, 4, 4
DERIVED = ("wind_speed", ("ua", "va"))


def assembly_inputs(seed: int, root: str) -> dict:
    """One long-format parquet file per (source, experiment, member,
    variable): 5 x 4 x 8 x 7 = 1,120 assets of 8 x 4 x 4 grid points,
    143,360 value rows. Files sit in one directory per (source,
    experiment), so the whole catalog, above ``combine.MAX_DRIVER_PATHS``
    (1,024) assets, takes the directory scan and a search's selection the
    exact scan.
    Times are written as microseconds: Spark rejects parquet
    ``TIMESTAMP(NANOS)``, pyarrow's default for numpy datetimes."""
    rng = np.random.default_rng([seed, 2])
    base = datetime(2000, 1, 1, tzinfo=timezone.utc)
    step = 86_400 * 1_000_000 * 30
    t0 = int(base.timestamp() * 1_000_000)
    grid_t = np.repeat(np.arange(A_TIMES) * step + t0, A_LATS * A_LONS)
    grid_lat = np.tile(np.repeat(np.linspace(-60, 60, A_LATS), A_LONS), A_TIMES)
    grid_lon = np.tile(np.linspace(0, 270, A_LONS), A_TIMES * A_LATS)
    n_pts = grid_t.size
    time_arr = pa.array(grid_t, pa.timestamp("us", tz="UTC"))
    lat_arr, lon_arr = pa.array(grid_lat), pa.array(grid_lon)
    rows = []
    asset_dir = os.path.join(root, "assets")
    for src in A_SOURCES:
        for exp in A_EXPERIMENTS:
            d = os.path.join(asset_dir, src, exp)
            os.makedirs(d, exist_ok=True)
            for mem in A_MEMBERS:
                for var in A_VARIABLES:
                    path = os.path.join(d, f"{mem}_{var}.parquet")
                    values = np.round(rng.normal(0.0, 10.0, n_pts), 3)
                    pq.write_table(
                        pa.table({
                            "variable": pa.array([var] * n_pts, pa.string()),
                            "time": time_arr,
                            "lat": lat_arr,
                            "lon": lon_arr,
                            "value": pa.array(values),
                        }),
                        path,
                    )
                    rows.append((src, exp, mem, var, path))
    cat = pa.table({
        "source_id": [r[0] for r in rows],
        "experiment_id": [r[1] for r in rows],
        "member_id": [r[2] for r in rows],
        "variable_id": [r[3] for r in rows],
        "path": [r[4] for r in rows],
    })
    cat_path = os.path.join(root, "assets_catalog.parquet")
    pq.write_table(cat, cat_path)
    desc = {
        "esmcat_version": "0.1.0",
        "id": "bench-assets",
        "description": "seeded long-format asset catalog",
        "catalog_file": cat_path,
        "attributes": [{"column_name": c, "vocabulary": ""}
                       for c in ["source_id", "experiment_id", "member_id",
                                 "variable_id"]],
        "assets": {"column_name": "path", "format": "parquet"},
        "aggregation_control": {
            "variable_column_name": "variable_id",
            "groupby_attrs": ["source_id", "experiment_id"],
            "aggregations": [
                {"type": "union", "attribute_name": "variable_id"},
                {"type": "join_new", "attribute_name": "member_id",
                 "options": {"coords": "minimal"}},
            ],
        },
    }
    desc_path = os.path.join(root, "assets_catalog.json")
    with open(desc_path, "w") as f:
        json.dump(desc, f)
    return {"json": desc_path, "catalog": cat_path, "assets": len(rows),
            "value_rows": len(rows) * n_pts}


# -- llm_ingest: a RefinedWeb-style document corpus -------------------------

WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query a big key window row table stream merge "
    "data vector customer join the index shard token merge page site"
).split()
ACCENTED = ["cafe\u0301", "nai\u0308ve", "re\u0301sume\u0301"]  # decomposed, not NFC
LANGS = ["en", "de", "fr", "es", "zh"]


INGEST_BASE_DOCS, INGEST_COPIES = 400, 4


def ingest_inputs(seed: int, root: str, base_docs: int = INGEST_BASE_DOCS,
                  name: str = "documents") -> dict:
    """``base_docs`` seeded documents (the shape of the sf0.1
    ``documents.parquet``: doc_id, text, lang, source) amplified into
    ``INGEST_COPIES`` perturbed copies the way ``scripts/ingest_scale_run.py``
    amplifies: copy 0 is the original; copy i keeps the exact text when
    (doc_id + i) % 3 == 0 and otherwise appends a per-copy marker token.
    Every tenth base document starts with a shared boilerplate span and
    some words are written in decomposed (non-NFC) form."""
    rng = np.random.default_rng([seed, 3, base_docs])
    vocab = np.array(WORDS + ACCENTED, dtype=object)
    boiler = " ".join(rng.choice(WORDS, 12))
    base = []
    for d in range(base_docs):
        words = vocab[rng.integers(0, vocab.size, int(rng.integers(12, 90)))]
        text = " ".join(words)
        base.append(f"{boiler} {text}" if d % 10 == 0 else text)
    lang = rng.choice(LANGS, base_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    source = rng.integers(0, 20, base_docs)
    ids, texts, langs, sources = [], [], [], []
    for i in range(INGEST_COPIES):
        for d in range(base_docs):
            t = base[d]
            if i > 0 and (d + i) % 3 != 0:
                t = f"{t} copymark{i}"
            ids.append(d + i * 10_000_000)
            texts.append(t)
            langs.append(str(lang[d]))
            sources.append(f"src{source[d]}")
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, f"{name}.parquet")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
        }),
        path,
    )
    return {"documents": path, "docs": len(ids), "copies": INGEST_COPIES}
