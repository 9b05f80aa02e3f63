"""The workloads: inputs, op schedule, op execution and answer checks.

Every op goes through the engine's public API the way a user calls it. A
workload is driven as a closed loop by one client: ops run in fixed
cycles that hold each of the workload's op types once (the cheap query
ops of ``catalog_path`` twice; the order is fixed, the parameters are
drawn from the seed), so every run sees the same op mix.

``catalog_path`` is the paper's user path: the interactive query surface
over a large catalog (:class:`CatalogQueries`) and dataset assembly and
writes over a small asset catalog (:class:`AssetAssembly`), in one
session. ``llm_ingest`` is the shuffle-heavy ingest chain, which touches no
catalog or asset code.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

import numpy as np

import gen
import oracle


@dataclass
class Op:
    type: str
    params: dict = field(default_factory=dict)


def _zipf_pick(rng, pool: list, a: float = 1.4):
    """Zipf-like repeats: a few queries recur often, most rarely."""
    return pool[min(int(rng.zipf(a)) - 1, len(pool) - 1)]


# -- catalog queries ---------------------------------------------------------

class CatalogQueries:
    """The paper's interactive query surface over a ~120k-row catalog."""

    TYPES = ("search", "division", "keys", "profile")

    def __init__(self, seed: int, root: str):
        self.rng = np.random.default_rng([seed, 10])
        self.inputs = gen.catalog_inputs(seed, root)
        self.oracle = oracle.CatalogOracle(self.inputs["catalog"], gen.GROUPBY)
        r = self.rng
        exps, vars_, tables = gen.EXPERIMENTS, gen.VARIABLES, gen.TABLES

        def search_q(i):
            kind = i % 5
            e, t = str(r.choice(exps)), str(r.choice(tables))
            v1, v2 = (str(x) for x in r.choice(vars_, 2, replace=False))
            if kind == 0:
                return {"experiment_id": e, "variable_id": v1}
            if kind == 1:
                return {"variable_id": [v1, v2], "table_id": t}
            if kind == 2:
                return {"source_id": f"^MODEL-{int(r.integers(0, 3))}.*$",
                        "table_id": t}
            if kind == 3:
                return {"dcpp_init_year": None, "experiment_id": e}
            return {"realms": str(r.choice(["ocean", "atmos", "land"])),
                    "experiment_id": e}

        self.pools = {
            "search": [search_q(i) for i in range(20)],
            "division": [
                ({"variable_id": [str(x) for x in r.choice(vars_, 2, replace=False)],
                  "experiment_id": str(r.choice(exps))},
                 [str(r.choice(["source_id", "institution_id"]))])
                for _ in range(8)],
            "keys": [{"experiment_id": str(r.choice(exps)),
                      "table_id": str(r.choice(tables))} for _ in range(8)],
            "profile": [{"activity_id": str(r.choice(gen.ACTIVITIES)),
                         "experiment_id": str(r.choice(exps))}
                        for _ in range(8)],
        }

    def open(self, spark) -> None:
        from intake_esm_spark import open_esm_datastore

        self.cat = open_esm_datastore(self.inputs["json"], spark=spark)

    def draw(self, t: str) -> Op:
        p = _zipf_pick(self.rng, self.pools[t])
        if t == "division":
            return Op(t, {"query": p[0], "require_all_on": p[1]})
        return Op(t, {"query": p})

    def run(self, op: Op, ctx) -> object:
        q = op.params["query"]
        sub = self.cat.search(
            require_all_on=op.params.get("require_all_on"), **q)
        ctx.user_action()
        if op.type in ("search", "division"):
            return sub.df.count()
        if op.type == "keys":
            return len(sub), sub.keys()
        return sub.nunique(), sub.unique()

    def check(self, op: Op, got) -> bool:
        q, o = op.params["query"], self.oracle
        if op.type == "search":
            return got == o.count(q)
        if op.type == "division":
            return got == o.division_count(q, op.params["require_all_on"])
        if op.type == "keys":
            want = o.keys(q)
            return got[0] == len(want) and got[1] == want
        return got[0] == o.nunique(q) and got[1] == o.unique(q)

    def selectivity(self, op_type: str, got) -> float | None:
        """Rows a search returned over the rows it scanned."""
        return got / self.oracle.rows if op_type == "search" else None


# -- dataset assembly --------------------------------------------------------

class AssetAssembly:
    """A 1,120-asset catalog: search -> to_dataset_dict -> per-dataset
    reduce (exact scan); the whole-catalog reduce above the exact-scan
    limit (directory scan); and writes. No search repeats."""

    TYPES = ("assemble", "directory", "write")

    def __init__(self, seed: int, root: str):
        self.rng = np.random.default_rng([seed, 20])
        self.inputs = gen.assembly_inputs(seed, root)
        self.oracle = oracle.AssemblyOracle(
            self.inputs["catalog"], os.path.join(root, "assets", "*", "*",
                                                 "*.parquet"), gen.DERIVED)
        r = self.rng
        src, exps, mems, vars_ = (gen.A_SOURCES, gen.A_EXPERIMENTS,
                                  gen.A_MEMBERS, gen.A_VARIABLES)

        def pick(pool, k):
            return [str(x) for x in r.choice(pool, k, replace=False)]

        plain = [v for v in vars_ if v not in gen.DERIVED[1]]
        # every assemble op has the same shape: one source, two
        # experiments (two datasets), three members, two variables and the
        # derived one, whose two dependencies the search pulls in
        self.assembles = [
            {"source_id": pick(src, 1)[0], "experiment_id": pick(exps, 2),
             "member_id": pick(mems, 3),
             "variable_id": pick(plain, 2) + [gen.DERIVED[0]]}
            for _ in range(64)]
        self.writes = [{"source_id": pick(src, 1)[0],
                        "experiment_id": pick(exps, 1)[0],
                        "variable_id": pick(vars_, 2)} for _ in range(64)]
        # each pool is walked in a seeded order, so no query repeats
        self.order = {t: iter(r.permutation(64)) for t in
                      ("assemble", "write")}

    def open(self, spark) -> None:
        from pyspark.sql import functions as F

        from intake_esm_spark import open_esm_datastore
        from intake_esm_spark.derived import DerivedVariableRegistry, elementwise

        name, deps = gen.DERIVED
        reg = DerivedVariableRegistry()
        reg.register(
            elementwise(name, list(deps), lambda a, b: F.sqrt(a * a + b * b)),
            variable=name, query={"variable_id": list(deps)})
        self.spark = spark
        self.cat = open_esm_datastore(self.inputs["json"], spark=spark,
                                      registry=reg)

    def draw(self, t: str) -> Op:
        if t == "directory":
            # the whole catalog: above combine.MAX_DRIVER_PATHS (1,024)
            # assets, so the directory scan
            return Op(t, {"query": {}})
        pool = {"assemble": self.assembles, "write": self.writes}[t]
        return Op(t, {"query": pool[int(next(self.order[t]))]})

    def run(self, op: Op, ctx) -> object:
        from pyspark.sql import functions as F

        q = op.params["query"]
        if op.type == "assemble":
            dsets = self.cat.search(**q).to_dataset_dict()
            ctx.user_action()
            out = {}
            for key, ds in dsets.items():
                for row in (ds.groupBy("time", "variable")
                            .agg(F.count(F.lit(1)).alias("n"),
                                 F.sum("value").alias("s"))
                            .select(F.unix_micros("time").alias("t"),
                                    "variable", "n", "s").collect()):
                    out[(key, row.t, row.variable)] = (row.n, row.s)
            return out
        if op.type == "directory":
            combined = self.cat.to_dataframe()
            ctx.user_action()
            return {(r.key, None, r.variable): (r.n, r.s) for r in (
                combined.groupBy("key", "variable")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
                .collect())}
        from intake_esm_spark import open_esm_datastore

        out = os.path.join(ctx.scratch, f"w{ctx.op_id}")
        sub = self.cat.search(**q)
        ctx.user_action()
        sub.to_parquet(os.path.join(out, "data"))
        path = sub.serialize("subset", directory=os.path.join(out, "cat"),
                             catalog_type="file")
        return open_esm_datastore(path, spark=self.spark).df.count(), out

    def check(self, op: Op, got) -> bool:
        q, o = op.params["query"], self.oracle
        if op.type == "assemble":
            return oracle.same_reduce(got, o.reduce(q))
        if op.type == "directory":
            return oracle.same_reduce(got, o.reduce(q, by_key_only=True,
                                                    derived=False))
        n_cat, out = got
        try:
            want = o.reduce(q, derived=False)
            n, s = o.written(os.path.join(out, "data"))
            return (n_cat == o.catalog_rows(q)
                    and n == sum(v[0] for v in want.values())
                    and oracle.close(s, sum(v[1] for v in want.values())))
        finally:
            shutil.rmtree(out, ignore_errors=True)


class CatalogPath:
    """The paper's user path in one session, the order of
    ``scripts/verify_drive.py``: query the large catalog (search,
    require_all_on, keys, unique/nunique), then assemble datasets from the
    asset catalog, reduce the whole asset catalog, and write a subset."""

    name = "catalog_path"

    def __init__(self, seed: int, root: str, keep: str):
        self.queries = CatalogQueries(seed, root)
        self.assembly = AssetAssembly(seed, root)
        self.TYPES = self.queries.TYPES + self.assembly.TYPES
        self.part = {t: p for p in (self.queries, self.assembly)
                     for t in p.TYPES}

    def open(self, spark) -> None:
        self.queries.open(spark)
        self.assembly.open(spark)

    def first_op(self) -> Op:
        return Op("search", {"query": self.queries.pools["search"][0]})

    def warmup_ops(self) -> list[Op]:
        # a first assemble runs ~2.5x its warm time and a run may hold
        # only two; the query ops run at least four times a run, so their
        # cold first run is left out of their medians without a warm-up
        return [self.assembly.draw(t) for t in self.assembly.TYPES]

    def cycle(self) -> list[Op]:
        # the query ops run twice per cycle: they take 0.05-0.5 s and vary
        # most, so their medians need the samples; the gated metrics weigh
        # each op type once whatever its count
        types = self.queries.TYPES * 2 + self.assembly.TYPES
        return [self.part[t].draw(t) for t in types]

    def run(self, op: Op, ctx) -> object:
        return self.part[op.type].run(op, ctx)

    def check(self, op: Op, got) -> bool:
        return self.part[op.type].check(op, got)

    def selectivity(self, op_type: str, got) -> float | None:
        return self.queries.selectivity(op_type, got)


# -- llm_ingest --------------------------------------------------------------

STAGES = ["nfc", "line_dedup", "span_dedup", "exact_dedup", "near_dedup",
          "quality_gates", "mixture", "pack_write"]
REMOVAL = STAGES[1:7]


class LLMIngest:
    """The RefinedWeb-style chain of ``scripts/ingest_scale_run.py``; one
    op is one stage, one cycle is one full pass over the corpus."""

    name = "llm_ingest"
    TYPES = tuple(STAGES)
    LSH = {"num_hashes": 32, "bands": 8, "shingle_n": 5}

    def __init__(self, seed: int, root: str, keep: str):
        self.inputs = gen.ingest_inputs(seed, root)
        # the warm-up pass runs the same chain over a corpus an eighth the
        # size: it goes through every code path at a fraction of the time
        self.warm_inputs = gen.ingest_inputs(
            seed, root, gen.INGEST_BASE_DOCS // 8, name="warmup")
        self.copies = self.inputs["copies"]
        # per-stage row counts of earlier runs of this seed, kept in ``keep``
        self.reference_path = os.path.join(keep, f"ingest_counts_seed{seed}.json")
        self.reference: dict[str, int] = {}
        if os.path.exists(self.reference_path):
            with open(self.reference_path) as f:
                self.reference = json.load(f)

    def open(self, spark) -> None:
        self.spark = spark
        self.corpora = {
            "main": spark.read.parquet(self.inputs["documents"]),
            "warmup": spark.read.parquet(self.warm_inputs["documents"]),
        }
        self.state: dict = {}

    def first_op(self) -> Op:
        return Op("load", {"corpus": "main"})

    def warmup_ops(self) -> list[Op]:
        return [Op(s, {"corpus": "warmup"}) for s in STAGES]

    def cycle(self) -> list[Op]:
        return [Op(s, {"corpus": "main"}) for s in STAGES]

    def run(self, op: Op, ctx) -> object:
        from pyspark.sql import functions as F

        from intake_esm_spark.functions import encoding as enc
        from intake_esm_spark.functions import text as tx
        from intake_esm_spark.operators import (dedup, mixing, packing, spans,
                                                structural)

        st, mult = self.state, self.copies

        def done(df):
            df = df.localCheckpoint(eager=True)
            return df, df.count()

        corpus = self.corpora[op.params["corpus"]]
        ctx.user_action()
        if op.type == "load":
            n = corpus.count()
            return n, n
        if op.type == "nfc":
            n_in = corpus.count()
            st["docs"], st["n"] = done(corpus.withColumn(
                "text", enc.nfc_text(F.col("text"))))
            return n_in, st["n"]
        docs = st["docs"]
        n_in = st["n"]
        if op.type == "line_dedup":
            w = 8
            seg = docs.select("doc_id", F.split(F.col("text"), " ").alias("__ws"))
            nch = F.ceil(F.size("__ws") / F.lit(float(w))).cast("int")
            chunks = F.transform(
                F.sequence(F.lit(0), nch - 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("__ws"), i * w + 1, w)))
            seg = seg.select("doc_id", chunks.alias("__chunks"))
            report = structural.duplicated_lines(
                seg, id_col="doc_id", lines=F.col("__chunks"),
                min_doc_freq=max(2, 2 * mult)).localCheckpoint()
            cleaned = structural.line_dedup_against(
                seg, report, id_col="doc_id", lines=F.col("__chunks"),
                join_sep=" ").select("doc_id", "text")
            out = cleaned.join(docs.select("doc_id", "lang", "source"), "doc_id")
        elif op.type == "span_dedup":
            sp = spans.span_dedup(docs, n=5, min_doc_freq=max(4, mult + 2),
                                  min_run=3)
            out = sp.join(docs.select("doc_id", "lang", "source"),
                          "doc_id").filter(F.col("text") != "")
        elif op.type == "exact_dedup":
            out = dedup.dedup_exact(docs)
        elif op.type == "near_dedup":
            st["near_input"] = docs
            pairs = dedup.near_duplicates(docs, **self.LSH, threshold=0.8)
            losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
            out = docs.join(losers, "doc_id", "left_anti")
        elif op.type == "quality_gates":
            wts = tx.hashed_bow_weights(64, salt="qw6")
            staged = docs.select("doc_id", "lang", "source", "text",
                                 tx.words_array(F.col("text")).alias("__w"))
            enriched = staged.select(
                "doc_id", "lang", "source", "text",
                tx.ws_token_count(F.col("text")).cast("bigint").alias("n_tokens"),
                F.round(tx.hashed_bow_logit(F.col("__w"), wts, salt="qf"),
                        6).alias("logit"))
            out = enriched.filter((F.col("n_tokens") >= 5)
                                  & (F.col("logit") >= -0.5))
        elif op.type == "mixture":
            sources = sorted(
                r["source"] for r in docs.groupBy("source").count()
                .orderBy(F.desc("count"), F.asc("source")).limit(3).collect())
            weights = dict(zip(sources, [2.0, 1.0, 1.0]))
            out = mixing.apply_mixture(docs, weights, size_col=F.col("n_tokens"))
        else:
            path = os.path.join(ctx.scratch, f"pack{ctx.op_id}")
            packing.write_packed_corpus(
                docs.select("doc_id", "n_tokens"), path, "n_tokens",
                budget=2048, key_col="doc_id", salt="bench",
                bins_per_shard=8, n_buckets=64)
            n = self.spark.read.parquet(path).count()
            ctx.cleanup.append(path)
            return n_in, n
        st["docs"], st["n"] = done(out)
        return n_in, st["n"]

    def check(self, op: Op, got) -> bool:
        n_in, n_out = got
        corpus = op.params["corpus"]
        docs = (self.inputs if corpus == "main" else self.warm_inputs)["docs"]
        if op.type == "load":
            return n_out == docs
        if op.type == "nfc" and n_in != docs:
            return False
        if op.type in REMOVAL and n_out > n_in:
            return False
        if op.type in ("nfc", "pack_write") and n_out != n_in:
            return False
        # every pass reads the same input, so each stage must repeat the
        # row count of the first pass and of earlier runs of this seed
        if self.reference.setdefault(f"{corpus}/{op.type}", n_out) != n_out:
            return False
        with open(self.reference_path, "w") as f:
            json.dump(self.reference, f)
        return True

    def lsh_counts(self) -> dict[str, int]:
        """Candidate pairs of the LSH banding and the pairs verified above
        the Jaccard threshold, recounted after a traced ``near_dedup`` op
        (outside its timed region) for the precision counter."""
        from intake_esm_spark.operators import dedup

        docs = self.state["near_input"]
        return {
            "lsh_candidates": dedup.minhash_lsh_candidates(
                docs, **self.LSH).count(),
            "verified_pairs": dedup.near_duplicates(
                docs, **self.LSH, threshold=0.8).count(),
        }


WORKLOADS = {w.name: w for w in (CatalogPath, LLMIngest)}
