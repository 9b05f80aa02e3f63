"""Benchmark of the intake-esm-spark engine: one command, one workload.

    python3 perfbench/run.py --workload catalog_path --seed 1 \\
        --seconds 20 --trace 0

Run from the root of a source checkout. Each run is a closed loop with one
client on ``local[<cores>]``:

1. generate the seeded inputs (numpy + pyarrow; benchmark code, reported
   as ``gen_s`` and not counted as set-up);
2. set up once, cold, the way a user's session starts: launch the JVM and
   start the session, open the catalogs or read the corpus, run the
   workload's first op, then warm up (one op of each assembly type on
   ``catalog_path``; one full pass over a small warm-up corpus on
   ``llm_ingest``); ``setup_s`` is the whole of it;
3. run ops in cycles (each op type once, the query ops of
   ``catalog_path`` twice; one full pass on ``llm_ingest``) until
   ``--seconds`` have passed and every op type has run at least twice,
   checking every answer against an oracle over the same files outside
   the op's timed region. The time is checked before each op, so a run
   may end inside a cycle. Latency and throughput are taken from each op
   type's median, which a stall of the host in one op moves little and
   which does not depend on where the run ended.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` rebinds the
engine's layer functions to record spans and reads Spark job and stage
counters after every other op of each type; it prints the per-layer
metrics, the tracing overhead (traced ops against untraced ops of the same
type, for the types warmed up in set-up), and writes every span with its
self time to ``.perfbench_work/traces/<workload>-seed<seed>.json``.

Earlier lines of standard output are a readable report (every metric of
the workload by name and unit, the failing ops, the tail percentile and
its sample count); the last line is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ["catalog_path", "llm_ingest"]
MIN_SAMPLES = 2


class Ctx:
    """Per-op context handed to a workload's ``run``."""

    def __init__(self, op_id: int, scratch: str):
        self.op_id, self.scratch = op_id, scratch
        self.mark: float | None = None
        self.cleanup: list[str] = []

    def user_action(self) -> None:
        """Called right before the benchmark's own action (count, collect,
        write); Spark jobs submitted earlier in the op count as eager."""
        self.mark = time.time()


def _cpu_times() -> list[int]:
    """The machine-wide CPU time counters of ``/proc/stat`` (jiffies)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it (the
    maximum when there are fewer than eleven samples)."""
    v = sorted(values)
    if len(v) < 11:
        return v[-1], 100.0, len(v)
    return v[len(v) - 11], 100.0 * (len(v) - 10) / len(v), len(v)


class Runner:
    def __init__(self, args, work: str):
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.scratch = os.path.join(work, "scratch")
        os.makedirs(self.scratch, exist_ok=True)
        self.records: list[dict] = []
        t0 = time.perf_counter()
        self.w = WORKLOADS[args.workload](
            args.seed, os.path.join(work, "inputs"), os.path.dirname(work))
        self.gen_s = time.perf_counter() - t0
        self.tracer = None
        self.spark = None

    # -- session --------------------------------------------------------
    def start_session(self):
        from intake_esm_spark import session

        tmp = os.environ["TMPDIR"]
        self.spark = session.get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer is not None:
            self.tracer.attach(self.spark.sparkContext)
        return self.spark

    # -- one op -----------------------------------------------------------
    def run_op(self, op, phase: str, traced: bool = False,
               prelude=None) -> dict:
        """Time, trace and check one op; ``prelude`` runs first, inside the
        timed region (the session start and open of the set-up)."""
        from tracing import op_counters

        op_id = len(self.records)
        ctx = Ctx(op_id, self.scratch)
        tr = self.tracer
        if traced:
            tr.active = True
            tr.begin_op(op_id)
        t0_epoch, err, got = time.time(), None, None
        t0 = time.perf_counter()
        try:
            if prelude is not None:
                prelude()
            got = self.w.run(op, ctx)
        except Exception:
            err = traceback.format_exc(limit=3)
        wall = time.perf_counter() - t0
        rec = dict(id=op_id, type=op.type, phase=phase, wall=wall,
                   traced=traced, params=op.params, start=t0_epoch,
                   mark=ctx.mark, info={})
        if traced:
            tr.active = False
            tr.end_op()
            rec["counters"] = op_counters(self.spark.sparkContext, tr.groups)
            if op.type == "near_dedup":
                rec["info"].update(self.w.lsh_counts())
        if err is None:
            try:
                ok = bool(self.w.check(op, got))
            except Exception:
                ok, err = False, traceback.format_exc(limit=3)
        else:
            ok = False
        rec["ok"], rec["error"] = ok, err
        rec["got"] = got
        for path in ctx.cleanup:
            shutil.rmtree(path, ignore_errors=True)
        self.records.append(rec)
        return rec

    def setup(self, traced: bool) -> None:
        """Start the session, open the workload, run its first op and the
        warm-up ops: what a user waits for before the first warm answer."""

        def prelude():
            self.start_session()
            self.w.open(self.spark)

        self.open_s = self.run_op(self.w.first_op(), "setup", traced,
                                  prelude)["wall"]
        self.warmup_s = sum(self.run_op(op, "warmup")["wall"]
                            for op in self.w.warmup_ops())
        self.setup_s = self.open_s + self.warmup_s

    # -- the run ------------------------------------------------------------
    def run(self) -> None:
        args = self.args
        if args.trace:
            import tracing as tr_mod

            self.tracer = tr_mod.Tracer(None)
            install_spans(self.tracer)
        self.setup(bool(args.trace))
        cpu0 = _cpu_times()
        t_start = time.perf_counter()
        cycles = 0
        seen = dict.fromkeys(self.w.TYPES, 0)

        def done() -> bool:
            return (time.perf_counter() - t_start >= args.seconds
                    and min(seen.values()) >= MIN_SAMPLES)

        while not done():
            for op in self.w.cycle():
                if done():
                    break
                # a traced run traces every other op of each type, starting
                # with the first, so every type has traced and untraced
                # samples
                traced = bool(args.trace) and seen[op.type] % 2 == 0
                seen[op.type] += 1
                rec = self.run_op(op, "measure", traced)
                rec["cycle"] = cycles
            cycles += 1
        self.cycles = cycles
        # share of CPU time the hypervisor gave to other guests while the
        # cycles ran ("steal"): the main cause of slow runs on a shared host
        delta = [b - a for a, b in zip(cpu0, _cpu_times())]
        self.steal_frac = delta[7] / sum(delta) if len(delta) > 7 else 0.0
        self.spark.stop()
        if self.tracer is not None:
            self.tracer.restore()


def _stop_jvm() -> None:
    """End the JVM the session launched and wait for it; closing its stdin
    is pyspark's own signal for the gateway to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def install_spans(tracer) -> None:
    """Rebind each layer's public functions at the names their callers
    look up, so the calls record spans."""
    from intake_esm_spark import datastore, derived, session
    from intake_esm_spark.functions import encoding, text
    from intake_esm_spark.operators import (combine, dedup, grouping, mixing,
                                            packing, spans, structural)
    from intake_esm_spark.plans import query
    from intake_esm_spark.sources import assets, catalog_io

    w = tracer.wrap
    w(session, "get_spark", "session.get_spark")
    w(catalog_io, "load_catalog", "catalog_io.load_catalog")
    w(catalog_io, "save_catalog", "catalog_io.save_catalog")
    w(assets, "read_assets", "assets.read_assets", on_result=_asset_files)
    w(query.Query, "normalize", "plans.normalize")
    w(datastore, "base_search", "plans.search")
    w(datastore, "apply_require_all_on", "division.apply_require_all_on")
    for name in ("effective_groupby_attrs", "null_profile", "group_keys",
                 "unique", "nunique"):
        w(grouping, name, f"grouping.{name}")
    for name in ("search", "keys", "__len__", "unique", "nunique",
                 "to_dataset_dict", "to_dataframe", "to_parquet", "serialize",
                 "_catalog_dataset_variables"):
        w(datastore.ESMDataStore, name, f"datastore.{name}")
    w(datastore, "open_asset_union", "combine.open_asset_union")
    w(combine, "_scan_plan", "combine.scan_plan",
      on_result=lambda s, a, k, r: s.info.update(exact=bool(r[1])))
    w(derived.DerivedVariableRegistry, "update_datasets",
      "derived.update_datasets")
    w(encoding, "nfc_text", "encoding.nfc_text")
    for name in ("words_array", "ws_token_count", "hashed_bow_weights",
                 "hashed_bow_logit"):
        w(text, name, f"text.{name}")
    w(structural, "duplicated_lines", "structural.duplicated_lines")
    w(structural, "line_dedup_against", "structural.line_dedup_against")
    w(spans, "span_dedup", "spans.span_dedup")
    w(dedup, "dedup_exact", "dedup.dedup_exact")
    w(dedup, "near_duplicates", "dedup.near_duplicates")
    w(mixing, "apply_mixture", "mixing.apply_mixture")
    w(packing, "write_packed_corpus", "packing.write_packed_corpus")


def _asset_files(span, args, kwargs, result) -> None:
    """Files and bytes behind the paths handed to an asset reader."""
    files = size = 0
    for p in args[2]:
        if os.path.isdir(p):
            for d, _, names in os.walk(p):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(d, n))
        elif os.path.exists(p):
            files += 1
            size += os.path.getsize(p)
    span.info.update(files=files, bytes=size)


# -- metrics -------------------------------------------------------------------

def end_to_end(r: Runner, rss_mb: float) -> tuple[dict, dict]:
    """(gated metrics, report-only metrics) from the measured ops.

    Each op type's median latency stands for that type. ``ops_per_s`` is
    the closed loop's throughput with every type at its median: op types
    per cycle over the sum of their medians, so the slow types weigh most.
    ``op_p50_gmean_s`` is the geometric mean of those medians, so halving
    any one type's latency moves it by the same share. Both use the ops'
    own time: the answer checks between ops are left out."""
    meas = [x for x in r.records if x["phase"] == "measure"]
    walls = [x["wall"] for x in meas]
    tail, pct, n = _tail(walls)
    by_type: dict[str, list[dict]] = {}
    for x in meas:
        by_type.setdefault(x["type"], []).append(x)
    p50 = {t: statistics.median(x["wall"] for x in xs)
           for t, xs in by_type.items()}
    cycle_s = sum(p50.values())
    gated = {
        "setup_s": (r.setup_s, "s"),
        "ops_per_s": (len(p50) / cycle_s, "1/s"),
        "op_p50_gmean_s": (
            math.exp(statistics.fmean(math.log(v) for v in p50.values())),
            "s"),
    }
    report = {
        # the median op type's median: one type's few samples set it
        "op_p50_s": (statistics.median(p50.values()), "s"),
        # with the 16-40 ops a run holds, this is the 38th-75th percentile
        # and moves between op types from run to run: reported, not gated
        "op_tail_s": (tail, "s"),
        # varies by more than a tenth between runs (JVM heap growth), so
        # it is a per-layer metric, not a gated one
        "peak_rss_mb": (rss_mb, "MB"),
        "op_tail_percentile": (pct, "%"),
        "op_samples": (n, "count"),
        "error_rate": (sum(not x["ok"] for x in r.records) / len(r.records),
                       "ratio"),
        "gen_s": (r.gen_s, "s"),
        "open_s": (r.open_s, "s"),
        "warmup_s": (r.warmup_s, "s"),
        "cycles": (r.cycles, "count"),
        "host_steal_frac": (r.steal_frac, "ratio"),
        "cycle_p50_s": (cycle_s, "s"),
    }
    for t, v in sorted(p50.items()):
        report[f"{t}_p50_s"] = (v, "s")
        report[f"{t}_samples"] = (len(by_type[t]), "count")
    if r.args.workload == "catalog_path":
        asm = by_type.get("assemble", [])
        rows = sum(sum(v[0] for v in x["got"].values())
                   for x in asm if x["ok"])
        secs = sum(x["wall"] for x in asm if x["ok"])
        report["assembled_rows_per_s"] = (rows / secs if secs else None, "1/s")
    if r.args.workload == "llm_ingest":
        # one pass with every stage at its median
        report["ingest_docs_per_s"] = (r.w.inputs["docs"] / cycle_s, "1/s")
    return gated, report


def _within(tracer, root: int) -> set[int]:
    """Indices of span ``root`` and all its descendants."""
    out = {root}
    for i in range(root + 1, len(tracer.spans)):
        if tracer.spans[i].parent in out:
            out.add(i)
    return out


def per_layer(r: Runner, rss_mb: float) -> dict:
    """Per-layer metrics from the traced ops: each value is a mean per op
    that entered the layer (0 when no op did)."""
    from tracing import busy_intervals_s

    tr = r.tracer
    traced = [x for x in r.records if x["traced"]]
    setup = [x for x in traced if x["phase"] == "setup"]
    meas = [x for x in traced if x["phase"] == "measure"]
    spans_by_op: dict[int, list[int]] = {}
    for i, s in enumerate(tr.spans):
        spans_by_op.setdefault(s.op, []).append(i)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m: dict[str, float] = {}

    def mean(xs):
        xs = [x for x in xs if x is not None]
        return sum(xs) / len(xs) if xs else 0.0

    def span_s(names, ops=meas):
        per_op = []
        for x in ops:
            idx = [i for i in spans_by_op.get(x["id"], [])
                   if tr.spans[i].name in names]
            # nested calls of the same layer count once (outermost span)
            idx = [i for i in idx if tr.spans[i].parent not in idx]
            if idx:
                per_op.append(sum(tr.spans[i].end - tr.spans[i].start
                                  for i in idx))
        return mean(per_op)

    def span_jobs(names, ops=meas):
        per_op = []
        for x in ops:
            idx = [i for i in spans_by_op.get(x["id"], [])
                   if tr.spans[i].name in names]
            if not idx:
                continue
            groups = {tr.spans[j].group for i in idx for j in _within(tr, i)}
            per_op.append(sum(1 for j in x["counters"]["jobs"].values()
                              if j["group"] in groups))
        return mean(per_op)

    def of_type(types):
        return [x for x in meas if x["type"] in types]

    def spans_info(name, key, ops=meas):
        per_op = []
        for x in ops:
            vals = [tr.spans[i].info.get(key) for i in spans_by_op.get(x["id"], [])
                    if tr.spans[i].name == name]
            if vals:
                per_op.append(sum(v for v in vals if v is not None))
        return mean(per_op)

    mb = 1e6
    m["session.get_spark_s"] = span_s({"session.get_spark"}, setup)
    m["catalog_io.load_s"] = span_s({"catalog_io.load_catalog"}, setup + meas)
    m["catalog_io.save_s"] = span_s({"catalog_io.save_catalog"})
    m["assets.read_assets_s"] = span_s({"assets.read_assets"})
    m["assets.files"] = spans_info("assets.read_assets", "files")
    m["assets.input_mb"] = spans_info("assets.read_assets", "bytes") / mb
    m["plans.normalize_s"] = span_s({"plans.normalize"})
    m["plans.search_s"] = span_s({"plans.search"})
    m["plans.selectivity"] = mean([
        r.w.selectivity(x["type"], x["got"]) for x in of_type({"search"})
        if x["ok"]])
    div = of_type({"division"})
    m["division.apply_s"] = span_s({"division.apply_require_all_on"})
    m["division.jobs"] = mean([len(x["counters"]["jobs"]) for x in div])
    m["division.shuffle_mb"] = mean(
        [x["counters"]["shuffle_write_b"] / mb for x in div])
    m["grouping.effective_attrs_s"] = span_s({"grouping.effective_groupby_attrs"})
    m["grouping.null_profile_jobs"] = span_jobs({"grouping.null_profile"})
    m["grouping.group_keys_s"] = span_s({"grouping.group_keys"})
    m["grouping.unique_s"] = span_s({"grouping.unique"})
    m["grouping.nunique_s"] = span_s({"grouping.nunique"})
    ds_names = {s.name for s in tr.spans if s.name.startswith("datastore.")}
    m["datastore.search_s"] = span_s({"datastore.search"})
    m["datastore.keys_s"] = span_s({"datastore.keys", "datastore.__len__"})
    m["datastore.to_dataset_dict_s"] = span_s({"datastore.to_dataset_dict"})
    m["datastore.eager_jobs"] = mean([
        sum(1 for j in x["counters"]["jobs"].values()
            if x["mark"] is not None and j["start"] is not None
            and j["start"] < x["mark"]) for x in meas
        if any(tr.spans[i].name in ds_names for i in spans_by_op.get(x["id"], []))])
    m["datastore.driver_s"] = mean([
        x["wall"] - busy_intervals_s(x["counters"]["jobs"]) for x in meas])
    asm = of_type({"assemble", "directory", "write"})
    m["combine.open_asset_union_s"] = span_s({"combine.open_asset_union"})
    m["combine.scan_plan_jobs"] = span_jobs({"combine.scan_plan"})
    m["combine.exact_ops"] = spans_info("combine.scan_plan", "exact")
    m["combine.directory_ops"] = mean([
        sum(1 for i in spans_by_op.get(x["id"], [])
            if tr.spans[i].name == "combine.scan_plan"
            and not tr.spans[i].info.get("exact")) for x in asm
        if any(tr.spans[i].name == "combine.scan_plan"
               for i in spans_by_op.get(x["id"], []))])
    reduces = [x for x in of_type({"assemble", "directory"}) if x["ok"]]
    m["combine.rows_kept_ratio"] = mean([
        sum(v[0] for v in x["got"].values()) / x["counters"]["input_records"]
        for x in reduces if x["counters"]["input_records"]])
    m["combine.exec_s"] = mean([
        sum(j["executor_run_s"] for j in x["counters"]["jobs"].values()
            if x["mark"] is None or j["start"] is None
            or j["start"] >= x["mark"]) for x in reduces])
    m["derived.update_datasets_s"] = span_s({"derived.update_datasets"})
    m["derived.probe_jobs"] = span_jobs(
        {"derived.update_datasets", "datastore._catalog_dataset_variables"})
    from workloads import STAGES

    names = {"nfc": "encoding.nfc", "quality_gates": "text.quality_gates"}
    for stage in STAGES:
        xs = of_type({stage})
        key = names.get(stage, stage)
        m[f"{key}_s"] = mean([x["wall"] for x in xs])
        m[f"{stage}.rows_in"] = mean([x["got"][0] for x in xs if x["ok"]])
        m[f"{stage}.rows_out"] = mean([x["got"][1] for x in xs if x["ok"]])
        m[f"{stage}.shuffle_mb"] = mean(
            [x["counters"]["shuffle_write_b"] / mb for x in xs])
    near = of_type({"near_dedup"})
    m["dedup.lsh_candidates"] = mean([x["info"].get("lsh_candidates") for x in near])
    m["dedup.lsh_precision"] = mean([
        x["info"]["verified_pairs"] / x["info"]["lsh_candidates"]
        for x in near if x["info"].get("lsh_candidates")])
    c = [x["counters"] for x in meas]
    m["spark.jobs"] = mean([len(k["jobs"]) for k in c])
    m["spark.stages"] = mean([k["stages"] for k in c])
    m["spark.tasks"] = mean([k["tasks"] for k in c])
    m["spark.tasks_failed"] = mean([k["tasks_failed"] for k in c])
    m["spark.shuffle_write_mb"] = mean([k["shuffle_write_b"] / mb for k in c])
    m["spark.input_mb"] = mean([k["input_b"] / mb for k in c])
    m["spark.executor_run_s"] = mean([k["executor_run_s"] for k in c])
    m["spark.busy_frac"] = mean([
        x["counters"]["executor_run_s"] / (x["wall"] * cores) for x in meas])
    # tracing overhead: per op type, median traced op against median
    # untraced op of the same run; the median over types. Only types warmed
    # up in set-up count, so no cold first run is taken for overhead.
    warmed = {x["type"] for x in r.records if x["phase"] == "warmup"}
    ratios = []
    for t in {x["type"] for x in meas} & warmed:
        on = [x["wall"] for x in meas if x["type"] == t]
        off = [x["wall"] for x in r.records if x["phase"] == "measure"
               and not x["traced"] and x["type"] == t]
        if off:
            ratios.append(statistics.median(on) / statistics.median(off) - 1)
    m["trace.overhead_frac"] = statistics.median(ratios) if ratios else 0.0
    m["peak_rss_mb"] = rss_mb
    return m


def write_trace(r: Runner, path: str, layer: dict) -> None:
    tr = r.tracer
    self_t = tr.self_times()
    spans = [dict(name=s.name, start=s.start, end=s.end, parent=s.parent,
                  op=s.op, self_s=st, info=s.info)
             for s, st in zip(tr.spans, self_t)]
    totals: dict[str, list[float]] = {}
    for s, st in zip(tr.spans, self_t):
        t = totals.setdefault(s.name, [0, 0.0, 0.0])
        t[0] += 1
        t[1] += s.end - s.start
        t[2] += st
    ops = [{k: v for k, v in x.items() if k != "got"}
           for x in r.records]
    for x in ops:
        if "counters" in x:
            x["counters"] = {k: v for k, v in x["counters"].items()
                             if k != "jobs"} | {
                "jobs": {str(k): v for k, v in x["counters"]["jobs"].items()}}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({
            "workload": r.args.workload, "seed": r.args.seed,
            "per_layer": layer,
            "span_totals": {k: dict(calls=v[0], total_s=v[1], self_s=v[2])
                            for k, v in sorted(totals.items())},
            "ops": ops, "spans": spans,
        }, f, default=str)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "intake_esm_spark", "__init__.py")):
        print(f"perfbench: no engine source (intake_esm_spark/) under {ROOT}",
              file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # the launcher JVM that spark-submit starts first: no files in /tmp
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    sys.path[:0] = [ROOT, HERE]
    from tracing import RssSampler

    try:
        with RssSampler() as rss:
            runner = Runner(args, work)
            runner.run()
        gated, report = end_to_end(runner, rss.peak_mb)
        failures = [dict(id=x["id"], type=x["type"], phase=x["phase"],
                         params=x["params"],
                         error=(x["error"] or "wrong answer").strip()[-400:])
                    for x in runner.records if not x["ok"]]
        print(f"workload {args.workload} seed {args.seed}: "
              f"{len(runner.records)} ops "
              f"({sum(x['phase'] == 'measure' for x in runner.records)} "
              f"measured), {len(failures)} failed")
        for k, (v, unit) in {**gated, **report}.items():
            print(f"  {k:28s} {v} {unit}")
        for f in failures:
            print(f"  FAILED {json.dumps(f, default=str)}")
        if args.trace:
            layer = per_layer(runner, rss.peak_mb)
            trace_path = os.path.join(base, "traces",
                                      f"{args.workload}-seed{args.seed}.json")
            write_trace(runner, trace_path, layer)
            print(f"  trace written to {os.path.relpath(trace_path, ROOT)}")
            for k, v in layer.items():
                print(f"  {k:28s} {v}")
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in layer.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in gated.items()}
        print(json.dumps({
            "correct": not failures,
            "attempted": len(runner.records),
            "failed": len(failures),
            "metrics": metrics,
        }))
        return 0
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    UNITS = _units()
    sys.exit(main())
