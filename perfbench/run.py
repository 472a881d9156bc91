#!/usr/bin/env python3
"""Workload benchmark for the artemia_airflow_spark engine.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 12 --trace 0

One driver process runs the engine on local[nproc/2] (SPARK_GRAFT_CPUS
overrides) as a closed loop with one client: the next op starts when the
previous one returns.  Half the cores are left to the JVM's compiler and
GC threads, the Python driver and Spark's Python workers, so on a small
shared host the run measures the program rather than the scheduler.  An
op is one declared query (builder call plus a `noop`-sink action), one
daily window of DAG runs or the read-back (see orchestrate.py).
Workloads: `curation` and `orchestrate`.

Set-up (imports, JVM, session and the untimed cold first pass) is
reported as setup_s.  --seconds then becomes a fixed number of timed
passes (see PASS_S); the seed shuffles the op order of every curation
pass.  peak_rss_mb is the driver's (JVM plus Python) peak RSS over the
timed passes.
The last stdout line is one JSON object with the keys correct,
attempted, failed and metrics; the line before it carries the run's
details (environment, per-pass walls, failing ops and, when traced, the
per-op layer report).

--trace 0 reports the end-to-end metrics.  --trace 1 wraps the program's
layer entry points, reads Spark's status store after every op of every
other pass and reports the per-layer metrics instead.  --report PATH
also writes the details line, with every span, to PATH.

Inputs are generated from --seed and cached under .perfbench_cache/ in
the checkout.  Everything else a run writes (Spark local dirs, warehouse,
tables, ledgers) lives under .perfbench_tmp/ and is removed at exit.
--smoke runs every workload once, traced, with one untraced and one
traced pass each.
--compare A B compares two saved details lines and refuses results taken
on different core counts.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, trace  # noqa: E402

# one face per curation module (dedup, similarity, retrieval, multimodal,
# curation); bm25 and neardup carry materialization cuts, minhash and
# neardup banded-LSH candidate joins
CURATION = [
    "q_dedup_minhash_portable", "q_sim_topk", "q_retrieval_bm25",
    "q_multimodal_neardup", "q_decontaminate",
]
# Seconds of --seconds per timed pass.  --seconds becomes a fixed pass
# count, so every run's medians come from the same passes: passes keep
# getting faster for a while as the JIT warms up.  At --seconds 12,
# curation runs 4 passes of 5 faces and orchestrate 3 passes of 3 alike
# windows and a read-back, so orchestrate's median and p90 ops are
# windows.  Medians over three or more passes shrug off one pass slowed
# by the host or by the JIT still warming up.
PASS_S = {"curation": 3.0, "orchestrate": 4.0}
# workload -> declared faces (None: the orchestration ops)
WORKLOADS = {"curation": CURATION, "orchestrate": None}
# inputs are generated at the fixture's sf0.001 sizes; orchestrate adds
# ORCH_WINDOWS daily batches of ORCH_ROWS order changes
ORCH_WINDOWS, ORCH_ROWS, ORCH_COMPACT_EVERY = 3, 300, 1

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_p90_s": "s",
             "ok_ratio": "1", "peak_rss_mb": "MB"}


def die(msg: str, code: int = 2) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", help="also write the details line, with spans, here")
    ap.add_argument("--smoke", action="store_true",
                    help="every workload once, traced, two passes each")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"),
                    help="compare two saved details lines")
    a = ap.parse_args(argv)
    if not (a.compare or a.smoke or a.workload):
        ap.error("--workload is required")
    return a


# -- environment ------------------------------------------------------------

def prepare_env(tmp: str) -> dict:
    """Point every writable location of Spark and the engine into `tmp`
    and make the checkout importable by Spark's Python workers."""
    import tempfile

    env = {
        "SPARK_GRAFT_CPUS": (os.environ.get("SPARK_GRAFT_CPUS")
                             or str(max(1, os.cpu_count() // 2))),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    tempfile.tempdir = None
    return env


def session_conf(tmp: str, mem: str) -> dict:
    return {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.memory": mem,
        # JVM temp files go to `tmp` (and no hsperfdata to /tmp).  A
        # fixed-size heap: with a growable one, G1's sizing decisions
        # moved the driver's peak RSS by up to 1.5x between runs of the
        # same ops.  So peak RSS follows the memory outside the heap, and
        # heap pressure shows as GC time (spark.gc_s).
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem}",
        "spark.ui.showConsoleProgress": "false",
    }


def launch_jvm(conf: dict) -> None:
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized(conf=SparkConf().setAll(list(conf.items())))


def stop_jvm() -> None:
    """Stop any live context, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def rss_reset(pids: list[int]) -> None:
    """Restart the kernel's peak-RSS counters (VmHWM) of `pids`."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def rss_peak_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total += next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return total / 1024.0


# -- ops ----------------------------------------------------------------------

class Op:
    __slots__ = ("name", "module", "thunk")

    def __init__(self, name: str, module: str, thunk) -> None:
        self.name, self.module, self.thunk = name, module, thunk


def query_ops(spark, tracer, names: list[str], data_dir: str, collect: bool) -> list[Op]:
    from artemia_airflow_spark.plans.registry import QUERIES

    def make(fn):
        def thunk():
            with tracer.span("registry.build"):
                df = fn(spark, data_dir)
            with tracer.span("registry.exec"):
                if collect:
                    return df.collect()
                df.write.format("noop").mode("overwrite").save()
                return None
        return thunk

    return [Op(n, QUERIES[n].__module__.rsplit(".", 1)[-1], make(QUERIES[n]))
            for n in names]


class Runner:
    """Runs ops one at a time, each under its own job group, and times
    them.  When traced, reads the op's jobs and stages from Spark's
    status store as soon as it returns."""

    def __init__(self, spark, tracer, traced: bool) -> None:
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.traced = traced
        self.seq = 0

    def run(self, op: Op, pass_no: int) -> dict:
        self.seq += 1
        group = f"perfbench-{pass_no}-{self.seq}"
        self.sc.setJobGroup(group, op.name)
        first = trace.next_job_id(self.sc) if self.traced else 0
        gc0 = trace.jvm_gc_s(self.sc) if self.traced else 0.0
        err, result = None, None
        t0 = time.perf_counter()
        with self.tracer.op_scope(self.seq), self.tracer.span("op"):
            try:
                result = op.thunk()
            except Exception as exc:  # noqa: BLE001 — counted as a failure
                err = f"{type(exc).__name__}: {str(exc)[:300]}"
        rec = {"seq": self.seq, "pass": pass_no, "op": op.name, "module": op.module,
               "latency_s": time.perf_counter() - t0, "error": err}
        if self.traced:
            trace.drain_listener(self.sc)
            rec["spark"] = trace.read_jobs(self.sc, first, trace.next_job_id(self.sc),
                                           group)
            rec["spark"]["gc_s"] = trace.jvm_gc_s(self.sc) - gc0
        rec["result"] = result
        return rec


# -- correctness --------------------------------------------------------------

def _rows(rows) -> list[tuple]:
    """scripts/dryrun.py's comparison rule: sorted, stringified rows."""
    return sorted(tuple(str(x) for x in r) for r in rows)


def oracle_rows(data_dir: str, sql: str) -> list[tuple]:
    import duckdb

    from artemia_airflow_spark.catalog import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        return _rows(con.execute(sql).fetchall())
    finally:
        con.close()


def check_queries(spark, tracer, names, first: dict, data_dir: str) -> dict[str, str]:
    """`first` maps op name -> rows collected in the first pass (or the
    op's error).  Oracle faces must equal DuckDB on the same inputs;
    rows-only faces are run once more and must keep their first-pass
    row count.  Returns op name -> mismatch description."""
    from artemia_airflow_spark.plans.registry import ORACLE

    bad = {}
    for n in names:
        got = first[n]
        if isinstance(got, str):
            bad[n] = f"first pass raised {got}"
        elif n in ORACLE:
            want = oracle_rows(data_dir, ORACLE[n])
            if _rows(got) != want:
                bad[n] = f"{len(got)} rows differ from the DuckDB oracle's {len(want)}"
        else:
            (op,) = query_ops(spark, tracer, [n], data_dir, collect=True)
            again = len(op.thunk())
            if again != len(got):
                bad[n] = f"rows-only: {again} rows, first pass had {len(got)}"
    return bad


# -- one run ------------------------------------------------------------------

def percentile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def input_dir(workload: str, seed: int) -> str:
    """The workload's generated inputs, built once per (workload, seed)."""
    def build(d):
        gen.star_schema(d, seed, 1.0)
        if workload == "orchestrate":
            gen.change_batches(d, seed, ORCH_WINDOWS, ORCH_ROWS,
                               gen.BASE_ROWS["orders"], gen.BASE_ROWS["customer"])

    key = f"{workload}-s{seed}"
    if workload == "orchestrate":
        key += f"-w{ORCH_WINDOWS}-r{ORCH_ROWS}"
    return gen.cached(os.path.join(ROOT, ".perfbench_cache"), key, build)


def run_workload(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    data_dir = input_dir(workload, seed)
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = prepare_env(tmp)
    try:
        return measure(workload, seed, data_dir, tmp, env, seconds, traced)
    finally:
        stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)


def measure(workload, seed, data_dir, tmp, env, seconds, traced) -> dict:
    names = WORKLOADS[workload]
    t_begin = t0 = time.perf_counter()
    import pyspark

    from artemia_airflow_spark.plans.registry import load_all_query_modules
    from artemia_airflow_spark.session import build_session

    load_all_query_modules()
    t_load = time.perf_counter() - t0
    conf = session_conf(tmp, env["SPARK_GRAFT_DRIVER_MEM"])
    t0 = time.perf_counter()
    launch_jvm(conf)
    t_jvm = time.perf_counter() - t0

    tracer = trace.Tracer(enabled=False)
    t0 = time.perf_counter()
    spark = build_session("perfbench", master=f"local[{env['SPARK_GRAFT_CPUS']}]",
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.perf_counter() - t0
    orch = None
    if names is None:
        from perfbench.orchestrate import Orchestrate

        batches = sorted(os.path.join(data_dir, f) for f in os.listdir(data_dir)
                         if f.startswith("batch_"))
        orch = Orchestrate(spark, data_dir, batches, seed,
                           os.path.join(tmp, "orchestrate"), ORCH_COMPACT_EVERY)

    def fresh_ops(collect: bool) -> list[Op]:
        if orch is not None:
            return [Op(n, m, f) for n, m, f in orch.ops()]
        return query_ops(spark, tracer, names, data_dir, collect)

    def run_pass(runner: Runner, ops: list[Op], pass_no: int) -> tuple[float, list]:
        t0 = time.perf_counter()
        recs = [runner.run(op, pass_no) for op in ops]
        return time.perf_counter() - t0, recs

    # -- set-up ends with the untimed cold first pass; its rows feed the
    # correctness check --------------------------------------------------
    first_s, first = run_pass(Runner(spark, tracer, traced=False),
                              fresh_ops(collect=True), -1)
    first_rows = {r["op"]: r["error"] or r["result"] for r in first}
    setup_s = time.perf_counter() - t_begin

    # -- timed passes; a traced run alternates untraced and traced passes,
    # so the difference of their walls is the tracing overhead ----------
    if traced:
        patches = trace.install(tracer)
    pids = [os.getpid(), int(spark._jvm.java.lang.ProcessHandle.current().pid())]
    setup_rss = rss_peak_mb(pids)
    rss_reset(pids)
    order = random.Random(seed)
    runner = Runner(spark, tracer, traced=False)
    passes = []
    n_passes = max(2 if traced else 1, math.ceil(seconds / PASS_S[workload]))
    for k in range(n_passes):
        tracing = traced and k % 2 == 1
        tracer.enabled = runner.traced = tracing
        ops = fresh_ops(collect=False)
        if orch is None:
            order.shuffle(ops)
        wall, recs = run_pass(runner, ops, k)
        p = {"wall_s": wall, "records": recs, "traced": tracing}
        if orch is not None:
            p["txtable"] = {"commits": orch.commits(), "files_live": orch.files_live(),
                            "space_amp": orch.space_amp()}
        passes.append(p)
    peak_rss = rss_peak_mb(pids)
    if traced:
        patches.uninstall()
        tracer.enabled = False
    measured = [p for p in passes if not p["traced"]] or passes

    # -- correctness, outside the timed passes ------------------------------
    if orch is not None:
        problems = orch.verify()
        mismatches = {"orchestrate.verify": "; ".join(problems)} if problems else {}
    else:
        mismatches = check_queries(spark, tracer, names, first_rows, data_dir)
    timed = [r for p in measured for r in p["records"]]
    errors = {r["op"]: r["error"] for r in timed if r["error"]}
    if orch is not None and mismatches:
        failed = len(timed)  # a wrong table or ledger taints every op of the run
    else:
        failed = sum(1 for r in timed if r["error"] or r["op"] in mismatches)
    lat = [r["latency_s"] for r in timed]
    metrics = {
        "setup_s": setup_s,
        "wall_s": statistics.median(p["wall_s"] for p in measured),
        "op_p50_s": statistics.median(lat),
        "op_p90_s": percentile(lat, 90),
        "ok_ratio": 1.0 - failed / len(timed),
        "peak_rss_mb": peak_rss,
    }
    details = {
        "workload": workload,
        "correct": failed == 0,
        "attempted": len(timed),
        "failed": failed,
        "fail_ratio": failed / len(timed),
        "failing_ops": {**errors, **mismatches},
        "samples": len(lat),
        "op_median_s": {n: statistics.median(r["latency_s"] for r in timed if r["op"] == n)
                        for n in dict.fromkeys(r["op"] for r in timed)},
        "passes": len(measured),
        "pass_wall_s": [p["wall_s"] for p in passes],
        "setup_peak_rss_mb": setup_rss,
        "metrics": metrics,
        "env": {"seed": seed, "nproc": os.cpu_count(),
                "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
                "spark_version": pyspark.__version__,
                "driver_memory": env["SPARK_GRAFT_DRIVER_MEM"],
                "inputs": "sf0.001", "traced": traced},
        "setup": {"registry_load_s": t_load, "jvm_launch_s": t_jvm,
                  "session_s": t_session, "first_pass_s": first_s,
                  "first_pass_op_s": {r["op"]: r["latency_s"] for r in first}},
    }
    if traced:
        from perfbench.layers import layer_report

        details["layers"] = layer_report(tracer, passes, details["setup"])
        details["spans"] = tracer.spans
    return details


# -- entry points ---------------------------------------------------------

def result_line(details: dict, traced: bool) -> dict:
    """The contract line: end-to-end metrics, or per-layer ones if traced."""
    from perfbench.layers import PER_LAYER_UNITS, RESULT_LAYER_METRICS

    if traced:
        values = details["layers"]["metrics"]
        units = {k: PER_LAYER_UNITS[k] for k in RESULT_LAYER_METRICS}
    else:
        values, units = details["metrics"], E2E_UNITS
    return {"correct": details["correct"], "attempted": details["attempted"],
            "failed": details["failed"],
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}


def smoke(args) -> int:
    """Every workload once, traced, each in its own process: --seconds 0
    gives one untraced and one traced pass.
    Prints one line per workload with both metric sets, then the total."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in sorted(WORKLOADS):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", "0", "--trace", "1"]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            die(f"smoke run of {w} exited with {proc.returncode}", 1)
        details = json.loads(lines[-2])
        line = result_line(details, traced=False)
        line["metrics"].update(result_line(details, traced=True)["metrics"])
        print(json.dumps({"workload": w, **line}), flush=True)
        total["correct"] &= line["correct"]
        total["attempted"] += line["attempted"]
        total["failed"] += line["failed"]
        total["metrics"][f"{w}.wall_s"] = line["metrics"]["wall_s"]
    print(json.dumps(total), flush=True)
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.compare:
        from perfbench.layers import compare

        return compare(*args.compare)
    if not os.path.isfile(os.path.join(ROOT, "artemia_airflow_spark", "__init__.py")):
        die(f"no artemia_airflow_spark package next to {os.path.dirname(__file__)}; "
            "run from a full checkout")
    if args.smoke:
        return smoke(args)
    details = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    line = json.dumps({k: v for k, v in details.items() if k != "spans"},
                      default=str)
    if args.report:
        with open(args.report, "w") as f:
            json.dump(details, f, default=str)
    print(line, flush=True)
    print(json.dumps(result_line(details, bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
