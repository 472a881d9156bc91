"""Per-layer metrics of a traced run, and comparison of two results.

Every per-layer metric is summed over the ops of one traced pass; the
reported value is the median over the run's traced passes.  Set-up metrics are
taken once per run.  A layer's self time is its spans' duration minus
the part covered by child spans (see `trace.self_times`).
"""

from __future__ import annotations

import json
import statistics

from perfbench import trace

# modules of the curation faces; other modules' op times are in the per-op report
OPERATOR_MODULES = ("dedup", "similarity", "retrieval", "multimodal", "curation")
SPARK_KEYS = ("jobs", "stages", "tasks", "jobs_ungrouped", "tasks_failed",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
              "executor_run_s", "executor_cpu_s", "gc_s")
TXTABLE_CALLS = ("merge", "append", "snapshot", "compact")

PER_LAYER_UNITS: dict[str, str] = {
    "session.build_s": "s", "registry.load_s": "s", "warmup_s": "s",
    "registry.build_s": "s", "registry.exec_s": "s",
    "catalog.scans": "count", "catalog.scan_s": "s",
    **{f"operators.{m}.s": "s" for m in OPERATOR_MODULES},
    "materialize.cuts": "count", "materialize.eager_s": "s",
    **{f"spark.{k}": ("MB" if k.endswith("_mb") else "s" if k.endswith("_s")
                      else "count") for k in SPARK_KEYS},
    "pipeline.run_s": "s", "pipeline.stage_s": "s", "pipeline.outside_stage_s": "s",
    "pipeline.attempts": "count", "pipeline.retries": "count",
    "pipeline.waves": "count",
    "schedule.backfill_s": "s",
    "ledger.records": "count", "ledger.record_s": "s", "ledger.read_s": "s",
    "txtable.commits": "count", "txtable.conflicts": "count",
    **{f"txtable.{c}_s": "s" for c in TXTABLE_CALLS},
    "txtable.files_live": "count", "txtable.space_amp": "1",
    "trace.overhead_s": "s",
}
# The per-layer metrics of the result line (and of BENCHMARK.json): every
# count, and the times that both benchmark workloads exercise (GC time too,
# as the memory metric's companion).  A time of a layer one workload never
# enters (pipeline.run_s on curation, registry.build_s on orchestrate, ...)
# would read 0.0 on every run, so those stay in the details line only,
# next to the per-op self times.
RESULT_LAYER_METRICS = tuple(
    k for k, u in PER_LAYER_UNITS.items()
    if u != "s" or k in ("session.build_s", "registry.load_s", "warmup_s",
                         "catalog.scan_s", "spark.executor_run_s",
                         "spark.executor_cpu_s", "spark.gc_s", "trace.overhead_s"))


def _critical_path(upstream: dict[str, list[str]], dur: dict[str, float]) -> float:
    """Longest chain of stage durations through the DAG."""
    memo: dict[str, float] = {}

    def longest(t: str) -> float:
        if t not in memo:
            memo[t] = dur.get(t, 0.0) + max(
                (longest(u) for u in upstream.get(t, ())), default=0.0)
        return memo[t]

    return max((longest(t) for t in upstream), default=0.0)


def _pass_metrics(p: dict, spans: list[dict], events: list) -> dict[str, float]:
    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)

    def total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    m["registry.build_s"] = total("registry.build")
    m["registry.exec_s"] = total("registry.exec")
    scans = trace.outermost(spans, "catalog.scan")
    m["catalog.scans"] = len(scans)
    m["catalog.scan_s"] = sum(s["end"] - s["start"] for s in scans)
    for r in p["records"]:
        key = f"operators.{r['module']}.s"
        if key in m:
            m[key] += r["latency_s"]
        for k in SPARK_KEYS:
            m[f"spark.{k}"] += r["spark"][k]
    cuts = trace.outermost(spans, "materialize.")
    m["materialize.cuts"] = len(cuts)
    m["materialize.eager_s"] = sum(s["end"] - s["start"] for s in cuts)
    for kind, _op, v in events:
        if kind == "pipeline.run":
            stages = v["stages"]
            crit = _critical_path(v["upstream"], {t: d for t, (d, _a) in stages.items()})
            m["pipeline.run_s"] += v["run_s"]
            m["pipeline.stage_s"] += sum(d for d, _a in stages.values())
            m["pipeline.outside_stage_s"] += v["run_s"] - crit
            m["pipeline.attempts"] += sum(a for _d, a in stages.values())
            m["pipeline.retries"] += sum(max(0, a - 1) for _d, a in stages.values())
            m["pipeline.waves"] += v["waves"]
        elif kind.startswith("txtable.") and v == "CommitConflict":
            m["txtable.conflicts"] += 1
    m["schedule.backfill_s"] = total("schedule.backfill")
    m["ledger.records"] = sum(1 for s in spans if s["name"] == "ledger.record")
    m["ledger.record_s"] = total("ledger.record")
    m["ledger.read_s"] = sum(s["end"] - s["start"]
                             for s in trace.outermost(spans, "ledger.read"))
    tx = trace.outermost(spans, "txtable.")
    for c in TXTABLE_CALLS:
        m[f"txtable.{c}_s"] = sum(s["end"] - s["start"] for s in tx
                                  if s["name"] == f"txtable.{c}")
    if "txtable" in p:
        m["txtable.commits"] = p["txtable"]["commits"]
        m["txtable.files_live"] = p["txtable"]["files_live"]
        m["txtable.space_amp"] = p["txtable"]["space_amp"]
    return m


def layer_report(tracer, passes: list[dict], setup: dict) -> dict:
    """Per-layer metrics (median over traced passes), self times per pass
    and per op, and the tracing overhead: the median traced pass wall
    minus the median untraced one."""
    by_op: dict[int, list[dict]] = {}
    for s in tracer.spans:
        by_op.setdefault(s["op"], []).append(s)
    ev_by_op: dict[int, list] = {}
    for e in tracer.events:
        ev_by_op.setdefault(e[1], []).append(e)
    traced = [p for p in passes if p["traced"]]
    per_pass, self_per_pass, per_op = [], [], []
    for p in traced:
        seqs = [r["seq"] for r in p["records"]]
        spans = [s for q in seqs for s in by_op.get(q, [])]
        events = [e for q in seqs for e in ev_by_op.get(q, [])]
        per_pass.append(_pass_metrics(p, spans, events))
        selfs: dict[str, float] = {}
        for r in p["records"]:
            own = trace.self_times(by_op.get(r["seq"], []))
            per_op.append({"pass": r["pass"], "op": r["op"],
                           "latency_s": r["latency_s"], "spark": r["spark"],
                           "self_s": own})
            for k, v in own.items():
                selfs[k] = selfs.get(k, 0.0) + v
        self_per_pass.append(selfs)
    metrics = {k: statistics.median(pp[k] for pp in per_pass) for k in PER_LAYER_UNITS}
    metrics["session.build_s"] = setup["session_s"]
    metrics["registry.load_s"] = setup["registry_load_s"]
    metrics["warmup_s"] = setup["first_pass_s"]
    untraced = [p["wall_s"] for p in passes if not p["traced"]]
    metrics["trace.overhead_s"] = (
        statistics.median(p["wall_s"] for p in traced) - statistics.median(untraced)
        if untraced else 0.0)
    layers = sorted({k for sp in self_per_pass for k in sp})
    return {
        "metrics": metrics,
        "self_s_per_pass": {k: statistics.median(sp.get(k, 0.0) for sp in self_per_pass)
                            for k in layers},
        "per_op": per_op,
    }


def _load(path: str) -> dict:
    """The details line (the one carrying `env`) of a saved run output."""
    with open(path) as f:
        for line in reversed(f.read().strip().splitlines()):
            d = json.loads(line)
            if "env" in d:
                return d
    raise ValueError(f"{path}: no details line")


def compare(path_a: str, path_b: str) -> int:
    a, b = _load(path_a), _load(path_b)
    for key in ("nproc", "SPARK_GRAFT_CPUS"):
        if a["env"][key] != b["env"][key]:
            print(f"refusing to compare: {key} differs "
                  f"({a['env'][key]} vs {b['env'][key]})")
            return 3
    for name in sorted(set(a["metrics"]) & set(b["metrics"])):
        va, vb = a["metrics"][name], b["metrics"][name]
        ratio = vb / va if va else float("nan")
        print(f"{name:16s} {va:12.4f} {vb:12.4f}  x{ratio:.3f}")
    return 0
