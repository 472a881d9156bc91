"""The `orchestrate` workload: a daily CDC ETL DAG with a run ledger,
driven through `schedule.backfill`, applying seeded change batches to a
transactional table (inserts appended, updates and deletes merged, every
k-th window compacted), next to the reference
`update_tourism_from_exhibition` DAG over a canned transport that fails
on seeded calls.

One pass starts from a fresh table and ledger, so every pass does the
same work; the fresh table is created before the pass is timed.  Ops:
one per window (that day's ETL run through `schedule.backfill`, then the
reference-DAG run, which takes milliseconds with zero sleeps), then one
read-back (runs report, health, a time-travel snapshot and the change
feed).  Windows are most of the ops, so the median op is a window; the
table starts as one file, as every compaction leaves it, so the windows
do alike work.
"""

from __future__ import annotations

import os
import random

import duckdb

from perfbench.gen import window_start

ETL_STAGES = ("extract_changes", "extract_customers", "transform", "apply",
              "quality_gate")
REF_FAILABLE = ("trigger_github_action", "get_latest_run_id", "notify_success")
REF_STATES = {
    "trigger_github_action": "success", "get_latest_run_id": "success",
    "wait_for_github_action": "success", "notify_success": "success",
    "notify_failure": "skipped",
}


def _no_sleep(_s: float) -> None:
    return None


class CannedTransport:
    """GitHub/webhook stand-in.  In each window the stage named in
    `fail_plan[window]` (if any) gets a ConnectionError on its first
    call, so that stage's retry fires."""

    def __init__(self, fail_plan: list[str | None]) -> None:
        self.fail_plan = fail_plan
        self.window = 0
        self.calls: dict[str, int] = {}
        self.polls = 0

    def start_window(self, w: int) -> None:
        self.window, self.calls, self.polls = w, {}, 0

    def __call__(self, method, url, body, conn):
        if url.endswith("/dispatches"):
            stage = "trigger_github_action"
        elif "actions/runs?" in url:
            stage = "get_latest_run_id"
        elif "/actions/runs/" in url:
            self.polls += 1
            if self.polls == 1:
                return {"status": "in_progress"}
            return {"status": "completed", "conclusion": "success"}
        else:
            stage = "notify_success"
        n = self.calls[stage] = self.calls.get(stage, 0) + 1
        if n == 1 and self.fail_plan[self.window] == stage:
            raise ConnectionError(f"canned outage on {stage} in window {self.window}")
        if stage == "get_latest_run_id":
            return {"workflow_runs": [{"id": 1000 + self.window}]}
        return {"status_code": 204}


def fail_plan(seed: int, windows: int) -> list[str | None]:
    rng = random.Random(seed * 7919 + 11)
    return [rng.choice(REF_FAILABLE) if rng.random() < 0.5 else None
            for _ in range(windows)]


def dir_bytes(root: str) -> int:
    total = 0
    for dp, _dirs, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dp, f))
    return total


class Orchestrate:
    def __init__(self, spark, data_dir: str, batches: list[str], seed: int,
                 work_dir: str, compact_every: int) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.batches = batches
        self.windows = len(batches)
        self.plan = fail_plan(seed, self.windows)
        self.work_dir = work_dir
        self.compact_every = compact_every
        self.passes = 0
        self.table = None
        self.ledger = None

    # -- one pass ------------------------------------------------------
    def ops(self) -> list[tuple[str, str, object]]:
        """Create a fresh table and ledger, then return the pass's ops as
        (name, module, thunk) in execution order."""
        from artemia_airflow_spark.ledger import RunLedger

        self.passes += 1
        root = os.path.join(self.work_dir, f"pass{self.passes}")
        self.table_root = os.path.join(root, "table")
        self.ledger_root = os.path.join(root, "ledger")
        self.ledger = RunLedger(self.ledger_root)
        etl = self._etl_pipeline()
        transport = CannedTransport(self.plan)
        ref = self._ref_pipeline(transport)
        self._create()
        ops = [(f"window.{w}", "pipeline",
                lambda w=w: self._window(etl, ref, transport, w))
               for w in range(self.windows)]
        ops.append(("read_back", "ledger", self._read_back))
        return ops

    def _window(self, etl, ref, transport, w: int):
        from artemia_airflow_spark import schedule

        out = schedule.backfill(etl, self.spark, window_start(w), window_start(w + 1))
        return self._check_etl(out), self._ref_run(ref, transport, w)

    def _read_back(self):
        return (self.ledger.runs_report(self.spark).collect(),
                self.ledger.health(self.spark).collect(),
                self.table.snapshot(1).count(),
                self.table.changes(0).count())

    def _create(self):
        from artemia_airflow_spark.sources.txtable import TxTable

        # one file, the layout every window's compaction leaves behind, so
        # the first window does the same work as the others
        base = self.spark.read.parquet(os.path.join(self.data_dir, "orders.parquet"))
        base = base.coalesce(1)
        self.table = TxTable.create(self.spark, base, self.table_root,
                                    key_col="o_orderkey")
        return self.table.version()

    def _etl_pipeline(self):
        import artemia_airflow_spark.catalog as catalog
        from artemia_airflow_spark.pipeline import Pipeline

        me = self
        pipe = Pipeline("orders_etl", schedule="@daily", sleep=_no_sleep,
                        ledger=self.ledger)

        def window_of(ctx) -> int:
            return (ctx.params["logical_date"] - window_start(0)).days

        @pipe.stage("extract_changes")
        def extract_changes(ctx):
            return ctx.spark.read.parquet(me.batches[window_of(ctx)])

        @pipe.stage("extract_customers")
        def extract_customers(ctx):
            return catalog.scan(ctx.spark, me.data_dir, "customer").select("c_custkey")

        @pipe.stage("transform")
        def transform(ctx):
            ch = ctx.xcom_pull("extract_changes")
            cu = ctx.xcom_pull("extract_customers")
            return ch.join(cu, ch.o_custkey == cu.c_custkey, "left_semi")

        @pipe.stage("apply")
        def apply(ctx):
            """Inserts land as new files; updates and deletes merge in."""
            ch = ctx.xcom_pull("transform")
            me.table.append(ch.filter(ch._op == "insert").drop("_op", "_delete"))
            v = me.table.merge(ch.filter(ch._op != "insert").drop("_op"),
                               delete_col="_delete")
            if (window_of(ctx) + 1) % me.compact_every == 0:
                v = me.table.compact()
            return v

        @pipe.stage("quality_gate")
        def quality_gate(ctx):
            n = me.table.snapshot().count()
            if n <= 0:
                raise RuntimeError("quality gate: empty table")
            return n

        transform << [extract_changes, extract_customers]
        transform >> apply >> quality_gate
        return pipe

    def _ref_pipeline(self, transport):
        from artemia_airflow_spark.pipelines.reference_dags import build_update_pipeline

        return build_update_pipeline(transport=transport, settle_sleep_s=0.0,
                                     poke_interval_s=0.0, sleep=_no_sleep)

    # -- per-op checks -------------------------------------------------
    @staticmethod
    def _check_etl(out: dict) -> dict:
        (results,) = out.values()
        bad = {k: r.state for k, r in results.items() if r.state != "success"}
        if bad or set(results) != set(ETL_STAGES):
            raise RuntimeError(f"ETL run stage states {bad or sorted(results)}")
        return results

    def _ref_run(self, ref, transport, w: int):
        transport.start_window(w)
        results = ref.run(self.spark)
        states = {k: r.state for k, r in results.items()}
        if states != REF_STATES:
            raise RuntimeError(f"reference DAG window {w}: states {states}")
        for k, r in results.items():
            want = 2 if self.plan[w] == k else (0 if k == "notify_failure" else 1)
            if r.attempts != want:
                raise RuntimeError(
                    f"reference DAG window {w}: {k} took {r.attempts} attempts, "
                    f"expected {want}")
        return results

    # -- end-of-run checks ---------------------------------------------
    def verify(self) -> list[str]:
        """Compare the last pass's table with a DuckDB last-write-wins
        over the batches, and its ledger with one committed run per
        window.  Returns a list of mismatch descriptions."""
        from pyspark.sql import functions as F

        problems = []
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate", "o_orderpriority"]
        got = sorted(tuple(str(x) for x in r)
                     for r in self.table.snapshot().select(*cols).collect())
        con = duckdb.connect()
        try:
            sel = ", ".join(cols)
            con.execute(f"CREATE TABLE t AS SELECT {sel} FROM read_parquet("
                        f"'{self.data_dir}/orders.parquet')")
            cust = f"read_parquet('{self.data_dir}/customer.parquet')"
            for path in self.batches:
                con.execute(f"CREATE OR REPLACE TEMP VIEW b AS SELECT * FROM "
                            f"read_parquet('{path}') WHERE o_custkey IN "
                            f"(SELECT c_custkey FROM {cust})")
                con.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM b)")
                con.execute(f"INSERT INTO t SELECT {sel} FROM b WHERE NOT _delete")
            want = sorted(tuple(str(x) for x in r)
                          for r in con.execute(f"SELECT {sel} FROM t").fetchall())
        finally:
            con.close()
        if got != want:
            problems.append(f"txtable: final snapshot ({len(got)} rows) differs from "
                            f"DuckDB last-write-wins ({len(want)} rows)")
        runs = self.ledger.read(self.spark).filter(F.col("pipeline") == "orders_etl")
        rows = runs.select("run_id", "stage", "state").collect()
        per_run: dict[str, dict[str, str]] = {}
        for r in rows:
            per_run.setdefault(r.run_id, {})[r.stage] = r.state
        expect = dict.fromkeys(ETL_STAGES, "success")
        if len(per_run) != self.windows or any(v != expect for v in per_run.values()):
            problems.append(f"ledger: {len(per_run)} committed runs for "
                            f"{self.windows} windows, or unexpected stage states")
        return problems

    def space_amp(self) -> float:
        applied = sum(os.path.getsize(p) for p in self.batches)
        return (dir_bytes(self.table_root) + dir_bytes(self.ledger_root)) / applied

    def files_live(self) -> int:
        return len(self.table.files())

    def commits(self) -> int:
        return self.table.version() + 1

