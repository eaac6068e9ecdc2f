"""Spans around the benchmark's calls into each layer of the program.

A span records (name, start, end, parent, iteration) and owns a Spark job
group, so every Spark job is attributed to the innermost span that launched
it. Calls the program makes into its own layers (the SQL planner calling
``spatial_join``/``knn_join``) are caught by wrapping the public module
attribute from outside; no file of the program changes. Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

from probes import SparkStatus

# Layer spans. "operators.plan" is the call into spatial_join/knn_join (its
# driver-side planning jobs); "operators.exec" is the action on its result.
PLAN, EXEC, SQL = "operators.plan", "operators.exec", "plans.sql"
WRITE, READ = "sources.write", "sources.read"


class Tracer:
    """Records spans while ``enabled``; otherwise every hook is a no-op."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = SparkStatus(spark)
        self.enabled = False
        self.iteration: Optional[int] = None
        self.spans: List[dict] = []
        self._stack: List[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "iteration": self.iteration,
               "parent": self._stack[-1]["id"] if self._stack else None}
        rec["group"] = f"perfbench-{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", outer)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a wrapper that runs it in a span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, traced)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps({k: rec[k] for k in
                                    ("id", "name", "parent", "iteration", "start", "end")}) + "\n")

    # -- per-iteration layer metrics ------------------------------------------

    def iteration_metrics(self, it: int, first_execution: int) -> Dict[str, float]:
        """Layer times, job counts and Spark-side metrics of iteration ``it``.

        Call after the iteration's wall clock has stopped."""
        self.status.settle()
        spans = [s for s in self.spans if s["iteration"] == it]
        by_id = {s["id"]: s for s in spans}
        dur = {s["id"]: s["end"] - s["start"] for s in spans}

        def outermost(s):  # not nested in a span of the same name
            p = by_id.get(s["parent"])
            return p is None or p["name"] != s["name"] and outermost(p)

        def total(name):
            return sum(dur[s["id"]] for s in spans if s["name"] == name and outermost(s))

        job_layer = {}  # job id -> name of the innermost span that launched it
        for s in spans:
            for j in self.status.jobs_of(s["group"]):
                job_layer[j] = s["name"]
        jobs_in = {}
        for j, layer in job_layer.items():
            jobs_in.setdefault(layer, []).append(j)

        sql_self = sum(dur[s["id"]] - sum(dur[c["id"]] for c in spans if c["parent"] == s["id"])
                       for s in spans if s["name"] == SQL)
        m = {
            "operators.plan_s": total(PLAN),
            "operators.plan_jobs": len(jobs_in.get(PLAN, [])),
            "operators.exec_s": total(EXEC),
            "operators.exec_jobs": len(jobs_in.get(EXEC, [])),
            "plans.sql_plan_s": sql_self,
            "plans.sql_jobs": len(jobs_in.get(SQL, [])),
            "sources.write_s": total(WRITE),
            "sources.read_s": total(READ),
        }
        wall = total("iteration")
        m["trace.layer_sum_frac"] = (m["operators.plan_s"] + m["operators.exec_s"] + sql_self
                                     + m["sources.write_s"] + m["sources.read_s"]) / wall

        stages = self.status.stage_totals(job_layer)
        m["tasks.cpu_s"] = stages["cpu_s"]
        m["tasks.run_s"] = stages["run_s"]
        m["tasks.gc_s"] = stages["gc_s"]
        m["tasks.failed"] = stages["failed"]
        m["exchange.shuffle_bytes"] = stages["shuffle_bytes"]

        nodes_all, nodes_exec, nodes_read = [], [], []
        for jobs, nodes in self.status.executions_since(first_execution):
            layers = {job_layer.get(j) for j in jobs} - {None}
            if not layers:
                continue  # an execution of another iteration or of set-up
            nodes_all += nodes
            if EXEC in layers:
                nodes_exec += nodes
            if READ in layers:
                nodes_read += nodes
        t_all = SparkStatus.node_totals(nodes_all)
        m["python.run_s"] = t_all["python_run_s"]
        m["python.init_s"] = t_all["python_init_s"]
        m["python.bytes_sent"] = t_all["python_sent"]
        m["python.bytes_returned"] = t_all["python_returned"]
        m["exchange.broadcast_bytes"] = t_all["bcast_bytes"]
        m["exchange.broadcast_collect_s"] = t_all["bcast_collect_s"]
        m["join.candidate_pairs"] = SparkStatus.node_totals(nodes_exec)["join_rows"]
        t_read = SparkStatus.node_totals(nodes_read)
        m["sources.files_read"] = t_read["files_read"]
        m["sources.bytes_read"] = t_read["bytes_read"]
        m["sources.rows_scanned"] = t_read["scan_rows"]
        return m
