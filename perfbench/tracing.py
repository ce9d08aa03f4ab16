"""Per-layer metrics from the benchmark's spans and Spark's event log.

Spans are recorded by ``worker.Spans`` around each layer's public call
(forced on its own).  Each Spark job is attributed to the innermost span
open when the job was submitted; its stages' ``TaskEnd`` records give
executor CPU, shuffle, spill and task skew.  The event log is written
uncompressed (Spark 4 defaults to zstd, which this Python cannot read).
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

_S, _C, _MB = "s", "count", "MB"
_EXTRA_UNITS = {
    "rows_out": "rows", "n_checks": _C, "written_mb": _MB, "files_written": _C,
    "spark_jobs": _C, "partitions_processed": _C, "prefilter_ratio": "ratio",
    "shuffle_mb": _MB, "spill_mb": _MB, "task_skew": "ratio", "self_s": _S,
    "first_pass_s": _S, "us_per_doc": "us", "pyworker_cpu_s": _S,
}
_CHECK_EXTRAS = ["shuffle_mb", "task_skew", "spark_jobs"]
_SHUFFLE_EXTRAS = ["shuffle_mb", "spill_mb", "task_skew"]
_JOB_EXTRAS = ["self_s", "spark_jobs", "first_pass_s"]

#: span name -> extras recorded besides ``wall_s`` and ``cpu_s``, for
#: the workloads listed in BENCHMARK.json
SPANS = {
    "sources.webpages": ["rows_out"],
    "plan.compile_plan": ["n_checks"],
    "checkpoint.run": ["written_mb", "files_written", "spark_jobs"],
    "checkpoint.resume": ["written_mb", "files_written", "spark_jobs", "partitions_processed"],
    "runtime.violations": ["rows_out", "prefilter_ratio"],
    "runtime.verdicts": ["shuffle_mb"],
    "runtime.quarantine": ["written_mb"],
    "checks.uniqueness": _CHECK_EXTRAS,
    "checks.referential": _CHECK_EXTRAS,
    "checks.drift": _CHECK_EXTRAS,
    "checks.monotonicity": _CHECK_EXTRAS,
    "checks.stats": _CHECK_EXTRAS,
    "jobs.validate_webpages": _JOB_EXTRAS,
    "frontend.compile_frontend": [],
    "dynamic.check_document": ["us_per_doc"],
    "dynamic_spark.validate_json_column": ["pyworker_cpu_s", "rows_out"],
}

#: spans of ``corpus_curate``, a workload run by hand only (see README)
CURATE_SPANS = {
    "pipeline.dedup.substring_duplicates": _SHUFFLE_EXTRAS,
    "pipeline.decontam.contaminated_docs": _SHUFFLE_EXTRAS,
    "pipeline.text.quality_features": ["pyworker_cpu_s"],
    "pipeline.heuristics.gopher_features": ["pyworker_cpu_s"],
    "pipeline.heuristics.c4_stats": ["pyworker_cpu_s"],
    "pipeline.pii.redact": ["pyworker_cpu_s"],
    "jobs.curate_corpus": _JOB_EXTRAS,
}

#: whole-run figures of the traced run
RUN_METRICS = {
    "session.start_s": _S,
    "spark.gc_s": _S,
    "spark.fetch_wait_s": _S,
    "spark.scheduler_delay_s": _S,
    "spark.failed_tasks": _C,
    "trace.untraced_pass_s": _S,
    "trace.traced_pass_s": _S,
    "trace.overhead_s": _S,
}


def _names(spans: dict) -> dict[str, str]:
    out = {}
    for span, extras in spans.items():
        out[f"{span}.wall_s"] = _S
        out[f"{span}.cpu_s"] = _S
        for e in extras:
            out[f"{span}.{e}"] = _EXTRA_UNITS[e]
    return out


#: the per-layer metrics of BENCHMARK.json, in its order
LAYER_METRICS = {**_names(SPANS), **RUN_METRICS}
CURATE_METRICS = _names(CURATE_SPANS)
_ALL_SPANS = {**SPANS, **CURATE_SPANS}


class EventLog:
    """The parts of a Spark event log the layer metrics need."""

    def __init__(self, path: str):
        self.jobs: list[dict] = []            # {id, submit_s, stages}
        self.tasks = defaultdict(list)        # stage id -> [task dict]
        self.accums: dict[int, tuple[str, str]] = {}  # SQL metric id -> (node, metric)
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs.append({"id": ev["Job ID"], "submit_s": ev["Submission Time"] / 1e3,
                                      "stages": ev["Stage IDs"]})
                elif kind == "SparkListenerTaskEnd":
                    self.tasks[ev["Stage ID"]].append(self._task(ev))
                elif kind.endswith(("SparkListenerSQLExecutionStart",
                                    "SparkListenerSQLAdaptiveExecutionUpdate")):
                    self._plan(ev["sparkPlanInfo"])
        # a stage listed by several jobs (reused shuffle output) runs in the first
        self.stage_job: dict[int, int] = {}
        for j in sorted(self.jobs, key=lambda j: j["id"]):
            for s in j["stages"]:
                self.stage_job.setdefault(s, j["id"])

    def _plan(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.accums[m["accumulatorId"]] = (node["nodeName"], m["name"])
        for c in node.get("children", []):
            self._plan(c)

    @staticmethod
    def _task(ev: dict) -> dict:
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
        duration = info["Finish Time"] - info["Launch Time"]
        run = m.get("Executor Run Time", 0)
        return {
            "failed": bool(info.get("Failed")),
            "run_ms": run,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1e3,
            "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
            "sched_delay_s": max(0, duration - run - m.get("Executor Deserialize Time", 0)
                                 - m.get("Result Serialization Time", 0)
                                 - info.get("Getting Result Time", 0)) / 1e3,
            "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
            "spill_b": m.get("Disk Bytes Spilled", 0),
            "accums": {a["ID"]: a.get("Update") for a in info.get("Accumulables", [])
                       if "Update" in a},
        }

    def all_tasks(self):
        for ts in self.tasks.values():
            yield from ts


def _self_time(rec: dict, children: list[dict]) -> float:
    return (rec["end"] - rec["start"]) - sum(c["end"] - c["start"] for c in children)


def _skew(stage_tasks: dict[int, list]) -> float:
    """max task time / median task time, in the stage that ran longest."""
    if not stage_tasks:
        return 0.0
    ts = max(stage_tasks.values(), key=lambda t: sum(x["run_ms"] for x in t))
    times = [t["run_ms"] for t in ts]
    med = statistics.median(times)
    return max(times) / med if med > 0 else 1.0


def _sql_rows(tasks: list[dict], accums: dict, node_pred) -> int:
    total = 0
    for t in tasks:
        for aid, upd in t["accums"].items():
            node = accums.get(aid)
            if node and node[1] == "number of output rows" and node_pred(node[0]):
                try:
                    total += int(upd)
                except (TypeError, ValueError):
                    pass
    return total


def layer_metrics(log: EventLog, records: list[dict], windows: list[tuple[float, float]]) -> list[dict]:
    """One dict of layer metrics per traced pass (``windows``)."""
    job_span: dict[int, int] = {}
    for j in log.jobs:
        inside = [r for r in records if r["start"] <= j["submit_s"] <= r["end"]]
        if inside:  # innermost = latest started
            job_span[j["id"]] = max(inside, key=lambda r: r["start"])["id"]
    span_tasks: dict[int, dict[int, list]] = defaultdict(lambda: defaultdict(list))
    span_jobs: dict[int, int] = defaultdict(int)
    for jid, sid in job_span.items():
        span_jobs[sid] += 1
    for stage, tasks in log.tasks.items():
        sid = job_span.get(log.stage_job.get(stage))
        if sid is not None:
            span_tasks[sid][stage].extend(tasks)
    children = defaultdict(list)
    for r in records:
        if r["parent"] is not None:
            children[r["parent"]].append(r)

    out = []
    for lo, hi in windows:
        m: dict[str, float] = {}
        for r in records:
            if not (lo <= r["start"] <= hi) or r["name"] not in _ALL_SPANS:
                continue
            name, kids = r["name"], children[r["id"]]
            tasks = [t for ts in span_tasks[r["id"]].values() for t in ts]
            self_s = _self_time(r, kids)
            driver_cpu = r["driver_cpu_s"] - sum(k["driver_cpu_s"] for k in kids)
            vals = {
                "wall_s": self_s,
                "cpu_s": sum(t["cpu_s"] for t in tasks) + driver_cpu,
                "spark_jobs": span_jobs[r["id"]],
                "shuffle_mb": sum(t["shuffle_write_b"] for t in tasks) / 1e6,
                "spill_mb": sum(t["spill_b"] for t in tasks) / 1e6,
                "task_skew": _skew(span_tasks[r["id"]]),
                "pyworker_cpu_s": r["pyworker_cpu_s"],
                "self_s": self_s,
            }
            if name.startswith("jobs."):
                vals["wall_s"] = r["end"] - r["start"]
            if name == "runtime.violations":
                scanned = _sql_rows(tasks, log.accums, lambda n: n.startswith("Scan"))
                kept = _sql_rows(tasks, log.accums, lambda n: n == "Filter")
                vals["prefilter_ratio"] = kept / scanned if scanned else 0.0
            vals.update(r["extra"])
            for key in ["wall_s", "cpu_s", *_ALL_SPANS[name]]:
                if key in vals:
                    m[f"{name}.{key}"] = float(vals[key])
        out.append(m)
    return out


def whole_run_metrics(log: EventLog) -> dict[str, float]:
    tasks = list(log.all_tasks())
    return {
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "spark.fetch_wait_s": sum(t["fetch_wait_s"] for t in tasks),
        "spark.scheduler_delay_s": sum(t["sched_delay_s"] for t in tasks),
        "spark.failed_tasks": float(sum(t["failed"] for t in tasks)),
    }


def span_table(records: list[dict]) -> list[dict]:
    """Every span with its parent, total and self time (for the report)."""
    children = defaultdict(list)
    for r in records:
        if r["parent"] is not None:
            children[r["parent"]].append(r)
    return [
        {"name": r["name"], "parent": records[r["parent"]]["name"] if r["parent"] is not None else None,
         "total_s": round(r["end"] - r["start"], 4),
         "self_s": round(_self_time(r, children[r["id"]]), 4)}
        for r in records
    ]
