"""The workload process: one long-lived SparkSession, then passes.

Started by ``run.py`` as the leader of a session of its own.  A run is:
session start and the program's preparation (``setup_s``), one cold
pass, warm-up passes, then timed passes until ``--seconds`` have passed
(at least the workload's ``min_timed``).  After every pass the output directory is
handed to ``run.py``, which checks it from outside this session and
answers; the directory is then removed.  With ``--trace 1`` the run
ends with traced passes (the layer-by-layer replay, event log on) and
reports per-layer metrics instead.

Protocol: lines ``@@PB <json>`` on stdout, replies as JSON lines on stdin.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procs  # noqa: E402

TRACE_UNTRACED = 1
TRACE_TRACED = 2
DRIVER_MEM = "3g"
#: C1 only: the JIT reaches its plateau within the cold pass, so the
#: few passes a run can afford are all warm; a fixed heap size keeps
#: the heap's resident share from following G1's resizing (README,
#: "Steadiness")
JVM_OPTS = f"-XX:TieredStopAtLevel=1 -Xms{DRIVER_MEM}"


def send(kind: str, **payload) -> None:
    sys.stdout.write("@@PB " + json.dumps({"kind": kind, **payload}) + "\n")
    sys.stdout.flush()


def recv() -> dict:
    line = sys.stdin.readline()
    if not line:
        raise SystemExit("run.py went away")
    return json.loads(line)


def dir_size(paths) -> tuple[int, int]:
    """(bytes, data files) under ``paths``; hidden and checksum files skipped."""
    n_bytes = n_files = 0
    for p in paths:
        for dp, _dirs, files in os.walk(p):
            for f in files:
                if f.startswith((".", "_")):
                    continue
                n_bytes += os.path.getsize(os.path.join(dp, f))
                n_files += 1
    return n_bytes, n_files


class Spans:
    """Spans kept in memory: name, start, end, parent, and extras."""

    def __init__(self, sid: int):
        self.sid = sid
        self.records: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, dirs=()):
        rec = {
            "name": name, "id": len(self.records),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(), "extra": {},
        }
        cpu0 = time.process_time()
        pw0 = procs.session_cpu_s(self.sid, match="pyspark.daemon")
        d0 = dir_size(dirs)
        self.records.append(rec)
        self._stack.append(rec)
        try:
            yield rec["extra"]
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            rec["driver_cpu_s"] = time.process_time() - cpu0
            rec["pyworker_cpu_s"] = procs.session_cpu_s(self.sid, match="pyspark.daemon") - pw0
            if dirs:
                d1 = dir_size(dirs)
                rec["extra"]["written_mb"] = (d1[0] - d0[0]) / 1e6
                rec["extra"]["files_written"] = d1[1] - d0[1]


class RssSampler(threading.Thread):
    """Peak combined RSS of the session while ``active`` is set."""

    def __init__(self, sid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.sid, self.period = sid, period
        self.active = threading.Event()
        self.stop = threading.Event()
        self.peak = 0.0

    def run(self) -> None:
        while not self.stop.is_set():
            if self.active.is_set():
                self.peak = max(self.peak, procs.session_rss_mb(self.sid))
            self.stop.wait(self.period)


def spark_conf(tmp: str, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Dderby.system.home={os.path.join(tmp, 'derby')}",
    }
    if trace:
        os.makedirs(os.path.join(tmp, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawned-at", type=float, required=True,
                    help="time.monotonic() just before this process was started")
    ap.add_argument("--cores", type=int, required=True)
    args = ap.parse_args()

    sys.path.insert(0, args.root)
    from workloads import WORKLOADS
    from xjs.session import get_spark

    sid = os.getsid(0)
    trace = bool(args.trace)
    t_session = time.monotonic()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", cores=args.cores,
        extra_conf=spark_conf(args.tmp, trace),
    )
    session_start_s = time.monotonic() - t_session
    sampler = RssSampler(sid)
    sampler.start()
    try:
        wl = WORKLOADS[args.workload](spark, args.root, args.input, args.rows)
        ready = time.monotonic()
        prep = []
        for _ in range(3):
            t = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t)
        setup_s = (ready - args.spawned_at) + statistics.median(prep)

        spans = Spans(sid)
        n_pass = 0

        def one_pass(phase: str, traced: bool = False, **kw) -> dict:
            nonlocal n_pass
            out = os.path.join(args.tmp, f"pass-{n_pass}")
            tag = f"p{n_pass}"
            n_pass += 1
            cpu0 = procs.session_cpu_s(sid)
            t0 = time.perf_counter()
            t_start = time.time()
            if traced:
                summary = wl.traced_pass(out, tag, spans)
            else:
                summary = wl.run_pass(out, tag, **kw)
            wall = time.perf_counter() - t0
            cpu = procs.session_cpu_s(sid) - cpu0
            written = dir_size([out])[0] / 1e6
            print(f"perfbench: {phase} pass {n_pass - 1}: {wall:.2f} s wall, {cpu:.2f} s cpu",
                  file=sys.stderr, flush=True)
            send("pass", dir=out, phase=phase, summary=summary, wall_s=wall, traced=traced)
            reply = recv()
            shutil.rmtree(out, ignore_errors=True)
            if not reply["ok"]:
                raise SystemExit(3)
            return {"wall_s": wall, "cpu_s": cpu, "written_mb": written,
                    "start": t_start, "end": time.time()}

        cold_kw = {"interrupted": False} if args.workload == "pages_validate" else {}
        cold = one_pass("cold", **cold_kw)
        for _ in range(wl.warm_passes):
            one_pass("warm")

        if not trace:
            timed = []
            st0 = procs.steal_ticks()
            sampler.active.set()
            t_end = time.monotonic() + args.seconds
            while len(timed) < wl.min_timed or time.monotonic() < t_end:
                timed.append(one_pass("timed"))
            sampler.active.clear()
            st1 = procs.steal_ticks()
            med = lambda k: statistics.median(p[k] for p in timed)  # noqa: E731
            metrics = {
                "docs_per_s": (args.rows / med("wall_s"), "docs/s"),
                "cpu_s_per_mdoc": (med("cpu_s") / args.rows * 1e6, "s"),
                "peak_rss_mb": (sampler.peak, "MB"),
                "written_mb": (med("written_mb"), "MB"),
                "setup_s": (setup_s, "s"),
            }
            info = {
                "steal_share": (st1[0] - st0[0]) / max(1, st1[1] - st0[1]),
                "cold_pass_s": cold["wall_s"],
                "timed_pass_s": [round(p["wall_s"], 4) for p in timed],
                "timed_cpu_s": [round(p["cpu_s"], 4) for p in timed],
                "session_start_s": session_start_s,
                "prepare_s": prep,
            }
            send("result", passes=n_pass,
                 metrics={k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                 info=info)
            return 0

        untraced = [one_pass("untraced")["wall_s"] for _ in range(TRACE_UNTRACED)]
        traced = [one_pass("traced", traced=True) for _ in range(TRACE_TRACED)]
    finally:
        sampler.stop.set()
        spark.stop()

    # the event log is complete once the session has stopped
    import tracing

    log = tracing.EventLog(glob.glob(os.path.join(args.tmp, "eventlog", "*"))[0])
    per_pass = tracing.layer_metrics(log, spans.records, [(p["start"], p["end"]) for p in traced])
    names = dict(tracing.LAYER_METRICS)
    if args.workload == "corpus_curate":
        names.update(tracing.CURATE_METRICS)
    metrics = {name: statistics.median(m.get(name, 0.0) for m in per_pass) for name in names}
    metrics.update(tracing.whole_run_metrics(log))
    job = {"pages_validate": "jobs.validate_webpages",
           "corpus_curate": "jobs.curate_corpus"}.get(args.workload)
    if job:
        metrics[f"{job}.first_pass_s"] = cold["wall_s"]
    metrics["session.start_s"] = session_start_s
    metrics["trace.untraced_pass_s"] = statistics.median(untraced)
    metrics["trace.traced_pass_s"] = statistics.median(p["wall_s"] for p in traced)
    metrics["trace.overhead_s"] = metrics["trace.traced_pass_s"] - metrics["trace.untraced_pass_s"]
    send("result", passes=n_pass,
         metrics={k: {"value": metrics[k], "unit": u} for k, u in names.items()},
         info={"spans": tracing.span_table(spans.records), "cold_pass_s": cold["wall_s"]})
    return 0


if __name__ == "__main__":
    sys.exit(main())
