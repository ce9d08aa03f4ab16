#!/usr/bin/env python3
"""Benchmark entry point: one workload, one run.

    python3 perfbench/run.py --workload pages_validate --seed 1 --seconds 10 --trace 0

Generates (or reuses) the seeded inputs, starts ``worker.py`` as the
leader of a new session, checks every pass's output from here (outside
that session), and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones.  A line ``{"info": ...}`` before it carries the host's steal share
over the timed passes, the cold pass, and (traced) every span.

Whatever the ending — normal, a failed check, a timeout — the whole
session (the JVM and ``pyspark.daemon`` included) is killed if still
alive and waited for before this returns.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import selectors
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procs  # noqa: E402

PR_SET_CHILD_SUBREAPER = 36
TIMEOUT_S = 170.0
HOST_CORES = len(os.sched_getaffinity(0))
PYTHONHASHSEED = "0"


def become_subreaper() -> None:
    """Orphans of the workload (a JVM outliving its Python parent) are
    re-parented to this process, so it can reap them and know they ended."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap(proc: subprocess.Popen) -> None:
    """Collect every ended child, the worker's exit status included."""
    while True:
        try:
            pid, status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
        if pid == proc.pid:
            proc.returncode = os.waitstatus_to_exitcode(status)


def end_session(proc: subprocess.Popen, kill: bool, grace: float = 30.0) -> bool:
    """Wait (or, with ``kill``, force) every process of the workload's
    session to end; True if none is left."""
    sid = proc.pid
    deadline = time.monotonic() + grace
    if kill:
        procs.kill_session(sid)
    while time.monotonic() < deadline:
        reap(proc)
        if not procs.session_pids(sid, zombies=False) and proc.returncode is not None:
            reap(proc)
            return True
        if not kill and time.monotonic() > deadline - grace / 2:
            kill = True  # a clean stop that lingers is cut short
            procs.kill_session(sid)
        time.sleep(0.1)
    procs.kill_session(sid)
    reap(proc)
    return not procs.session_pids(sid, zombies=False)


class Worker:
    """The workload process and its line protocol."""

    def __init__(self, cmd: list[str], env: dict, deadline: float):
        self.deadline = deadline
        self.proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            start_new_session=True, text=True, bufsize=1,
        )
        self.sel = selectors.DefaultSelector()
        self.sel.register(self.proc.stdout, selectors.EVENT_READ)

    def next_message(self) -> dict | None:
        """The next ``@@PB`` message; None on exit or timeout (see ``timed_out``)."""
        while True:
            left = self.deadline - time.monotonic()
            if left <= 0 or not self.sel.select(timeout=left):
                return None
            line = self.proc.stdout.readline()
            if not line:
                return None
            if line.startswith("@@PB "):
                return json.loads(line[5:])
            sys.stderr.write(line)

    def reply(self, ok: bool) -> None:
        self.proc.stdin.write(json.dumps({"ok": ok}) + "\n")
        self.proc.stdin.flush()

    @property
    def timed_out(self) -> bool:
        return time.monotonic() >= self.deadline


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None, help="input rows (default: the workload's full size)")
    ap.add_argument("--timeout", type=float, default=TIMEOUT_S, help="seconds before the run is killed")
    args = ap.parse_args()
    t_start = time.monotonic()

    if not (os.path.isdir(os.path.join(ROOT, "xjs")) and os.path.isdir(os.path.join(ROOT, "jobs"))):
        print(f"perfbench: no xjs/ and jobs/ under {ROOT}; run from a checkout of the repo",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import checks
    from workloads import COMMITTED_PARTITIONS

    rows = args.rows or gen.SIZES[args.workload]
    input_dir, _info = gen.ensure_inputs(os.path.join(ROOT, ".perfbench_cache"), args.workload,
                                         args.seed, rows)
    checker = checks.make_checker(args.workload, input_dir, COMMITTED_PARTITIONS)

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "local"))
    env = dict(os.environ, PYTHONHASHSEED=PYTHONHASHSEED, SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
               PYTHONUNBUFFERED="1", TMPDIR=tmp,
               PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])))
    env.pop("SPARK_GRAFT_CPUS", None)
    become_subreaper()
    spawned_at = time.monotonic()
    w = Worker([sys.executable, os.path.join(HERE, "worker.py"),
                "--workload", args.workload, "--root", ROOT, "--input", input_dir,
                "--rows", str(rows), "--tmp", tmp, "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--spawned-at", repr(spawned_at),
                "--cores", str(HOST_CORES)],
               env, deadline=t_start + args.timeout)
    print(f"perfbench: workload session {w.proc.pid}", file=sys.stderr, flush=True)
    attempted = failed = 0
    result = None
    ending = "normal"

    def on_term(signum, _frame):
        raise KeyboardInterrupt(signum)

    signal.signal(signal.SIGTERM, on_term)
    try:
        while True:
            msg = w.next_message()
            if msg is None:
                ending = "timeout" if w.timed_out else "exited"
                break
            if msg["kind"] == "result":
                result = msg
                break
            attempted += 1
            errs = checker.check(msg["dir"], msg.get("summary") or {}, msg["phase"])
            for e in errs:
                print(f"perfbench: check failed after {msg['phase']} pass: {e}", file=sys.stderr)
            if errs:
                failed += 1
                ending = "failed check"
                break
            w.reply(True)
    except KeyboardInterrupt:
        ending = "interrupted"
    finally:
        clean = end_session(w.proc, kill=ending != "normal")
        shutil.rmtree(tmp, ignore_errors=True)
    if not clean:
        print("perfbench: processes of the workload survived", file=sys.stderr)
        return 1
    if result is None:
        print(f"perfbench: run ended without a result ({ending}, exit {w.proc.returncode})",
              file=sys.stderr)
        if ending == "failed check":
            print(json.dumps({"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}))
        return 1
    print(json.dumps({"info": result.get("info", {})}))
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed,
                      "metrics": result["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
