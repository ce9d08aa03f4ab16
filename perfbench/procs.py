"""Process-session accounting from ``/proc``: members, CPU, memory, steal.

A workload runs in its own session (``start_new_session=True``).  Every
process it starts — the JVM, ``pyspark.daemon`` (which moves itself to a
process group of its own) and the forked Python workers — stays in that
session, so the session id is what the benchmark follows, kills and
waits for.
"""

from __future__ import annotations

import os
import signal

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may hold spaces and parens: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def session_pids(sid: int, zombies: bool = True) -> list[int]:
    """Processes whose session id is ``sid``; a zombie has ended but
    still holds its CPU times until reaped."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        # fields after comm: state ppid pgrp session ...
        if f is not None and int(f[3]) == sid and (zombies or f[0] != "Z"):
            out.append(int(name))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def session_cpu_s(sid: int, match: str | None = None) -> float:
    """CPU seconds of the session's processes, their reaped children
    included (utime + stime + cutime + cstime).  A process that exits
    moves its time into its parent's cumulative fields, so differences
    of this sum count exited processes too.  ``match`` keeps only
    processes whose command line contains it."""
    total = 0
    for pid in session_pids(sid):
        if match is not None and match not in _cmdline(pid):
            continue
        f = _stat_fields(pid)
        if f is None:
            continue
        # utime stime cutime cstime are fields 14..17 (1-based), i.e. f[11:15]
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def session_rss_mb(sid: int) -> float:
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * _PAGE / 1e6


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host from the ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    # (guest time is already included in user/nice)
    return vals[7], sum(vals[:8])


def kill_session(sid: int, sig: int = signal.SIGKILL) -> None:
    for pid in session_pids(sid, zombies=False):
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass
