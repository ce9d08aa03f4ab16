"""Self-tests of the benchmark at toy size.

    python -m pytest perfbench/tests -q

They start real Spark sessions (about ten seconds each), so they are
kept out of the repository's tier-1 ``tests/`` run.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import procs  # noqa: E402
import tracing  # noqa: E402

TOY_ROWS = {"pages_validate": 3000, "json_validate": 4000}
TOY_SEED = 7


def _run(workload: str, *extra: str, seed: int = TOY_SEED, timeout: float = 400):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "0",
         "--rows", str(TOY_ROWS[workload]), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=timeout,
    )
    sid = next(int(l.split()[-1]) for l in p.stderr.splitlines()
               if l.startswith("perfbench: workload session "))
    return p, sid


def _survivors(sid: int) -> list[int]:
    """Live processes of the run's session (an exited process that init
    has not reaped yet holds nothing and is not counted)."""
    return procs.session_pids(sid, zombies=False)


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == tracing.LAYER_METRICS
    assert {w["name"] for w in spec["workloads"]} <= set(gen.SIZES)
    assert [m["name"] for m in spec["end_to_end"]] == [
        "docs_per_s", "cpu_s_per_mdoc", "peak_rss_mb", "written_mb", "setup_s"]


def test_inputs_repeat_for_a_seed(tmp_path):
    a, _ = gen.ensure_inputs(str(tmp_path / "a"), "json_validate", 3, 500)
    b, _ = gen.ensure_inputs(str(tmp_path / "b"), "json_validate", 3, 500)
    for name in ("docs.parquet", "expected.parquet"):
        ta = pq.read_table(os.path.join(a, name)).to_pylist()
        tb = pq.read_table(os.path.join(b, name)).to_pylist()
        assert ta == tb
    c, _ = gen.ensure_inputs(str(tmp_path / "c"), "json_validate", 4, 500)
    assert pq.read_table(os.path.join(c, "docs.parquet")).to_pylist() != ta


@pytest.mark.parametrize("workload", sorted(TOY_ROWS))
def test_toy_run_passes_and_leaves_nothing(workload):
    p, sid = _run(workload)
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 3
    assert set(last["metrics"]) == {"docs_per_s", "cpu_s_per_mdoc", "peak_rss_mb",
                                    "written_mb", "setup_s"}
    assert all(m["value"] > 0 for m in last["metrics"].values())
    assert _survivors(sid) == []


def test_failed_check_kills_the_session(tmp_path):
    """A wrong expectation makes the first check fail; the run stops,
    reports correct=false and leaves no process behind."""
    seed = 901
    rows = TOY_ROWS["json_validate"]
    d, _ = gen.ensure_inputs(os.path.join(ROOT, ".perfbench_cache"), "json_validate", seed, rows)
    part = sorted(glob.glob(os.path.join(d, "expected.parquet", "*.parquet")))[0]
    t = pq.read_table(part)
    pq.write_table(t.slice(1), part)  # forget one planted fault
    p, sid = _run("json_validate", seed=seed)
    assert p.returncode != 0
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert last["correct"] is False and last["failed"] == 1
    assert "check failed" in p.stderr
    assert _survivors(sid) == []


def test_timeout_kills_the_session():
    p, sid = _run("pages_validate", "--timeout", "20")
    assert p.returncode != 0
    assert "timeout" in p.stderr
    assert _survivors(sid) == []


# -- the checks catch corrupted program output ------------------------------


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    # Python workers import xjs too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    from xjs.session import get_spark

    s = get_spark(app_name="perfbench-selftest", cores=2, shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _drop_one_row(directory: str) -> None:
    for f in sorted(glob.glob(os.path.join(directory, "**", "*.parquet"), recursive=True)):
        t = pq.read_table(f, partitioning=None)
        if t.num_rows:
            pq.write_table(t.slice(1), f)
            return
    raise AssertionError(f"no rows under {directory}")


def test_json_check_catches_a_dropped_violation(spark, tmp_path):
    from workloads import JsonValidate

    d, _ = gen.ensure_inputs(str(tmp_path / "in"), "json_validate", TOY_SEED, 2000)
    out = str(tmp_path / "out")
    JsonValidate(spark, ROOT, d, 2000).run_pass(out, "t")
    checker = checks.JsonChecker(d)
    assert checker.check(out, {}, "cold") == []
    _drop_one_row(os.path.join(out, "violations"))
    assert checker.check(out, {}, "cold")


def test_pages_check_catches_a_dropped_violation(spark, tmp_path):
    from workloads import COMMITTED_PARTITIONS, PagesValidate

    d, _ = gen.ensure_inputs(str(tmp_path / "in"), "pages_validate", TOY_SEED, 3000)
    wl = PagesValidate(spark, ROOT, d, 3000)
    checker = checks.PagesChecker(d, COMMITTED_PARTITIONS)
    cold = str(tmp_path / "cold")
    assert checker.check(cold, wl.run_pass(cold, "c", interrupted=False), "cold") == []
    out = str(tmp_path / "resumed")
    summary = wl.run_pass(out, "r")
    assert checker.check(out, summary, "timed") == []
    _drop_one_row(os.path.join(out, "violations"))
    errs = checker.check(out, summary, "timed")
    assert any("violations differ" in e for e in errs)
