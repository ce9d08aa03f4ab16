"""Checkpoint/resume: kill-and-resume equivalence, idempotent re-run."""

import json
import os
import shutil
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

from xjs.checkpoint import CheckpointedRun
from xjs.flagship import compile_plan
from xjs.runtime import violations
from xjs.sources.webpages import webpages

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def out_dir():
    os.makedirs(os.path.join(REPO, ".tmp"), exist_ok=True)
    d = tempfile.mkdtemp(prefix="xjs-ckpt-", dir=os.path.join(REPO, ".tmp"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_resume_after_partial_run(spark, sf_dir, out_dir):
    wp = webpages(spark, sf_dir)
    plan = compile_plan(wp)

    # "crash" after processing partitions 0..7 only
    first_half = wp.filter(F.col("partition_id") < 8)
    r1 = CheckpointedRun(spark, out_dir, run_id="r1")
    rep1 = r1.run(first_half, plan)
    assert rep1.partitions_processed == 8
    assert sorted(r1.done_partitions()) == list(range(8))

    # resume over the FULL table: only the remaining 8 run
    r2 = CheckpointedRun(spark, out_dir, run_id="r2")
    rep2 = r2.run(wp, plan)
    assert rep2.partitions_skipped == 8
    assert rep2.partitions_processed == 8

    # final output identical to a single-shot run
    expected = violations(wp, plan)
    got = r2.violations()
    assert got.count() == expected.count()
    assert (
        got.exceptAll(expected.select(got.columns)).count() == 0
        and expected.select(got.columns).exceptAll(got).count() == 0
    )

    # idempotent: a third run processes nothing
    rep3 = CheckpointedRun(spark, out_dir, run_id="r3").run(wp, plan)
    assert rep3.partitions_processed == 0

    # lineage: manifest records which run completed each partition
    m = r2.metrics()
    by_run = {
        r["run_id"]: r["cnt"]
        for r in m.groupBy("run_id").agg(F.count_distinct("partition_id").alias("cnt")).collect()
    }
    assert by_run == {"r1": 8, "r2": 8}


def test_resume_report_counts_only_input_partitions(spark, sf_dir, out_dir):
    """Committed partitions absent from the input are not "skipped":
    total = skipped + processed for every input."""
    wp = webpages(spark, sf_dir)
    plan = compile_plan(wp)
    CheckpointedRun(spark, out_dir, run_id="c1").run(
        wp.filter(F.col("partition_id") < 8), plan)

    rep = CheckpointedRun(spark, out_dir, run_id="c2").run(
        wp.filter(F.col("partition_id").isin(2, 9)), plan)
    assert (rep.partitions_total, rep.partitions_skipped,
            rep.partitions_processed) == (2, 1, 1)


def test_reprocessing_partition_is_idempotent(spark, sf_dir, out_dir):
    """Dynamic partition overwrite: re-running a partition replaces its
    output rather than duplicating it (crash-between-write-and-commit
    safety)."""
    wp = webpages(spark, sf_dir).filter(F.col("partition_id") == 2)
    plan = compile_plan(wp)
    run = CheckpointedRun(spark, out_dir, run_id="a")
    run.run(wp, plan)
    n1 = run.violations().count()
    # simulate the re-run of an uncommitted partition: write again
    run2 = CheckpointedRun(spark, out_dir, run_id="b")
    v = violations(wp, plan)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    v.write.mode("overwrite").partitionBy("partition_id").parquet(run2.violations_path)
    assert run2.violations().count() == n1


def test_validate_job_resumes_with_quarantine(spark, sf_dir, out_dir, job_main,
                                              monkeypatch, capsys):
    """jobs/validate_webpages.py ``main()`` resuming an interrupted
    CheckpointedRun into the same --out with --quarantine: only the
    remaining partitions run, the clean and dirty sinks equal the
    single-shot ``runtime.quarantine`` over the whole table, and the
    XJS_SUMMARY key set is pinned."""
    from xjs.runtime import quarantine

    wp = webpages(spark, sf_dir)
    plan = compile_plan(wp)
    CheckpointedRun(spark, out_dir, run_id="vq1").run(
        wp.filter(F.col("partition_id") < 8), plan)

    main = job_main("validate_webpages")
    monkeypatch.setattr(sys, "argv", [
        "validate_webpages.py", "--input", sf_dir, "--out", out_dir,
        "--run-id", "vq2", "--quarantine"])
    main()
    out = capsys.readouterr().out
    line = [ln for ln in out.splitlines() if ln.startswith("XJS_SUMMARY ")][-1]
    summary = json.loads(line.split(" ", 1)[1])
    assert set(summary) == {
        "run_id", "partitions_total", "partitions_skipped",
        "partitions_processed", "n_violations", "n_clean", "n_quarantined",
        "engine_checks", "wall_sec",
    }
    assert set(summary["engine_checks"]) == {
        "duplicate_urls", "referential_violations", "max_psi",
        "out_of_order_ts", "stats_partitions",
    }
    assert (summary["run_id"], summary["partitions_skipped"],
            summary["partitions_processed"]) == ("vq2", 8, 8)
    assert summary["n_violations"] == violations(wp, plan).count()
    assert summary["engine_checks"]["stats_partitions"] == (
        wp.select("partition_id").distinct().count())

    b_clean, b_dirty = quarantine(wp, plan)
    s_clean = spark.read.parquet(f"{out_dir}/clean")
    s_dirty = spark.read.parquet(f"{out_dir}/dirty")
    for got, want, key in ((s_clean, b_clean, "n_clean"),
                           (s_dirty, b_dirty, "n_quarantined")):
        got = got.select(*want.columns)
        assert summary[key] == got.count() == want.count()
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_missing_manifest_reads_empty(spark, out_dir):
    run = CheckpointedRun(spark, os.path.join(out_dir, "fresh"))
    m = run.read_manifest()
    assert m.count() == 0
    assert m.columns == [
        "run_id", "partition_id", "check_name", "status", "n_checked",
        "n_violations", "metrics_json", "completed_ts",
    ]
    assert run.done_partitions() == []


def test_unreadable_manifest_raises(spark, out_dir):
    """A manifest that exists but cannot be read is an error, not "no
    manifest": treating it as empty would silently re-run every
    partition.  Two conflicting partition column names fail Spark's
    partition discovery when the manifest is read."""
    run = CheckpointedRun(spark, out_dir)
    for sub in ("a=1", "b=2"):
        os.makedirs(os.path.join(run.manifest_path, sub))
        with open(os.path.join(run.manifest_path, sub, "part-0.parquet"), "wb") as f:
            f.write(b"not parquet")
    with pytest.raises(Exception, match="CONFLICTING_PARTITION_COLUMN_NAMES"):
        run.done_partitions()
