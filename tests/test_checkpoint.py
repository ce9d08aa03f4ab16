"""Checkpoint/resume: kill-and-resume equivalence, idempotent re-run."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from xjs.checkpoint import CheckpointedRun
from xjs.flagship import compile_plan
from xjs.runtime import violations
from xjs.sources.webpages import webpages


@pytest.fixture()
def out_dir():
    os.makedirs("/root/repo/.tmp", exist_ok=True)
    d = tempfile.mkdtemp(prefix="xjs-ckpt-", dir="/root/repo/.tmp")
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


def test_resume_with_quarantine_sinks(spark, sf_dir, out_dir):
    """Kill-and-resume with quarantine=True: after resume the clean and
    dirty sinks equal the single-shot quarantine on the full table."""
    from xjs.runtime import quarantine

    wp = webpages(spark, sf_dir)
    plan = compile_plan(wp)

    first_half = wp.filter(F.col("partition_id") < 8)
    r1 = CheckpointedRun(spark, out_dir, run_id="rq1")
    r1.run(first_half, plan, quarantine=True)

    r2 = CheckpointedRun(spark, out_dir, run_id="rq2")
    rep = r2.run(wp, plan, quarantine=True)
    assert rep.partitions_skipped == 8

    b_clean, b_dirty = quarantine(wp, plan)
    s_clean, s_dirty = r2.clean(), r2.dirty()
    assert s_clean.count() == b_clean.count()
    assert s_clean.select(*b_clean.columns).exceptAll(b_clean).count() == 0
    assert s_dirty.count() == b_dirty.count()
    assert s_dirty.select(*b_dirty.columns).exceptAll(b_dirty).count() == 0


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
