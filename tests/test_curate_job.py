"""End-to-end spark-submit smoke of the curation job: row accounting
must cover the input exactly, outputs must land, the kept corpus must
be PII-free by construction (redaction is part of the job)."""

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def tmp():
    d = tempfile.mkdtemp(prefix="xjs-curatejob-", dir=os.path.join(REPO, ".tmp"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_curate_job_spark_submit(tmp):
    subprocess.run(
        ["python", os.path.join(REPO, "scripts", "make_pyfiles.py")],
        check=True, capture_output=True,
    )
    proc = subprocess.run(
        [
            "/opt/spark/bin/spark-submit",
            "--master", "local[4]",
            "--py-files", os.path.join(REPO, "dist", "xjs.zip"),
            os.path.join(REPO, "jobs", "curate_corpus.py"),
            "--input", "/root/testdata/sf0.001",
            "--out", tmp,
        ],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["accounted"] is True
    assert summary["kept"] > 0
    assert summary["kept"] + sum(summary["rejects"].values()) == summary["input_docs"]
    assert os.path.exists(os.path.join(tmp, "corpus", "_SUCCESS"))
    assert os.path.exists(os.path.join(tmp, "rejects", "_SUCCESS"))


def test_curate_job_heuristic_gates(tmp, spark):
    """--gopher-gate + --c4-clean compose into the funnel with exact
    accounting and rule-attributed reject reasons.  The input is a
    synthetic documents table whose docs are C4/Gopher-shaped (multi
    line, punctuated, stopword-bearing) with known violators injected,
    so both gates keep something and drop something."""
    # every <=2nd token is doc-tagged, so no 4-gram (decontam width)
    # or longer window repeats across docs — the earlier funnel gates
    # (substring/contamination) must not swallow the heuristic gates
    def line(i, j):
        return (f"the w{i}a{j}b and w{i}c{j}d w{i}e{j}f "
                f"w{i}g{j}h done.")

    rows = []
    for i in range(400):
        body = "\n".join(line(i, j) for j in range(8))
        if i % 31 == 0:
            body += "\nlorem ipsum"          # c4:lorem_ipsum
        if i % 37 == 0:
            # 20 doc-tagged numeric words: alpha fraction 56/76 < 80%
            # (doc-tagged so the substring gate can't claim them first)
            body += "\n" + " ".join(f"{k}{i}{k}" for k in range(20))
        rows.append((i, f"src{i % 4}", body, "en", i % 8))
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string, lang string, "
              "partition_id int",
    )
    indir = os.path.join(tmp, "in")
    docs.coalesce(2).write.parquet(os.path.join(indir, "documents.parquet"))

    proc = subprocess.run(
        [
            "/opt/spark/bin/spark-submit",
            "--master", "local[4]",
            "--py-files", os.path.join(REPO, "dist", "xjs.zip"),
            os.path.join(REPO, "jobs", "curate_corpus.py"),
            "--input", indir,
            "--out", os.path.join(tmp, "out"),
            "--gopher-gate", "--c4-clean",
        ],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["gates"] == {"gopher": True, "c4": True}
    assert summary["accounted"] is True
    assert summary["kept"] > 0
    reasons = summary["rejects"]
    assert "gopher:alpha_frac" in reasons, reasons
    assert "c4:lorem_ipsum" in reasons, reasons
    # cleaned text: every surviving line ends in terminal punctuation
    kept = spark.read.parquet(os.path.join(tmp, "out", "corpus"))
    for r in kept.select("text").limit(20).collect():
        for line in r.text.split("\n"):
            assert line and line[-1] in '.!?"', line


def _run_curate(job_main, monkeypatch, capsys, argv):
    monkeypatch.setattr(sys, "argv", ["curate_corpus.py", *argv])
    job_main("curate_corpus")()
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_curate_job_corpus_is_select_funnel(spark, sf_dir, tmp, job_main,
                                            monkeypatch, capsys):
    """Without the heuristic gates the job's corpus is exactly
    ``select.curate_corpus`` over the same documents, and every other
    document is in the reject ledger."""
    from xjs.pipeline import select

    out = os.path.join(tmp, "out")
    summary = _run_curate(job_main, monkeypatch, capsys,
                          ["--input", sf_dir, "--out", out])
    assert summary["accounted"] is True
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = {r.doc_id for r in select.curate_corpus(docs).select("doc_id").collect()}
    got = {r.doc_id for r in spark.read.parquet(f"{out}/corpus").select("doc_id").collect()}
    rejected = {r.doc_id for r in spark.read.parquet(f"{out}/rejects").select("doc_id").collect()}
    assert got == want and want
    assert got.isdisjoint(rejected)
    assert len(got) + len(rejected) == summary["input_docs"]


# Spark jobs one in-process main() pass launches on sf0.001 with both
# heuristic gates (local[4], 8 shuffle partitions): 59 when each output
# write and summary count re-ran the funnel, 26 with the decision frame
# materialized once.  The bound sits between the two.
MAX_CURATE_JOBS = 40


def test_curate_job_runs_each_gate_once(spark, sf_dir, tmp, job_main,
                                        monkeypatch, capsys):
    """Guard against the funnel being recomputed per output: the whole
    job (both gates on) stays under a Spark job budget."""
    sc = spark.sparkContext
    group = "curate-job-budget"
    sc.setJobGroup(group, group)
    try:
        summary = _run_curate(
            job_main, monkeypatch, capsys,
            ["--input", sf_dir, "--out", os.path.join(tmp, "out"),
             "--gopher-gate", "--c4-clean"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert summary["accounted"] is True
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= MAX_CURATE_JOBS, n_jobs
