"""The three workloads: one pass each, and the traced replay of that pass.

A *pass* is what a user runs: the job's own ``main()`` or the public API
call, writing into a fresh output directory.  The *traced* pass calls
the same public functions in the order the job does and forces each
result on its own (with the job's own write or a noop write), inside a
span named after the layer, so that every Spark job falls into exactly
one span.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import sys
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from gen import JSON_SCHEMA

#: partitions (of 16) the interrupted first run commits before the resume
COMMITTED_PARTITIONS = 6
RESUME_BATCHES = 1


def load_job(root: str, name: str):
    """Import ``jobs/<name>.py`` (a script directory, not a package)."""
    spec = importlib.util.spec_from_file_location(
        f"perfbench_job_{name}", os.path.join(root, "jobs", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_main(main, argv: list[str]) -> str:
    """Run a job's ``main()`` with ``argv``; return what it printed."""
    buf = io.StringIO()
    saved = sys.argv
    sys.argv = ["job", *argv]
    try:
        with contextlib.redirect_stdout(buf):
            main()
    finally:
        sys.argv = saved
    return buf.getvalue()


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


class Workload:
    name = ""
    #: passes between the cold one and the timed ones, and the fewest
    #: timed passes a run makes whatever ``--seconds`` says
    warm_passes = 0
    min_timed = 5

    def __init__(self, spark: SparkSession, root: str, input_dir: str, n_docs: int):
        self.spark = spark
        self.root = root
        self.input = input_dir
        self.n_docs = n_docs

    def prepare(self) -> None:
        """The program's own preparation before a first pass."""

    def run_pass(self, out: str, tag: str) -> dict:
        raise NotImplementedError

    def traced_pass(self, out: str, tag: str, spans) -> dict:
        raise NotImplementedError


class PagesValidate(Workload):
    """An interrupted checkpointed run, then ``validate_webpages.main()``
    resuming into the same output with quarantine and all engine checks."""

    name = "pages_validate"
    # a warm pass costs ~15 s; the cold one is the only warm-up the
    # driver's time budget allows (README, "Time budget")
    warm_passes = 0
    min_timed = 2

    def __init__(self, *a):
        super().__init__(*a)
        self.job = load_job(self.root, "validate_webpages")

    def prepare(self) -> None:
        from xjs.flagship import compile_plan
        from xjs.sources.webpages import webpages

        self.plan = compile_plan(webpages(self.spark, self.input))

    def _interrupted_run(self, out: str, tag: str, wp, plan) -> None:
        from xjs.checkpoint import CheckpointedRun

        CheckpointedRun(self.spark, out, run_id=tag).run(
            wp.filter(F.col("partition_id") < COMMITTED_PARTITIONS), plan
        )

    def _argv(self, out: str, tag: str) -> list[str]:
        return ["--input", self.input, "--out", out, "--run-id", tag,
                "--quarantine", "--batches", str(RESUME_BATCHES)]

    def run_pass(self, out: str, tag: str, interrupted: bool = True) -> dict:
        from xjs.flagship import compile_plan
        from xjs.sources.webpages import webpages

        if interrupted:
            wp = webpages(self.spark, self.input)
            self._interrupted_run(out, tag, wp, compile_plan(wp))
        printed = run_main(self.job.main, self._argv(out, tag))
        line = next(l for l in printed.splitlines() if l.startswith("XJS_SUMMARY "))
        return json.loads(line[len("XJS_SUMMARY "):])

    def traced_pass(self, out: str, tag: str, spans) -> dict:
        """validate_webpages.main()'s calls, each forced on its own."""
        from xjs.checkpoint import CheckpointedRun
        from xjs.checks import drift, monotonicity, referential, stats, uniqueness
        from xjs.flagship import compile_plan
        from xjs.runtime import quarantine, verdicts, violations
        from xjs.sources.webpages import webpages

        spark = self.spark
        with spans.span("jobs.validate_webpages"):
            with spans.span("sources.webpages") as s:
                wp = webpages(spark, self.input)
                df, obs = counted(wp)
                noop(df)
                s["rows_out"] = obs.get["rows"]
            with spans.span("plan.compile_plan") as s:
                plan = compile_plan(wp)
                s["n_checks"] = len(plan.checks)
            # the runtime calls the checkpointed run makes, each forced
            # on its own over the whole table
            with spans.span("runtime.violations") as s:
                df, obs = counted(violations(wp, plan))
                noop(df)
                s["rows_out"] = obs.get["rows"]
            with spans.span("runtime.verdicts"):
                noop(verdicts(wp, plan))
            with spans.span("checkpoint.run", dirs=[out]):
                self._interrupted_run(out, tag, wp, plan)
            run = CheckpointedRun(spark, out, run_id=tag)
            with spans.span("checkpoint.resume", dirs=[out]) as s:
                rep = run.run(wp, plan, batches=RESUME_BATCHES)
                s["partitions_processed"] = rep.partitions_processed
            run.violations().count()
            with spans.span("runtime.quarantine", dirs=[f"{out}/clean", f"{out}/dirty"]):
                clean, dirty = quarantine(wp, plan)
                clean.write.mode("overwrite").parquet(f"{out}/clean")
                dirty.write.mode("overwrite").parquet(f"{out}/dirty")
            spark.read.parquet(f"{out}/clean").count()
            spark.read.parquet(f"{out}/dirty").count()
            with spans.span("checks.uniqueness"):
                uniqueness.duplicate_url_sample(wp, "url").count()
            with spans.span("checks.referential"):
                dim = referential.domain_allowlist(spark, self.input)
                referential.missing_keys(
                    wp.withColumn("domain", referential.domain_of(F.col("url"))),
                    dim, "domain", "domain",
                ).count()
            with spans.span("checks.drift"):
                h = drift.histogram(wp, F.length("text"), "partition_id",
                                    drift.TEXT_LEN_LO, drift.TEXT_LEN_HI, drift.N_BUCKETS)
                base = h.groupBy("bucket").agg(F.sum("n").alias("n"))
                drift.psi(h, base, "partition_id", drift.N_BUCKETS).agg(F.max("psi")).collect()
            with spans.span("checks.monotonicity"):
                monotonicity.out_of_order(wp, "source", "doc_id", "warc_ts").agg(
                    F.sum("n_out_of_order")).collect()
            with spans.span("checks.stats"):
                st = stats.column_stats(
                    wp.withColumn("text_len", F.length("text")),
                    ["partition_id"], numeric_cols=["text_len"],
                    categorical_cols=["lang"], timestamp_cols=["warc_ts"], mode="approx",
                )
                st.write.mode("overwrite").parquet(f"{out}/stats")
            st.count()
        return {"partitions_skipped": rep.partitions_skipped,
                "partitions_processed": rep.partitions_processed}


class JsonValidate(Workload):
    """``api.validate_json_column`` over heterogeneous JSON documents,
    violations written to parquet."""

    name = "json_validate"

    def prepare(self) -> None:
        from xjs.frontend import compile_frontend

        self.node = compile_frontend(JSON_SCHEMA)

    def _violations(self) -> DataFrame:
        from xjs.api import validate_json_column

        docs = self.spark.read.parquet(f"{self.input}/docs.parquet")
        return validate_json_column(docs, JSON_SCHEMA, "doc", "id")

    def run_pass(self, out: str, tag: str) -> dict:
        self._violations().write.mode("overwrite").parquet(f"{out}/violations")
        return {}

    def traced_pass(self, out: str, tag: str, spans) -> dict:
        from xjs.api import check_document
        from xjs.frontend import compile_frontend

        with spans.span("frontend.compile_frontend"):
            compile_frontend(JSON_SCHEMA)
        with spans.span("dynamic.check_document") as s:
            sample = self.sample_docs()
            t0 = time.perf_counter()
            for d in sample:
                check_document(JSON_SCHEMA, d)
            s["us_per_doc"] = (time.perf_counter() - t0) / len(sample) * 1e6
        with spans.span("dynamic_spark.validate_json_column") as s:
            df, obs = counted(self._violations())
            df.write.mode("overwrite").parquet(f"{out}/violations")
            s["rows_out"] = obs.get["rows"]
        return {}

    def sample_docs(self, n: int = 2000) -> list:
        if not hasattr(self, "_sample"):
            import pyarrow.parquet as pq

            col = pq.read_table(f"{self.input}/docs.parquet/part-00000.parquet",
                                columns=["doc"]).column("doc")
            self._sample = [json.loads(s) for s in col.slice(0, n).to_pylist()]
        return self._sample


class CorpusCurate(Workload):
    """``curate_corpus.main()`` with the Gopher gate and C4 cleaning."""

    name = "corpus_curate"
    warm_passes = 0
    min_timed = 2

    def __init__(self, *a):
        super().__init__(*a)
        self.job = load_job(self.root, "curate_corpus")

    def prepare(self) -> None:
        # the job's own preparation is its imports and the input schema
        from xjs.pipeline import decontam, dedup, heuristics, pii, text  # noqa: F401

        self.spark.read.parquet(f"{self.input}/documents.parquet").schema

    def run_pass(self, out: str, tag: str) -> dict:
        printed = run_main(self.job.main, ["--input", self.input, "--out", out,
                                           "--gopher-gate", "--c4-clean"])
        return json.loads(printed.strip().splitlines()[-1])

    def traced_pass(self, out: str, tag: str, spans) -> dict:
        """curate_corpus.main()'s calls; each layer's input is staged to
        parquet first (part of the job span's self time), so a layer's
        span holds its own work and not the recomputation of the funnel
        above it."""
        from xjs.pipeline.decontam import BENCH_RESIDUE, contaminated_docs
        from xjs.pipeline.dedup import substring_duplicates
        from xjs.pipeline.heuristics import c4_stats, gopher_features
        from xjs.pipeline.pii import redact
        from xjs.pipeline.select import MIN_STOPWORD_RATIO, MIN_TOKENS
        from xjs.pipeline.text import quality_features

        spark = self.spark
        stage_dir = f"{out}/_stage"

        def stage(df: DataFrame, name: str) -> DataFrame:
            df.write.mode("overwrite").parquet(f"{stage_dir}/{name}")
            return spark.read.parquet(f"{stage_dir}/{name}")

        with spans.span("jobs.curate_corpus"):
            docs = spark.read.parquet(f"{self.input}/documents.parquet")
            survivors = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
            base = stage(docs.join(survivors.select("doc_id"), "doc_id"), "base")
            exact_rej = docs.join(survivors.select("doc_id"), "doc_id", "left_anti").select(
                "doc_id", F.lit("exact_duplicate").alias("reason"))
            with spans.span("pipeline.dedup.substring_duplicates"):
                substr_ids = substring_duplicates(base).select("doc_id")
                substr_ids = stage(substr_ids, "substr")
            bench_rej = base.filter(F.col("doc_id") % BENCH_RESIDUE == 0).join(
                substr_ids, "doc_id", "left_anti").select("doc_id", F.lit("benchmark").alias("reason"))
            substr_rej = substr_ids.select("doc_id", F.lit("substring_duplicate").alias("reason"))
            bench = stage(base.filter(F.col("doc_id") % BENCH_RESIDUE == 0), "bench")
            corpus = stage(base.filter(F.col("doc_id") % BENCH_RESIDUE != 0).join(
                substr_ids, "doc_id", "left_anti"), "corpus")
            with spans.span("pipeline.decontam.contaminated_docs"):
                contam_ids = stage(contaminated_docs(corpus, bench).select("doc_id"), "contam")
            contam_rej = contam_ids.select("doc_id", F.lit("contaminated").alias("reason"))
            gated = stage(corpus.join(contam_ids, "doc_id", "left_anti"), "gated")
            with spans.span("pipeline.text.quality_features"):
                feats = stage(quality_features(gated), "feats")
            quality_ok = (F.col("n_tokens") >= MIN_TOKENS) & (
                F.col("stopword_ratio") >= MIN_STOPWORD_RATIO)
            low_q_rej = feats.filter(~quality_ok).select("doc_id", F.lit("low_quality").alias("reason"))
            kept_ids = feats.filter(quality_ok).select("doc_id", "n_tokens", "quality_score")
            rejects = exact_rej.unionByName(substr_rej).unionByName(bench_rej).unionByName(
                contam_rej).unionByName(low_q_rej)
            kept_docs = stage(docs.join(kept_ids, "doc_id"), "kept0")
            with spans.span("pipeline.heuristics.gopher_features"):
                gf = stage(gopher_features(kept_docs.select("doc_id", "text")), "gopher")
            keep_b = F.coalesce(F.col("keep"), F.lit(False))
            first_fail = F.when(F.col("fail_rules") == "", F.lit("null_text")).otherwise(
                F.split("fail_rules", ",")[0])
            rejects = rejects.unionByName(gf.filter(~keep_b).select(
                "doc_id", F.concat(F.lit("gopher:"), first_fail).alias("reason")))
            kept_docs = stage(kept_docs.join(gf.filter(keep_b).select("doc_id"), "doc_id"), "kept1")
            with spans.span("pipeline.heuristics.c4_stats"):
                cs = stage(c4_stats(kept_docs.select("doc_id", "text")), "c4")
            rejects = rejects.unionByName(cs.filter(~F.col("keep")).select(
                "doc_id", F.concat(F.lit("c4:"), F.col("reason")).alias("reason")))
            kept_docs = kept_docs.drop("text").join(
                cs.filter("keep").select("doc_id", F.col("clean_text").alias("text")), "doc_id")
            kept_docs = stage(kept_docs, "kept2")
            with spans.span("pipeline.pii.redact"):
                kept = kept_docs.select("doc_id", "lang", "source", redact(F.col("text")).alias("text"),
                                        "n_tokens", "quality_score")
                kept.write.mode("overwrite").parquet(f"{out}/corpus")
            rejects.write.mode("overwrite").parquet(f"{out}/rejects")
            spark.read.parquet(f"{out}/rejects").groupBy("reason").agg(
                F.count(F.lit(1)).alias("n")).collect()
            spark.read.parquet(f"{out}/corpus").count()
            docs.count()
        return {}


WORKLOADS = {w.name: w for w in (PagesValidate, JsonValidate, CorpusCurate)}
