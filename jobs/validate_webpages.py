#!/usr/bin/env python3
"""spark-submit entrypoint: the full validation job (north_rule launch
mode: ``spark-submit --py-files dist/xjs.zip jobs/validate_webpages.py``).

Runs the compiled schema plan plus every engine constraint class over
the web-pages table, checkpointed per-partition, and prints one JSON
summary line.

Example:

    spark-submit --master 'local-cluster[4,4,3072]' \
        --conf spark.executor.memory=2500m \
        --py-files dist/xjs.zip \
        jobs/validate_webpages.py \
        --input /root/testdata/sf0.01 --out /tmp/xjs-run --factor 1

On a real cluster only ``--master``/resource confs change — the job
code is identical at N and 4N executors.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` plus an observation that reads its row count once the
    action that consumes it (here: its write) has run."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf dir with documents.parquet")
    ap.add_argument("--out", required=True, help="output/checkpoint dir")
    ap.add_argument("--factor", type=int, default=1, help="deterministic scale-up")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--batches", type=int, default=1)
    ap.add_argument("--skip-engine-checks", action="store_true")
    ap.add_argument(
        "--quarantine", action="store_true",
        help="also route rows: clean rows -> <out>/clean, violating "
             "rows + failed-check names -> <out>/dirty; both sinks are "
             "rewritten over the whole table on every run, also when "
             "the checkpoint skips partitions",
    )
    ap.add_argument(
        "--expect-schema", default=None, metavar="DDL",
        help="fail fast (exit 3) if the input table's schema is not "
             "compatible with this DDL (schema-evolution gate: no "
             "removed columns, no type changes; additions are fine)",
    )
    args = ap.parse_args()

    spark = SparkSession.builder.appName("xjs-validate-webpages").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from xjs.checkpoint import CheckpointedRun
    from xjs.checks import drift, monotonicity, referential, stats, uniqueness
    from xjs.flagship import compile_plan
    from xjs.sources.webpages import webpages, webpages_scaled

    t0 = time.perf_counter()
    wp = (
        webpages(spark, args.input)
        if args.factor <= 1
        else webpages_scaled(spark, args.input, args.factor)
    )
    if args.expect_schema:
        from pyspark.sql.types import StructType

        from xjs.infer import schema_diff

        expected = StructType.fromDDL(args.expect_schema)
        diff = schema_diff(expected, wp.schema)
        if not diff["compatible"]:
            print("XJS_SCHEMA_INCOMPATIBLE " + json.dumps(
                {"removed": diff["removed"], "changed": diff["changed"]}))
            sys.exit(3)

    plan = compile_plan(wp)

    run = CheckpointedRun(spark, args.out, run_id=args.run_id)
    report = run.run(wp, plan, batches=args.batches)

    summary = {
        "run_id": report.run_id,
        "partitions_total": report.partitions_total,
        "partitions_skipped": report.partitions_skipped,
        "partitions_processed": report.partitions_processed,
        "n_violations": run.violations().count(),
    }

    if args.quarantine:
        from xjs.runtime import quarantine as _quarantine

        clean, dirty = _quarantine(wp, plan)
        clean, n_clean = _counted(clean)
        dirty, n_dirty = _counted(dirty)
        clean.write.mode("overwrite").parquet(f"{args.out}/clean")
        dirty.write.mode("overwrite").parquet(f"{args.out}/dirty")
        summary["n_clean"] = n_clean.get["n"]
        summary["n_quarantined"] = n_dirty.get["n"]

    if not args.skip_engine_checks:
        eng = {}
        eng["duplicate_urls"] = uniqueness.duplicate_url_sample(wp, "url").count()
        dim = referential.domain_allowlist(spark, args.input)
        eng["referential_violations"] = referential.missing_keys(
            wp.withColumn("domain", referential.domain_of(F.col("url"))),
            dim, "domain", "domain",
        ).count()
        h = drift.histogram(
            wp, F.length("text"), "partition_id",
            drift.TEXT_LEN_LO, drift.TEXT_LEN_HI, drift.N_BUCKETS,
        )
        base = h.groupBy("bucket").agg(F.sum("n").alias("n"))
        eng["max_psi"] = (
            drift.psi(h, base, "partition_id", drift.N_BUCKETS)
            .agg(F.max("psi")).collect()[0][0]
        )
        eng["out_of_order_ts"] = (
            monotonicity.out_of_order(wp, "source", "doc_id", "warc_ts")
            .agg(F.sum("n_out_of_order")).collect()[0][0]
        )
        st = stats.column_stats(
            wp.withColumn("text_len", F.length("text")),
            ["partition_id"], numeric_cols=["text_len"],
            categorical_cols=["lang"], timestamp_cols=["warc_ts"],
            mode="approx",
        )
        st, n_stats = _counted(st)
        st.write.mode("overwrite").parquet(f"{args.out}/stats")
        eng["stats_partitions"] = n_stats.get["n"]
        summary["engine_checks"] = eng

    summary["wall_sec"] = round(time.perf_counter() - t0, 2)
    print("XJS_SUMMARY " + json.dumps(summary))


if __name__ == "__main__":
    main()
