#!/usr/bin/env python3
"""spark-submit entrypoint: the training-data curation job.

Runs the full curation funnel over the documents table and writes a
training-ready corpus plus a reject ledger that says WHY each dropped
document fell out — the artifact a data-quality review actually needs:

    <out>/corpus/   doc_id, lang, source, text (PII-redacted),
                    n_tokens, quality_score
    <out>/rejects/  doc_id, reason in {exact_duplicate,
                    substring_duplicate, benchmark, contaminated,
                    low_quality, gopher:<first failing rule>
                    (--gopher-gate; gopher:null_text for a NULL
                    text), c4:<page rule> (--c4-clean)}

Example:

    spark-submit --master 'local[8]' --py-files dist/xjs.zip \
        jobs/curate_corpus.py --input /root/testdata/sf0.001 \
        --out /tmp/xjs-curate

The funnel is ``select.curate_decisions`` (exact-dup survivors,
substring dedup, decontamination, quality thresholds, each an
oracle-checked operator run once) plus the optional Gopher / C4 gates;
the job materializes that one decision frame once, writes both outputs
from it, prints one JSON summary line, and is deterministic end-to-end.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _gate(frame: DataFrame, verdicts: DataFrame) -> DataFrame:
    """Join a later gate's per-doc ``gate`` reason (NULL = pass) onto the
    funnel frame; it only decides rows the funnel left undecided."""
    return (
        frame.join(verdicts, "doc_id", "left")
        .withColumn("reason", F.coalesce("reason", "gate"))
        .drop("gate")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf dir with documents.parquet")
    ap.add_argument("--out", required=True, help="output dir")
    ap.add_argument(
        "--gopher-gate", action="store_true",
        help="apply the Gopher quality rules (Rae et al. 2021) after "
             "the generic quality gate; rejects carry "
             "'gopher:<first-failing-rule>'",
    )
    ap.add_argument(
        "--c4-clean", action="store_true",
        help="apply the C4 line rules (Raffel et al. 2020) to surviving "
             "docs: retained lines replace the text, page-rule drops "
             "carry 'c4:<reason>'",
    )
    args = ap.parse_args()

    spark = SparkSession.builder.appName("xjs-curate-corpus").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from xjs.pipeline.pii import redact
    from xjs.pipeline.select import curate_decisions

    t0 = time.time()
    docs = spark.read.parquet(f"{args.input}/documents.parquet")

    # one row per input doc; reason = first failing gate, NULL = kept.
    # The heuristic gates are row-local, so they read the input scan
    # rather than the funnel frame (which would re-derive the funnel);
    # their verdict only counts on rows the funnel left undecided.
    frame = curate_decisions(docs)
    text = F.col("text")
    if args.gopher_gate:
        from xjs.pipeline.heuristics import gopher_features

        gf = gopher_features(docs.select("doc_id", "text"))
        # null text -> NULL keep (features propagate null); coalesce so
        # such rows are REJECTED with an explicit reason instead of
        # vanishing from the exact accounting
        first_fail = F.when(
            F.col("fail_rules") == "", F.lit("null_text")
        ).otherwise(F.split("fail_rules", ",")[0])
        frame = _gate(frame, gf.select("doc_id", F.when(
            ~F.coalesce(F.col("keep"), F.lit(False)),
            F.concat(F.lit("gopher:"), first_fail),
        ).alias("gate")))
    if args.c4_clean:
        from xjs.pipeline.heuristics import c4_stats

        cs = c4_stats(docs.select("doc_id", "text"))
        frame = _gate(frame, cs.select("doc_id", F.when(
            ~F.col("keep"), F.concat(F.lit("c4:"), F.col("reason")),
        ).alias("gate"), "clean_text"))
        text = F.col("clean_text")

    kept = F.col("reason").isNull()
    decided = frame.select(
        "doc_id",
        "lang",
        "source",
        F.when(kept, redact(text)).alias("text"),
        "n_tokens",
        "quality_score",
        "reason",
    ).persist()
    try:
        corpus = decided.filter(kept).drop("reason")
        # isNotNull (not ~kept) lets Spark write `reason` as non-nullable
        rejects = decided.filter(F.col("reason").isNotNull()).select("doc_id", "reason")
        corpus.write.mode("overwrite").parquet(f"{args.out}/corpus")
        rejects.write.mode("overwrite").parquet(f"{args.out}/rejects")
        reject_counts = {
            r["reason"]: r["n"]
            for r in decided.groupBy("reason")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
    finally:
        decided.unpersist()
    n_kept = reject_counts.pop(None, 0)
    n_in = docs.count()
    summary = {
        "job": "curate_corpus",
        "gates": {"gopher": args.gopher_gate, "c4": args.c4_clean},
        "input_docs": n_in,
        "kept": n_kept,
        "rejects": reject_counts,
        "accounted": n_kept + sum(reject_counts.values()) == n_in,
        "sec": round(time.time() - t0, 2),
    }
    print(json.dumps(summary))
    if not summary["accounted"]:
        sys.exit(2)


if __name__ == "__main__":
    main()
