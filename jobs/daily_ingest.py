#!/usr/bin/env python3
"""spark-submit entrypoint: INCREMENTAL daily ingestion — fold one new
corpus slice into persisted dedup state and emit the slice cleaned
against everything seen so far, composing the three incremental state
families end-to-end (the production shape for a corpus that grows
daily; each family's batch/fold equivalence is oracle-checked
separately — this job is their composition):

  1. line-grain state  (lines.line_state_update): per-line counts +
     min-owner; the slice is cleaned against state-so-far and the
     CLEANED text feeds the next stage.
  2. char-grain window-owner state (suffix.char_state_update, content-
     anchored): built over line-cleaned text; duplicated >= k-char
     spans vs history are spliced out byte-faithfully.
  3. simhash near-dup registry (incremental.incremental_update) over
     the final cleaned text: digests / signatures / components, so
     survivors-so-far is answerable from state alone.

Ordering note: each stage's state lives over its INPUT stage's output
(char state over line-cleaned text), so offsets stay aligned and the
composition equals the batch pipeline when slices arrive in ascending
doc-id order (owners are always in the earliest slice — the natural
shape when new docs get new ids; the e2e test pins this equivalence).
For out-of-order arrivals the per-family retro-clean contract applies
(see tests/test_suffix_incremental.py, lines.py).

Replay safety: every state write and cleaned artifact is guarded by
``xjs.pipeline.state.complete`` (its _SUCCESS markers); a _DONE marker
guards the whole day, so a killed run re-submitted by a scheduler
resumes at the first unfinished artifact and a completed day is a
no-op.  The manifest records the slice filter + per-stage counts
(the per-partition lineage + metrics story at day grain).

Example (day 1 of 3, ordered ingestion):

    spark-submit --master 'local[8]' --py-files dist/xjs.zip \
        jobs/daily_ingest.py --input /root/testdata/sf0.001 \
        --out /tmp/xjs-ingest/day1 --state-in /tmp/xjs-ingest/day0 \
        --filter 'doc_id >= 2000 AND doc_id < 4000' --day day1
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf dir with documents.parquet")
    ap.add_argument("--out", required=True, help="this day's state+output dir")
    ap.add_argument("--state-in", default=None,
                    help="previous day's dir (omit to bootstrap)")
    ap.add_argument("--filter", required=True,
                    help="SQL predicate selecting this day's slice")
    ap.add_argument("--day", default="day", help="label for the manifest")
    ap.add_argument("--anchor-mod", type=int, default=8,
                    help="char-grain state pruning modulus (1 = exact)")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("xjs-daily-ingest").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from xjs.pipeline.incremental import incremental_update, survivors
    from xjs.pipeline.lines import (
        duplicated_from_state,
        line_dedup_remove,
        line_page_transform,
        line_state_update,
    )
    from xjs.pipeline.state import complete
    from xjs.pipeline.suffix import (
        char_dedup_remove,
        char_duplicates_from_state,
        char_state_update,
    )

    t0 = time.time()
    done_marker = os.path.join(args.out, "_DONE")
    if args.state_in and not os.path.exists(
        os.path.join(args.state_in, "_DONE")
    ):
        raise SystemExit(
            f"--state-in {args.state_in} is not a completed day "
            "(no _DONE marker): re-run that day first — chaining onto "
            "partial state would mix lineages silently"
        )
    docs = spark.read.parquet(f"{args.input}/documents.parquet")
    corpus = line_page_transform(docs.select("doc_id", "text"))
    sl = corpus.filter(args.filter)

    prev = args.state_in
    p_lines = os.path.join(args.out, "lines")
    p_chars = os.path.join(args.out, "chars")
    p_sim = os.path.join(args.out, "sim")
    p_lc = os.path.join(args.out, "cleaned_lines")
    p_clean = os.path.join(args.out, "cleaned")

    if not os.path.exists(done_marker):
        # 1. line state + forward clean (against history + this slice)
        line_state_update(
            spark, sl, p_lines,
            os.path.join(prev, "lines") if prev else None,
        )
        if not complete(p_lc):
            dups = duplicated_from_state(spark, p_lines)
            line_dedup_remove(sl, dups=dups).select(
                "doc_id", F.col("clean_text").alias("text")
            ).write.mode("overwrite").parquet(p_lc)
        lc = spark.read.parquet(p_lc)

        # 2. char-grain state over line-CLEANED text + forward clean
        char_state_update(
            spark, lc, p_chars,
            os.path.join(prev, "chars") if prev else None,
            anchor_mod=args.anchor_mod,
        )
        if not complete(p_clean):
            spans = char_duplicates_from_state(
                spark, lc, p_chars, anchor_mod=args.anchor_mod
            )
            char_dedup_remove(lc, spans).select(
                "doc_id", F.col("clean_text").alias("text")
            ).write.mode("overwrite").parquet(p_clean)
        clean = spark.read.parquet(p_clean)

        # 3. simhash near-dup registry over the final cleaned text
        incremental_update(
            spark, clean, p_sim,
            os.path.join(prev, "sim") if prev else None,
        )

        surv = survivors(spark, p_sim)
        manifest = {
            "job": "daily_ingest",
            "day": args.day,
            "filter": args.filter,
            "anchor_mod": args.anchor_mod,
            "n_docs_slice": sl.count(),
            "n_dup_lines_state": duplicated_from_state(spark, p_lines).count(),
            "n_char_state_rows": spark.read.parquet(p_chars).count(),
            "n_components": surv.count(),
            "n_multi_doc_components": surv.filter(F.col("n_docs") > 1).count(),
            "sec": round(time.time() - t0, 2),
        }
        with open(os.path.join(args.out, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        with open(done_marker, "w") as f:
            f.write("ok\n")
    else:
        with open(os.path.join(args.out, "manifest.json")) as f:
            manifest = json.load(f)
        manifest["replay"] = True

    print(json.dumps(manifest))
    spark.stop()


if __name__ == "__main__":
    main()
