"""Structured Streaming wrapper: the compiled CheckPlan is
side-effect-free Column algebra, so the SAME plan validates a stream.

North_rule scope note: streaming is not required by the reference or
the north_rule (SURVEY.md §2.9) — this wrapper exists because the
compile-then-validate design makes it nearly free, and a production
CC-ingest pipeline would run exactly this: readStream from the landing
zone → violations/verdicts → append sinks, with a watermark for
late-arriving crawl records.

Shapes:

* ``stream_violations`` — narrow, stateless: violations append-sink.
* ``windowed_violation_counts`` — stateful: per (window, check) counts
  with a watermark bounding state; late rows beyond the watermark drop
  out of state instead of accumulating forever (the 10^12-row
  concern).
* ``run_availablenow`` — batch-equivalent execution of a file stream
  (what the tests assert against the batch engine).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xjs.plan import CheckPlan
from xjs.runtime import violations as _violations


def stream_violations(stream_df: DataFrame, plan: CheckPlan) -> DataFrame:
    """Stateless violation stream — identical expressions to batch."""
    return _violations(stream_df, plan)


def windowed_violation_counts(
    stream_df: DataFrame,
    plan: CheckPlan,
    ts_col: str,
    window: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """(window, path, keyword, n) with bounded state via watermark."""
    v = _violations(stream_df.withWatermark(ts_col, watermark), plan, keep_cols=[ts_col])
    return v.groupBy(
        F.window(F.col(ts_col), window).alias("window"), "path", "keyword"
    ).agg(F.count(F.lit(1)).alias("n"))


def stateful_entity_totals(stream_df: DataFrame, plan: CheckPlan, entity_col: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: cumulative
    (n_docs, n_violations) per entity, maintained across micro-batches
    AND across restarts (state lives in the streaming checkpoint).

    The per-row work (pass_all) is still the compiled codegen
    predicate — only the tiny per-entity counter state goes through
    Python, in Arrow batches grouped by entity.  State size is O(1)
    per entity; a watermark-based timeout would bound entity
    cardinality in a production run."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    flagged = stream_df.select(
        F.col(entity_col).alias("entity"),
        (~plan.pass_all()).cast("long").alias("fail"),
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n_docs, n_viol = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n_docs += len(pdf)
            n_viol += int(pdf["fail"].sum())
        state.update((n_docs, n_viol))
        yield pd.DataFrame(
            {"entity": [key[0]], "n_docs": [n_docs], "n_violations": [n_viol]}
        )

    return flagged.groupBy("entity").applyInPandasWithState(
        update,
        outputStructType="entity string, n_docs long, n_violations long",
        stateStructType="n_docs long, n_violations long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_heavy_hitters(
    stream_df: DataFrame,
    col: str,
    n_buckets: int = 8,
    capacity: int = 256,
) -> DataFrame:
    """Streaming twin of ``xjs.pipeline.heavy``: a Misra-Gries sketch
    maintained per hash bucket across micro-batches via
    ``applyInPandasWithState``.  Each batch emits every bucket's
    current (item, est) summary; the union of final summaries is the
    same provable heavy-hitter superset as the batch sketch.  Bucket
    guarantee (worst case): an item with global frequency >= s*N has
    all its count inside one bucket, and N_bucket <= N, so it survives
    that bucket's MG sketch whenever s > 1/(capacity+1) — the same
    condition as the batch sketch; bucketing buys state parallelism,
    NOT a weaker threshold (only under an even-spread assumption
    N_bucket ~ N/n_buckets does the bound relax to
    s > 1/(n_buckets*(capacity+1)), which must not be relied on).  The
    batch exact-confirm pass over the candidates then yields the exact
    heavy hitters.

    State is O(capacity) per bucket — constant, watermark-free — and
    survives restarts through the streaming checkpoint.

    Checkpoint compatibility (ADVICE r3): the state schema's array
    item type is DERIVED from the input column type, so checkpoints
    written under an older hardcoded ``array<long>`` schema — or after
    the input column's type changes — fail restart with a state-schema
    incompatibility; resume such queries from a fresh checkpoint
    location."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from xjs.pipeline.heavy import _mg_reduce

    # derive the item type from the input column (the r2 hardcoded
    # 'long' broke string-keyed columns like domains); NULL keys count
    # under a None entry, mirroring the batch sketch
    item_type = dict(stream_df.dtypes)[col]

    src = stream_df.select(
        F.col(col).alias("item"),
        F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int").alias("bucket"),
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        counts: dict = {}
        if state.exists:
            items, ests = state.get
            counts = dict(zip(items, ests))
        for pdf in pdfs:
            s = pdf["item"]
            n_null = int(s.isna().sum())
            if n_null:
                counts[None] = counts.get(None, 0) + n_null
            for item, c in s.dropna().value_counts().items():
                counts[item] = counts.get(item, 0) + int(c)
            counts = _mg_reduce(counts, capacity)
        state.update((list(counts.keys()), list(counts.values())))
        yield pd.DataFrame(
            {
                "bucket": key[0],
                "item": pd.array(list(counts.keys()), dtype="object"),
                "est": list(counts.values()),
            }
        )

    return src.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType=f"bucket int, item {item_type}, est long",
        stateStructType=f"items array<{item_type}>, ests array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_stats(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: Optional[str] = "2 hours",
) -> DataFrame:
    """Gap-based session aggregation via ``F.session_window`` —
    (entity, session_start, session_end, n_events).

    Works on BOTH a stream and a batch DataFrame (the equivalence the
    tests assert): in streaming mode the watermark bounds session
    state, merging late events into open sessions within the horizon
    and finalizing sessions once the watermark passes their end.  This
    is the streaming counterpart of xjs.pipeline.sessions.sessionize —
    same gap semantics; session_window's `end` is last-event + gap by
    definition, where the batch pipeline reports max(ts).

    State shape at scale: one open session struct per (entity, active
    session); the watermark evicts closed sessions, so state is
    proportional to concurrently-active entities, not history."""
    # event-time ops require TIMESTAMP (not NTZ); the session timezone
    # is pinned UTC (xjs.session), so this cast is an identity relabel
    src = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if watermark is not None and df.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.col(entity_col), F.session_window(F.col(ts_col), gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(entity_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def stream_exact_dedup(
    stream_df: DataFrame,
    key_cols,
    ts_col: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication: the first row per key is emitted,
    later arrivals of the same key are dropped for as long as the key
    can still legally arrive (``dropDuplicatesWithinWatermark``).

    State shape at scale: one entry per distinct key seen within the
    watermark horizon — eviction is what makes exact dedup viable on an
    unbounded stream (plain ``dropDuplicates`` on a stream accumulates
    state forever).  The batch counterpart is
    ``df.dropDuplicates(key_cols)`` / the exact_duplicates groupBy."""
    src = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return src.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def stream_duplicate_keys(
    stream_df: DataFrame,
    key: str,
    ts_col: str,
    window: str = "2 minutes",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming twin of the uniqueness check at window grain:
    (window, key, n) for keys seen more than once inside an event-time
    window.  The watermark bounds state to open windows — global
    all-time uniqueness on an unbounded stream is unbounded state by
    definition, so the streaming form is windowed (the batch engine
    owns the global check).  The count aggregate partial-aggregates
    map-side, so a hot key costs one row per (window, map task), same
    salting story as the batch check."""
    src = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        src.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("window"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


def stream_referential_violations(
    stream_df: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
) -> DataFrame:
    """Streaming twin of ``xjs.checks.referential.missing_keys``:
    stream-static left-anti join against the (batch) allowlist
    dimension.  Stateless — the static side is re-broadcast per
    micro-batch (Spark re-plans it each epoch, so a refreshed
    allowlist table is picked up without restarting the query); no
    watermark needed because nothing accumulates."""
    from xjs.checks.referential import missing_keys

    return missing_keys(stream_df, dim, fact_key, dim_key)


def stream_drift_histogram(
    stream_df: DataFrame,
    value,
    ts_col: str,
    lo: float,
    hi: float,
    n_buckets: int,
    window: str = "2 minutes",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming twin of ``xjs.checks.drift.histogram``: per
    (event-time window, bucket) counts with watermark-bounded state.
    Append mode emits each window's final histogram once the watermark
    passes its end — the windows still open when the stream drains stay
    in state (standard append-mode semantics), so a monitoring job
    compares CLOSED windows against the baseline.

    PSI/KS against a baseline snapshot is then plain batch math over
    the sink (``drift.psi(hist, baseline, "window")``) — the same
    code path as the batch check, windows standing in for partitions.
    """
    from xjs.checks.drift import bucketize

    src = stream_df.withWatermark(ts_col, watermark)
    return (
        src.select(
            F.window(F.col(ts_col), window).alias("window"),
            bucketize(value, lo, hi, n_buckets).alias("bucket"),
        )
        .groupBy("window", "bucket")
        .count()
        .withColumnRenamed("count", "n")
    )


def idempotent_batch_write(batch_df: DataFrame, out_path: str, batch_id: int) -> None:
    """``foreachBatch`` is at-least-once: a micro-batch replayed after
    a failure duplicates rows under a naive ``append``.  Writing each
    batch to its own ``batch_id=N`` partition directory with overwrite
    makes the replay idempotent — a rerun clobbers the failed
    attempt's partial output instead of appending next to it, and a
    plain ``spark.read.parquet(out_path)`` still sees the whole sink
    (``batch_id`` surfaces as a partition column readers may drop).
    This is the parquet analog of the Iceberg overwritePartitions
    commit the batch checkpoint-manifest protocol describes."""
    batch_df.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")


def _drain(stream_df: DataFrame, route, checkpoint_path: str) -> None:
    """Run ``route(batch_df, batch_id)`` over every micro-batch of all
    available input (Trigger.AvailableNow) and wait for the drain."""
    (
        stream_df.writeStream.foreachBatch(route)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_quarantine_availablenow(
    stream_df: DataFrame,
    plan: CheckPlan,
    clean_path: str,
    dirty_path: str,
    checkpoint_path: str,
) -> None:
    """Streaming twin of ``runtime.quarantine``: route every
    micro-batch into a clean sink (input schema) and a dirty sink
    (id, partition_id, failed_checks, n_failed) in one pass.

    ``foreachBatch`` + per-batch ``persist`` scans each micro-batch
    once for both sides.  The streaming checkpoint makes batch
    *delivery* exactly-once; the writes inside the batch go through
    ``idempotent_batch_write`` (batch-id-keyed overwrite) so an
    at-least-once replay of a failed batch cannot duplicate sink rows
    — the parquet stand-in for MERGE on Iceberg."""
    from xjs.runtime import quarantine

    def route(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            clean, dirty = quarantine(batch_df, plan)
            idempotent_batch_write(clean, clean_path, batch_id)
            idempotent_batch_write(dirty, dirty_path, batch_id)
        finally:
            batch_df.unpersist()

    _drain(stream_df, route, checkpoint_path)


def run_boilerplate_clean_availablenow(
    stream_df: DataFrame,
    flagged: DataFrame,
    group_col: str,
    out_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Streaming twin of the boilerplate flag+clean pass — the Arrow
    gram cutter path's stream form (r3 verdict #7).

    Detection itself needs corpus-level document frequencies, so —
    exactly like the drift check's baseline snapshot — the flagged-gram
    set comes from a BATCH detection run and is held fixed while the
    stream applies its per-doc consequences: each micro-batch routes
    through ``boilerplate_flag_and_clean`` (the identical code path the
    batch job runs), where the Arrow ``mapInPandas`` cutter executes as
    plain batch work inside ``foreachBatch`` and the flagged set
    broadcasts.  Stateless given the snapshot, so no watermark; refresh
    the snapshot by re-running batch detection — no query restart
    needed if ``flagged`` is re-read per batch by the caller.  Output
    goes through ``idempotent_batch_write`` so an at-least-once replay
    overwrites instead of appending duplicates (ADVICE r4)."""
    from xjs.pipeline.boilerplate import boilerplate_flag_and_clean

    def route(batch_df: DataFrame, batch_id: int) -> None:
        idempotent_batch_write(
            boilerplate_flag_and_clean(
                batch_df, flagged, group_col, text_col, id_col
            ),
            out_path,
            batch_id,
        )

    _drain(stream_df, route, checkpoint_path)


def run_line_clean_availablenow(
    stream_df: DataFrame,
    dups: DataFrame,
    out_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_dups: bool = True,
) -> None:
    """Streaming twin of line-grain dedup cleaning (pipeline.lines).

    Duplicate detection needs corpus-level line counts, so — like the
    boilerplate twin and the drift baseline — the duplicate-line table
    comes from a BATCH ``duplicated_lines`` run and is held fixed
    while the stream applies per-doc consequences: each micro-batch
    routes through ``line_dedup_remove`` (the identical batch code
    path).  Owner occurrences named by the snapshot keep their line
    whichever micro-batch they arrive in; stateless given the
    snapshot, so no watermark.  ``broadcast_dups`` defaults True (the
    snapshot usually fits — it is HAVING-filtered to duplicated
    lines); pass False when it is corpus-scale, and pass a
    MATERIALIZED ``dups`` (read from parquet, as the batch two-step
    API does) so the detection plan doesn't re-execute per
    micro-batch.  Output goes through ``idempotent_batch_write`` so
    at-least-once replays overwrite instead of appending."""
    from xjs.pipeline.lines import line_dedup_remove

    def route(batch_df: DataFrame, batch_id: int) -> None:
        idempotent_batch_write(
            line_dedup_remove(
                batch_df, dups=dups, id_col=id_col, text_col=text_col,
                broadcast_dups=broadcast_dups,
            ),
            out_path,
            batch_id,
        )

    _drain(stream_df, route, checkpoint_path)


def run_char_clean_availablenow(
    stream_df: DataFrame,
    state_dir: str,
    out_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int | None = None,
    method: str = "rolling",
    anchor_mod: int = 1,
) -> None:
    """Streaming twin of char-grain exact-substring cleaning
    (pipeline.suffix): each micro-batch's documents are keyed, probed
    against the FOLDED window-owner state (built by char_state_update
    — batch or the daily-ingest job), and duplicated >= k-char spans
    are spliced out byte-faithfully via the identical batch code path
    (char_duplicates_from_state -> char_dedup_remove).  Owner docs
    named by the state keep their text whichever micro-batch they
    arrive in; stateless given the snapshot, so no watermark — the
    same fixed-snapshot contract as the boilerplate and line twins.
    Must be called with the (k, method, anchor_mod) the state was
    built with.  Output goes through ``idempotent_batch_write`` so
    at-least-once replays overwrite instead of appending."""
    from xjs.pipeline.suffix import (
        K_CHARS,
        char_dedup_remove,
        char_duplicates_from_state,
    )

    kk = K_CHARS if k is None else k
    spark = stream_df.sparkSession

    def route(batch_df: DataFrame, batch_id: int) -> None:
        spans = char_duplicates_from_state(
            spark, batch_df, state_dir, id_col=id_col, text_col=text_col,
            k=kk, method=method, anchor_mod=anchor_mod,
        )
        idempotent_batch_write(
            char_dedup_remove(batch_df, spans, id_col=id_col,
                              text_col=text_col),
            out_path,
            batch_id,
        )

    _drain(stream_df, route, checkpoint_path)


def run_availablenow(
    stream_df: DataFrame,
    plan: CheckPlan,
    out_path: str,
    checkpoint_path: str,
) -> None:
    """Drain all available input (Trigger.AvailableNow) into a parquet
    violations sink — exactly-once via the streaming checkpoint."""
    q = (
        stream_violations(stream_df, plan)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_warc_ingest_availablenow(
    spark,
    input_path: str,
    clean_path: str,
    quarantine_path: str,
    checkpoint_path: str,
) -> None:
    """Streaming twin of WARC/WET ingestion (sources/warc.py): crawl
    shards LAND continuously, so the production ingest is a file-source
    stream — each availableNow trigger picks up exactly the shards not
    yet committed to the streaming checkpoint (exactly-once at FILE
    grain, the right unit for WARC: a shard is one atomic upload).

    Per micro-batch the shard bytes route through the IDENTICAL batch
    plan (parse_wet_files -> split_clean_quarantine); both sinks go
    through ``idempotent_batch_write`` so an at-least-once replay
    overwrites its own partial output.  Stateless given the shard
    (every record's verdict depends only on its own headers), so no
    watermark — the twin-equivalence test pins stream == batch."""
    from xjs.sources.warc import parse_wet_files, split_clean_quarantine

    files = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .load(input_path)
    )

    def route(batch_df: DataFrame, batch_id: int) -> None:
        clean, quarantine = split_clean_quarantine(
            parse_wet_files(batch_df))
        idempotent_batch_write(clean, clean_path, batch_id)
        idempotent_batch_write(quarantine, quarantine_path, batch_id)

    _drain(files, route, checkpoint_path)


def run_novelty_gate_availablenow(
    spark,
    input_path: str,
    history_path: str,
    out_path: str,
    checkpoint_path: str,
    key_col: str = "url",
    bloom_state_dir: str | None = None,
    n_bits: int = 1 << 23,
    k: int = 5,
) -> None:
    """Streaming twin of the ingest job's novelty gate: clean rows
    land as parquet batches; each micro-batch probes the bloom (built
    once from the history table, or read from OR-folded state) and
    exact-verifies only the survivors against history — the per-batch
    plan is novel_keys verbatim, so stream == batch by construction
    (test-pinned).  The history snapshot is FIXED for the run (the
    drift-baseline/boilerplate-twin contract); novelty *within* the
    stream is the batch pipeline's job on the accumulated day.
    Idempotent batch_id sink."""
    from xjs.pipeline.bloom import bloom_build, bloom_from_state, novel_keys

    hist = spark.read.parquet(history_path).select(key_col)
    if bloom_state_dir is not None:
        blob, n_bits, k = bloom_from_state(bloom_state_dir)
    else:
        blob = bloom_build(hist, key_col, n_bits=n_bits, k=k)
    schema = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(input_path).schema
    )
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(input_path)
    )

    def route(batch_df: DataFrame, batch_id: int) -> None:
        idempotent_batch_write(
            novel_keys(batch_df, hist, key_col,
                       n_bits=n_bits, k=k, bloom=blob),
            out_path, batch_id,
        )

    _drain(stream, route, checkpoint_path)
