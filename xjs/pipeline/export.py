"""Deterministic shuffle + shard export — the last stage of a
training-data pipeline.

After curation the corpus must be (a) globally shuffled so training
batches are i.i.d.-ish (a crawl is ordered by host and time — terrible
mixing), and (b) cut into shards trainers can stream.  Both must be
deterministic (re-running the export bit-reproduces the dataset) and
driver-free at 10^12 docs.

Two shard assignments, both keyed by a seeded md5 of the doc id so
the permutation is pseudorandom, stable, and oracle-checkable:

* ``shard_assign`` (hash-mod): shard = 60 bits of the key mod
  n_shards.  **Zero global coordination** — one hash partition per
  shard, sizes binomially balanced (at 10^12 docs over 10^5 shards,
  ±0.03%).  This is the 100 TB default: the only shuffle is the write
  repartition itself.
* ``shard_assign_sized`` (exact fixed-size shards): a contiguous
  global position without a global sort, via the classic two-level
  rank — docs land in 256 hash buckets (first two hex chars of the
  key), per-bucket counts (one tiny partial aggregation) turn into
  cumulative offsets on a 256-row metadata table, and
  global_pos = bucket_offset + row_number within the bucket.  The
  only per-row window is partitioned by bucket (corpus/256 per
  partition; widen the prefix to 3-4 hex chars at larger scale).
  Matches ``row_number() OVER (ORDER BY key)`` exactly.

``write_shards`` materializes the layout: repartition on shard_id,
sort within partitions by the shuffle key, one directory per shard —
each shard's file content is byte-deterministic.

The reference engine (/root/reference, a schema validator) has no
export stage; this op belongs to the training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from xjs.pipeline.state import mark_complete

N_SHARDS = 16        # hash-mod query default (sf-sized; production: corpus/shard_size)
SHARD_SIZE = 64      # sized query default (docs per shard)
SEED = 42
_BUCKET_HEX = 2      # 16^2 = 256 rank buckets


def shard_key(*id_cols: Column, seed: int = SEED) -> Column:
    """Seeded deterministic shuffle key: md5('<id>[:<id2>...]:<seed>')
    hex.  Multiple columns compose the identity — e.g. (doc_id, rep)
    for a mixture-expanded corpus, so replicas of one doc get
    independent keys and spread across shards instead of clumping.

    Built with null-propagating ``concat`` (NOT concat_ws): a NULL id
    yields a NULL key, matching the SQL oracle's ``||`` semantics,
    instead of silently collapsing every null-id row onto one shard.
    Identity columns are joined with ':'; string ids containing ':'
    could alias across column boundaries — ids here are numeric keys,
    and callers with exotic string ids should pre-hash them."""
    parts: list[Column] = []
    for c in id_cols:
        parts.extend([c.cast("string"), F.lit(":")])
    return F.md5(F.concat(*parts, F.lit(str(seed))))


def _key60(key: Column) -> Column:
    """First 60 bits of the hex key as a non-negative long (15 hex
    chars < 2^60 — never overflows, no sign bit)."""
    return F.conv(F.substring(key, 1, 15), 16, 10).cast("long")


def shard_assign(
    df: DataFrame,
    n_shards: int = N_SHARDS,
    seed: int = SEED,
    id_col: str | list[str] = "doc_id",
) -> DataFrame:
    """(ids..., shard_id, pos_in_shard): hash-mod sharding.
    pos_in_shard is the rank of the shuffle key inside the shard — the
    order ``write_shards``' sortWithinPartitions produces, made
    explicit so the assignment (not just membership) is
    oracle-checked.  ``id_col`` may be a list (composite identity,
    e.g. ``["doc_id", "rep"]`` after mixture expansion)."""
    ids = [id_col] if isinstance(id_col, str) else list(id_col)
    keyed = df.select(
        *ids, shard_key(*[F.col(c) for c in ids], seed=seed).alias("_key")
    ).withColumn("shard_id", (_key60(F.col("_key")) % n_shards).cast("int"))
    w = Window.partitionBy("shard_id").orderBy("_key", *ids)
    return keyed.select(
        *ids,
        "shard_id",
        (F.row_number().over(w) - 1).alias("pos_in_shard"),
    )


def shard_assign_sized(
    df: DataFrame,
    shard_size: int = SHARD_SIZE,
    seed: int = SEED,
    id_col: str | list[str] = "doc_id",
    bucket_hex: int = _BUCKET_HEX,
) -> DataFrame:
    """(ids..., shard_id, pos_in_shard): exact ``shard_size``-doc
    shards (last shard ragged) over the seeded global order —
    equivalent to ``row_number() OVER (ORDER BY key)`` but computed
    distributed: bucket counts -> cumulative offsets (metadata-sized)
    -> per-bucket row_number + offset."""
    ids = [id_col] if isinstance(id_col, str) else list(id_col)
    keyed = df.select(
        *ids, shard_key(*[F.col(c) for c in ids], seed=seed).alias("_key")
    ).withColumn("_bucket", F.substring("_key", 1, bucket_hex))
    counts = keyed.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_n"))
    # <= 16^bucket_hex rows: a metadata table, same class as the
    # checkpoint manifest — the single-partition window is fine.
    woff = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "_bucket", F.coalesce(F.sum("_n").over(woff), F.lit(0)).alias("_off")
    )
    wb = Window.partitionBy("_bucket").orderBy("_key", *ids)
    pos = (
        keyed.join(F.broadcast(offsets), "_bucket")
        .select(
            *ids,
            (F.col("_off") + F.row_number().over(wb) - 1).alias("_pos"),
        )
    )
    return pos.select(
        *ids,
        F.floor(F.col("_pos") / shard_size).cast("int").alias("shard_id"),
        (F.col("_pos") % shard_size).cast("int").alias("pos_in_shard"),
    )


def write_shards(
    df: DataFrame,
    path: str,
    n_shards: int = N_SHARDS,
    seed: int = SEED,
    id_col: str | list[str] = "doc_id",
) -> None:
    """Materialize hash-mod shards: one directory per shard_id, rows
    sorted by the shuffle key within each shard.  repartition(n, col)
    hash-partitions so a writer task owns whole shards; partitionBy
    splits the directories."""
    ids = [id_col] if isinstance(id_col, str) else list(id_col)
    keyed = df.withColumn(
        "_key", shard_key(*[F.col(c) for c in ids], seed=seed)
    ).withColumn(
        "shard_id", (_key60(F.col("_key")) % n_shards).cast("int")
    )
    (
        keyed.repartition(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", "_key", *ids)
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )


def write_manifest(
    spark: SparkSession, shards_path: str, manifest_path: str, n_shards: int
) -> None:
    """Manifest computed from the WRITTEN shards (doubles as a sink
    validation): one row per INTENDED shard id — empty shards appear
    with n_docs=0 and NULL key range, so a trainer can distinguish
    'shard intentionally empty' from 'shard missing'."""
    back = spark.read.parquet(shards_path)
    counts = back.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("_key").alias("min_key"),
        F.max("_key").alias("max_key"),
    )
    full = spark.range(n_shards).select(F.col("id").cast("int").alias("shard_id"))
    (
        full.join(counts, "shard_id", "left")
        .select(
            "shard_id",
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            "min_key",
            "max_key",
        )
        .write.mode("overwrite")
        .parquet(manifest_path)
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")


def q_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shard_assign(_docs(spark, sf_dir))


def q_export_shards_sized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shard_assign_sized(_docs(spark, sf_dir))


def _key_sql(seed: int = SEED) -> str:
    return f"md5(doc_id::VARCHAR || ':{seed}')"


def oracle_export_shards_sql() -> str:
    k = _key_sql()
    return f"""
WITH keyed AS (
    SELECT doc_id, {k} AS key,
           (('0x' || substr({k}, 1, 15))::BIGINT % {N_SHARDS})::INT AS shard_id
    FROM documents
)
SELECT doc_id, shard_id,
       (row_number() OVER (PARTITION BY shard_id ORDER BY key, doc_id) - 1)::INT
           AS pos_in_shard
FROM keyed
"""


def oracle_export_shards_sized_sql() -> str:
    k = _key_sql()
    return f"""
WITH pos AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY {k}, doc_id) - 1 AS p
    FROM documents
)
SELECT doc_id, (p // {SHARD_SIZE})::INT AS shard_id,
       (p % {SHARD_SIZE})::INT AS pos_in_shard
FROM pos
"""


def write_shards_jsonl(
    df: DataFrame,
    path: str,
    n_shards: int = N_SHARDS,
    seed: int = SEED,
    id_col: str | list[str] = "doc_id",
) -> None:
    """Materialize hash-mod shards as newline-delimited JSON — the
    delivery format most training loaders consume directly (the read
    side of sources/jsonl.py, so the round trip is in-repo).  Same
    assignment + within-shard order as ``write_shards``; each line is
    ``to_json`` of the payload struct in input column order, written
    through the text sink so the bytes are exactly the JSON lines
    (no writer-added columns).  The shard key is NOT emitted into the
    payload — a delivery file carries data, not shuffle plumbing;
    ordering inside a shard is still the key order (sortWithin
    before the projection, narrow)."""
    ids = [id_col] if isinstance(id_col, str) else list(id_col)
    payload = df.columns
    keyed = df.withColumn(
        "_key", shard_key(*[F.col(c) for c in ids], seed=seed)
    ).withColumn(
        "shard_id", (_key60(F.col("_key")) % n_shards).cast("int")
    )
    (
        keyed.repartition(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", "_key", *ids)
        .select(
            "shard_id",
            F.to_json(F.struct(*[F.col(c) for c in payload])).alias("value"),
        )
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .text(path)
    )


def write_shards_wet(
    df: DataFrame,
    path: str,
    n_shards: int = N_SHARDS,
    seed: int = SEED,
    id_col: str = "doc_id",
    url_col: str = "url",
    text_col: str = "text",
    lang_col: str | None = "lang",
    ts_col: str | None = None,
    date: str = "2024-01-01T00:00:00Z",
) -> dict[int, int]:
    """Materialize hash-mod shards as WET shards (ISO 28500
    ``conversion`` records, one gzip member per record) — the format
    the crawl ecosystem itself consumes, closing the read/write
    symmetry with sources/warc.py: what this writes, ``read_warc_wet``
    AND the byte-range split reader parse back exactly (round-trip
    test-pinned), because per-record gzip members are precisely what
    makes mid-shard splits possible downstream.

    Same seeded assignment + within-shard key order as the parquet and
    JSONL sinks.  Framing goes through the same ``_record_bytes`` the
    fixture writer uses (single source of framing truth); gzip is
    pinned (compresslevel=1, mtime=0) so rebuilds are byte-identical.

    Ledger-faithful nulls: a NULL url row is written WITHOUT a
    WARC-Target-URI header — on read it lands in quarantine as
    ``missing_uri`` instead of silently mutating into an empty-string
    url; a NULL ``ts_col`` value omits WARC-Date the same way (read
    side: ``bad_date`` quarantine); NULL text becomes an empty
    payload.  A NULL id raises at write time (fail-fast, the line
    dedup pattern): the record identity and shard key both derive
    from it, so there is no faithful place to put such a row.

    Scale shape: ONE shuffle (the shard repartition), then a
    sequential per-partition writer inside ``mapInPandas`` whose
    memory is one Arrow batch — a shard never materializes in memory.
    The returned manifest dict {shard_id: n_docs} is bounded by
    n_shards (the checkpoint-manifest boundedness class), with
    intentionally-empty shards present at 0.  The path must be a
    filesystem every executor mounts (local/NFS here; a DFS mount on
    a real cluster)."""
    import gzip
    import os

    from xjs.sources.warc import _record_bytes

    os.makedirs(path, exist_ok=True)
    cols = ["shard_id", "_key", id_col, url_col, text_col]
    if lang_col:
        cols.append(lang_col)
    if ts_col:
        cols.append(ts_col)
    checked_id = F.when(
        F.col(id_col).isNotNull(), F.col(id_col)
    ).otherwise(
        F.raise_error(F.lit("write_shards_wet requires non-null ids"))
    )
    keyed = (
        df.withColumn(id_col, checked_id)
        .withColumn("_key", shard_key(F.col(id_col), seed=seed))
        .withColumn("shard_id", (_key60(F.col("_key")) % n_shards).cast("int"))
        .select(*cols)
        .repartition(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", "_key", id_col)
    )

    def write(batches):
        import pandas as pd

        # task-commit protocol (ADVICE r5): write to an attempt-unique
        # temp name and publish with an atomic rename at shard close,
        # so a speculative or retried attempt can never interleave
        # bytes into a half-written gzip member stream — whichever
        # attempt renames last leaves a complete file.
        from pyspark import TaskContext

        ctx = TaskContext.get()
        attempt = ctx.taskAttemptId() if ctx is not None else os.getpid()
        state = {"sid": None, "fh": None, "n": 0, "tmp": None, "dst": None}
        counts: list[tuple[int, int]] = []

        def close():
            if state["fh"] is not None:
                state["fh"].close()
                os.replace(state["tmp"], state["dst"])
                counts.append((state["sid"], state["n"]))
                state["fh"] = None

        for pdf in batches:
            for r in pdf.itertuples(index=False):
                sid = int(r.shard_id)
                if sid != state["sid"] or state["fh"] is None:
                    close()
                    dst = os.path.join(path, f"shard-{sid:05d}.warc.gz")
                    tmp = f"{dst}.attempt-{attempt}.tmp"
                    state.update(sid=sid, n=0, tmp=tmp, dst=dst)
                    state["fh"] = open(tmp, "wb")
                rid = getattr(r, id_col)
                url = getattr(r, url_col)
                txt = getattr(r, text_col)
                headers = [
                    ("WARC-Type", "conversion"),
                    ("WARC-Record-ID", f"<urn:xjs:doc:{rid}>"),
                ]
                if url is not None and not (
                    isinstance(url, float) and url != url
                ):
                    headers.append(("WARC-Target-URI", str(url)))
                if ts_col:
                    ts = getattr(r, ts_col)
                    if ts is not None and ts == ts:  # NaT-safe
                        headers.append(
                            ("WARC-Date", ts.strftime("%Y-%m-%dT%H:%M:%SZ"))
                        )
                    # NULL ts: header omitted -> read-side bad_date
                    # quarantine, the null-url convention
                else:
                    headers.append(("WARC-Date", date))
                if lang_col:
                    lang = getattr(r, lang_col)
                    headers.append(
                        ("WARC-Identified-Content-Language",
                         "" if lang is None else str(lang))
                    )
                headers.append(("Content-Type", "text/plain"))
                payload = (txt if isinstance(txt, str) else "").encode("utf-8")
                rec = _record_bytes(headers, payload)
                state["fh"].write(
                    gzip.compress(rec, compresslevel=1, mtime=0)
                )
                state["n"] += 1
        close()
        if counts:
            yield pd.DataFrame(
                {"shard_id": [c for c, _ in counts],
                 "n_docs": [m for _, m in counts]}
            )

    rows = keyed.mapInPandas(write, "shard_id int, n_docs long").collect()
    manifest = {i: 0 for i in range(n_shards)}
    for r in rows:  # bounded: <= n_shards rows
        manifest[r.shard_id] = manifest.get(r.shard_id, 0) + r.n_docs
    import glob as _glob

    for leftover in _glob.glob(os.path.join(path, "shard-*.warc.gz.attempt-*.tmp")):
        os.unlink(leftover)  # temp files of killed/lost attempts
    mark_complete(path)
    return manifest
