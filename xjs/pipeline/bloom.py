"""Bloom-filter membership prefilter — probe a huge corpus against a
persisted key set WITHOUT shuffling the corpus.

The production question this answers: "which of today's 10^12 crawled
rows are NOVEL against the 10^9 urls we already hold?"  A plain
left-anti join answers it by shuffling every new row (wide: text,
html) on the join key.  The bloom path:

  1. BUILD one bit array over the history keys — per-partition numpy
     bitmaps via ``mapInPandas`` (hashes computed JVM-side with
     ``xxhash64``; Python only ORs bits, Arrow-batched), OR-reduced
     by a chunk-keyed ``applyInPandas``, assembled on the driver.
     The collect is bounded by the CONFIGURED filter size (n_bits/8
     bytes — e.g. 1.2 GB for 10^9 keys at ~1% fpp), the same
     bounded-by-a-constant class as the checkpoint manifest collects
     (xjs/checkpoint.py).
  2. PROBE the new corpus with the broadcast bit array: a narrow,
     shuffle-free pass (JVM hashes + vectorized numpy bit tests).
     No false negatives, so rows the bloom clears are DEFINITELY
     novel and never shuffle at all.
  3. VERIFY only the survivors (true members + ~fpp false positives)
     with the exact anti-join.  If 5% of rows are dupes and fpp is
     1%, the join handles 6% of the corpus instead of 100%.

``novel_keys`` composes 2+3 and returns an EXACT answer (the bloom is
only ever a prefilter), which is why it has a plain anti-join DuckDB
oracle.  Hash family: Kirsch-Mitzenmacher double hashing pos_i =
h + i*g (g forced odd) over a power-of-two bit space — h, g are two
independent ``xxhash64`` lanes (the second salted), both computed in
whole-stage codegen.

100 TB shape: build is one narrow scan of the (key)-projected history
+ a bitmap-sized shuffle (KBs..GBs regardless of row count); probe is
one narrow scan of the new corpus with a broadcast the size of the
filter; the only row-bearing shuffle left is the verify join over the
bloom survivors.  Skew-immune: no key ever groups rows together.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xjs.pipeline import state

BLOOM_SALT = 0x5F3D  # second xxhash64 lane
CHUNK_WORDS = 8192   # 64 KiB per emitted bitmap chunk row
# counting-bloom chunk width in SLOTS (uint16 local index ceiling).
# 8192-slot chunks made the sum-reduce a 1024-group applyInPandas at
# 2^23 slots — per-group pandas overhead dominated the stage; 65536
# keeps the sparse index in uint16 while cutting groups 8x (r6).
CHUNK_SLOTS = 65536
DEFAULT_N_BITS = 1 << 20
DEFAULT_K = 5

# Per-partition partial chunks are usually SPARSE (each map partition
# touches ~rows*k slots spread over the whole filter), yet every live
# chunk used to ship dense — n_partitions x filter-size bytes through
# the OR/sum-reduce shuffle (~1 GB at 2^23 uint32 slots on 32 cores).
# Partials therefore pick per chunk between a dense blob and a sparse
# (index, value) encoding, tagged by the first byte; the reduce decodes
# both.  Internal wire format only — the assembled filter is unchanged.
_DENSE, _SPARSE = b"\x00", b"\x01"


def _encode_chunk(piece, live, idx_dtype, val_nbytes: int) -> bytes:
    """piece: dense numpy chunk; live: indices of nonzero entries.
    Sparse iff it is the smaller encoding."""
    import numpy as np

    sparse_sz = len(live) * (np.dtype(idx_dtype).itemsize + val_nbytes)
    if sparse_sz < piece.nbytes:
        return (_SPARSE + live.astype(idx_dtype).tobytes()
                + piece[live].tobytes())
    return _DENSE + piece.tobytes()


def _decode_chunk(blob: bytes, n: int, dtype, idx_dtype):
    """Inverse of _encode_chunk: dense numpy array of n entries."""
    import numpy as np

    tag, body = blob[:1], blob[1:]
    if tag == _DENSE:
        return np.frombuffer(body, dtype=dtype)
    isz = np.dtype(idx_dtype).itemsize
    m = len(body) // (isz + np.dtype(dtype).itemsize)
    out = np.zeros(n, dtype=dtype)
    out[np.frombuffer(body[: m * isz], dtype=idx_dtype)] = np.frombuffer(
        body[m * isz:], dtype=dtype)
    return out


def _lanes(key: Column) -> tuple[Column, Column]:
    """Two independent 64-bit hash lanes, JVM-side (codegen-fused)."""
    return F.xxhash64(key), F.xxhash64(key, F.lit(BLOOM_SALT))


def _slots(h: np.ndarray, g: np.ndarray, k: int,
           n_slots: int) -> Iterator[np.ndarray]:
    """Yield the slot index array per hash lane i — uint64 wraparound
    then power-of-two mask is the Kirsch-Mitzenmacher scheme."""
    mask = np.uint64(n_slots - 1)
    g = g | np.uint64(1)  # odd stride: never a degenerate cycle
    for i in range(k):
        yield (h + np.uint64(i) * g) & mask


def _positions(h: np.ndarray, g: np.ndarray, k: int,
               n_bits: int) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Yield (word_index, bit_mask) per hash lane i."""
    for pos in _slots(h, g, k, n_bits):
        yield (pos >> np.uint64(6)).astype(np.int64), \
            np.uint64(1) << (pos & np.uint64(63))


def bloom_build(df: DataFrame, key_col: str,
                n_bits: int = DEFAULT_N_BITS, k: int = DEFAULT_K) -> bytes:
    """Bit array (little-endian uint64 words, as bytes) over the
    distinct non-null keys of ``df[key_col]``."""
    assert n_bits & (n_bits - 1) == 0, "n_bits must be a power of two"
    n_words = n_bits // 64
    h, g = _lanes(F.col(key_col))
    hashed = df.filter(F.col(key_col).isNotNull()).select(
        h.alias("h"), g.alias("g"))

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # bit mask kept as bool and packed once at the end: setting
        # bools by fancy index is vectorized, where the previous
        # per-lane np.bitwise_or.at was an unbuffered ufunc loop (r6)
        mask = np.zeros(n_bits, dtype=bool)
        any_rows = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            any_rows = True
            hh = pdf["h"].to_numpy(np.int64).view(np.uint64)
            gg = pdf["g"].to_numpy(np.int64).view(np.uint64)
            for pos in _slots(hh, gg, k, n_bits):
                mask[pos.astype(np.int64)] = True
        if not any_rows:
            return
        words = np.packbits(mask, bitorder="little").view(np.uint64)
        chunks, blobs = [], []
        for c in range(0, n_words, CHUNK_WORDS):
            piece = words[c:c + CHUNK_WORDS]
            live = np.flatnonzero(piece)
            if len(live):  # sparse partitions emit only live chunks
                chunks.append(c // CHUNK_WORDS)
                blobs.append(_encode_chunk(piece, live, np.uint16, 8))
        yield pd.DataFrame({"chunk": chunks, "words": blobs})

    def or_reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        c = int(pdf["chunk"].iloc[0])
        m = min(CHUNK_WORDS, n_words - c * CHUNK_WORDS)
        stacked = np.stack(
            [_decode_chunk(b, m, np.uint64, np.uint16)
             for b in pdf["words"]])
        return pd.DataFrame({
            "chunk": [c],
            "words": [np.bitwise_or.reduce(stacked, axis=0).tobytes()],
        })

    merged = (
        hashed.mapInPandas(partials, "chunk int, words binary")
        .groupBy("chunk").applyInPandas(or_reduce, "chunk int, words binary")
        .collect()  # bounded by the configured filter size, not row count
    )
    words = np.zeros(n_words, dtype=np.uint64)
    for row in merged:
        c = row["chunk"] * CHUNK_WORDS
        piece = np.frombuffer(row["words"], dtype=np.uint64)
        words[c:c + len(piece)] = piece
    return words.tobytes()


def bloom_probe(df: DataFrame, key_col: str, bloom: bytes,
                n_bits: int = DEFAULT_N_BITS, k: int = DEFAULT_K,
                out_col: str = "bloom_maybe") -> DataFrame:
    """``df`` + boolean ``out_col``: False is a GUARANTEED non-member;
    True means member-or-false-positive.  Narrow and shuffle-free;
    the filter rides an executor broadcast."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(bloom)
    h, g = _lanes(F.col(key_col))
    withh = df.withColumn("_bh", h).withColumn("_bg", g)
    fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{fields}, {out_col} boolean"
    cols = [f.name for f in df.schema.fields]

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        words = np.frombuffer(bc.value, dtype=np.uint64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            hh = pdf["_bh"].to_numpy(np.int64).view(np.uint64)
            gg = pdf["_bg"].to_numpy(np.int64).view(np.uint64)
            member = np.ones(len(pdf), dtype=bool)
            for idx, bit in _positions(hh, gg, k, n_bits):
                member &= (words[idx] & bit) != 0
            out = pdf[cols].copy()
            out[out_col] = pd.Series(member, index=pdf.index)
            # null keys hash like any value but are never members
            out.loc[pdf[key_col].isna(), out_col] = False
            yield out

    return withh.mapInPandas(probe, schema)


def novel_keys(new_df: DataFrame, history_df: DataFrame, key_col: str,
               n_bits: int = DEFAULT_N_BITS, k: int = DEFAULT_K,
               bloom: bytes | None = None) -> DataFrame:
    """EXACT set of ``new_df`` rows whose key is absent from
    ``history_df`` — bloom prefilter + anti-join verify of the
    survivors only.  Bloom-cleared rows (no false negatives) bypass
    the join entirely, so the row-bearing shuffle is proportional to
    the duplicate rate + fpp, not the corpus.

    Pass ``bloom`` (e.g. from ``bloom_from_state``) to skip the build
    — the incremental shape where the filter is OR-folded daily.  The
    filter must COVER history_df's keys (no false negatives vs it);
    extra set bits only cost fpp, never correctness."""
    if bloom is None:
        bloom = bloom_build(history_df, key_col, n_bits=n_bits, k=k)
    # lazy lineage cut (r6): the definite and candidate branches below
    # both consume the probe output, and with no exchange boundary
    # between them Catalyst duplicates the whole narrow stage — the
    # corpus scan AND the Python probe kernel ran twice per query.
    # The checkpoint materializes the probed slice once (new-slice
    # sized) and serves both branches.
    probed = bloom_probe(
        new_df, key_col, bloom, n_bits=n_bits, k=k
    ).localCheckpoint(eager=False)
    definite = probed.filter(~F.col("bloom_maybe")).drop("bloom_maybe")
    candidates = probed.filter(F.col("bloom_maybe")).drop("bloom_maybe")
    verified = candidates.join(
        history_df.select(F.col(key_col)).distinct(), key_col, "left_anti")
    return definite.unionByName(verified)


# ---------------------------------------------------------------------------
# query + oracle: novel urls of a new crawl slice vs persisted history
# ---------------------------------------------------------------------------

#: history = docs with doc_id % 2 == 0; new slice = doc_id % 3 == 0.
#: The overlap (doc_id % 6 == 0) is the duplicate mass the bloom must
#: flag; everything else in the new slice must come out as novel.
HIST_MOD, HIST_RES = 2, 0
NEW_MOD, NEW_RES = 3, 0

_URL = "'https://' || source || '.example.com/doc/' || doc_id"


def _with_url(df: DataFrame) -> DataFrame:
    return df.select(
        "doc_id",
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
    )


def q_bloom_novel_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist = _with_url(d.filter(F.col("doc_id") % HIST_MOD == HIST_RES))
    new = _with_url(d.filter(F.col("doc_id") % NEW_MOD == NEW_RES))
    return novel_keys(new, hist, "url")


def oracle_bloom_novel_sql() -> str:
    # the bloom is internal; the contract is the exact anti-join
    return f"""
WITH hist AS (
    SELECT {_URL} AS url FROM documents
    WHERE doc_id % {HIST_MOD} = {HIST_RES}
),
new AS (
    SELECT doc_id, {_URL} AS url FROM documents
    WHERE doc_id % {NEW_MOD} = {NEW_RES}
)
SELECT n.doc_id, n.url FROM new n
WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.url = n.url)
"""


# ---------------------------------------------------------------------------
# incremental cross-run state (daily-ingest shape)
# ---------------------------------------------------------------------------

#: state schema version — bump on any change to hashing or layout
BLOOM_STATE_VERSION = 1


def _blob(state_dir: str, name: str) -> bytes:
    with open(os.path.join(state_dir, f"{name}.bin"), "rb") as fh:
        return fh.read()


def _meta(state_dir: str, name: str) -> dict:
    with open(os.path.join(state_dir, f"{name}.meta.json")) as fh:
        return json.load(fh)


def _prev_blob(prev_state_dir: str, name: str, params: dict) -> bytes:
    """The previous day's ``<name>.bin``, once its meta matches
    ``params`` and the current state version."""
    meta = _meta(prev_state_dir, name)
    want = {**params, "version": BLOOM_STATE_VERSION}
    if meta != want:
        raise ValueError(
            f"{name} state params changed ({meta} vs {want}): rebuild "
            "from the key registry instead of folding"
        )
    return _blob(prev_state_dir, name)


def _commit(state_dir: str, name: str, blob: bytes, params: dict) -> None:
    """Write blob, then meta, then the _SUCCESS marker."""
    with open(os.path.join(state_dir, f"{name}.bin"), "wb") as fh:
        fh.write(blob)
    with open(os.path.join(state_dir, f"{name}.meta.json"), "w") as fh:
        json.dump({**params, "version": BLOOM_STATE_VERSION}, fh)
    state.mark_complete(state_dir)


def bloom_state_update(
    spark: SparkSession,
    new_df: DataFrame,
    key_col: str,
    state_dir: str,
    prev_state_dir: str | None = None,
    n_bits: int = DEFAULT_N_BITS,
    k: int = DEFAULT_K,
) -> bytes:
    """Fold one new slice into persisted bloom state: build the
    slice's filter, OR it with the previous day's words, store.

    Set union IS bitwise OR here — ``bloom(A ∪ B) == bloom(A) |
    bloom(B)`` exactly (each key sets the same bits whichever slice
    it arrives in), so any disjoint-or-overlapping slice fold order
    equals the single-pass build over the union (test-pinned).  The
    daily win: history is NEVER rescanned — each day costs one narrow
    scan of the NEW slice plus an O(filter-size) OR.

    Blooms cannot delete and fpp grows with fill; `n_bits`/`k` are
    part of the state contract (mismatched params raise — resizing
    means a one-time rebuild from the key registry).  _SUCCESS-guarded
    like every other state family: a replayed day is a no-op."""
    if state.complete(state_dir):
        return _blob(state_dir, "bloom")
    os.makedirs(state_dir, exist_ok=True)
    params = {"n_bits": n_bits, "k": k}
    words = np.frombuffer(
        bloom_build(new_df, key_col, n_bits=n_bits, k=k), dtype=np.uint64
    ).copy()
    if prev_state_dir is not None:
        words |= np.frombuffer(
            _prev_blob(prev_state_dir, "bloom", params), dtype=np.uint64)
    blob = words.tobytes()
    _commit(state_dir, "bloom", blob, params)
    return blob


def bloom_from_state(state_dir: str) -> tuple[bytes, int, int]:
    """(words, n_bits, k) from a completed state dir."""
    meta = _meta(state_dir, "bloom")
    return _blob(state_dir, "bloom"), meta["n_bits"], meta["k"]


# ---------------------------------------------------------------------------
# counting bloom: the retraction-capable novelty state
# ---------------------------------------------------------------------------
#
# The OR-folded bit state cannot forget: a url removed from the
# registry (takedown, robots retro-exclusion, licensing pull) stays
# member-ish until an fpp-driven rebuild.  The counting variant keeps
# one uint8 counter per slot (8x the bit array's memory — the classic
# counting-bloom tradeoff) and supports subtractive folds:
#
#   insert key  -> +1 at its k slots      delete key -> -1 at them
#   member(key) <=> all k counters > 0
#
# Exactness ladder (all test-pinned):
#   * absent saturation, BINARIZE(counters) — slot>0 -> bit — equals
#     ``bloom_build`` over the LIVE registry (adds minus removes)
#     BIT FOR BIT: count[slot] = sum of live-key touches, so >0 iff
#     some live key touches the slot.  The probe path therefore
#     reuses ``bloom_probe``/``novel_keys`` on the binarized form —
#     brokers ship the 1-bit array, not the 8x counters.
#   * a counter that hits 255 goes STICKY (never decremented, never
#     binarized to 0): saturation can only add false positives, never
#     false negatives — same failure direction as the bloom itself.
#   * a fold that would drive an unsaturated counter negative raises:
#     with the delete-only-present-keys discipline that can only be a
#     precondition violation, and it is detected, not absorbed.
#
# Discipline (documented contract, same as every counting bloom):
# each slice's adds/removes are key-DISTINCT (``counting_build``
# applies the distinct itself — one keys-only shuffle, the same class
# as novel_keys' verify join), removes must target present keys, and
# a key added in two slices must be removed twice to disappear —
# i.e. the state mirrors a multiset registry delta stream.

COUNTER_MAX = 255  # uint8 sticky-saturation ceiling


def counting_build(df: DataFrame, key_col: str,
                   n_slots: int = DEFAULT_N_BITS,
                   k: int = DEFAULT_K) -> np.ndarray:
    """Exact uint32 slot counts over the DISTINCT non-null keys of
    ``df[key_col]`` — the same partial-aggregation shape as
    ``bloom_build`` with sum-reduce instead of OR-reduce.  Returned
    unsaturated so folds stay exact; saturate at state-write time."""
    assert n_slots & (n_slots - 1) == 0, "n_slots must be a power of two"
    h, g = _lanes(F.col(key_col))
    # NB a repartition pin after the distinct was tried (r6) and LOST
    # ~0.7s: with the vectorized bincount below the per-partition work
    # is cheap, and more partitions mean more n_slots-sized partial
    # buffers and more chunk rows through the reduce
    hashed = (df.filter(F.col(key_col).isNotNull())
              .select(F.col(key_col)).distinct()
              .select(h.alias("h"), g.alias("g")))

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # positions accumulate across batches, folded ONCE per task.
        # Sparse tasks (the normal case: ~rows*k touches spread over the
        # whole slot space) take np.unique — O(P log P) in the task's
        # touch count P, independent of n_slots, and the sorted unique
        # positions slice straight into sparse chunk blobs.  Dense
        # tasks (P approaching n_slots) fall back to one bincount.  The
        # previous always-bincount form paid O(n_slots) time AND memory
        # per task — 64 MB of zeroed counters at 2^23 slots, and
        # unworkable at registry-scale filters (2^33 slots = 64 GB per
        # task); the sparse path is the 100 TB shape (r6).
        pos_parts = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            hh = pdf["h"].to_numpy(np.int64).view(np.uint64)
            gg = pdf["g"].to_numpy(np.int64).view(np.uint64)
            pos_parts.extend(
                pos.astype(np.int64)
                for pos in _slots(hh, gg, k, n_slots))
        if not pos_parts:
            return
        allpos = np.concatenate(pos_parts)
        if len(allpos) < n_slots // 8:
            uniq, cnts = np.unique(allpos, return_counts=True)
            cnts = cnts.astype(np.uint32)
            bounds = np.searchsorted(
                uniq, np.arange(0, n_slots + CHUNK_SLOTS, CHUNK_SLOTS))
            chunks, blobs = [], []
            for c in range(len(bounds) - 1):
                lo, hi = bounds[c], bounds[c + 1]
                if lo == hi:
                    continue
                idx = (uniq[lo:hi] - c * CHUNK_SLOTS).astype(np.uint16)
                chunks.append(c)
                blobs.append(_SPARSE + idx.tobytes() + cnts[lo:hi].tobytes())
            yield pd.DataFrame({"chunk": chunks, "words": blobs})
            return
        counts = np.bincount(allpos, minlength=n_slots).astype(np.uint32)
        chunks, blobs = [], []
        for c in range(0, n_slots, CHUNK_SLOTS):
            piece = counts[c:c + CHUNK_SLOTS]
            live = np.flatnonzero(piece)
            if len(live):
                chunks.append(c // CHUNK_SLOTS)
                blobs.append(_encode_chunk(piece, live, np.uint16, 4))
        yield pd.DataFrame({"chunk": chunks, "words": blobs})

    def sum_reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        c = int(pdf["chunk"].iloc[0])
        m = min(CHUNK_SLOTS, n_slots - c * CHUNK_SLOTS)
        stacked = np.stack(
            [_decode_chunk(b, m, np.uint32, np.uint16)
             for b in pdf["words"]])
        return pd.DataFrame({
            "chunk": [c],
            "words": [stacked.sum(axis=0, dtype=np.uint32).tobytes()],
        })

    merged = (
        hashed.mapInPandas(partials, "chunk int, words binary")
        .groupBy("chunk").applyInPandas(sum_reduce, "chunk int, words binary")
        .collect()  # bounded by the configured filter size, not row count
    )
    counts = np.zeros(n_slots, dtype=np.uint32)
    for row in merged:
        c = row["chunk"] * CHUNK_SLOTS
        piece = np.frombuffer(row["words"], dtype=np.uint32)
        counts[c:c + len(piece)] = piece
    return counts


def counting_to_bits(counters: np.ndarray) -> bytes:
    """slot>0 -> set bit; the broadcastable 1-bit form ``bloom_probe``
    / ``novel_keys`` consume (8x smaller than the counters)."""
    n_slots = len(counters)
    bits = np.zeros(n_slots // 64, dtype=np.uint64)
    live = np.nonzero(counters)[0].astype(np.uint64)
    np.bitwise_or.at(bits, (live >> np.uint64(6)).astype(np.int64),
                     np.uint64(1) << (live & np.uint64(63)))
    return bits.tobytes()


def counting_state_update(
    spark: SparkSession,
    add_df: DataFrame | None,
    remove_df: DataFrame | None,
    key_col: str,
    state_dir: str,
    prev_state_dir: str | None = None,
    n_slots: int = DEFAULT_N_BITS,
    k: int = DEFAULT_K,
) -> np.ndarray:
    """Fold one registry delta slice (adds, removes) into persisted
    counting-bloom state; returns the folded uint8 counters.

    Per day: one narrow scan of each delta frame + an O(state-size)
    elementwise fold — history is never rescanned.  Sticky cells
    (prev == 255) are carried unchanged; an unsaturated cell driven
    negative raises (delete-of-absent-key detected).  _SUCCESS-guarded:
    a replayed day returns the stored state untouched."""
    if state.complete(state_dir):
        return np.frombuffer(_blob(state_dir, "counting"), dtype=np.uint8).copy()
    os.makedirs(state_dir, exist_ok=True)
    params = {"n_slots": n_slots, "k": k}
    adds = (counting_build(add_df, key_col, n_slots=n_slots, k=k)
            if add_df is not None else np.zeros(n_slots, dtype=np.uint32))
    rems = (counting_build(remove_df, key_col, n_slots=n_slots, k=k)
            if remove_df is not None else np.zeros(n_slots, dtype=np.uint32))
    prev = (np.frombuffer(_prev_blob(prev_state_dir, "counting", params), dtype=np.uint8)
            if prev_state_dir is not None else np.zeros(n_slots, dtype=np.uint8))
    sticky = prev == COUNTER_MAX
    folded = prev.astype(np.int64) + adds.astype(np.int64) \
        - rems.astype(np.int64)
    neg = (folded < 0) & ~sticky
    if neg.any():
        raise ValueError(
            f"counting bloom underflow at {int(neg.sum())} slots: a remove "
            "targeted a key not present in the folded state (delta stream "
            "violates the delete-only-present-keys discipline)"
        )
    folded = np.minimum(folded, COUNTER_MAX)
    folded[sticky] = COUNTER_MAX  # sticky: saturation never decrements
    out = folded.astype(np.uint8)
    _commit(state_dir, "counting", out.tobytes(), params)
    return out


def counting_from_state(state_dir: str) -> tuple[np.ndarray, int, int]:
    """(counters, n_slots, k) from a completed counting state dir."""
    meta = _meta(state_dir, "counting")
    return (np.frombuffer(_blob(state_dir, "counting"), dtype=np.uint8).copy(),
            meta["n_slots"], meta["k"])


# ---------------------------------------------------------------------------
# query + oracle: novelty vs a registry WITH retractions
# ---------------------------------------------------------------------------

#: removed slice: doc_id % 10 == 0 — a subset of history (% 2 == 0),
#: so removed urls must come back NOVEL when recrawled.
REM_MOD, REM_RES = 10, 0


def q_bloom_novel_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty of a new crawl slice against history MINUS retractions,
    prefiltered by the counting-bloom state's binarized form.  Urls in
    the retracted slice (e.g. takedowns) are novel again — exactly
    what the OR-folded bit state cannot express."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    adds = _with_url(d.filter(F.col("doc_id") % HIST_MOD == HIST_RES))
    removes = _with_url(d.filter(F.col("doc_id") % REM_MOD == REM_RES))
    new = _with_url(d.filter(F.col("doc_id") % NEW_MOD == NEW_RES))
    live = adds.join(removes.select("url"), "url", "left_anti")
    # the result holds the counters in memory, so the state dirs can go
    with state.scratch_dir("cbloom-") as base:
        counting_state_update(  # day 1: the additions
            spark, adds, None, "url", os.path.join(base, "day1"))
        counters = counting_state_update(  # day 2: the retractions
            spark, None, removes, "url", os.path.join(base, "day2"),
            prev_state_dir=os.path.join(base, "day1"))
    return novel_keys(new, live, "url", bloom=counting_to_bits(counters))


def oracle_bloom_novel_retraction_sql() -> str:
    # the counting bloom is internal; the contract is the exact
    # anti-join against (adds MINUS removes)
    return f"""
WITH live AS (
    SELECT {_URL} AS url FROM documents
    WHERE doc_id % {HIST_MOD} = {HIST_RES}
      AND doc_id % {REM_MOD} != {REM_RES}
),
new AS (
    SELECT doc_id, {_URL} AS url FROM documents
    WHERE doc_id % {NEW_MOD} = {NEW_RES}
)
SELECT n.doc_id, n.url FROM new n
WHERE NOT EXISTS (SELECT 1 FROM live h WHERE h.url = n.url)
"""
