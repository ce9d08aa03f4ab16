"""Incremental (cross-run) near-duplicate dedup: process a NEW slice
of the corpus against persisted signature state — never rescanning
historical TEXT (r4 verdict gap #2: the production shape for a corpus
that grows daily).

One fold, two signature families.  ``incremental_update`` signs texts
with simhash and keeps pairs by hamming distance;
``minhash_incremental_update`` signs them with minhash and keeps pairs
by signature agreement (see the minhash block comment below).  They
differ only in the signature column and the candidate-pair rule; the
state algebra, the Spark plan and the commit protocol are the shared
``_fold``.

State layout (parquet dir, written per run):
  digests/  (text_md5, rep_id)   one row per unique text ever seen;
                                 rep = first-seen representative
  sigs/     (rep_id, sig, root)  signature (``sim long`` for simhash,
                                 ``sig array<long>`` for minhash) +
                                 current component root per unique text
  members/  (doc_id, rep_id)     doc-level membership (narrow id
                                 metadata — ~16 bytes/doc, the only
                                 corpus-sized state; text is never
                                 re-read)

Incremental step (``_fold``):
1. digest the new slice; split seen/unseen texts with one join
   against ``digests`` (seen texts skip signature computation
   entirely — exact-collapse-first, the production order).
2. sign only the unseen-text representatives (narrow stage).
3. candidate pairs, new-vs-new (self-join) and new-vs-HISTORY, where
   the history side derives its keys from STORED signatures.  The
   simhash rule (``_ham_pairs``) bands signatures into SIM_CHUNKS
   15-bit chunks and keeps hamming <= HAMMING_T; with SIM_CHUNKS =
   HAMMING_T + 1 the banding is exact (<=T differing bits can't touch
   all chunks), so the incremental pair set is precisely the batch
   pair set restricted to edges incident to the new slice.  The
   minhash rule (``_mh_pairs``) joins on LSH bands and keeps pairs
   agreeing on >= AGREE_T components.
4. contract historical endpoints to their component roots and run the
   existing pointer-jumping connected_components over the (tiny)
   edge graph.  Old components can MERGE through a new doc adjacent
   to two of them: the merge appears as a component containing >= 2
   old roots, and the resulting root remap is broadcast-joined onto
   ``sigs`` (remap size is bounded by the number of merge events, not
   the corpus).
5. write the updated state; re-runs are replay-safe (``state.complete``
   on all three parts: a done dir is never recomputed).

Equivalence (the oracle): contracting identical texts to a
representative and old components to their roots both preserve
connected components, so after any slice sequence
``survivors(state)`` equals a full-corpus batch recompute: pair graph
over unique texts -> connected components -> per component
(keep_doc_id = min member doc_id, n_docs).  The DuckDB oracles state
exactly that with a recursive reachability CTE, and both queries
replay the corpus through ``state.replay_slices`` (doc_id % 3, so
later slices carry SMALLER doc_ids than earlier reps — exercising the
first-seen-rep vs min-doc-survivor distinction).

100 TB shape: each daily run touches the new slice's text once
(digest + signatures for unseen texts only), joins against state on
digest/band keys (narrow tables, co-partitionable by key), and the
CC loop runs over candidate EDGES (pair-graph sized, not corpus
sized).  State rewrite is narrow-columns-only; at a trillion docs
``members`` is ~16 TB of ids vs the 100 TB+ of text it spares every
day.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xjs.pipeline import state
from xjs.pipeline.clusters import connected_components
from xjs.pipeline.dedup import (
    CHUNK_BITS,
    DUCKDB_CORPUS_CTE,
    HAMMING_T,
    SIM_CHUNKS,
    _simhash_sql_expr,
    dedup_corpus,
    simhash,
)

__all__ = [
    "incremental_update",
    "load_state",
    "survivors",
    "q_dedup_incremental",
    "oracle_dedup_incremental_sql",
    "minhash_incremental_update",
    "q_dedup_minhash_incremental",
    "oracle_dedup_minhash_incremental_sql",
]

#: the three tables of a state dir; it is done when all have _SUCCESS
STATE_PARTS = ("digests", "sigs", "members")


def _chunks(df: DataFrame) -> DataFrame:
    """(id, sim, chunk, val) — the pigeonhole banding used by the
    batch path, derived from stored signatures (no text)."""
    return df.select(
        "id",
        "sim",
        F.posexplode(
            F.array(*[
                (F.shiftright(F.col("sim"), CHUNK_BITS * c) % (2 ** CHUNK_BITS))
                for c in range(SIM_CHUNKS)
            ])
        ).alias("chunk", "val"),
    )


def _ham_pairs(a: DataFrame, b: DataFrame) -> DataFrame:
    """The simhash pair rule: (doc_a, doc_b) between two (id, sim)
    frames sharing a chunk and within HAMMING_T bits; a-side id <
    b-side id is NOT imposed (callers dedupe)."""
    ca = _chunks(a)
    cb = ca if b is a else _chunks(b)
    j = ca.alias("a").join(
        cb.alias("b"),
        (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.val") == F.col("b.val")),
    )
    ham = F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
    return (
        j.select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter((F.col("hamming") <= HAMMING_T) & (F.col("doc_a") != F.col("doc_b")))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _write(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _start_writes(parts: list[tuple[DataFrame, str]]):
    """Launch independent state writes as background driver threads
    (guide §2.6): the digests/members writes depend only on the
    already-materialized slice checkpoints — not on the component
    computation — so their jobs overlap the candidate-pair/CC jobs
    and each other, back-filling idle cores.  Returns (executor,
    futures); callers MUST join via ``_join_writes`` so write errors
    surface.  Results are identical to the sequential form (the
    writes touch disjoint paths)."""
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=len(parts))
    return pool, [pool.submit(_write, df, path) for df, path in parts]


def _join_writes(pool, futures) -> None:
    try:
        for f in futures:
            f.result()
    finally:
        pool.shutdown(wait=True)


def load_state(spark: SparkSession, state_dir: str):
    """(digests, sigs, members) of a state dir of either family."""
    return tuple(
        spark.read.parquet(os.path.join(state_dir, t)) for t in STATE_PARTS
    )


def _fold(
    spark: SparkSession,
    new_df: DataFrame,
    state_out: str,
    state_in: str | None,
    sig: str,
    sig_type: str,
    sign: Callable[[Column], Column],
    pairs: Callable[[DataFrame, DataFrame], DataFrame],
) -> None:
    """Fold a new corpus slice (doc_id, text) into dedup state whose
    ``sigs`` table stores ``sign(text)`` as column ``sig`` of
    ``sig_type``; ``pairs(a, b)`` is the candidate-pair rule between
    two (id, <sig>) frames.  No-op when ``state_out`` is done."""
    if state.complete(state_out, *STATE_PARTS):
        return

    # digest the slice ONCE: both consumers below (the exact-collapse
    # grouping and the members join) previously re-derived this from
    # the source — a second full slice scan + md5 pass (r6)
    new_docs = new_df.select(
        "doc_id", F.md5(F.col("text")).alias("dig"), "text"
    ).localCheckpoint(eager=False)

    if state_in is not None:
        digests, sigs, members = load_state(spark, state_in)
    else:
        digests = spark.createDataFrame([], "dig string, rep_id long")
        sigs = spark.createDataFrame([], f"rep_id long, {sig} {sig_type}, root long")
        members = spark.createDataFrame([], "doc_id long, rep_id long")

    # 1. split seen / unseen texts (exact-collapse against history AND
    #    within the slice in one digest groupBy)
    slice_groups = (
        new_docs.groupBy("dig")
        .agg(F.min("doc_id").alias("slice_rep"), F.any_value("text").alias("text"))
        .join(digests, "dig", "left")
    )
    unseen = slice_groups.filter(F.col("rep_id").isNull()).select(
        "dig", F.col("slice_rep").alias("rep_id"), "text"
    ).localCheckpoint(eager=False)  # r6: consumed by the signature
    # stage AND both the digests and members writes — the lazy cut
    # materializes it once (during the eager signature checkpoint)
    # instead of re-running the slice groupBy + history join 3x

    # 2. signatures for genuinely new texts only (the only text touch)
    new_sigs = unseen.select(
        "rep_id", sign(F.col("text")).alias(sig)
    ).localCheckpoint(eager=True)  # cut lineage: reused below

    # 5a. digests/members writes depend only on the digested slice
    #     split — start them now so their jobs overlap the pair/CC
    #     computation below (guide §2.6)
    out_digests = digests.unionAll(unseen.select("dig", "rep_id"))
    out_members = members.unionAll(
        new_docs.select("doc_id", "dig")
        .join(out_digests, "dig")
        .select("doc_id", "rep_id")
    )
    pool, futs = _start_writes([
        (out_digests, os.path.join(state_out, "digests")),
        (out_members, os.path.join(state_out, "members")),
    ])

    # 3. candidate pairs: new-new + new-history (history keys derive
    #    from stored signatures — no text rescan)
    new = new_sigs.withColumnRenamed("rep_id", "id")
    pairs_nn = pairs(new, new).filter(F.col("doc_a") < F.col("doc_b"))
    pairs_no = (
        pairs(new, sigs.select(F.col("rep_id").alias("id"), sig))
        # contract the historical endpoint to its component root
        .join(sigs.select(F.col("rep_id").alias("doc_b"), "root"), "doc_b")
        .select("doc_a", F.col("root").alias("doc_b"))
        .distinct()
    )

    # 4. components over the contracted edge graph (tiny: edges only)
    cc = connected_components(pairs_nn.unionAll(pairs_no))  # (doc_id, cluster)

    # new reps: root from cc, else self
    new_sig_rows = (
        new_sigs.join(cc.withColumnRenamed("doc_id", "rep_id"), "rep_id", "left")
        .select("rep_id", sig, F.coalesce("cluster", F.col("rep_id")).alias("root"))
    )
    # historical roots that appeared in cc get remapped (merges);
    # remap table is merge-event sized -> broadcast
    remap = cc.select(F.col("doc_id").alias("root"), F.col("cluster").alias("new_root"))
    old_sig_rows = (
        sigs.join(F.broadcast(remap), "root", "left")
        .select("rep_id", sig, F.coalesce("new_root", F.col("root")).alias("root"))
    )

    # 5b. the sigs write needs cc; the other two are already running
    try:
        _write(old_sig_rows.unionAll(new_sig_rows),
               os.path.join(state_out, "sigs"))
    finally:
        _join_writes(pool, futs)


def incremental_update(
    spark: SparkSession,
    new_df: DataFrame,
    state_out: str,
    state_in: str | None = None,
) -> None:
    """Fold a new corpus slice (doc_id, text) into simhash dedup state.

    ``state_in=None`` bootstraps from an empty history.  Replay-safe:
    if ``state_out`` is already complete (all _SUCCESS markers) the
    call is a no-op, so a killed run re-submitted by a scheduler never
    double-applies a slice."""
    _fold(spark, new_df, state_out, state_in, "sim", "long", simhash, _ham_pairs)


def survivors(spark: SparkSession, state_dir: str) -> DataFrame:
    """(keep_doc_id, n_docs) per near-duplicate component over
    everything folded into the state so far — the full-corpus-batch
    equivalent answer, computed from state alone."""
    _, sigs, members = load_state(spark, state_dir)
    return (
        members.join(sigs.select("rep_id", "root"), "rep_id")
        .groupBy("root")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
        .select("keep_doc_id", "n_docs")
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the dedup corpus as three interleaved daily slices
    (doc_id % 3) through incremental state, then report survivors.
    The oracle recomputes the same answer from the full corpus in one
    batch — the equivalence that makes incremental mode trustworthy."""
    corpus = dedup_corpus(spark, sf_dir)
    fold = partial(incremental_update, spark)
    with state.replay_slices(corpus, fold, "incr-") as final:
        return survivors(spark, final).localCheckpoint(eager=True)


def oracle_dedup_incremental_sql() -> str:
    return f"""
WITH RECURSIVE {DUCKDB_CORPUS_CTE.strip()},
sims AS (SELECT doc_id, sim FROM {_simhash_sql_expr()} t),
uniq AS (
    SELECT md5(text) AS dig, MIN(doc_id) AS rep FROM corpus GROUP BY 1
),
rsims AS (
    SELECT u.rep, s.sim FROM uniq u JOIN sims s ON s.doc_id = u.rep
),
chunks AS (
    SELECT rep, sim, UNNEST(RANGE({SIM_CHUNKS})) AS chunk,
           UNNEST([{', '.join(f'(sim >> {CHUNK_BITS * c}) % {2 ** CHUNK_BITS}' for c in range(SIM_CHUNKS))}]) AS val
    FROM rsims
),
pairs AS (
    SELECT DISTINCT a.rep AS ra, b.rep AS rb
    FROM chunks a JOIN chunks b
      ON a.chunk = b.chunk AND a.val = b.val AND a.rep < b.rep
    WHERE bit_count(xor(a.sim, b.sim)) <= {HAMMING_T}
),
edges AS (SELECT ra AS a, rb AS b FROM pairs UNION SELECT rb, ra FROM pairs),
reach(src, node) AS (
    SELECT DISTINCT a, a FROM edges
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
),
roots AS (SELECT src AS rep, MIN(node) AS root FROM reach GROUP BY src),
membership AS (
    SELECT c.doc_id, COALESCE(r.root, u.rep) AS root
    FROM corpus c
    JOIN uniq u ON u.dig = md5(c.text)
    LEFT JOIN roots r ON r.rep = u.rep
)
SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_docs
FROM membership GROUP BY root
"""


# --------------------------------------------------------------------------
# minhash pair rule
# --------------------------------------------------------------------------
#
# The minhash family runs the same fold as the simhash family above;
# only its signature and its pair rule differ.  The rule makes two
# contract decisions forced by the no-text-rescan invariant, both
# deliberate:
#
# * **Verification is signature agreement, not exact token Jaccard.**
#   The batch path's exact-Jaccard verify re-reads both texts; for a
#   new-vs-HISTORY pair the historical text is exactly what incremental
#   mode must never touch.  Storing token sets would make state
#   text-sized and defeat the point.  The incremental contract is
#   therefore: pair kept iff >= AGREE_T of the K minhash components
#   agree (the standard estimator: P[component match] = Jaccard, so
#   AGREE_T = K/2 mirrors JACCARD_T = 0.5).  Agreement is a pure
#   function of STORED signatures — deterministic, exactly restatable
#   by the DuckDB oracle, and slice-order invariant.
#
# * **Banding is uncapped.**  The batch bucket cap (MINHASH_MAX_BUCKET)
#   drops a bucket based on its FULL-corpus size; incrementally a
#   bucket can be under the cap on early days (edges emitted, components
#   merged) and over it later — capped-fold == capped-batch would
#   require retracting merges, which union state cannot express.  The
#   production bucket-mass defense remains exact-collapse-first (the
#   fold's step 1): buckets are bounded by NEAR-duplicate mass, not
#   corpus mass.
#
# Equivalence argument (the simhash one): the pair predicate (shared
# band AND agreement >= AGREE_T) is a function of signatures alone;
# identical texts have identical signatures, so contracting exact
# duplicates to a representative preserves the component structure,
# and contracting settled components to roots preserves reachability.
# Every rep pair is evaluated exactly once — within its arrival slice
# (new-vs-new) or when the later rep arrives (new-vs-history with bands
# derived from STORED signatures) — so any slice-sequence fold equals
# the one-shot batch recompute, which is exactly what the oracle
# states.

AGREE_T = 6  # of K=12 minhash components: the >=0.5 estimated-Jaccard gate


def _mh_bands(df: DataFrame) -> DataFrame:
    """(id, band, key) from stored (id, sig array<long>) rows — the
    same band grouping the batch path derives inline, computed from
    state without touching text.  Docs too short to shingle have
    all-NULL signatures -> empty band keys, filtered exactly as the
    batch path filters them."""
    from xjs.pipeline.dedup import band_keys

    return (
        df.select("id", F.posexplode(band_keys(F.col("sig"))).alias("band", "key"))
        .filter(F.col("key") != "")
    )


def _agreement(sa: Column, sb: Column) -> Column:
    """Count of agreeing non-null components between two signatures."""
    return F.size(
        F.filter(
            F.zip_with(sa, sb, lambda x, y: x.isNotNull() & y.isNotNull() & (x == y)),
            lambda m: m,
        )
    )


def _mh_pairs(a: DataFrame, b: DataFrame) -> DataFrame:
    """The minhash pair rule: (doc_a, doc_b) between two (id, sig)
    frames sharing >=1 band whose signatures agree on >= AGREE_T
    components.  Band join first (candidate-sized), signatures joined
    onto the DISTINCT candidate pairs only."""
    ba = _mh_bands(a)
    bb = ba if b is a else _mh_bands(b)
    cands = (
        ba.alias("a")
        .join(bb.alias("b"), (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")))
        .filter(F.col("a.id") != F.col("b.id"))
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )
    j = (
        cands.join(a.select(F.col("id").alias("doc_a"), F.col("sig").alias("sig_a")), "doc_a")
        .join(b.select(F.col("id").alias("doc_b"), F.col("sig").alias("sig_b")), "doc_b")
    )
    return (
        j.filter(_agreement(F.col("sig_a"), F.col("sig_b")) >= AGREE_T)
        .select("doc_a", "doc_b")
    )


def minhash_incremental_update(
    spark: SparkSession,
    new_df: DataFrame,
    state_out: str,
    state_in: str | None = None,
    hash_mode: str = "portable",
) -> None:
    """Fold a new corpus slice (doc_id, text) into minhash-LSH dedup
    state (the ``incremental_update`` layout with an array<long>
    signature column ``sig``).  Replay-safe the same way."""
    from xjs.pipeline.dedup import minhash_signature

    _fold(spark, new_df, state_out, state_in, "sig", "array<long>",
          partial(minhash_signature, hash_mode=hash_mode), _mh_pairs)


# bench.py reaches these two names
minhash_survivors = survivors


def _mh_complete(state_dir: str) -> bool:
    return state.complete(state_dir, *STATE_PARTS)


def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-slice interleaved replay (doc_id % 3: later slices carry
    smaller ids than earlier reps) through minhash state; the oracle
    recomputes the same survivors from the full corpus in one batch
    under the identical agreement contract."""
    corpus = dedup_corpus(spark, sf_dir)
    fold = partial(minhash_incremental_update, spark)
    with state.replay_slices(corpus, fold, "mh-incr-") as final:
        return survivors(spark, final).localCheckpoint(eager=True)


def oracle_dedup_minhash_incremental_sql() -> str:
    from xjs.pipeline.dedup import (
        BANDS,
        K,
        MOD,
        ROWS,
        _shingle_hashes_sql,
        hash_params,
    )

    sig_items = []
    for k in range(K):
        a, b = hash_params(k)
        sig_items.append(f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {MOD}))")
    band_exprs = []
    for bnd in range(BANDS):
        parts = [f"sig[{bnd * ROWS + r + 1}]::VARCHAR" for r in range(ROWS)]
        band_exprs.append(" || '_' || ".join(parts))
    return f"""
WITH RECURSIVE {DUCKDB_CORPUS_CTE.strip()},
uniq AS (SELECT md5(text) AS dig, MIN(doc_id) AS rep FROM corpus GROUP BY 1),
rtexts AS (SELECT u.rep, c.text FROM uniq u JOIN corpus c ON c.doc_id = u.rep),
sigs AS (
    SELECT rep, [{', '.join(sig_items)}] AS sig
    FROM (SELECT rep, {_shingle_hashes_sql()} AS hs FROM rtexts)
),
bands AS (
    SELECT rep, band, key FROM (
        SELECT rep, UNNEST(RANGE({BANDS})) AS band,
               UNNEST([{', '.join(band_exprs)}]) AS key
        FROM sigs
    ) WHERE key IS NOT NULL AND key <> ''
),
cands AS (
    SELECT DISTINCT a.rep AS ra, b.rep AS rb
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.rep < b.rep
),
pairs AS (
    SELECT ra, rb FROM cands
    JOIN sigs sa ON sa.rep = ra
    JOIN sigs sb ON sb.rep = rb
    WHERE len(list_filter(range(1, {K + 1}),
              i -> sa.sig[i] IS NOT NULL AND sa.sig[i] = sb.sig[i])) >= {AGREE_T}
),
edges AS (SELECT ra AS a, rb AS b FROM pairs UNION SELECT rb, ra FROM pairs),
reach(src, node) AS (
    SELECT DISTINCT a, a FROM edges
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
),
roots AS (SELECT src AS rep, MIN(node) AS root FROM reach GROUP BY src),
membership AS (
    SELECT c.doc_id, COALESCE(r.root, u.rep) AS root
    FROM corpus c
    JOIN uniq u ON u.dig = md5(c.text)
    LEFT JOIN roots r ON r.rep = u.rep
)
SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_docs
FROM membership GROUP BY root
"""
