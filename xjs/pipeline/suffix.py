"""Character-grain exact-substring deduplication — the true grain of
Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
Better", §4.1 EXACTSUBSTR): a character window of length >= ``K_CHARS``
that re-occurs verbatim anywhere else in the corpus marks its span for
removal, byte-faithfully, with the earliest occurrence kept.  The repo's
token-window family (xjs.pipeline.dedup.substring_*) documents itself as
the token-grain approximation of this; this module closes that gap.

Reference parity: the reference engine has no corpus operators — this is
part of the §2-mandated LLM-pipeline family (SURVEY.md §2.9), specified
from the public paper, not from reference code.

Key insight: a position p is inside SOME duplicated substring of length
>= k  <=>  some k-char window covering p is duplicated  <=>  p lies in
the union of duplicated k-windows.  So span detection needs only
equality of fixed k-char window contents — never a full suffix sort —
and two equality keys are offered:

- ``method='literal'``: the window text itself.  Exact, provably equal
  to the DuckDB oracle; shuffles k-char strings (the ~50x corpus wire
  cost is why it is the audit/oracle twin, not the production default).
- ``method='rolling'``: a 64-bit Rabin-Karp hash of the window, computed
  for every window in one O(N) numpy pass per Arrow batch (see
  _rolling_keys).  8-byte shuffle keys — the production path, with the
  same 2^-64-collision stance as the repo's md5 digests (expected
  spurious window merges ~= W^2/2^65; at W = 10^12 windows that is
  ~0.03 falsely merged window CONTENTS corpus-wide, each of which still
  needs the other dedup gates to matter).

Both produce identical spans (pinned in tests/test_suffix.py); the
literal form backs the DuckDB oracle rows.  A per-window xxhash64
projection measured 66-83s against the rolling kernel's 9.4-13.2s on
35M windows of page docs, and a collision-free prefix-doubling key
paid one groupBy + join per doubling round; no caller selected either,
and both were dropped (ROUND5.md item 19).

Scale shape: the position table is one row per character (the grain's
inherent cost — Lee et al. pay the same via suffix arrays over the
concatenated corpus).  Detection is the same linear owner shape as
token-grain substring dedup: ONE owner row per distinct window content
(min encoded (doc,pos)), a 1:N join bounded by the position count, and
gaps-and-islands under a doc-keyed window whose partitions are bounded
by document length.  Document text is never shuffled — only (id, pos,
key) triples move.  Removal joins a flagged-docs-sized span table and
splices text in a narrow per-row projection.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xjs.pipeline import state

K_CHARS = 50        # Lee et al. 2022 use 50 (bytes; chars here — see note)

# Unicode note: Spark's length/substring and DuckDB's length/substr both
# count CHARACTERS of the decoded string, so char grain (not byte grain)
# is the portable exact contract; on ASCII web text the two coincide.


def _positions(df: DataFrame, id_col: str, text_col: str, upto: Column) -> DataFrame:
    """(id, text, pos): one row per 1-based char position 1..upto.
    explode(sequence(...)) is narrow and fuses into the scan; text rides
    along only until the key projection drops it."""
    return df.select(
        F.col(id_col), F.col(text_col),
        F.explode(F.sequence(F.lit(1), upto)).alias("pos"),
    )


def _rolling_keys(
    df: DataFrame, id_col: str, text_col: str, k: int, anchor_mod: int = 1
) -> DataFrame:
    """(id, pos, key): vectorized Rabin-Karp — every k-window's 64-bit
    polynomial hash in ONE O(N) numpy pass per Arrow batch, vs the
    O(k*N) per-position substring materialization of a per-window
    xxhash64 (measured 66-83s -> 9.4-13.2s on 35M windows of
    page-length docs; no 50-char window strings ever exist).

    Math: codepoints c[i] (utf-32 decode, so positions stay CHAR
    offsets), base B odd => invertible mod 2^64; with pow[i] = B^-i and
    prefix P[i] = sum_{j<i} c[j]*B^j (all wrapping uint64), the
    normalized window hash at p is (P[p+k] - P[p]) * B^-p — equal
    windows hash equal anywhere in the batch universe.  cumprod/cumsum
    give pow/P vectorized; doc boundaries mask out cross-doc windows
    (same ragged-range machinery as the gram cutter).  Collision
    stance: non-adversarial 64-bit, same as the repo's xxhash64/md5
    digests (polynomial hashes are weaker adversarially; the 'literal'
    method exists for exactness).

    ``anchor_mod > 1`` pushes the content-defined selection (see
    _anchored) into the kernel: the mask is evaluated on the hash
    vector BEFORE any Arrow output materializes, so an anchored fold
    emits ~1/s of the key rows instead of filtering them post-hoc —
    selection semantics are exactly ``F.pmod(key, s) == 0`` on the
    int64 view (numpy's % is floored like pmod, so the pushed and
    post-filter forms agree bit-for-bit, including non-power-of-two
    moduli where unsigned-% would diverge on hashes >= 2^63;
    test-pinned)."""
    from xjs.pipeline.text import window_starts

    dtypes = dict(df.dtypes)
    schema = f"{id_col} {dtypes[id_col]}, pos int, key long"

    def build(batches):
        import numpy as np
        import pyarrow as pa

        B = np.uint64(0x100000001B3)         # FNV-1a prime, odd
        B_INV = np.uint64(pow(0x100000001B3, -1, 1 << 64))
        with np.errstate(over="ignore"):
            for batch in batches:
                texts = batch.column(1).to_pylist()
                bufs = [
                    (t or "").encode("utf-32-le") for t in texts
                ]
                counts = np.array(
                    [len(b) >> 2 for b in bufs], dtype=np.int64
                )
                flat = (
                    np.frombuffer(b"".join(bufs), dtype=np.uint32)
                    .astype(np.uint64)
                )
                n = len(flat)
                local_pos, row_ids = window_starts(counts, k)
                if len(local_pos) == 0:
                    continue
                offsets = np.concatenate(
                    ([0], np.cumsum(counts)))[:-1]
                # pow[i] = B^i, inv_pow[i] = B^-i, both wrapping
                powv = np.empty(n + 1, dtype=np.uint64)
                powv[0] = 1
                np.cumprod(np.full(n, B, dtype=np.uint64), out=powv[1:])
                inv = np.empty(n, dtype=np.uint64)
                inv[0] = 1
                if n > 1:
                    np.cumprod(
                        np.full(n - 1, B_INV, dtype=np.uint64), out=inv[1:]
                    )
                pref = np.empty(n + 1, dtype=np.uint64)
                pref[0] = 0
                np.cumsum(flat * powv[:n], out=pref[1:])
                g = offsets[row_ids] + local_pos        # 0-based flat start
                h = (pref[g + k] - pref[g]) * inv[g]
                if anchor_mod > 1:
                    keep = h.view(np.int64) % anchor_mod == 0
                    h, row_ids, local_pos = h[keep], row_ids[keep], local_pos[keep]
                    if len(h) == 0:
                        continue
                ids = batch.column(0).take(pa.array(row_ids))
                yield pa.RecordBatch.from_arrays(
                    [
                        ids,
                        pa.array(local_pos + 1, type=pa.int32()),
                        pa.array(h.view(np.int64), type=pa.int64()),
                    ],
                    names=[id_col, "pos", "key"],
                )

    return df.select(id_col, text_col).mapInArrow(build, schema)


def char_window_keys(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = K_CHARS, method: str = "literal", anchor_mod: int = 1,
) -> DataFrame:
    """(id, pos, key): one row per k-char window start (1-based pos),
    keyed so two rows carry equal keys iff their windows' contents are
    equal (exactly for 'literal'; modulo 64-bit hashing for 'rolling').
    ``anchor_mod > 1`` applies the content-defined selection (see
    _anchored); the rolling kernel evaluates it BEFORE materializing
    output rows (~1/s emitted), the literal form filters post-hoc —
    identical selected sets."""
    if method == "rolling":
        return _rolling_keys(df, id_col, text_col, k, anchor_mod)
    if method != "literal":
        raise ValueError(f"unknown method {method!r}")
    n_pos = F.length(F.col(text_col)) - k + 1
    win = F.col(text_col).substr(F.col("pos"), F.lit(k))
    keys = (
        _positions(df.filter(F.length(text_col) >= k), id_col, text_col, n_pos)
        .select(id_col, "pos", win.alias("key"))
    )
    return _anchored(keys, method, anchor_mod)


def _anchored(keys: DataFrame, method: str, anchor_mod: int) -> DataFrame:
    """Content-defined window selection (Manber 1994 fingerprint
    pruning): keep a window iff a hash OF ITS CONTENT is 0 mod
    ``anchor_mod``.  Because the predicate sees only the window's own
    bytes, every occurrence of the same content — any doc, any slice,
    any run — is uniformly kept or skipped, so min-owner semantics,
    batch/incremental equivalence, and the oracle all survive the
    pruning unchanged; only the detection floor moves (see
    char_state_update).  'literal' selects on the md5-hex->BIGINT
    idiom the export oracle proved bit-identical in DuckDB; 'rolling'
    selects on the key itself (already a content hash)."""
    if anchor_mod <= 1:
        return keys
    if method == "literal":
        sel = (
            F.conv(F.substring(F.md5(F.col("key")), 1, 15), 16, 10)
            .cast("long") % anchor_mod == 0
        )
    else:  # rolling
        sel = F.pmod(F.col("key"), F.lit(anchor_mod)) == 0
    return keys.filter(sel)


def _spans_from_flagged(flagged: DataFrame, id_col: str, k: int) -> DataFrame:
    """dedup.merge_spans over flagged 1-based window starts: (id,
    char_start, char_end) spans, 0-based half-open."""
    from xjs.pipeline.dedup import merge_spans

    spans = merge_spans(
        flagged.select(id_col, (F.col("pos") - 1).alias("pos")), k, id_col)
    return spans.select(id_col, F.col("token_start").alias("char_start"),
                        F.col("token_end").alias("char_end"))


def char_span_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = K_CHARS, method: str = "literal", anchor_mod: int = 1,
) -> DataFrame:
    """(id, char_start, char_end): maximal duplicated character spans,
    0-based half-open offsets — every char range covered by a k-window
    whose exact content also occurs in a lower-id document.  The
    earliest (min-id) occurrence of each window content is the owner
    and keeps its text; within-doc repeats alone don't flag (same
    min-owner semantics as the token-grain family).

    ``anchor_mod > 1`` applies the content-defined pruning described
    at char_state_update (the incremental twin's state dial) to the
    batch path too, so batch-vs-incremental equivalence can be pinned
    at the same selection; spans then snap to selected windows.

    Owner join shape: exactly substring_spans' linear groupBy+join
    (one owner row per window content, output bounded by the position
    count, partial aggregation absorbs hot-window skew); islands merge
    under a doc-keyed window bounded by document length."""
    # keys feeds BOTH the owner aggregate and the probe side of the
    # join, so the keying chain appears twice in the plan.  An r6
    # interleaved A/B of localCheckpoint-ing it once vs recomputing
    # (35M unanchored windows, sf0.1 edge corpus) showed the
    # materialization costs ~3s steadily while the recompute is
    # cheaper on an idle host (best 5.4s vs 8.4s floor) — the kernel
    # is O(N) and the upstream collapse exchange is shared, so the
    # double derivation stays.
    keys = char_window_keys(df, id_col, text_col, k, method, anchor_mod)
    owners = keys.groupBy("key").agg(F.min(id_col).alias("_owner"))
    flagged = (
        keys.join(owners, "key")
        .filter(F.col(id_col) > F.col("_owner"))
        .select(id_col, "pos")
    )
    return _spans_from_flagged(flagged, id_col, k)


def char_dedup_remove(
    df: DataFrame, spans: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
    broadcast_spans: bool = True,
) -> DataFrame:
    """(id, clean_text): the duplicated char spans cut out VERBATIM —
    unlike the token-grain remover there is no whitespace
    renormalization; kept segments concatenate byte-faithfully (the
    paper's semantics: splice out the repeated bytes, keep the rest
    untouched).

    Scale shape: spans aggregate to one small sorted array per flagged
    doc and BROADCAST by default, so the corpus text is never shuffled
    — the removal stays a narrow map over the corpus (plan-asserted in
    tests/test_suffix.py).  Splicing is a per-row fold over that tiny
    array (HOF lambdas here iterate spans-per-doc elements, not corpus
    data).  Unflagged docs pass through untouched.  Set
    ``broadcast_spans=False`` when the flagged set outgrows executor
    memory (the doc-id join is unique-key and skew-free either way,
    same opt-out contract as line_dedup_remove)."""
    sp = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("char_start", "char_end"))
        ).alias("_spans")
    )
    if broadcast_spans:
        sp = F.broadcast(sp)
    spans_arr = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<char_start:int,char_end:int>>"),
    )
    text = F.col(text_col)
    # kept segments: [0, s1.start), [s1.end, s2.start), ..., [sN.end, len)
    starts = F.concat(
        F.array(F.lit(0)), F.transform(spans_arr, lambda s: s.char_end)
    )
    ends = F.concat(
        F.transform(spans_arr, lambda s: s.char_start),
        F.array(F.length(text)),
    )
    segs = F.arrays_zip(starts.alias("s"), ends.alias("e"))
    clean = F.array_join(
        F.transform(
            segs,
            lambda z: F.when(
                z.e > z.s, text.substr(z.s + 1, z.e - z.s)
            ).otherwise(F.lit("")),
        ),
        "",
    )
    return (
        df.join(sp, id_col, "left")
        .select(F.col(id_col), clean.alias("clean_text"))
    )


# --------------------------------------------------------------------------
# incremental (cross-run) twin — persisted window-owner state
# --------------------------------------------------------------------------

#: oracle-row selection modulus (state ~1/3 size at fixture scale);
#: production dials higher — see char_state_update's shape note
ANCHOR_MOD = 3


def char_state_update(
    spark: SparkSession,
    new_df: DataFrame,
    state_out: str,
    state_in: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = K_CHARS,
    method: str = "rolling",
    anchor_mod: int = 1,
) -> None:
    """Fold a new corpus slice into char-dedup state: one row per
    distinct (selected) window content, ``(key, owner)`` with owner =
    min doc id ever carrying it.  Min is the whole merge algebra, so a
    fold over any disjoint-doc slice sequence equals the full-corpus
    owner table exactly (test-pinned), and a later slice carrying a
    smaller doc id takes ownership retroactively — retro-cleaning any
    slice against FINAL state equals the batch spans restricted to it.
    ``state_in=None`` bootstraps; no-op if ``state_out`` is already
    complete (kill/re-submit safe, the line/simhash state pattern).

    State-size dial (the reason this grain needs one: at one row per
    char window, exact state is corpus-scale — ~16 B/window for the
    rolling int key, 1e14 rows at 100 TB).  ``anchor_mod=s`` keeps
    only windows whose content hash is 0 mod s (see _anchored): state
    shrinks ~s-fold and a duplicated substring of length L is missed
    with probability (1 - 1/s)^(L - k + 1) — about e^-t for
    L = k + s*t, so s = 256 still catches >= 99% of duplicates longer
    than ~k + 5*256 chars while cutting state to ~0.4% (~tens of TB of
    ids at 100 TB corpus — the long-duplicate bulk-bytes regime this
    grain exists for).  Pruning by occurrence count ("keep keys seen
    >= 2x") would NOT be sound here: a window seen once in history
    must still match its second occurrence arriving in a later slice.
    s = 1 keeps the grain exact.

    Per-run cost: the new slice's text is keyed once (the same narrow
    O(chars) rolling pass as the batch path); the merge is one
    key-keyed partial aggregation against state — no historical text
    is ever re-read."""
    if state.complete(state_out):
        return
    char_state_merge(
        spark, new_df, state_in, id_col, text_col, k, method, anchor_mod
    ).write.mode("overwrite").parquet(state_out)


def char_state_merge(
    spark: SparkSession,
    new_df: DataFrame,
    state_in: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = K_CHARS,
    method: str = "rolling",
    anchor_mod: int = 1,
) -> DataFrame:
    """The lazy ``(key, owner)`` state after folding ``new_df`` into
    ``state_in`` — char_state_update's computation without the sink
    (bench prices it; tests compare it).  One narrow keying pass over
    the new slice's text, one key-keyed partial aggregation for the
    per-slice owners, one more for the merge against state."""
    keys = char_window_keys(new_df, id_col, text_col, k, method, anchor_mod)
    fresh = keys.groupBy("key").agg(F.min(id_col).alias("owner"))
    if state_in is not None:
        fresh = spark.read.parquet(state_in).unionByName(fresh)
        fresh = fresh.groupBy("key").agg(F.min("owner").alias("owner"))
    return fresh


def char_duplicates_from_state(
    spark: SparkSession,
    df: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = K_CHARS,
    method: str = "rolling",
    anchor_mod: int = 1,
) -> DataFrame:
    """Duplicated char spans for ``df``'s docs against folded state —
    drop-in for char_span_duplicates' output (same schema, feeds
    char_dedup_remove).  Must be called with the same (k, method,
    anchor_mod) the state was built with.  Against the FINAL state
    this equals the batch spans restricted to ``df`` (test-pinned);
    against an intermediate state it is the forward-pass answer
    (duplicates of history seen so far)."""
    keys = char_window_keys(df, id_col, text_col, k, method, anchor_mod)
    st = spark.read.parquet(state_dir)
    flagged = (
        keys.join(st, "key")
        .filter(F.col(id_col) > F.col("owner"))
        .select(id_col, "pos")
    )
    return _spans_from_flagged(flagged, id_col, k)


# --------------------------------------------------------------------------
# queries + oracles (dedup fixture corpus: exact replicas give whole-doc
# spans, 'tail marker token' near-dups give PARTIAL spans — the shared
# prefix is flagged in the higher-id copy, the tail survives)
# --------------------------------------------------------------------------


def q_char_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xjs.pipeline.dedup import dedup_corpus

    return char_span_duplicates(dedup_corpus(spark, sf_dir))


def q_char_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xjs.pipeline.dedup import dedup_corpus

    corpus = dedup_corpus(spark, sf_dir)
    return char_dedup_remove(corpus, char_span_duplicates(corpus))


def q_char_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the dedup corpus as three interleaved slices
    (doc_id % 3 — duplicate docs carry +1M/+2M ids, so every slice
    holds replicas of other slices' originals and cross-run ownership
    is exercised in both directions) through anchored window-owner
    state; spans for the whole corpus read from FINAL state.  The
    oracle recomputes the anchored spans from the full corpus in one
    batch — equality is the retro-clean contract, and the row doubles
    as the oracle proof of the pruned-state selection itself."""
    from xjs.pipeline.dedup import dedup_corpus

    corpus = dedup_corpus(spark, sf_dir)
    fold = partial(char_state_update, spark, method="literal", anchor_mod=ANCHOR_MOD)
    with state.replay_slices(corpus, fold, "incr-char-") as final:
        return char_duplicates_from_state(
            spark, corpus, final, method="literal", anchor_mod=ANCHOR_MOD
        ).localCheckpoint(eager=True)


def _char_spans_ctes(anchor_mod: int = 1) -> str:
    from xjs.pipeline.dedup import DUCKDB_CORPUS_CTE, span_merge_sql

    k = K_CHARS
    sel = (
        ""
        if anchor_mod <= 1
        # same md5-hex->BIGINT arithmetic Spark's F.conv form computes
        # (bit-identical, proven by the export_shards rows)
        else f"\n      AND ('0x' || substr(md5(substr(text, i, {k})), 1, 15))"
             f"::BIGINT % {anchor_mod} = 0"
    )
    return f"""
WITH {DUCKDB_CORPUS_CTE.strip()},
wins AS (
    SELECT doc_id, i AS pos, substr(text, i, {k}) AS key
    FROM corpus, unnest(range(1, length(text) - {k} + 2)) AS r(i)
    WHERE length(text) >= {k}{sel}
),
owners AS (
    SELECT key, MIN(doc_id) AS owner FROM wins GROUP BY key
),
flagged AS (
    SELECT w.doc_id, w.pos - 1 AS pos
    FROM wins w JOIN owners o USING (key)
    WHERE w.doc_id > o.owner
),
{span_merge_sql(k, "char_start", "char_end")}
"""


def oracle_char_spans_sql() -> str:
    return _char_spans_ctes() + """
SELECT doc_id, char_start, char_end FROM spans
"""


def oracle_char_incremental_sql() -> str:
    return _char_spans_ctes(ANCHOR_MOD) + """
SELECT doc_id, char_start, char_end FROM spans
"""


def oracle_char_remove_sql() -> str:
    # spans are disjoint per doc, so ordering starts and ends by
    # char_start keeps the two lists aligned; kept segment i runs from
    # prev span's end (or 0) to this span's start (or len)
    return _char_spans_ctes() + """
, doc_spans AS (
    SELECT doc_id,
           list(char_start ORDER BY char_start) AS ss,
           list(char_end ORDER BY char_start) AS ee
    FROM spans GROUP BY doc_id
)
SELECT c.doc_id,
       CASE WHEN d.ss IS NULL THEN c.text
            ELSE list_aggregate(
                list_transform(
                    range(1, len(d.ss) + 2),
                    i -> substr(
                        c.text,
                        (CASE WHEN i = 1 THEN 0 ELSE d.ee[i - 1] END) + 1,
                        (CASE WHEN i = len(d.ss) + 1 THEN length(c.text)
                              ELSE d.ss[i] END)
                        - (CASE WHEN i = 1 THEN 0 ELSE d.ee[i - 1] END))),
                'string_agg', '')
       END AS clean_text
FROM corpus c LEFT JOIN doc_spans d USING (doc_id)
"""
