"""Deduplication family: exact, MinHash+LSH, SimHash — the operations
a web-scale training-data pipeline runs before anything else.

Scale shapes (the part that matters at 100 TB):

* **exact**: hash-groupBy on a digest — one shuffle on md5(text);
  partial aggregation absorbs duplicates map-side, so even a corpus
  that is 50% copies shuffles only unique digests + counts.
* **minhash-LSH**: narrow per-doc signature computation (shingle →
  K hashes → band keys, all codegen), then a self-join on
  (band, band_key).  The join shuffles signature rows, NOT documents;
  candidate verification re-joins token sets only for candidate pairs.
  Hot buckets (boilerplate pages) are the skew risk — AQE skew-join
  plus an optional bucket-size cap handle it.
* **simhash**: one 60-bit signature per doc (narrow), candidate pairs
  via equality on any of four 15-bit chunks (pigeonhole: hamming ≤ 3
  guarantees a shared chunk), verified by bit_count(xor).  15-bit
  chunks put the random-collision rate per chunk at 2^-15, so the
  candidate volume stays ~linear in N instead of the quadratic blowup
  8-bit chunks produced (28% of all pairs at sf0.01 in round 1).

All hashing uses xjs.pipeline.hashing's portable polynomial hash so
every stage has an exact DuckDB oracle.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xjs.pipeline.hashing import MOD, char_hash, char_hash_sql, hash_params
from xjs.pipeline.text import WS_CHARS, token_windows_sql, tokens, tokens_sql

SHINGLE = 3          # tokens per shingle
K = 12               # minhash functions
BANDS = 4            # LSH bands (K/BANDS rows each)
ROWS = K // BANDS
JACCARD_T = 0.5      # verification threshold
SIM_BITS = 60        # simhash width (fits a signed long: max 2^60-1)
SIM_CHUNKS = 4       # 15-bit chunks for candidate banding
CHUNK_BITS = SIM_BITS // SIM_CHUNKS
HAMMING_T = 3
_SIM_SRC_BITS = 20   # usable low bits per derived token hash (< log2 MOD)
_SIM_REHASH_BASE = 100  # rehash indices 100.. feed simhash bits (disjoint from minhash's 0..K)


# --------------------------------------------------------------------------
# corpus with injected duplicates (documents has none) — deterministic and
# mirrored in DUCKDB_CORPUS_CTE so dedup oracles have known answers
# --------------------------------------------------------------------------

def dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    exact = (
        d.filter(F.col("doc_id") % 60 == 0)
        .select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text")
    )
    near = (
        d.filter(F.col("doc_id") % 40 == 0)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail marker token")).alias("text"),
        )
    )
    return d.unionAll(exact).unionAll(near)


DUCKDB_CORPUS_CTE = """
corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 60 = 0
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text || ' tail marker token' AS text
    FROM documents WHERE doc_id % 40 = 0
)
"""


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_duplicates(df: DataFrame) -> DataFrame:
    """(text_md5, n_docs, keep_doc_id): groups of byte-identical texts;
    survivor = min doc_id."""
    return (
        df.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") >= 2)
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(dedup_corpus(spark, sf_dir))


ORACLE_DEDUP_EXACT_SQL = f"""
WITH {DUCKDB_CORPUS_CTE.strip()}
SELECT md5(text) AS text_md5, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
FROM corpus GROUP BY 1 HAVING COUNT(*) >= 2
"""


# --------------------------------------------------------------------------
# normalization-robust exact dedup ("fuzzy exact": the standard tier
# between byte-exact and MinHash — catches case/punctuation/whitespace
# variants of otherwise identical documents without any similarity math)
# --------------------------------------------------------------------------

def normalize_text(col: Column) -> Column:
    """The normalization contract (exact, engine-portable): lowercase,
    strip everything but [a-z0-9] and ASCII whitespace, collapse
    whitespace runs, trim.  ASCII-complete; non-ASCII letters are
    treated as punctuation and dropped (documented contract — keeps the
    Spark and DuckDB answers byte-identical without relying on the two
    engines' unicode casefold tables agreeing)."""
    s = F.lower(col)
    s = F.regexp_replace(s, f"[^a-z0-9{WS_CHARS}]+", "")
    return F.trim(F.regexp_replace(s, f"[{WS_CHARS}]+", " "))


def normalized_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(norm_md5, n_docs, keep_doc_id): groups whose NORMALIZED texts
    coincide; survivor = min id.  Same single partial-agg groupBy shape
    as exact_duplicates — the normalization is scan-fused, the shuffle
    key is a 16-byte digest, map-side combine absorbs replication."""
    return (
        df.groupBy(
            F.md5(normalize_text(F.col(text_col))).alias("norm_md5")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture: every 30th doc gets a shouted-and-punctuated variant
    (uppercased, '!!!' banner, doubled spaces) at doc_id+3M — invisible
    to byte-exact dedup, collapsed by the normalized digest."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    variants = d.filter(F.col("doc_id") % 30 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit("  !!!")).alias("text"),
    )
    return normalized_duplicates(d.unionAll(variants))


ORACLE_DEDUP_NORMALIZED_SQL = rf"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 3000000 AS doc_id, upper(text) || '  !!!' AS text
    FROM documents WHERE doc_id % 30 = 0
),
normed AS (
    SELECT doc_id,
           md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9{WS_CHARS}]+', '', 'g'),
               '[{WS_CHARS}]+', ' ', 'g'))) AS norm_md5
    FROM corpus
)
SELECT norm_md5, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
FROM normed GROUP BY 1 HAVING COUNT(*) >= 2
"""


# --------------------------------------------------------------------------
# minhash + LSH
# --------------------------------------------------------------------------

def _tokens(col: Column) -> Column:
    """Minhash shingle tokens: a split on the single space, mirrored in
    DuckDB by ``string_split(text, ' ')``.  Deliberately not
    ``text.tokens``: shingles only need a rule both engines compute
    byte-identically, and a one-character split is the cheapest such
    rule in either engine (no regex, no trim)."""
    return F.split(col, " ")


def _check_hash_mode(hash_mode: str) -> None:
    if hash_mode not in ("native", "portable"):
        raise ValueError(f"unknown hash_mode {hash_mode!r}")


def _str_hash(s: Column, hash_mode: str) -> Column:
    """portable: oracle-provable polynomial hash (slow: char-level fold
    in interpreted higher-order functions).  native: xxhash64 folded
    into [0, MOD) — the production path, ~50x faster, same plan shape,
    no cross-engine oracle."""
    _check_hash_mode(hash_mode)
    if hash_mode == "native":
        return F.pmod(F.xxhash64(s), F.lit(MOD))
    return char_hash(s)


def _shingle_hashes(col: Column, hash_mode: str = "portable") -> Column:
    """array<long> of hashed 3-token shingles (empty if < 3 tokens)."""
    toks = _tokens(col)
    n = F.size(toks)
    shingles = F.when(
        n >= SHINGLE,
        F.transform(
            F.sequence(F.lit(0), n - SHINGLE),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, SHINGLE)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.transform(shingles, lambda s: _str_hash(s, hash_mode))


def minhash_signature(col: Column, hash_mode: str = "portable") -> Column:
    """array<long> length K: min over shingles of (a_k*h + b_k) % MOD.

    Single pass over the shingle-hash array: the accumulator is a
    K-wide vector of running minima updated with ``zip_with``/``least``
    (the same trick as ``_simhash_impl``).  K separate
    ``array_min(transform(hs, ...))`` expressions would re-derive the
    interpreted shingle-hash array K times — Catalyst does not CSE the
    shared subtree — which round-1 profiling measured at ~15 ms/doc;
    this shape re-hashes each shingle once and does K multiplications
    per element.

    Empty shingle array (docs with < SHINGLE tokens) yields all-NULL
    signature items, matching ``array_min([])``; rehashed values are
    always in [0, MOD), so the MOD sentinel in the accumulator is
    unambiguous.
    """
    hs = _shingle_hashes(col, hash_mode)
    params = [hash_params(k) for k in range(K)]
    init = F.array_repeat(F.lit(MOD).cast("long"), K)

    def step(acc: Column, h: Column) -> Column:
        rehashed = F.array(*[(h * a + b) % MOD for a, b in params])
        return F.zip_with(acc, rehashed, lambda m, v: F.least(m, v))

    return F.transform(
        F.aggregate(hs, init, step),
        lambda v: F.when(v < MOD, v),
    )


def band_keys(sig: Column) -> Column:
    """array<string> length BANDS: concatenated rows per band."""
    keys = []
    for b in range(BANDS):
        parts = [sig.getItem(b * ROWS + r) for r in range(ROWS)]
        keys.append(F.concat_ws("_", *[p.cast("string") for p in parts]))
    return F.array(*keys)


def bucket_pairs(grouped: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode per-bucket id arrays (column ``docs``) into ordered-id
    pairs (``{id_col}_a`` < ``{id_col}_b``), distinct across buckets.

    Pair generation is local to each bucket row — no join.  Work and
    output are both O(bucket²), which the caller bounds with its bucket
    cap; the per-element HOF interpretation cost is output-proportional,
    i.e. the lower bound any pair enumerator pays."""
    docs = F.sort_array(F.col("docs"))
    pair_arr = F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + 2, F.size(docs)),
                lambda y: F.struct(x.alias(f"{id_col}_a"), y.alias(f"{id_col}_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_arr).alias("p"))
        .select(f"p.{id_col}_a", f"p.{id_col}_b")
        .distinct()
    )


def minhash_candidate_pairs(
    df: DataFrame, max_bucket: int | None = None, hash_mode: str = "portable"
) -> DataFrame:
    """(doc_a, doc_b) sharing at least one LSH band.

    ``max_bucket`` drops band buckets with more than that many docs —
    the skew guard for boilerplate clusters, whose pairwise candidates
    grow quadratically while carrying no information (they are
    duplicates by definition; route them to a cluster report instead of
    pairwise verification).

    Capped form (the production default): ``collect_list(doc_id)`` per
    (band, key) bucket, cap filter on the array size, then local pair
    explosion — signatures are computed ONCE and shuffled once with
    map-side partial aggregation; the cap costs no extra shuffle, sort,
    or join.  A/B at bench scale (1M docs, r4): grouped 4.54s vs
    window-sort cap 4.88s vs count+broadcast-anti-join 8.5s (the
    anti-join's probe branch recomputes the interpreted-HOF signatures —
    Catalyst reuses the self-join exchange but not across the groupBy
    branch) vs uncapped self-join 6.4s.  The aggregation buffer is
    O(largest bucket); in the production composition the exact-dedup
    collapse runs first, so a bucket is bounded by near- (not exact-)
    duplicate mass.  The uncapped path (``max_bucket=None``) keeps the
    sort-merge self-join, which streams arbitrarily large buckets
    without materializing them."""
    sig = df.select(
        "doc_id",
        F.posexplode(
            band_keys(minhash_signature(F.col("text"), hash_mode))
        ).alias("band", "key"),
    ).filter(F.col("key") != "")  # docs with no shingles produce empty keys
    if max_bucket is not None:
        grouped = (
            sig.groupBy("band", "key")
            .agg(F.collect_list("doc_id").alias("docs"))
            .filter((F.size("docs") >= 2) & (F.size("docs") <= max_bucket))
        )
        return bucket_pairs(grouped, "doc_id").withColumnRenamed(
            "doc_id_a", "doc_a"
        ).withColumnRenamed("doc_id_b", "doc_b")
    a = sig.alias("a")
    b = sig.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def verified_near_duplicates(
    df: DataFrame, max_bucket: int | None = None, hash_mode: str = "portable"
) -> DataFrame:
    """Candidates verified by exact token-set Jaccard >= JACCARD_T:
    (doc_a, doc_b, jaccard).  Only candidate pairs re-join the token
    sets — the verification cost is proportional to candidates, not
    to |corpus|^2."""
    pairs = minhash_candidate_pairs(df, max_bucket=max_bucket, hash_mode=hash_mode)
    toksets = df.select(
        "doc_id", F.array_distinct(_tokens(F.col("text"))).alias("toks")
    )
    j = (
        pairs.join(toksets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("toks", "toks_a"), "doc_a")
        .join(toksets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("toks", "toks_b"), "doc_b")
    )
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    union = F.size(F.col("toks_a")) + F.size(F.col("toks_b")) - inter
    jac = F.round(inter.cast("double") / union, 4)
    return (
        j.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_T)
    )


MINHASH_MAX_BUCKET = 64  # band-bucket cap: the oracle-checked default


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped by default (r2 verdict #4): the oracle-checked path is
    the same skew-guarded shape production runs — an uncapped default
    left the quadratic-bucket exposure on exactly the path the
    correctness gate proves.  The DuckDB oracle replicates the cap
    with a windowed bucket count."""
    return verified_near_duplicates(
        dedup_corpus(spark, sf_dir), max_bucket=MINHASH_MAX_BUCKET
    )


def near_duplicate_pipeline(
    df: DataFrame, max_bucket: int | None = 64, hash_mode: str = "native"
) -> DataFrame:
    """The production dedup composition: exact-dedup FIRST (byte-equal
    texts collapse to one survivor via hash groupBy — cheap, shuffles
    digests), then MinHash-LSH only over distinct texts.  This keeps
    the expensive signature stage proportional to unique content, not
    corpus size — on a 200x-replicated corpus it is ~200x less work,
    and on real web data it removes the exact-copy mass (typically
    30-60%) before the quadratic-risk stage.

    The explicit ``repartition`` after the collapse is load-bearing:
    the survivor set is tiny in *bytes*, so AQE's size-based partition
    coalescing funnels it into 1-2 partitions — but the next stage
    (shingle + signature) is compute-heavy per row, and serializing it
    on one core measured 68s vs 9s at bench scale.  Pinning the
    partition count keeps the CPU-bound stage spread across the
    cluster regardless of AQE's byte heuristics.

    Measured non-change (r6): localCheckpoint-ing the survivor set to
    serve the three downstream consumers (band branch + both token-set
    join sides) was tried and LOST ~0.3s at bench scale (interleaved
    min-of-4/5: 3.55/4.00s checkpointed vs 3.30/3.67s recomputed) —
    AQE's runtime exchange reuse already serves the collapse to every
    branch, so the checkpoint only added a materialization barrier.
    The recompute form stays."""
    spark = df.sparkSession
    survivors = (
        df.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return verified_near_duplicates(
        survivors.select("doc_id", "text"), max_bucket=max_bucket, hash_mode=hash_mode
    )


def _shingle_hashes_sql() -> str:
    """DuckDB expression: array of hashed 3-token shingles of `text`
    (the oracle twin of ``_shingle_hashes``)."""
    h = char_hash_sql("s")
    return (
        "list_transform("
        " CASE WHEN len(string_split(text,' ')) >= 3"
        "      THEN list_transform(range(1, len(string_split(text,' ')) - 1),"
        "           i -> array_to_string(string_split(text,' ')[i:i+2], ' '))"
        "      ELSE [] END,"
        f" s -> {h})"
    )


def _minhash_sql() -> str:
    """DuckDB: same signature/bands arithmetic."""
    shingle_hashes = _shingle_hashes_sql()
    sig_items = []
    for k in range(K):
        a, b = hash_params(k)
        sig_items.append(f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {MOD}))")
    bands = []
    for bnd in range(BANDS):
        parts = [f"sig[{bnd * ROWS + r + 1}]::VARCHAR" for r in range(ROWS)]
        bands.append(" || '_' || ".join(parts))
    return f"""
sigs AS (
    SELECT doc_id, [{', '.join(sig_items)}] AS sig
    FROM (SELECT doc_id, {shingle_hashes} AS hs FROM corpus)
),
bands AS (
    SELECT doc_id, band, key FROM (
        SELECT doc_id, UNNEST(RANGE({BANDS})) AS band,
               UNNEST([{', '.join(bands)}]) AS key
        FROM sigs
    ) WHERE key IS NOT NULL AND key <> ''
    QUALIFY COUNT(*) OVER (PARTITION BY band, key) <= {MINHASH_MAX_BUCKET}
),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
toksets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM corpus)
"""


def oracle_dedup_minhash_sql() -> str:
    return f"""
WITH {DUCKDB_CORPUS_CTE.strip()},
{_minhash_sql().strip()}
SELECT doc_a, doc_b,
       ROUND(len(list_intersect(ta.toks, tb.toks))::DOUBLE /
             (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))), 4) AS jaccard
FROM cands
JOIN toksets ta ON ta.doc_id = doc_a
JOIN toksets tb ON tb.doc_id = doc_b
WHERE len(list_intersect(ta.toks, tb.toks))::DOUBLE /
      (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= {JACCARD_T}
"""


# --------------------------------------------------------------------------
# simhash
# --------------------------------------------------------------------------

def simhash(col: Column) -> Column:
    """60-bit simhash over 3-token shingle hashes (with multiplicity):
    bit b set iff the sum of (+1 / -1) contributions of each shingle's
    bit b is positive.

    Parameterization rationale (round-1 verdict): 32-bit signatures
    over distinct tokens with 8-bit chunk banding flagged ~28% of all
    pairs as candidates at sf0.01 — candidate volume ~0.28*N^2,
    quadratic at scale.  Two changes fix it:

    * **feature set**: shingles instead of distinct tokens.  The test
      corpus has a 31-word vocabulary, so token-level signatures are
      inherently correlated (every doc sees the same feature set and
      chunk values cluster — measured 5.3% candidate rate even at 60
      bits).  3-token shingles span a ~31^3 feature space; unrelated
      docs share only incidental shingles and their signatures
      decorrelate, while near-duplicates still share almost all
      shingles.  Same feature choice as the MinHash stage (and Manku
      et al., WWW'07, which simhashes shingled features for web dedup).
    * **width**: 60 bits (fits a signed long) in 4x15-bit chunks.
      Hamming <= 3 over 4 chunks still forces a shared chunk
      (pigeonhole recall guarantee) and the random per-chunk collision
      rate drops from 2^-8 to 2^-15.

    Measured on the sf0.01 corpus: candidate rate 0.05% of N^2 (was
    28%), recall 28/28 true hamming<=3 pairs; the rate bound is
    asserted in tests/test_pipeline.py.

    The base shingle hash carries only ~30 bits (values in [0, MOD)),
    so bit b draws from bit (b % 20) of the derived hash
    rehash(h, 100 + b // 20) — three cheap affine rehashes supply 60
    unbiased bits.

    Single pass over the shingle-hash array: the accumulator is a
    60-wide counter vector updated with zip_with, instead of 60
    separate aggregates re-scanning the shingles.  Docs with < SHINGLE
    tokens have no features and hash to sim=0."""
    return _simhash_impl(col, "portable")


def simhash_native(col: Column) -> Column:
    """simhash over xxhash64 shingle hashes — the scale path."""
    return _simhash_impl(col, "native")


def _sim_bit_source(h: Column, b: int) -> Column:
    """Bit b of the simhash draws bit (b % 20) of rehash(h, 100+b//20):
    floor-divide (shiftright needs a literal shift on a Column) then
    mod 2."""
    from xjs.pipeline.hashing import rehash

    src = rehash(h, _SIM_REHASH_BASE + b // _SIM_SRC_BITS)
    return F.floor(src / F.lit(2 ** (b % _SIM_SRC_BITS))).cast("long") % 2


def _simhash_impl(col: Column, hash_mode: str) -> Column:
    feat_hashes = _shingle_hashes(col, hash_mode)
    zeros = F.array_repeat(F.lit(0).cast("long"), SIM_BITS)
    weights = F.array(*[F.lit(2 ** b).cast("long") for b in range(SIM_BITS)])

    def contribs(h: Column) -> Column:
        return F.array(*[
            F.when(_sim_bit_source(h, b) == 1, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("long")
            for b in range(SIM_BITS)
        ])

    counts = F.aggregate(
        feat_hashes, zeros, lambda acc, h: F.zip_with(acc, contribs(h), lambda a, c: a + c)
    )
    return F.aggregate(
        F.zip_with(counts, weights, lambda c, w: F.when(c > 0, w).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sim) signatures plus verified near-pairs by hamming."""
    df = dedup_corpus(spark, sf_dir)
    return df.select("doc_id", simhash(F.col("text")).alias("sim"))


def simhash_signatures(df: DataFrame, hash_mode: str = "portable") -> DataFrame:
    """(doc_id, sim) — the persist-once stage.  Production computes
    signatures in one pass, writes them next to the corpus, and every
    downstream pairing/clustering run reads the signature table instead
    of re-hashing 100 TB of text (r2 verdict #6: the old
    text-in/pairs-out API invited double computation)."""
    _check_hash_mode(hash_mode)
    fn = simhash_native if hash_mode == "native" else simhash
    return df.select("doc_id", fn(F.col("text")).alias("sim"))


def simhash_pairs_from_signatures(sims: DataFrame) -> DataFrame:
    """Signatures-in/pairs-out: near-pairs with hamming(sim_a, sim_b)
    <= HAMMING_T, candidates via shared 15-bit chunk (pigeonhole over
    SIM_CHUNKS chunks).  Input schema: (doc_id, sim)."""
    chunks = sims.select(
        "doc_id", "sim",
        F.posexplode(
            F.array(*[
                (F.shiftright(F.col("sim"), CHUNK_BITS * c) % (2 ** CHUNK_BITS)).alias(f"c{c}")
                for c in range(SIM_CHUNKS)
            ])
        ).alias("chunk", "val"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cands = (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.val") == F.col("b.val"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
            F.col("a.sim").alias("sim_a"), F.col("b.sim").alias("sim_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cands.select("doc_a", "doc_b", ham.alias("hamming")).filter(
        F.col("hamming") <= HAMMING_T
    )


def simhash_pairs(df: DataFrame) -> DataFrame:
    """Thin composition kept for API compatibility: signatures then
    pairs in one expression tree (the narrow signature stage fuses, so
    this is fine for one-shot use; persist ``simhash_signatures``
    output when pairing runs more than once)."""
    return simhash_pairs_from_signatures(simhash_signatures(df))


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deliberately routed through the two-step API so the oracle row
    # proves the signatures-in/pairs-out path
    return simhash_pairs_from_signatures(
        simhash_signatures(dedup_corpus(spark, sf_dir))
    )


def _simhash_sql_expr() -> str:
    bit_terms = []
    for b in range(SIM_BITS):
        a_j, b_j = hash_params(_SIM_REHASH_BASE + b // _SIM_SRC_BITS)
        src = f"((h * {a_j} + {b_j}) % {MOD})"
        bit_terms.append(
            f"CASE WHEN list_reduce(list_prepend(0::BIGINT, "
            f"list_transform(th, h -> CASE WHEN ({src} >> {b % _SIM_SRC_BITS}) % 2 = 1 THEN 1::BIGINT ELSE -1::BIGINT END)), "
            f"(x, y) -> x + y) > 0 THEN {2 ** b}::BIGINT ELSE 0::BIGINT END"
        )
    return (
        f"(SELECT doc_id, {' + '.join(bit_terms)} AS sim FROM "
        f"(SELECT doc_id, {_shingle_hashes_sql()} AS th FROM corpus))"
    )


def oracle_dedup_simhash_sql() -> str:
    return f"""
WITH {DUCKDB_CORPUS_CTE.strip()}
SELECT doc_id, sim FROM {_simhash_sql_expr()} t
"""


def oracle_dedup_simhash_pairs_sql() -> str:
    return f"""
WITH {DUCKDB_CORPUS_CTE.strip()},
sims AS (SELECT doc_id, sim FROM {_simhash_sql_expr()} t),
chunks AS (
    SELECT doc_id, sim, UNNEST(RANGE({SIM_CHUNKS})) AS chunk,
           UNNEST([{', '.join(f'(sim >> {CHUNK_BITS * c}) % {2 ** CHUNK_BITS}' for c in range(SIM_CHUNKS))}]) AS val
    FROM sims
),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sim AS sim_a, b.sim AS sim_b
    FROM chunks a JOIN chunks b
      ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b))::INTEGER AS hamming
FROM cands WHERE bit_count(xor(sim_a, sim_b)) <= {HAMMING_T}
"""


# --------------------------------------------------------------------------
# exact-substring duplicates (token-window grain)
# --------------------------------------------------------------------------

SUBSTR_W = 16  # window width in tokens


def substring_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    w: int = SUBSTR_W, hash_mode: str = "portable",
    skew_split: bool = False,
) -> DataFrame:
    """Exact-substring duplicate detection at token-window grain — the
    dedup class of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"): a doc repeating a >= ``w``-token span of
    an *earlier* doc is flagged, catching quotes / partial mirrors /
    boilerplate overlap that whole-doc MinHash similarity dilutes away.

    Returns (id, n_shared_windows, earliest_owner): every doc sharing
    >= 1 exact ``w``-token window with a lower-id doc, with the number
    of shared windows and the smallest owning doc id.

    Scale shape: each gram has exactly ONE owner row (min id), so the
    owners join is 1:N with output bounded by the grams side — the
    whole op is linear in total token count, never pairwise.  Two
    shuffles on the gram key: a partial-aggregating groupBy (map-side
    combine collapses within-partition repeats of hot boilerplate
    grams) and the join.  A window-function formulation (`min(id) OVER
    (PARTITION BY gram)`) would be one shuffle but concentrates each
    hot gram's rows on one reducer with no partial aggregation — the
    groupBy+join shape is deliberately the skew-safe one.

    ``skew_split``: in the default plan AQE's OptimizeSkewedJoin can
    NEVER fire on the owner join — its owner-side child is
    Sort←Aggregate←ShuffleStage, not a plain shuffle read, and Spark
    only splits a skewed partition when the opposite child is a
    re-readable shuffle stage (the r5 Zipf plan test surfaced this;
    earlier rounds claimed AQE cover here, wrongly).  The hot-gram
    probe rows therefore land on a single reducer; harmless at bench
    scale (the owner side is 1 row/gram, so the join output is linear
    — imbalance, not blowup), but a mega-hot boilerplate gram at
    corpus scale becomes a straggler.  ``skew_split=True`` inserts an
    explicit repartition of the aggregated owner table, making both
    join children plain shuffle stages so AQE skew-split CAN engage
    (asserted, plan-level, in tests/test_zipf_skew.py) — at the cost
    of one extra shuffle of the unique-gram table.  Turn it on when
    the gram-frequency tail is Zipfian-hot; results are identical
    either way (same test).

    ``hash_mode='native'`` shuffles xxhash64(gram) longs instead of
    the ~w·6-byte gram strings — measured 1.7× faster end-to-end at 1M
    docs (57s vs 97s, local[32]).

    The gram cutter appears TWICE in the physical plan (owners branch
    + probe branch) — a deliberate recompute-over-cache choice, not an
    accident: re-running the narrow tokenize costs CPU only, while
    persisting the exploded gram rows would cost memory/disk ~10× the
    corpus plus a cache write, and the single-pass ``min() OVER
    (PARTITION BY gram)`` alternative concentrates every hot
    boilerplate gram on one reducer with no partial aggregation (the
    skew analysis above).  A 64-bit collision would merge two
    unrelated grams (expected collisions ≈ G²/2⁶⁵ ≈ 2e-4 at G=85M
    grams — negligible for dedup flagging); the portable default keeps
    the result provably identical to the SQL oracle."""
    from xjs.pipeline.decontam import doc_grams

    _check_hash_mode(hash_mode)
    if hash_mode == "native":
        # Arrow cutter emits distinct string-gram rows; the 8-byte
        # shuffle key is still xxhash64 applied Spark-side per row
        # (codegen), so the wire shape is unchanged vs round 2
        from xjs.pipeline.grams import ngram_rows

        grams = ngram_rows(df, [id_col], text_col, w).select(
            F.col(id_col), F.xxhash64("gram").alias("gram")
        )
    else:
        grams = doc_grams(df, text_col, id_col, w)
    owners = grams.groupBy("gram").agg(F.min(id_col).alias("_owner"))
    if skew_split:
        # materialize the owner table (production: it is persisted
        # state anyway — the incremental-dedup composition stores it).
        # A plain repartition('gram') is optimized away (the aggregate
        # already satisfies that partitioning) and non-ENSURE_REQUIREMENTS
        # shuffle origins are skipped by OptimizeSkewedJoin; breaking
        # lineage makes the join re-shuffle the owner side itself, so
        # both SMJ children become re-readable ENSURE_REQUIREMENTS
        # shuffle stages — the precondition for AQE skew-split.
        owners = owners.localCheckpoint(eager=False)
    return (
        grams.join(owners, "gram")
        .filter(F.col(id_col) > F.col("_owner"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shared_windows"),
            F.min("_owner").alias("earliest_owner"),
        )
    )


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_duplicates(dedup_corpus(spark, sf_dir))


def substring_spans(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    w: int = SUBSTR_W, hash_mode: str = "portable",
) -> DataFrame:
    """(id, token_start, token_end): maximal duplicated token spans —
    the span-grain half of Lee et al. 2022 exact-substring dedup (their
    pipeline REMOVES the duplicated spans and keeps the rest; whole-doc
    dropping over-deletes).  A token window [p, p+w) is duplicated when
    its exact ``w``-token gram also occurs in a lower-id doc;
    overlapping/adjacent duplicated windows merge into maximal
    half-open spans, 0-based token indices.

    Scale shape: positioned grams are a narrow Arrow map; the owner
    table reuses the same linear groupBy+join shape (and skew
    rationale) as substring_duplicates, including the deliberate
    double-cutter recompute documented there; span merging is gaps-
    and-islands over (doc, pos) — one doc-keyed window whose
    partitions are bounded by document length, never corpus-sized."""
    from xjs.pipeline.grams import ngram_pos_rows

    _check_hash_mode(hash_mode)
    pos_grams = ngram_pos_rows(df, [id_col], text_col, w)
    if hash_mode == "native":
        pos_grams = pos_grams.select(
            id_col, "pos", F.xxhash64("gram").alias("gram")
        )
    owners = pos_grams.groupBy("gram").agg(F.min(id_col).alias("_owner"))
    flagged = (
        pos_grams.join(owners, "gram")
        .filter(F.col(id_col) > F.col("_owner"))
        .select(id_col, "pos")
    )
    return merge_spans(flagged, w, id_col)


def merge_spans(flagged: DataFrame, width: int, id_col: str = "doc_id") -> DataFrame:
    """(id, token_start, token_end): the maximal spans covered by the
    flagged ``width``-wide windows ``(id, pos)``, half-open — gaps and
    islands: a window starting past ``prev + width`` opens a new span,
    so overlapping and adjacent windows merge.  One doc-keyed window
    whose partitions are bounded by document length (DuckDB:
    ``span_merge_sql``)."""
    from pyspark.sql.window import Window

    win = Window.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(win)
    brk = F.when(prev.isNull() | (F.col("pos") > prev + width), 1).otherwise(0)
    with_span = flagged.withColumn("_brk", brk).withColumn(
        "_sid", F.sum("_brk").over(win)
    )
    return with_span.groupBy(id_col, "_sid").agg(
        F.min("pos").alias("token_start"),
        (F.max("pos") + width).alias("token_end"),
    ).select(id_col, "token_start", "token_end")


def substring_remove(
    df: DataFrame, spans: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(id, clean_text): the duplicated token spans cut out, the rest
    of each document kept — the cleaning step downstream of
    substring_spans (the earliest-id occurrence keeps its text because
    spans only flag docs with a lower-id owner).

    ``clean_text`` is the space-rejoin of the kept tokens for EVERY
    doc (whitespace normalization is the defined output contract, like
    downstream tokenization would apply anyway), so the Spark and
    DuckDB answers agree byte-for-byte.  Scale shape: spans aggregate
    to one small array per flagged doc and join on the unique doc id
    (skew-free, flagged-docs-sized side); token filtering is a narrow
    per-row fold whose cost is O(tokens × spans-per-doc) — the corpus
    text is never shuffled."""
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("token_start", "token_end")).alias("_spans")
    )
    toks = tokens(F.col(text_col))
    spans_arr = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<token_start:int,token_end:int>>"),
    )
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            spans_arr, lambda s: (i >= s.token_start) & (i < s.token_end)
        ),
    )
    return df.join(sp, id_col, "left").select(
        F.col(id_col), F.concat_ws(" ", kept).alias("clean_text")
    )


def q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_spans(dedup_corpus(spark, sf_dir))


def q_substring_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = dedup_corpus(spark, sf_dir)
    return substring_remove(corpus, substring_spans(corpus))


def oracle_dedup_substring_sql() -> str:
    w = SUBSTR_W
    return f"""
WITH {DUCKDB_CORPUS_CTE.strip()},
toks AS (
    SELECT doc_id, {tokens_sql('text')} AS t FROM corpus
),
grams AS (
    SELECT DISTINCT doc_id, gram FROM ({token_windows_sql('toks', w)})
),
owners AS (
    SELECT gram, MIN(doc_id) AS owner FROM grams GROUP BY gram
)
SELECT g.doc_id, COUNT(*) AS n_shared_windows, MIN(o.owner) AS earliest_owner
FROM grams g JOIN owners o USING (gram)
WHERE g.doc_id > o.owner
GROUP BY g.doc_id
"""


def span_merge_sql(width: int, start: str = "token_start",
                   end: str = "token_end") -> str:
    """DuckDB form of ``merge_spans``: the ``islands`` and ``spans``
    CTEs over a ``flagged(doc_id, pos)`` CTE."""
    return f"""islands AS (
    SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER w IS NULL
                     OR pos > lag(pos) OVER w + {width} THEN 1 ELSE 0 END AS brk
    FROM flagged
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
spans AS (
    SELECT doc_id, MIN(pos) AS {start}, MAX(pos) + {width} AS {end}
    FROM (SELECT doc_id, pos,
                 SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
          FROM islands)
    GROUP BY doc_id, sid
)"""


def span_remove_sql(docs: str) -> str:
    """DuckDB form of ``substring_remove`` over the CTEs ``toks(doc_id,
    t)`` and ``spans``: a ``kept`` CTE, then (doc_id, clean_text) for
    every doc of ``docs``."""
    return f"""kept AS (
    SELECT tk.doc_id, tk.pos, tk.gram AS tok
    FROM ({token_windows_sql('toks', 1)}) tk
    LEFT JOIN spans s
      ON s.doc_id = tk.doc_id
     AND tk.pos >= s.token_start AND tk.pos < s.token_end
    WHERE s.doc_id IS NULL
)
SELECT c.doc_id, COALESCE(k.clean_text, '') AS clean_text
FROM {docs} c
LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
           FROM kept GROUP BY doc_id) k USING (doc_id)
"""


def _substring_spans_ctes() -> str:
    """Shared CTE chain: corpus -> positioned grams -> owners ->
    flagged window positions -> maximal spans (0-based half-open token
    indices, matching substring_spans)."""
    w = SUBSTR_W
    return f"""
WITH {DUCKDB_CORPUS_CTE.strip()},
toks AS (
    SELECT doc_id, {tokens_sql('text')} AS t FROM corpus
),
posgrams AS ({token_windows_sql('toks', w)}),
owners AS (
    SELECT gram, MIN(doc_id) AS owner FROM posgrams GROUP BY gram
),
flagged AS (
    SELECT p.doc_id, p.pos
    FROM posgrams p JOIN owners o USING (gram)
    WHERE p.doc_id > o.owner
),
{span_merge_sql(w)}
"""


def oracle_substring_spans_sql() -> str:
    return _substring_spans_ctes() + """
SELECT doc_id, token_start, token_end FROM spans
"""


def oracle_substring_remove_sql() -> str:
    return _substring_spans_ctes() + ", " + span_remove_sql("corpus")
