"""Sequence packing: assign documents to fixed-token-budget training
bins (concat-and-chop semantics — the standard LLM pretraining
packing: documents are concatenated in a deterministic order and the
stream is chopped every ``budget`` tokens, so a document may straddle
a bin boundary; ``bin_id``/``bin_offset`` say where each document
STARTS).

Shape: one running prefix-sum window per stratum (here ``lang``) —
a single shuffle on the stratum key, ordered by doc_id for
determinism.  At 10^12 documents a single global prefix sum would
serialize on one reducer; stratifying bounds each window at the
stratum's row count, and the 100 TB form of the same operator is the
classic two-stage prefix sum: per-partition local cumsums + a tiny
broadcast of per-partition offsets (noted in SCALE.md).  Token counts
reuse the whitespace tokenizer whose Spark/DuckDB parity is already
oracle-proven (text_tokens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from xjs.pipeline.text import token_count, token_count_sql, tokens, tokens_sql

BUDGET = 256  # tokens per training bin (tiny for the word-salad corpus)


def pack_sequences(
    df: DataFrame,
    stratum: str,
    order_col: str,
    text_col: str = "text",
    budget: int = BUDGET,
) -> DataFrame:
    """(order_col, stratum, n_tokens, bin_id, bin_offset) — bin_id is
    the budget-chunk index where the document starts within its
    stratum's concatenation stream; bin_offset the token offset inside
    that bin."""
    # project the token count BEFORE the window: the window's sort
    # shuffle then carries (order, stratum, n_tokens) — ~20 bytes/row —
    # instead of the full document text, which Spark would otherwise
    # ship to the window operator because the aggregate argument
    # references it (r4: measured 8.7s -> 2.6s at 1M docs)
    base = df.select(
        F.col(order_col),
        F.col(stratum),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    return pack_counts(base, stratum, order_col, budget)


def pack_counts(
    toks: DataFrame, stratum: str, order_col: str, budget: int = BUDGET
) -> DataFrame:
    """Bin assignment over a pre-counted (order, stratum, n_tokens)
    frame — the shared tail of pack_sequences and its real-tokenizer
    twin (bpe.pack_sequences_bpe); only scalars enter the window."""
    w = Window.partitionBy(stratum).orderBy(order_col)
    cum = F.sum("n_tokens").over(w)  # inclusive prefix sum
    start = (cum - F.col("n_tokens")).cast("long")
    return toks.select(
        F.col(order_col),
        F.col(stratum),
        F.col("n_tokens"),
        F.floor(start / budget).alias("bin_id"),
        (start % budget).alias("bin_offset"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences(docs, "lang", "doc_id")


CHUNK = 4096  # docs per prefix-sum chunk (tune so a chunk ~ one task)


def pack_sequences_global(
    df: DataFrame,
    order_col: str,
    text_col: str = "text",
    budget: int = BUDGET,
    chunk: int = CHUNK,
) -> DataFrame:
    """Global (single-stream) concat-and-chop packing — the two-stage
    prefix sum SCALE.md 8d describes, so ONE global stream never
    serializes on one reducer (the per-stratum window form does exactly
    that when a stratum holds most of the corpus — English at half the
    web).

    Stage 1: rows are assigned to deterministic chunks
    (``floor(order_col / chunk)`` — logical, not
    ``spark_partition_id``, so the result is plan-independent and
    SQL-oracle-checkable) and each chunk computes its local running
    prefix sum in parallel.  Stage 2: per-chunk token totals (N/chunk
    rows — ~250k rows at 10^12 docs) get a cumulative-offset window on
    one reducer, which is fine at that grain, and broadcast-join back.
    Output start offsets equal the single global window's exactly
    (equivalence pinned in tests/test_packing.py)."""
    n_tok = token_count(F.col(text_col))
    toks = df.select(
        F.col(order_col),
        n_tok.cast("long").alias("n_tokens"),
        F.floor(F.col(order_col) / chunk).cast("long").alias("_chunk"),
    )
    w_local = Window.partitionBy("_chunk").orderBy(order_col)
    local = toks.withColumn("_cum", F.sum("n_tokens").over(w_local))
    totals = toks.groupBy("_chunk").agg(F.sum("n_tokens").alias("_t"))
    # chunk-grain rows only: a single-partition window here is the
    # design (tiny input), not an accident
    w_chunks = (
        Window.orderBy("_chunk").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_chunk",
        F.coalesce(F.sum("_t").over(w_chunks), F.lit(0)).alias("_offset"),
    )
    start = F.col("_offset") + F.col("_cum") - F.col("n_tokens")
    return (
        local.join(F.broadcast(offsets), "_chunk")
        .select(
            F.col(order_col),
            F.col("n_tokens"),
            F.floor(start / budget).alias("bin_id"),
            (start % budget).alias("bin_offset"),
        )
    )


def q_pack_sequences_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences_global(docs, "doc_id")


def oracle_pack_sequences_global_sql() -> str:
    """The oracle states the SEMANTICS (one global prefix sum); the
    Spark side must make its chunked two-stage computation equal it."""
    n_tok = f"({token_count_sql('text')})"
    return f"""
WITH toks AS (
    SELECT doc_id, CAST({n_tok} AS BIGINT) AS n_tokens FROM documents
),
cum AS (
    SELECT doc_id, n_tokens,
           CAST(SUM(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS BIGINT) AS start
    FROM toks
)
SELECT doc_id, n_tokens,
       CAST(floor(start / {BUDGET}) AS BIGINT) AS bin_id,
       start % {BUDGET} AS bin_offset
FROM cum
"""


def oracle_pack_sequences_sql() -> str:
    n_tok = f"({token_count_sql('text')})"
    return f"""
WITH toks AS (
    SELECT doc_id, lang, CAST({n_tok} AS BIGINT) AS n_tokens FROM documents
),
cum AS (
    SELECT doc_id, lang, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) - n_tokens
                AS BIGINT) AS start  -- DuckDB windowed SUM widens to HUGEINT
    FROM toks
)
SELECT doc_id, lang, n_tokens,
       CAST(floor(start / {BUDGET}) AS BIGINT) AS bin_id,
       start % {BUDGET} AS bin_offset
FROM cum
"""


# ---------------------------------------------------------------------------
# document chunking (doc -> fixed-token-budget chunk rows)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64   # tokens per chunk
CHUNK_STRIDE = 48   # start-to-start distance (< CHUNK_TOKENS = overlap)


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, chunk_id, token_start, token_end, chunk_text): each
    document chopped into fixed-token-budget windows every ``stride``
    tokens — the context-window preparation step siblings
    ``pack_sequences`` (that op concatenates SHORT docs into bins;
    this one splits LONG docs so no chunk exceeds the model context).
    ``stride < chunk_tokens`` gives overlapping chunks (the usual
    long-document training recipe); the final chunk is the remainder
    (possibly short), and chunk starts past the last token emit
    nothing, so every token lands in >= 1 chunk and a short doc yields
    exactly one chunk.

    Scale shape: pure narrow Catalyst — tokenize once per row, a
    ``sequence`` of chunk starts (bounded by n/stride), explode, slice
    + rejoin.  No shuffle at all; at 100 TB this is scan-fused like
    the quality signals.  The per-chunk ``slice``/``array_join`` HOF
    cost is output-proportional (every chunk's text must be
    materialized anyway), unlike the per-token folds r2/r4 replaced."""
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("_toks"), F.size(toks).alias("_n"))
    # chunk starts: 0, stride, 2*stride, ... < n (always >= one chunk)
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)), F.lit(stride)
    )
    exploded = base.select(
        id_col,
        "_toks",
        "_n",
        F.posexplode(starts).alias("chunk_id", "token_start"),
    ).filter(F.col("token_start") < F.col("_n"))
    end = F.least(F.col("token_start") + chunk_tokens, F.col("_n"))
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.col("token_start"),
        end.alias("token_end"),
        F.array_join(
            F.slice(F.col("_toks"), F.col("token_start") + 1, F.lit(chunk_tokens)),
            " ",
        ).alias("chunk_text"),
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xjs.pipeline.boilerplate import edge_regime_corpus

    # page-length corpus: the regime chunking exists for (~600 tokens
    # -> ~13 overlapping chunks/doc); base word-salad docs would chunk
    # 1:1 and prove nothing
    return chunk_documents(edge_regime_corpus(spark, sf_dir))


def oracle_chunk_documents_sql() -> str:
    from xjs.pipeline.boilerplate import EDGE_REPEAT, _EDGE_INJECT_SQL

    c, s = CHUNK_TOKENS, CHUNK_STRIDE
    return f"""
WITH corpus AS (
    SELECT doc_id, source, {_EDGE_INJECT_SQL} AS text
    FROM (SELECT doc_id, source, trim(repeat(text || ' ', {EDGE_REPEAT})) AS body
          FROM documents)
),
toks AS (
    SELECT doc_id, {tokens_sql('text')} AS t FROM corpus
),
chunks AS (
    SELECT doc_id, t, len(t) AS n,
           CAST(r.i AS BIGINT) AS chunk_id,
           CAST(r.i * {s} AS BIGINT) AS token_start
    FROM toks,
         unnest(range(0, CAST(ceil(greatest(len(t), 1) / {s}.0) AS BIGINT))) AS r(i)
    WHERE r.i * {s} < len(t)
)
SELECT doc_id, chunk_id, CAST(token_start AS INTEGER) AS token_start,
       CAST(LEAST(token_start + {c}, n) AS INTEGER) AS token_end,
       list_aggregate(t[token_start + 1 : token_start + {c}], 'string_agg', ' ')
           AS chunk_text
FROM chunks
"""
