"""Corpus vocabulary building + broadcast-IDF keyword extraction —
the tokenizer-training prep stage (word frequencies over the whole
corpus, top-V cut, coverage curve) and the classic per-document
top-terms op that rides the resulting bounded vocabulary.

Scale shape:
- ``word_frequencies``: one narrow token explode + ONE partial-agg
  groupBy(token) — hot tokens ("the") are absorbed map-side like any
  count; nothing else shuffles.
- ``top_vocab``: orderBy(count desc, token).limit(V) compiles to
  TakeOrderedAndProject (per-partition k-heaps + bounded driver-side
  merge) — the corpus-sized frequency table never globally sorts.
  Rank + cumulative coverage are a window over the V-row RESULT only
  (V is a config constant, so the single-partition window is
  metadata-sized by construction).  Coverage is integer ppm
  (cum_count * 1_000_000 div total_tokens), so the DuckDB twin is
  bit-exact — no float aggregation anywhere (the repo's integer
  exactness pattern, cf. lm.py / links.pagerank_int).  Bound: the
  ppm multiply lives in int64, exact up to ~9.2e12 total tokens
  (~45 TB of text); past that, widen to decimal(38,0) on both sides
  — the semantics are unchanged.
- ``tfidf_top_terms``: IDF comes from the TOP-V vocabulary, which is
  bounded and therefore BROADCAST — the (doc, term) tf rows join
  without a term-keyed shuffle, dodging the stopword hot keys a
  corpus-wide idf join would hit; per-doc top-k is a row_number
  window partitioned by doc_id (doc-keyed, skew-free).  idf is the
  integer surrogate (n_docs * 1_000_000) div df — monotone in
  N/df and exactly restatable in SQL, documented in place of the
  float ln(N/df) for oracle exactness.

The reference engine (/root/reference, a schema validator) has no
corpus operators; this family belongs to the training-data-pipeline
mandate (SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xjs.pipeline.text import arrow_tokens, tokens, tokens_sql

PPM = 1_000_000
DEFAULT_V = 1000
DEFAULT_K = 5


def _token_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, token): whitespace tokens (text.tokens: trim then
    split on \\s+); null/blank docs yield no rows."""
    toks = tokens(F.col(text_col))
    return (df
            .filter(F.col(text_col).isNotNull()
                    & (F.length(F.trim(F.col(text_col))) > 0))
            .select(F.col(id_col).alias("doc_id"),
                    F.explode(toks).alias("token")))


def _doc_mask(text):
    """Arrow-side twin of _token_rows' doc filter: non-null text with
    length(trim(text, ' ')) > 0 — Spark trim strips ASCII 0x20 only."""
    import pyarrow.compute as pc

    trimmed = pc.utf8_trim(pc.fill_null(text, ""), characters=" ")
    return pc.and_(pc.is_valid(text),
                   pc.greater(pc.utf8_length(trimmed), 0))


def _token_stat_partials(df: DataFrame, text_col: str,
                         id_col: str) -> DataFrame:
    """(token, cnt, dfp) per Arrow batch — the map-side combine for
    word_frequencies.  Each document is exactly one input row, so it
    lives in exactly ONE batch: per-batch distinct-doc counts (dfp)
    SUM to the global document frequency, and the shuffle carries one
    row per distinct token per batch instead of one per (token, doc)
    pair.  Tokens from text.arrow_tokens."""
    from collections.abc import Iterator

    def build(batches: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            texts = pc.filter(batch.column(1), _doc_mask(batch.column(1)))
            if len(texts) == 0:
                continue
            flat, off = arrow_tokens(texts)
            counts = np.diff(off)
            if len(flat) == 0:
                continue
            row_ids = np.repeat(np.arange(len(texts), dtype=np.int64),
                                counts)
            enc = pc.dictionary_encode(flat)
            idx = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            u = len(enc.dictionary)
            cnt = np.bincount(idx, minlength=u)
            uniq_pairs = np.unique(row_ids * u + idx)
            dfp = np.bincount(uniq_pairs % u, minlength=u)
            yield pa.RecordBatch.from_arrays(
                [enc.dictionary.cast(pa.string()),
                 pa.array(cnt, type=pa.int64()),
                 pa.array(dfp, type=pa.int64())],
                names=["token", "cnt", "dfp"])

    return df.select(F.col(id_col), F.col(text_col)).mapInArrow(
        build, "token string, cnt long, dfp long")


def word_frequencies(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     impl: str = "arrow") -> DataFrame:
    """(token, cnt, df): corpus-wide occurrence count + document
    frequency in ONE aggregation pass over the tokens.

    impl 'arrow' (default): per-batch combine kernel — the shuffle
    carries (token, cnt, dfp) partials per batch (vocabulary-sized),
    never the (token, doc_id) pair stream the Catalyst count_distinct
    rewrite ships (measured: that pair shuffle dominated the row at 1M
    docs).  'catalyst' is the zero-Python reference the kernel is
    test-pinned against."""
    if impl not in ("arrow", "catalyst"):
        raise ValueError(f"unknown impl {impl!r}")
    if impl == "catalyst":
        return (_token_rows(df, text_col, id_col)
                .groupBy("token")
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.count_distinct("doc_id").alias("df")))
    return (_token_stat_partials(df, text_col, id_col)
            .groupBy("token")
            .agg(F.sum("cnt").alias("cnt"),
                 F.sum("dfp").alias("df")))


def corpus_token_total(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row (total): corpus-wide token occurrences as a NARROW
    aggregate over per-doc token counts — same number as
    sum(freqs.cnt) but without branching the exploded-token DAG a
    second time (the freqs derivation is a shuffle; this is a scan)."""
    toks = tokens(F.col(text_col))
    n = F.when(F.col(text_col).isNull()
               | (F.length(F.trim(F.col(text_col))) == 0), F.lit(0)) \
        .otherwise(F.size(toks))
    return df.agg(F.sum(n).alias("total"))


def top_vocab(freqs: DataFrame, v: int = DEFAULT_V,
              total: DataFrame | None = None) -> DataFrame:
    """(rank, token, cnt, df, cum_cov_ppm): the top-``v`` tokens by
    (cnt desc, token asc — deterministic tie-break) with the integer
    cumulative-coverage curve (ppm of ALL token occurrences, including
    those outside the vocabulary).

    ``total`` (one-row frame with a ``total`` column) lets callers
    that hold the corpus supply ``corpus_token_total`` — without it,
    the sum re-derives the exploded-token aggregation a second time
    (two full explode+shuffle passes instead of one + a narrow scan;
    measured ~1.5x the row at 1M docs)."""
    if total is None:
        total = freqs.agg(F.sum("cnt").alias("total"))
    top = freqs.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(v)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    return (top.crossJoin(F.broadcast(total))
            .select(
                F.row_number().over(w).alias("rank"),
                "token", "cnt", "df",
                F.expr(f"(sum(cnt) over (order by cnt desc, token asc "
                       f"rows between unbounded preceding and current row)"
                       f" * {PPM}) div total").alias("cum_cov_ppm"),
            ))


def tfidf_top_terms(df: DataFrame, vocab: DataFrame,
                    k: int = DEFAULT_K,
                    text_col: str = "text",
                    id_col: str = "doc_id",
                    impl: str = "arrow") -> DataFrame:
    """(doc_id, term, tf, score, rank): each document's top-``k``
    vocabulary terms by integer tf-idf.

    score = tf * idf_micro with idf_micro = (n_docs * 1_000_000) div
    df — the integer rarity surrogate (monotone in N/df), chosen over
    float ln(N/df) so the ranking has no float knife-edges and the
    DuckDB oracle bit-matches.  Ties break (score desc, term asc).
    ``vocab`` is the bounded top-V table, so the idf side broadcasts;
    n_docs counts docs with at least one token (the same population
    the df column was computed over).

    impl 'arrow' (default): the whole op is per-document over a
    BOUNDED vocabulary, so it runs as ONE narrow Arrow kernel — tf
    counting, idf lookup, and the per-doc top-k all inside the batch,
    ZERO corpus shuffle (the Catalyst form paid a (doc, token) tf
    shuffle plus a doc-keyed window sort — 3 corpus-sized Exchanges).
    The vocab (V rows, caller-bounded) and the one-row n_docs count
    are collected driver-side, the novel_keys bounded-collect class.
    Precondition (already implicit module-wide): ids are unique per
    row.  'catalyst' is the zero-Python reference the kernel is
    test-pinned against."""
    if impl == "arrow":
        return _tfidf_top_terms_arrow(df, vocab, k, text_col, id_col)
    if impl != "catalyst":
        raise ValueError(f"unknown impl {impl!r}")
    toks = _token_rows(df, text_col, id_col)
    # n_docs = docs with >= 1 token == docs with non-blank text: count
    # it on the CORPUS (one narrow scan) instead of a count_distinct
    # over the exploded token table, which costs a corpus-of-tokens
    # shuffle for the same number (measured 1.4x on the whole row at
    # 1M docs)
    n_docs = (df.filter(F.col(text_col).isNotNull()
                        & (F.length(F.trim(F.col(text_col))) > 0))
              .agg(F.count_distinct(id_col).alias("n_docs")))
    idf = (vocab.crossJoin(F.broadcast(n_docs))
           .select("token",
                   F.expr(f"(n_docs * {PPM}) div df").alias("idf_micro")))
    tf = (toks.groupBy("doc_id", "token")
          .agg(F.count(F.lit(1)).alias("tf")))
    scored = (tf.join(F.broadcast(idf), "token")
              .select("doc_id", F.col("token").alias("term"), "tf",
                      (F.col("tf") * F.col("idf_micro")).alias("score")))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (scored
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("doc_id", "term", "tf", "score", "rank"))


def _tfidf_top_terms_arrow(df: DataFrame, vocab: DataFrame, k: int,
                           text_col: str, id_col: str) -> DataFrame:
    """The zero-shuffle tfidf_top_terms kernel (see docstring there).
    Ordering parity: ties break (score desc, term asc) where term
    comparison is UTF-8 byte order — Spark's UTF8String binary compare
    and DuckDB's default collation agree with Python bytes compare."""
    from collections.abc import Iterator

    n_docs = int(
        df.filter(F.col(text_col).isNotNull()
                  & (F.length(F.trim(F.col(text_col))) > 0))
        .agg(F.count_distinct(id_col).alias("n")).first()["n"])
    vrows = vocab.select("token", "df").collect()  # bounded by V
    v_tokens = [r["token"] for r in vrows]
    n_v = len(v_tokens)
    id_type = dict(df.dtypes)[id_col]

    def build(batches: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        token_arr = pa.array(v_tokens, type=pa.string())
        v_df = np.array([int(r["df"]) for r in vrows], dtype=np.int64)
        idf = (n_docs * PPM) // v_df if n_v else np.zeros(0, np.int64)
        # rank of each vocab token under UTF-8 byte order, for the tie-break
        term_rank = np.empty(n_v, dtype=np.int64)
        term_rank[
            sorted(range(n_v), key=lambda i: v_tokens[i].encode("utf-8"))
        ] = np.arange(n_v)

        for batch in batches:
            mask = _doc_mask(batch.column(1))
            ids = batch.column(0).filter(mask)
            texts = pc.filter(batch.column(1), mask)
            if len(texts) == 0 or n_v == 0:
                continue
            flat, off = arrow_tokens(texts)
            counts = np.diff(off)
            row_ids = np.repeat(np.arange(len(texts), dtype=np.int64),
                                counts)
            vidx = pc.fill_null(
                pc.index_in(flat, value_set=token_arr), -1
            ).to_numpy(zero_copy_only=False).astype(np.int64)
            keep = vidx >= 0
            if not keep.any():
                continue
            key = row_ids[keep] * n_v + vidx[keep]
            uk, tf = np.unique(key, return_counts=True)
            r, t = uk // n_v, uk % n_v
            tf = tf.astype(np.int64)
            score = tf * idf[t]
            order = np.lexsort((term_rank[t], -score, r))
            r, t, tf, score = r[order], t[order], tf[order], score[order]
            starts = np.flatnonzero(np.diff(r, prepend=-1))
            sizes = np.diff(np.append(starts, len(r)))
            rank = np.arange(len(r)) - np.repeat(starts, sizes) + 1
            sel = rank <= k
            yield pa.RecordBatch.from_arrays(
                [ids.take(pa.array(r[sel])),
                 token_arr.take(pa.array(t[sel])),
                 pa.array(tf[sel], type=pa.int64()),
                 pa.array(score[sel], type=pa.int64()),
                 pa.array(rank[sel].astype(np.int32), type=pa.int32())],
                names=[id_col, "term", "tf", "score", "rank"])

    return df.select(F.col(id_col), F.col(text_col)).mapInArrow(
        build,
        f"{id_col} {id_type}, term string, tf long, score long, rank int")


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def q_vocab_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return top_vocab(word_frequencies(d), v=DEFAULT_V,
                     total=corpus_token_total(d))


_TOKEN_CTE = f"""
tok AS (
    SELECT doc_id, unnest({tokens_sql('text')}) AS token
    FROM documents
    WHERE text IS NOT NULL AND length(trim(text)) > 0
),
freqs AS (
    SELECT token, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS df
    FROM tok GROUP BY token
)
"""


def oracle_vocab_top_words_sql(v: int = DEFAULT_V) -> str:
    return f"""
WITH {_TOKEN_CTE.strip()},
top AS (
    SELECT * FROM freqs ORDER BY cnt DESC, token ASC LIMIT {v}
),
total AS (SELECT SUM(cnt) AS total FROM freqs)
SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rank,
       token, cnt, df,
       ((SUM(cnt) OVER (ORDER BY cnt DESC, token ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         * {PPM}) // total)::BIGINT AS cum_cov_ppm
FROM top, total
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = top_vocab(word_frequencies(d), v=DEFAULT_V)
    return tfidf_top_terms(d, vocab, k=DEFAULT_K)


def oracle_tfidf_top_terms_sql(v: int = DEFAULT_V, k: int = DEFAULT_K) -> str:
    return f"""
WITH {_TOKEN_CTE.strip()},
top AS (
    SELECT * FROM freqs ORDER BY cnt DESC, token ASC LIMIT {v}
),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok),
idf AS (
    SELECT token, (n_docs * {PPM}) // df AS idf_micro FROM top, nd
),
tf AS (
    SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
),
scored AS (
    SELECT tf.doc_id, tf.token AS term, tf.tf,
           tf.tf * idf.idf_micro AS score
    FROM tf JOIN idf ON idf.token = tf.token
),
ranked AS (
    SELECT doc_id, term, tf, score,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, term ASC) AS rank
    FROM scored
)
SELECT doc_id, term, tf, score, rank FROM ranked WHERE rank <= {k}
"""
