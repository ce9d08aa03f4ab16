"""Model-based quality filtering — the LLaMA/GPT-3-style classifier
gate: a committed logistic-regression artifact over hashed
bag-of-words buckets scores every document, and the gate keeps
documents the model says look like reference text.  Completes the
quality family next to the heuristic scores (text.quality_*) and the
LM perplexity gates (lm.py): heuristic → LM → discriminative
classifier are the three gate classes real pipelines deploy.

Exactness design (the lm.py pattern): weights are frozen to INTEGER
micro-units, a document's score is b_micro + Σ w_micro[bucket(token)]
over token INSTANCES — an integer sum, order-independent, bit-exact —
and bucket(t) = int(md5(t)[:15], 16) % B is the md5 arithmetic the
export-shard oracles already proved identical between Spark
(conv(substring(md5(t),1,15),16,10)) and DuckDB
(('0x' || substr(md5(t),1,15))::BIGINT).  The DuckDB oracle embeds
the weight table as VALUES, built driver-side FROM the same artifact.

Scale shape: one narrow token explode, bucket = pure JVM expression,
ONE broadcast join against the B-row weight table (B is a model
constant — never a shuffle key), one doc-keyed partial-agg sum; the
corpus joins back by id only to keep token-less docs.  At 10^12 docs
this is the token-counting shape with a broadcast lookup — the same
class as lm_score.

The reference engine (/root/reference, a schema validator) has no
corpus operators; this op belongs to the training-data-pipeline
mandate (SURVEY.md §2.10).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xjs.pipeline.model_artifact import PKG_PREFIX, load

DEFAULT_QC = PKG_PREFIX + "quality_lr.pkl"


def bucket_col(tok, b: int):
    # proven-identical pair: conv(substring(md5,1,15),16,10) here,
    # ('0x' || substr(md5,1,15))::BIGINT in the oracle
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long") % b


def bucket_sql(expr: str, b: int) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT % {b})"


def _weights_df(spark: SparkSession, artifact: str):
    model = load(artifact)
    rows = [(i, int(w)) for i, w in enumerate(model["w_micro"])]
    return (spark.createDataFrame(rows, "bucket long, w long"),
            int(model["b_micro"]), int(model["B"]))


#: per-worker (n_buckets, token) -> bucket memo for the Arrow scorer
#: (the bpe pre-token-LRU precedent: web text repeats words heavily, so
#: the md5 amortizes to a dict hit across batches on a reused worker).
#: Keyed by n_buckets too, so two artifacts with different B scored on
#: one worker never share buckets.
_BUCKET_MEMO: dict = {}
_BUCKET_MEMO_CAP = 2_000_000


def _bucket_of(tok: str, n_buckets: int) -> int:
    """int(md5(tok)[:15], 16) % n_buckets through _BUCKET_MEMO.  A
    module-level function, so the scorer's closure pickles it by
    reference and every task on a worker shares the one memo (a global
    read inside the closure would be pickled by value: a fresh empty
    copy per task)."""
    key = (n_buckets, tok)
    b = _BUCKET_MEMO.get(key)
    if b is None:
        if len(_BUCKET_MEMO) >= _BUCKET_MEMO_CAP:
            _BUCKET_MEMO.clear()
        b = int(hashlib.md5(tok.encode("utf-8"))
                .hexdigest()[:15], 16) % n_buckets
        _BUCKET_MEMO[key] = b
    return b


def classifier_scores(
    df: DataFrame,
    artifact: str = DEFAULT_QC,
    text_col: str = "text",
    id_col: str = "doc_id",
    impl: str = "arrow",
) -> DataFrame:
    """(id, n_tokens, score_micro): integer classifier score per
    document with non-null text.  Blank docs score (0, b_micro) — the
    bias alone.  Token instances count (a word twice contributes its
    weight twice), matching the trainer's count featurization.

    impl 'arrow' (default, r6): one narrow kernel — tokens split in
    Arrow C++, md5-bucketed once per DISTINCT token per batch through
    a per-worker memo (the Catalyst form paid md5+conv per token
    INSTANCE), weights summed per doc in int64 numpy; ZERO shuffle and
    bit-identical integer scores (md5 arithmetic is exact, no hashing
    stance change).  'catalyst' is the zero-Python reference the
    kernel is test-pinned against."""
    if impl == "arrow":
        return _classifier_scores_arrow(df, artifact, text_col, id_col)
    spark = df.sparkSession
    weights, b_micro, n_buckets = _weights_df(spark, artifact)
    base = df.filter(F.col(text_col).isNotNull()) \
        .select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    # blank docs explode to one null-token row (masked from both
    # aggregates) instead of the previous id-keyed join-back against
    # the corpus — that join was two corpus-sized Exchanges per call.
    # The weight join becomes LEFT (the table enumerates every bucket
    # in [0, B), so left == inner for real tokens; the null row's null
    # bucket matches nothing).
    toks = base.select(
        "doc_id",
        F.explode_outer(
            F.when(F.length(F.trim("_t")) > 0, F.split(F.trim("_t"), r"\s+"))
        ).alias("_tok"))
    return (toks
            .select("doc_id", bucket_col(F.col("_tok"), n_buckets)
                    .alias("bucket"))
            .join(F.broadcast(weights), "bucket", "left")
            .groupBy("doc_id")
            .agg(F.count("bucket").alias("n_tokens"),
                 F.coalesce(F.sum("w"), F.lit(0).cast("long"))
                 .alias("_wsum"))
            .select("doc_id", "n_tokens",
                    (F.lit(b_micro) + F.col("_wsum")).alias("score_micro")))


def _classifier_scores_arrow(
    df: DataFrame, artifact: str, text_col: str, id_col: str
) -> DataFrame:
    """The zero-shuffle classifier kernel (see classifier_scores)."""
    from collections.abc import Iterator

    model = load(artifact)
    b_micro, n_buckets = int(model["b_micro"]), int(model["B"])
    w_list = [int(w) for w in model["w_micro"]]
    id_type = dict(df.dtypes)[id_col]

    def build(batches: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        w = np.array(w_list, dtype=np.int64)

        for batch in batches:
            text = batch.column(1)
            notnull = pc.is_valid(text)
            ids = batch.column(0).filter(notnull)
            n_out = len(ids)
            if n_out == 0:
                continue
            trimmed = pc.filter(
                pc.utf8_trim(pc.fill_null(text, ""), characters=" "),
                notnull)
            nonblank = pc.greater(pc.utf8_length(trimmed), 0)
            nb_np = nonblank.to_numpy(zero_copy_only=False)
            n_tokens = np.zeros(n_out, dtype=np.int64)
            wsum = np.zeros(n_out, dtype=np.int64)
            toks_texts = pc.filter(trimmed, nonblank)
            if len(toks_texts):
                lists = pc.ascii_split_whitespace(toks_texts)
                counts = pc.list_value_length(lists).to_numpy(
                    zero_copy_only=False).astype(np.int64)
                flat = pc.list_flatten(lists)
                row_map = np.flatnonzero(nb_np)
                n_tokens[row_map] = counts
                enc = pc.dictionary_encode(flat)
                uniq = enc.dictionary.to_pylist()
                wu = w[np.fromiter((_bucket_of(t, n_buckets) for t in uniq),
                                   dtype=np.int64, count=len(uniq))]
                wvals = wu[enc.indices.to_numpy(
                    zero_copy_only=False).astype(np.int64)]
                rows = row_map[np.repeat(
                    np.arange(len(toks_texts), dtype=np.int64), counts)]
                np.add.at(wsum, rows, wvals)
            yield pa.RecordBatch.from_arrays(
                [ids,
                 pa.array(n_tokens, type=pa.int64()),
                 pa.array(b_micro + wsum, type=pa.int64())],
                names=["doc_id", "n_tokens", "score_micro"])

    return df.select(
        F.col(id_col), F.col(text_col)
    ).mapInArrow(
        build, f"doc_id {id_type}, n_tokens long, score_micro long")


def classifier_gate(
    df: DataFrame,
    artifact: str = DEFAULT_QC,
    threshold_micro: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, score_micro, keep): keep iff score_micro >=
    threshold_micro * n_tokens — the integer-compare form of 'mean
    token evidence clears the threshold' (the lm_filter precedent);
    at the default 0 it is the classifier's sign."""
    s = classifier_scores(df, artifact, text_col, id_col)
    return s.select(
        "doc_id", "n_tokens", "score_micro",
        (F.col("score_micro")
         >= F.lit(threshold_micro) * F.col("n_tokens")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# fixture + query + oracle
# ---------------------------------------------------------------------------
#
# Every 9th doc is corrupted under the TRAINER's stated negative
# formula ('zz'-prefixed tokens), so the gate must drop exactly those:
# the corpus vocabulary is tiny and in-model, so — like the lm fixture
# — the noise must leave the learned vocabulary to be detectable.


def qc_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    corrupted = F.array_join(
        F.transform(F.split(F.trim("text"), r"\s+"),
                    lambda t: F.concat(F.lit("zz"), t)),
        " ")
    return d.select(
        "doc_id",
        F.when(F.col("text").isNull(), F.lit(None).cast("string"))
        .when(F.col("doc_id") % 9 == 0, corrupted)
        .otherwise(F.col("text")).alias("text"))


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return classifier_gate(qc_corpus(spark, sf_dir))


def oracle_quality_classifier_sql(artifact: str = DEFAULT_QC) -> str:
    model = load(artifact)
    b, b_micro = int(model["B"]), int(model["b_micro"])
    vals = ", ".join(
        f"({i}, {int(w)})" for i, w in enumerate(model["w_micro"]))
    return f"""
WITH weights(bucket, w) AS (VALUES {vals}),
corpus AS (
    SELECT doc_id,
           CASE WHEN doc_id % 9 = 0 THEN array_to_string(
                    list_transform(
                        regexp_split_to_array(trim(text), '\\s+'),
                        t -> 'zz' || t), ' ')
                ELSE text END AS text
    FROM documents WHERE text IS NOT NULL
),
toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
    FROM corpus WHERE length(trim(text)) > 0
),
scored AS (
    SELECT t.doc_id, COUNT(*) AS n_tokens, SUM(w.w) AS wsum
    FROM toks t JOIN weights w ON w.bucket = {bucket_sql('t.tok', b)}
    GROUP BY t.doc_id
)
SELECT c.doc_id,
       COALESCE(s.n_tokens, 0)::BIGINT AS n_tokens,
       ({b_micro} + COALESCE(s.wsum, 0))::BIGINT AS score_micro,
       ({b_micro} + COALESCE(s.wsum, 0)) >= 0 AS keep
FROM corpus c LEFT JOIN scored s ON s.doc_id = c.doc_id
"""
