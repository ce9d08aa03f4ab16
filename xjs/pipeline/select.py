"""Training-set selection: the end-to-end composition a data pipeline
actually runs — quality gate ∧ language gate ∧ dedup-survivor gate —
as one declarative DataFrame query (every stage is one of the
already-oracle-checked operators; Catalyst fuses the narrow parts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xjs.pipeline.text import (
    quality_features, quality_features_sql, token_windows_sql, tokens_sql,
)

MIN_TOKENS = 30
MIN_STOPWORD_RATIO = 0.05


def select_training_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, stopword_ratio, quality_score) for docs that
    pass the selection gates, exact-dup survivors only (min doc_id per
    identical text)."""
    feats = quality_features(docs)
    survivors = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    return (
        feats.join(survivors.select("doc_id"), "doc_id")
        .filter(
            (F.col("n_tokens") >= MIN_TOKENS)
            & (F.col("stopword_ratio") >= MIN_STOPWORD_RATIO)
        )
        .select("doc_id", "n_tokens", "stopword_ratio", "quality_score")
    )


def q_select_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xjs.pipeline.dedup import dedup_corpus

    return select_training_docs(dedup_corpus(spark, sf_dir))


def oracle_select_training_sql() -> str:
    from xjs.pipeline.dedup import DUCKDB_CORPUS_CTE

    return f"""
WITH {DUCKDB_CORPUS_CTE.strip()},
feats AS ({quality_features_sql('corpus')}),
survivors AS (SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY text)
SELECT f.doc_id, f.n_tokens, f.stopword_ratio, f.quality_score
FROM feats f JOIN survivors s ON s.doc_id = f.doc_id
WHERE f.n_tokens >= {MIN_TOKENS} AND f.stopword_ratio >= {MIN_STOPWORD_RATIO}
"""


# ---------------------------------------------------------------------------
# full curation composition (round 2): adds the substring-dedup and
# decontamination gates to the quality + exact-survivor pipeline
# ---------------------------------------------------------------------------

def curate_decisions(docs: DataFrame) -> DataFrame:
    """The complete curation funnel as ONE frame: every input row with
    its ``n_tokens``, ``stopword_ratio``, ``quality_score`` and a
    ``reason`` — NULL for a kept document, else the first failing gate
    in the order exact_duplicate (not the min doc_id of its text),
    substring_duplicate (among the exact survivors), benchmark
    (``doc_id % BENCH_RESIDUE == 0``), contaminated (shares a gram with
    a benchmark document), low_quality.  Each gate operator runs once
    (all are the already-oracle-checked operators) and its flags are
    left-joined back on doc_id, so the precedence is one CASE."""
    from xjs.pipeline.decontam import BENCH_RESIDUE, contaminated_docs
    from xjs.pipeline.dedup import substring_duplicates

    survivors = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    base = docs.join(survivors.select("doc_id"), "doc_id")
    bench = F.col("doc_id") % BENCH_RESIDUE == 0
    flags = {
        "_survivor": survivors,
        "_substr": substring_duplicates(base),
        "_contam": contaminated_docs(base.filter(~bench), base.filter(bench)),
    }
    out = docs.join(
        quality_features(docs).select(
            "doc_id", "n_tokens", "stopword_ratio", "quality_score"),
        "doc_id",
    )
    for name, ids in flags.items():
        out = out.join(ids.select("doc_id", F.lit(True).alias(name)), "doc_id", "left")
    quality_ok = (F.col("n_tokens") >= MIN_TOKENS) & (
        F.col("stopword_ratio") >= MIN_STOPWORD_RATIO
    )
    reason = (
        F.when(F.col("_survivor").isNull(), "exact_duplicate")
        .when(F.col("_substr"), "substring_duplicate")
        .when(bench, "benchmark")
        .when(F.col("_contam"), "contaminated")
        # a NULL gate verdict (null text) rejects instead of vanishing
        .when(~F.coalesce(quality_ok, F.lit(False)), "low_quality")
    )
    return out.withColumn("reason", reason).drop(*flags)


def curate_corpus(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, stopword_ratio, quality_score) of the docs the
    funnel keeps."""
    return (
        curate_decisions(docs)
        .filter(F.col("reason").isNull())
        .select("doc_id", "n_tokens", "stopword_ratio", "quality_score")
    )


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xjs.pipeline.dedup import dedup_corpus

    return curate_corpus(dedup_corpus(spark, sf_dir))


def oracle_curate_corpus_sql() -> str:
    from xjs.pipeline.decontam import BENCH_RESIDUE, NGRAM
    from xjs.pipeline.dedup import DUCKDB_CORPUS_CTE, SUBSTR_W

    def grams_cte(name: str, w: int) -> str:
        return f"""
{name} AS (
    SELECT DISTINCT doc_id, gram FROM ({token_windows_sql('toks', w)})
)"""

    return f"""
WITH {DUCKDB_CORPUS_CTE.strip()},
survivors AS (SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY text),
base AS (SELECT c.* FROM corpus c JOIN survivors s USING (doc_id)),
toks AS (
    SELECT doc_id, {tokens_sql('text')} AS t FROM base
),
{grams_cte('sgrams', SUBSTR_W).strip()},
owners AS (SELECT gram, MIN(doc_id) AS own FROM sgrams GROUP BY gram),
substr_dups AS (
    SELECT DISTINCT g.doc_id FROM sgrams g JOIN owners o USING (gram)
    WHERE g.doc_id > o.own
),
{grams_cte('dgrams', NGRAM).strip()},
bench AS (
    SELECT DISTINCT gram FROM dgrams WHERE doc_id % {BENCH_RESIDUE} = 0
),
contaminated AS (
    SELECT DISTINCT g.doc_id FROM dgrams g JOIN bench b USING (gram)
    WHERE g.doc_id % {BENCH_RESIDUE} <> 0
),
kept AS (
    SELECT b.doc_id, b.text FROM base b
    WHERE b.doc_id % {BENCH_RESIDUE} <> 0
      AND b.doc_id NOT IN (SELECT doc_id FROM substr_dups)
      AND b.doc_id NOT IN (SELECT doc_id FROM contaminated)
),
t2 AS ({quality_features_sql('kept')})
SELECT doc_id, n_tokens, stopword_ratio, quality_score
FROM t2
WHERE n_tokens >= {MIN_TOKENS} AND stopword_ratio >= {MIN_STOPWORD_RATIO}
"""
