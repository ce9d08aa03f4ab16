"""Benchmark decontamination: flag training documents that share a
token n-gram with an evaluation/benchmark set.

The standard eval-contamination sweep (n-gram overlap a la GPT-3
appendix / Dolma): build the set of distinct token ``NGRAM``-grams
over the benchmark corpus, then scan the training corpus for documents
containing any of them.

Scale shape (the 100 TB story): benchmark suites are tiny (a few
hundred MB of n-grams even for a large eval battery), so the gram set
is a **broadcast** side; the corpus side is a linear per-doc gram
explode (``array_distinct`` first, so each doc emits each gram once)
followed by a broadcast semi-join — no corpus-side shuffle at all
until the final per-doc hit count, which partial-aggregates map-side.
The corpus never materializes more than one Arrow/codegen batch of
grams per task.

In this sandbox the "benchmark" is carved deterministically out of the
documents table itself (``doc_id % BENCH_RESIDUE == 0``) so the query
has an exact DuckDB oracle on driver-provided data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xjs.pipeline.text import token_ngrams, token_windows_sql, tokens_sql

NGRAM = 4           # gram width (tokens)
BENCH_RESIDUE = 41  # doc_id % RESIDUE == 0 -> benchmark doc


def doc_grams(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
              n: int = NGRAM, builder: str = "arrow") -> DataFrame:
    """(id, gram) — one row per *distinct* gram per doc.  builder
    'arrow' = the Arrow gram cutter (xjs.pipeline.grams, 4x the
    interpreted HOF); 'hof' = pure Catalyst reference form."""
    if builder == "arrow":
        from xjs.pipeline.grams import ngram_rows

        return ngram_rows(df, [id_col], text_col, n)
    if builder != "hof":
        raise ValueError(f"unknown builder {builder!r}")
    return df.select(
        F.col(id_col),
        F.explode(F.array_distinct(token_ngrams(F.col(text_col), n))).alias("gram"),
    )


def contaminated_docs(
    corpus: DataFrame, benchmark: DataFrame,
    text_col: str = "text", id_col: str = "doc_id", n: int = NGRAM,
) -> DataFrame:
    """(id, n_hit_grams) for every corpus doc sharing >= 1 token
    n-gram with the benchmark set."""
    bench_grams = doc_grams(benchmark, text_col, id_col, n).select("gram").distinct()
    hits = doc_grams(corpus, text_col, id_col, n).join(
        F.broadcast(bench_grams), "gram"
    )
    return hits.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_hit_grams"))


TAU = 0.05  # default overlap-fraction threshold


def contaminated_docs_tau(
    corpus: DataFrame, benchmark: DataFrame, tau: float = TAU,
    text_col: str = "text", id_col: str = "doc_id", n: int = NGRAM,
) -> DataFrame:
    """(id, n_doc_grams, n_hit_grams, overlap_frac) for docs whose
    *fraction* of distinct grams hitting the benchmark set is >= tau —
    thresholded decontamination (PaLM/GPT-3 style): a single
    incidental gram collision doesn't condemn a document; tau -> 0
    recovers the any-hit mode of contaminated_docs.

    Same broadcast shape as contaminated_docs, upgraded to a LEFT join
    so one pass yields both the per-doc gram total and the hit count —
    no second scan of the corpus; the fraction filter is applied on
    the unrounded ratio (identical IEEE division both engines)."""
    bench_grams = (
        doc_grams(benchmark, text_col, id_col, n)
        .select("gram").distinct().withColumn("_hit", F.lit(1))
    )
    g = doc_grams(corpus, text_col, id_col, n)
    agg = (
        g.join(F.broadcast(bench_grams), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_doc_grams"),
            F.count("_hit").alias("n_hit_grams"),
        )
    )
    frac = F.col("n_hit_grams") / F.col("n_doc_grams")
    return (
        agg.filter((F.col("n_hit_grams") >= 1) & (frac >= tau))
        .withColumn("overlap_frac", F.round(frac, 4))
    )


# ---------------------------------------------------------------------------
# driver query + oracle
# ---------------------------------------------------------------------------

def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = d.filter(F.col("doc_id") % BENCH_RESIDUE == 0)
    corpus = d.filter(F.col("doc_id") % BENCH_RESIDUE != 0)
    return contaminated_docs(corpus, bench)


def q_decontaminate_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = d.filter(F.col("doc_id") % BENCH_RESIDUE == 0)
    corpus = d.filter(F.col("doc_id") % BENCH_RESIDUE != 0)
    return contaminated_docs_tau(corpus, bench)


def _grams_ctes() -> str:
    """toks -> distinct (doc_id, gram) -> the benchmark gram set."""
    return f"""
WITH toks AS (
    SELECT doc_id, {tokens_sql('text')} AS t
    FROM documents
),
grams AS (
    SELECT DISTINCT doc_id, gram FROM ({token_windows_sql('toks', NGRAM)})
),
bench AS (
    SELECT DISTINCT gram FROM grams WHERE doc_id % {BENCH_RESIDUE} = 0
)"""


def oracle_decontaminate_tau_sql() -> str:
    return _grams_ctes() + f"""
SELECT g.doc_id, COUNT(*) AS n_doc_grams, COUNT(b.gram) AS n_hit_grams,
       ROUND(COUNT(b.gram)::DOUBLE / COUNT(*), 4) AS overlap_frac
FROM grams g LEFT JOIN bench b ON g.gram = b.gram
WHERE g.doc_id % {BENCH_RESIDUE} <> 0
GROUP BY g.doc_id
HAVING COUNT(b.gram) >= 1
   AND COUNT(b.gram)::DOUBLE / COUNT(*) >= {TAU}
"""


def oracle_decontaminate_sql() -> str:
    return _grams_ctes() + f"""
SELECT g.doc_id, COUNT(*) AS n_hit_grams
FROM grams g JOIN bench b USING (gram)
WHERE g.doc_id % {BENCH_RESIDUE} <> 0
GROUP BY g.doc_id
"""


def contaminated_spans(
    corpus: DataFrame, benchmark: DataFrame,
    text_col: str = "text", id_col: str = "doc_id", n: int = NGRAM,
) -> DataFrame:
    """(id, token_start, token_end): maximal corpus token spans whose
    ``n``-gram windows hit the benchmark gram set — span-grain
    decontamination.  Doc-grain dropping (contaminated_docs /
    the τ threshold) discards whole documents for one quoted test
    item; the production-preserving form splices out exactly the
    overlapping spans and keeps the rest (the substring-dedup
    span/removal machinery pointed at an EXTERNAL gram set instead of
    lower-id owners).

    Scale shape: positioned grams are the same narrow Arrow map as
    substring_spans; the benchmark gram set BROADCASTS (benchmark
    suites are tiny next to the corpus — same shape as
    contaminated_docs), so flagging is join-free on the corpus side of
    the shuffle ledger; islands merge under a doc-keyed window bounded
    by document length."""
    from xjs.pipeline.dedup import merge_spans
    from xjs.pipeline.grams import ngram_pos_rows

    bench = doc_grams(benchmark, text_col, id_col, n).select("gram").distinct()
    pos = ngram_pos_rows(corpus, [id_col], text_col, n)
    flagged = pos.join(F.broadcast(bench), "gram").select(id_col, "pos")
    return merge_spans(flagged, n, id_col)


def decontaminate_spans(
    corpus: DataFrame, benchmark: DataFrame,
    text_col: str = "text", id_col: str = "doc_id", n: int = NGRAM,
) -> DataFrame:
    """(id, clean_text): benchmark-overlapping spans cut out, the rest
    kept for EVERY corpus doc (space-rejoin contract, exactly
    substring_remove's)."""
    from xjs.pipeline.dedup import substring_remove

    spans = contaminated_spans(corpus, benchmark, text_col, id_col, n)
    return substring_remove(corpus, spans, id_col, text_col)


def q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = d.filter(F.col("doc_id") % BENCH_RESIDUE == 0)
    corpus = d.filter(F.col("doc_id") % BENCH_RESIDUE != 0)
    return decontaminate_spans(corpus, bench)


def oracle_decontaminate_spans_sql() -> str:
    from xjs.pipeline.dedup import span_merge_sql, span_remove_sql

    w = NGRAM
    bench, corpus = (f"doc_id % {BENCH_RESIDUE} {op} 0" for op in ("=", "<>"))
    return f"""
WITH toks AS (
    SELECT doc_id, {tokens_sql('text')} AS t
    FROM documents
),
bench AS (
    SELECT DISTINCT gram FROM ({token_windows_sql('toks', w, where=bench)})
),
posgrams AS ({token_windows_sql('toks', w, where=corpus)}),
flagged AS (
    SELECT p.doc_id, p.pos FROM posgrams p JOIN bench b USING (gram)
),
{span_merge_sql(w)},
{span_remove_sql(f"(SELECT doc_id FROM documents WHERE {corpus})")}"""
