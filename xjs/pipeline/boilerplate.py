"""Boilerplate detection: token n-grams that recur across a large
fraction of a group's documents (site headers, footers, cookie
banners, newsletter plugs) — the CCNet/Dolma-style "remove what the
whole domain repeats" pass.

Shape: per-doc *distinct* grams (array_distinct, so a doc votes once
per gram) -> one groupBy (group, gram) with map-side partials -> a
broadcast join against the per-group doc totals.  Linear in corpus
grams; the (group, gram) key inherits domain skew and partial
aggregation absorbs it (hot boilerplate grams are exactly the ones
that combine map-side).  Frequency threshold uses integer arithmetic
(n_docs_with * DEN >= NUM * n_docs) so the Spark and DuckDB answers
agree exactly.

The word-salad corpus has no natural boilerplate, so the query injects
a deterministic per-source footer at doc_id % 3 == 0 (same fixture
convention as the PII/webpages injections), giving each source two
full-footer 5-grams at ~33% document frequency against a 25%
threshold.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xjs.pipeline import state
from xjs.pipeline.text import (
    ngrams, ngrams_sql, token_ngrams, token_windows_sql, tokens, tokens_sql,
)

NGRAM = 5
THRESH_NUM, THRESH_DEN = 1, 4   # boilerplate = gram in >= 25% of the group's docs


def _per_doc_grams(
    df: DataFrame, group_col: str, text_col: str, n: int,
    edge_tokens: int | None, builder: str,
) -> DataFrame:
    """(group, gram) rows, one per distinct gram per doc.  builder
    'arrow' = the Arrow mapInPandas cutter (production: 4x the
    interpreted-HOF form, VERDICT r2 #1); 'hof' = pure Catalyst
    (kept as the zero-Python reference implementation the equivalence
    test pins the builder against)."""
    if builder == "arrow":
        from xjs.pipeline.grams import ngram_rows

        return ngram_rows(df, [group_col], text_col, n, edge_tokens)
    if builder != "hof":
        raise ValueError(f"unknown builder {builder!r}")
    grams = (
        edge_grams(F.col(text_col), n, edge_tokens)
        if edge_tokens is not None
        else F.array_distinct(token_ngrams(F.col(text_col), n))
    )
    return df.select(F.col(group_col), F.explode(grams).alias("gram"))


def _per_doc_gram_counts(
    df: DataFrame, group_col: str, text_col: str, n: int,
    edge_tokens: int | None, builder: str,
) -> DataFrame:
    """(group, gram, cnt) partial document-frequency rows.  'arrow'
    (production) combines per batch inside the cutter
    (grams.ngram_count_rows: halves the Python→JVM rows on the bench
    corpus because boilerplate grams repeat across a batch's docs);
    'hof' emits cnt=1 rows from the zero-Python reference cutter.
    ``groupBy(group, gram).sum(cnt)`` is identical across builders."""
    if builder == "arrow":
        from xjs.pipeline.grams import ngram_count_rows

        return ngram_count_rows(df, [group_col], text_col, n, edge_tokens)
    return _per_doc_grams(df, group_col, text_col, n, edge_tokens, builder).select(
        group_col, "gram", F.lit(1).cast("long").alias("cnt")
    )


def boilerplate_grams(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    n: int = NGRAM,
    thresh_num: int = THRESH_NUM,
    thresh_den: int = THRESH_DEN,
    builder: str = "arrow",
) -> DataFrame:
    """(group, gram, n_docs_with, n_docs) for every gram at or above
    the document-frequency threshold within its group."""
    per_doc = _per_doc_gram_counts(df, group_col, text_col, n, None, builder)
    gram_df = per_doc.groupBy(group_col, "gram").agg(
        F.sum("cnt").alias("n_docs_with")
    )
    totals = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    return gram_df.join(F.broadcast(totals), group_col).where(
        F.col("n_docs_with") * thresh_den >= thresh_num * F.col("n_docs")
    )


def edge_grams(text: Column, n: int = NGRAM, edge_tokens: int = 32) -> Column:
    """Distinct token n-grams of the document's head and tail windows
    only — the production constant-cutter: site boilerplate lives at
    document edges, and full-document gram construction (interpreted
    HOFs) dominates the operator's cost (SCALE.md 8c).  Short docs
    (<= 2*edge_tokens tokens) produce exactly their full gram set;
    long docs skip middle grams.  No junction artifacts: each edge is
    grammed separately."""
    toks = tokens(text)
    cnt = F.size(toks)

    head = F.slice(toks, 1, edge_tokens)
    tail = F.slice(toks, -edge_tokens, edge_tokens)
    return F.when(
        cnt <= 2 * edge_tokens,
        F.array_distinct(token_ngrams(text, n)),
    ).otherwise(F.array_distinct(F.concat(ngrams(head, n), ngrams(tail, n))))


def boilerplate_grams_edges(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    n: int = NGRAM,
    edge_tokens: int = 32,
    thresh_num: int = THRESH_NUM,
    thresh_den: int = THRESH_DEN,
    builder: str = "arrow",
) -> DataFrame:
    """``boilerplate_grams`` over edge windows only (same output
    schema; equal results whenever the boilerplate sits within
    ``edge_tokens`` of a document end, which is its definition)."""
    per_doc = _per_doc_gram_counts(df, group_col, text_col, n, edge_tokens, builder)
    gram_df = per_doc.groupBy(group_col, "gram").agg(
        F.sum("cnt").alias("n_docs_with")
    )
    totals = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    return gram_df.join(F.broadcast(totals), group_col).where(
        F.col("n_docs_with") * thresh_den >= thresh_num * F.col("n_docs")
    )


def _inject_footer(doc_id: Column, source: Column, text: Column) -> Column:
    return F.when(
        doc_id % 3 == 0,
        F.concat(text, F.lit(" subscribe to "), source, F.lit(" newsletter today now")),
    ).otherwise(text)


_INJECT_SQL = (
    "CASE WHEN doc_id % 3 = 0 "
    "THEN text || ' subscribe to ' || source || ' newsletter today now' "
    "ELSE text END"
)


def q_boilerplate_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    injected = d.select(
        "source",
        _inject_footer(F.col("doc_id"), F.col("source"), F.col("text")).alias("text"),
    )
    return boilerplate_grams(injected, "source")


# ---------------------------------------------------------------------------
# edge-regime corpus: page-length docs with header/footer boilerplate —
# the regime the edge-window cutter exists for (real web pages are
# 100s-1000s of tokens; the base word-salad docs are ~50)
# ---------------------------------------------------------------------------

EDGE_REPEAT = 12  # body = doc text repeated 12x (~600 tokens)
# bump when the injected header/footer text below changes — bench.py
# keys its materialized edge-corpus cache on (EDGE_REPEAT, this), so a
# transform change invalidates the stale parquet instead of silently
# benchmarking old data (ADVICE r3)
EDGE_INJECT_VERSION = 1


def edge_regime_transform(d: DataFrame) -> DataFrame:
    """(doc_id, source, text) with page-length bodies and injected
    header/footer boilerplate; input needs (doc_id, source, text)."""
    body = F.trim(F.repeat(F.concat(F.col("text"), F.lit(" ")), EDGE_REPEAT))
    injected = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit("breaking news from "), F.col("source"), F.lit(" network today "),
            body,
            F.lit(" subscribe to "), F.col("source"), F.lit(" newsletter today now"),
        ),
    ).otherwise(body)
    return d.select("doc_id", "source", injected.alias("text"))


def edge_regime_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return edge_regime_transform(spark.read.parquet(f"{sf_dir}/documents.parquet"))


_EDGE_INJECT_SQL = (
    "CASE WHEN doc_id % 3 = 0 "
    "THEN 'breaking news from ' || source || ' network today ' || body "
    "|| ' subscribe to ' || source || ' newsletter today now' "
    "ELSE body END"
)


def q_boilerplate_grams_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production headline form: edge-window grams over page-length
    documents.  Header/footer boilerplate sits inside the 32-token edge
    windows by construction (which is the operator's definition of
    boilerplate), so the result equals the full-document scan at ~1/10
    the gram-construction cost on 600-token pages."""
    return boilerplate_grams_edges(edge_regime_corpus(spark, sf_dir), "source")


def boilerplate_remove(
    df: DataFrame,
    flagged: DataFrame,
    group_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    builder: str = "arrow",
) -> DataFrame:
    """(id, group, clean_text): every occurrence of every flagged gram
    removed from the document text — the cleaning step downstream of
    detection (CCNet-style "strip what the whole domain repeats").

    Removal semantics are deliberately simple and deterministic:
    literal string removal of each flagged gram, applied in ascending
    gram order (so the Spark and SQL answers agree byte-for-byte;
    leftover double spaces are the defined behavior, downstream
    tokenization collapses them).  Scale shape: ``flagged`` is tiny by
    construction (grams above a per-group document-frequency
    threshold), so it aggregates to one array per group and
    BROADCASTS; the removal itself is a narrow map over the corpus —
    no shuffle of document text.  The per-group pass runs over a
    handful of grams, not the corpus.

    builder 'arrow' (default, r4): the replace loop runs in an Arrow
    ``mapInPandas`` stage — python's C ``str.replace`` per (doc, gram),
    no interpreted expression tree.  The Catalyst ``F.aggregate`` +
    ``F.replace`` fold ('hof') is kept as the zero-Python reference
    the equivalence test pins against, but Catalyst evaluates HOF
    lambdas interpreted per element, and on page-length documents that
    measured **30.5s vs 1.5s** for the same 100k-doc cleaning pass
    (the same constant-factor failure mode as r2's gram
    construction)."""
    if builder not in ("arrow", "hof"):
        raise ValueError(f"unknown builder {builder!r}")
    grams = flagged.groupBy(group_col).agg(
        F.array_sort(F.collect_list("gram")).alias("_grams")
    )
    joined = df.join(F.broadcast(grams), group_col, "left").select(
        id_col, group_col, text_col, "_grams"
    )
    if builder == "hof":
        cleaned = F.aggregate(
            F.coalesce(F.col("_grams"), F.array().cast("array<string>")),
            F.col(text_col),
            lambda acc, g: F.replace(acc, g, F.lit("")),
        )
        return joined.select(
            F.col(id_col), F.col(group_col), cleaned.alias("clean_text")
        )

    dtypes = dict(df.dtypes)
    schema = (
        f"{id_col} {dtypes[id_col]}, {group_col} {dtypes[group_col]}, "
        "clean_text string"
    )

    def strip(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for t, gs in zip(pdf[text_col], pdf["_grams"]):
                # not `t is None`: a non-Arrow pandas conversion can
                # surface null strings as NaN floats (ADVICE r4)
                if not isinstance(t, str):
                    out.append(None)
                    continue
                if gs is not None:
                    for g in gs:
                        t = t.replace(g, "")
                out.append(t)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    group_col: pdf[group_col],
                    "clean_text": out,
                }
            )

    return joined.mapInPandas(strip, schema)


def boilerplate_flag_and_clean(
    df: DataFrame,
    flagged: DataFrame,
    group_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = NGRAM,
    edge_tokens: int = 32,
) -> DataFrame:
    """(id, group, n_flagged_grams, clean_text): per-document count of
    flagged grams present (Arrow edge cutter + broadcast semi-join)
    alongside the cleaned text — the full per-doc consequence of a
    detection snapshot, shared verbatim by the batch path and the
    streaming twin (xjs.streaming.stream_boilerplate_clean).  Narrow
    except one doc-keyed aggregation of cutter rows; the corpus text
    is never shuffled."""
    from xjs.pipeline.grams import ngram_rows

    counts = (
        ngram_rows(df, [id_col, group_col], text_col, n, edge_tokens)
        .join(F.broadcast(flagged.select(group_col, "gram")), [group_col, "gram"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_flagged_grams"))
    )
    cleaned = boilerplate_remove(df, flagged, group_col, text_col, id_col)
    return cleaned.join(counts, id_col, "left").select(
        F.col(id_col),
        F.col(group_col),
        F.coalesce(F.col("n_flagged_grams"), F.lit(0)).alias("n_flagged_grams"),
        "clean_text",
    )


# --------------------------------------------------------------------------
# incremental (cross-run) twin — persisted document-frequency state
# --------------------------------------------------------------------------


def boilerplate_state_update(
    spark: SparkSession,
    new_df: DataFrame,
    state_out: str,
    state_in: str | None = None,
    group_col: str = "source",
    text_col: str = "text",
    n: int = NGRAM,
    edge_tokens: int | None = 32,
    builder: str = "arrow",
) -> None:
    """Fold a new corpus slice into boilerplate-detection state.  Both
    state tables are pure sums over disjoint-doc slices — ``grams``
    (group, gram, n_docs_with): each doc contributes once per distinct
    edge-window gram it carries (the per-batch combine already emits
    distinct-per-doc partials); ``totals`` (group, n_docs) — so SUM is
    the entire merge algebra and any fold order equals the single-pass
    batch aggregation exactly (test-pinned).  The detection THRESHOLD
    is deliberately not baked into state: raw counts fold exactly,
    thresholds don't (a gram can cross tau only after later slices),
    so tau applies at read time (boilerplate_from_state) and one state
    serves any threshold.  ``state_in=None`` bootstraps; no-op when
    ``state_out`` is complete (kill/re-submit safe).

    100 TB shape: one cutter pass over the NEW slice's text (the same
    narrow Arrow stage the batch path uses), two key-keyed partial
    aggregations against state; per-source gram vocabulary — not the
    corpus — bounds state size, and historical text is never re-read."""
    import os

    if state.complete(state_out, "grams", "totals"):
        return
    fresh_g = _per_doc_gram_counts(
        new_df, group_col, text_col, n, edge_tokens, builder
    ).groupBy(group_col, "gram").agg(F.sum("cnt").alias("n_docs_with"))
    fresh_t = new_df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    if state_in is not None:
        old_g = spark.read.parquet(os.path.join(state_in, "grams"))
        fresh_g = old_g.unionByName(fresh_g).groupBy(group_col, "gram").agg(
            F.sum("n_docs_with").alias("n_docs_with")
        )
        old_t = spark.read.parquet(os.path.join(state_in, "totals"))
        fresh_t = old_t.unionByName(fresh_t).groupBy(group_col).agg(
            F.sum("n_docs").alias("n_docs")
        )
    fresh_g.write.mode("overwrite").parquet(os.path.join(state_out, "grams"))
    fresh_t.write.mode("overwrite").parquet(os.path.join(state_out, "totals"))


def boilerplate_from_state(
    spark: SparkSession,
    state_dir: str,
    group_col: str = "source",
    thresh_num: int = THRESH_NUM,
    thresh_den: int = THRESH_DEN,
) -> DataFrame:
    """The ``boilerplate_grams_edges`` answer over everything folded so
    far, computed from state alone (same schema — feeds
    boilerplate_remove / boilerplate_flag_and_clean unchanged)."""
    import os

    grams = spark.read.parquet(os.path.join(state_dir, "grams"))
    totals = spark.read.parquet(os.path.join(state_dir, "totals"))
    return grams.join(F.broadcast(totals), group_col).where(
        F.col("n_docs_with") * thresh_den >= thresh_num * F.col("n_docs")
    )


def q_boilerplate_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the page corpus as three interleaved slices (doc_id % 3)
    through document-frequency state; the oracle recomputes detection
    from the full corpus in one batch (sums of disjoint slices fold
    exactly, so the answers are identical)."""
    corpus = edge_regime_corpus(spark, sf_dir)
    fold = partial(boilerplate_state_update, spark)
    with state.replay_slices(corpus, fold, "incr-bp-") as final:
        return boilerplate_from_state(spark, final).localCheckpoint(eager=True)


def oracle_boilerplate_incremental_sql() -> str:
    return oracle_boilerplate_grams_edges_sql()


def q_boilerplate_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detection + removal composed over the page-length corpus: strip
    each source's edge-window boilerplate from every document."""
    corpus = edge_regime_corpus(spark, sf_dir)
    flagged = boilerplate_grams_edges(corpus, "source").select("source", "gram")
    return boilerplate_remove(corpus, flagged, "source")


def oracle_boilerplate_remove_sql() -> str:
    edges = oracle_boilerplate_grams_edges_sql().strip()
    return f"""
WITH flagged AS ({edges}),
gram_lists AS (
    SELECT source, list(gram ORDER BY gram) AS grams
    FROM flagged GROUP BY source
),
corpus AS (
    SELECT doc_id, source, {_EDGE_INJECT_SQL} AS text
    FROM (SELECT doc_id, source, trim(repeat(text || ' ', {EDGE_REPEAT})) AS body
          FROM documents)
)
SELECT c.doc_id, c.source,
       list_reduce(
           list_prepend(c.text, COALESCE(g.grams, [])),
           (acc, gr) -> replace(acc, gr, '')) AS clean_text
FROM corpus c LEFT JOIN gram_lists g USING (source)
"""


def oracle_boilerplate_grams_edges_sql() -> str:
    w, e = NGRAM, 32
    full, head_grams, tail_grams = (
        ngrams_sql(arr, w) for arr in ("t", "head", "tail"))
    return f"""
WITH injected AS (
    SELECT doc_id, source, {_EDGE_INJECT_SQL} AS text
    FROM (SELECT doc_id, source, trim(repeat(text || ' ', {EDGE_REPEAT})) AS body
          FROM documents)
),
toks AS (
    SELECT doc_id, source, {tokens_sql('text')} AS t
    FROM injected WHERE length(trim(text)) > 0
),
sliced AS (
    SELECT doc_id, source, t,
           t[1:{e}] AS head,
           list_slice(t, greatest(len(t) - {e - 1}, 1), len(t)) AS tail
    FROM toks
),
egrams AS (
    SELECT doc_id, source,
           CASE WHEN len(t) <= {2 * e} THEN {full}
                ELSE {head_grams} || {tail_grams}
           END AS gl
    FROM sliced
),
grams AS (
    SELECT DISTINCT doc_id, source, UNNEST(gl) AS gram FROM egrams
),
doc_grams AS (
    SELECT source, gram, COUNT(*) AS n_docs_with
    FROM grams GROUP BY source, gram
),
totals AS (
    SELECT source, COUNT(*) AS n_docs FROM injected GROUP BY source
)
SELECT g.source, g.gram, g.n_docs_with, t.n_docs
FROM doc_grams g JOIN totals t USING (source)
WHERE g.n_docs_with * {THRESH_DEN} >= {THRESH_NUM} * t.n_docs
"""


def oracle_boilerplate_grams_sql() -> str:
    w = NGRAM
    return f"""
WITH injected AS (
    SELECT doc_id, source, {_INJECT_SQL} AS text FROM documents
),
toks AS (
    SELECT doc_id, source, {tokens_sql('text')} AS t
    FROM injected WHERE length(trim(text)) > 0
),
grams AS (
    -- DISTINCT per (doc, gram): each doc votes once per gram, and
    -- duplicate-text docs still vote separately (doc_id carried)
    SELECT DISTINCT doc_id, source, gram
    FROM ({token_windows_sql('toks', w, 'doc_id, source')})
),
doc_grams AS (
    SELECT source, gram, COUNT(*) AS n_docs_with
    FROM grams GROUP BY source, gram
),
totals AS (
    SELECT source, COUNT(*) AS n_docs FROM injected GROUP BY source
)
SELECT g.source, g.gram, g.n_docs_with, t.n_docs
FROM doc_grams g JOIN totals t USING (source)
WHERE g.n_docs_with * {THRESH_DEN} >= {THRESH_NUM} * t.n_docs
"""
