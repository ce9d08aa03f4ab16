"""Line-grain corpus deduplication (the CCNet / RefinedWeb shape).

Web pages repeat whole LINES across documents — navigation bars,
cookie banners, copyright footers, share buttons — and the standard
pre-training cleanup (CCNet; RefinedWeb's "line-wise corrections")
removes every occurrence of a line duplicated across the corpus
except one canonical owner.  This is a different grain from the
gram-window ops already in the repo: boilerplate.py flags *token
windows* frequent within a (domain) group, substring spans merge
*overlapping windows* — line dedup keys on the exact line string,
corpus-wide, and reassembles the page with the surviving lines in
place.

Scale shape (the part that matters at 100 TB):

* line cutting is a **narrow Catalyst projection** —
  ``posexplode(split(text, '\\n', -1))`` fused into the scan; only
  ``(doc_id, line_no, md5(line))`` leaves the map stage, never line
  text.
* the duplicate table comes from ONE hash aggregation on the line
  digest with map-side partials — a line appearing on every page
  (cookie banner) is absorbed map-side, so the mega-hot key reaches
  the shuffle as one partial row per map task, not one row per page.
* the owner join sends id-only triples against the aggregated
  duplicate table (already partitioned on the digest by the groupBy,
  so the join typically reuses that exchange).  The hot digest fans
  out on the probe side only, bounded by lines-per-doc; pass
  ``broadcast_dups=True`` when the duplicate table fits (it usually
  does: only lines with corpus count >= min_count survive the HAVING).
* reassembly mirrors substring_remove: removal positions aggregate to
  ONE small int array per affected doc, left-joined on the unique doc
  id; the kept-line filter is a narrow per-row array op — **the corpus
  text is never shuffled**.

The reference engine (/root/reference, a schema validator) has no
corpus operators; this op belongs to the training-data-pipeline
mandate.  All hashing is md5 so every stage has an exact DuckDB
oracle.
"""

from __future__ import annotations

import re
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xjs.pipeline import state

MIN_COUNT = 2        # corpus occurrences before a line is "duplicated"
MIN_CHARS = 6        # shorter lines are never removed (blank lines,
                     # list bullets — CCNet keeps sub-threshold lines)
_OWNER_ENC = 1_000_000  # owner key = doc_id * ENC + line_no; holds while
                        # docs stay under 1M lines (a 100 TB corpus doc cap
                        # would raise this constant, not the algorithm)


def line_rows(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", sep: str = "\n") -> DataFrame:
    """(id, line_no, line): 0-based unit explosion, trailing empties
    kept (split limit -1) so reassembly is byte-faithful.  ``sep``
    picks the grain: '\\n' = lines (default), '\\n\\n' = paragraphs —
    CCNet's actual dedup grain.  Split-then-rejoin on the same literal
    separator is byte-faithful for ANY separator (non-overlapping
    left-to-right split, same rule in Spark and DuckDB —
    test-pinned on the 'a\\n\\n\\nb' edge)."""
    return df.select(
        id_col,
        F.posexplode(
            F.split(F.col(text_col), re.escape(sep), -1)
        ).alias("line_no", "line"),
    )


def _candidates(df: DataFrame, id_col: str, text_col: str,
                min_chars: int, sep: str = "\n") -> DataFrame:
    """(id, line_no, line_md5) for dedup-eligible lines — text dropped
    before anything wide happens.  Lines at index >= _OWNER_ENC are
    excluded from candidacy (fail-open: a pathological >1M-line doc
    keeps its tail verbatim rather than corrupting owner identity);
    a negative id fails fast — the encoded owner would decode wrong
    AND Spark/DuckDB disagree on negative %, breaking the oracle."""
    enc_ok = F.when(
        F.col(id_col) >= 0, F.col("line_no") < _OWNER_ENC
    ).otherwise(
        F.raise_error(F.lit("line dedup requires non-negative doc ids"))
    )
    return (
        line_rows(df, id_col, text_col, sep)
        .filter((F.length("line") >= min_chars) & enc_ok)
        .select(id_col, "line_no", F.md5("line").alias("line_md5"))
    )


def duplicated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = MIN_COUNT,
    min_chars: int = MIN_CHARS,
    sep: str = "\n",
) -> DataFrame:
    """(line_md5, n_lines, n_docs, owner_doc, owner_line): corpus-wide
    duplicated lines with their canonical owner occurrence (lowest
    (doc, line_no) — the occurrence removal keeps).  One hash
    aggregation; the owner is the min of an encoded (doc, line) key so
    the same arithmetic runs in the DuckDB oracle."""
    enc = F.col(id_col).cast("long") * _OWNER_ENC + F.col("line_no")
    return (
        _candidates(df, id_col, text_col, min_chars, sep)
        .groupBy("line_md5")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count_distinct(F.col(id_col)).alias("n_docs"),
            F.min(enc).alias("_ok"),
        )
        .filter(F.col("n_lines") >= min_count)
        .select(
            "line_md5",
            "n_lines",
            "n_docs",
            F.floor(F.col("_ok") / _OWNER_ENC).cast("long").alias("owner_doc"),
            (F.col("_ok") % _OWNER_ENC).cast("int").alias("owner_line"),
        )
    )


def line_dedup_remove(
    df: DataFrame,
    dups: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = MIN_COUNT,
    min_chars: int = MIN_CHARS,
    broadcast_dups: bool = False,
    sep: str = "\n",
) -> DataFrame:
    """(id, clean_text): every non-owner occurrence of a duplicated
    line removed, remaining lines rejoined with '\\n' in original
    order.  ``dups`` accepts a precomputed/persisted duplicated_lines
    table (the two-step production shape, like simhash_signatures);
    omitted, it is derived from ``df`` in the same plan."""
    if dups is None:
        dups = duplicated_lines(df, id_col, text_col, min_count, min_chars,
                                sep)
    dup_side = dups.select("line_md5", "owner_doc", "owner_line")
    if broadcast_dups:
        dup_side = F.broadcast(dup_side)
    flagged = (
        _candidates(df, id_col, text_col, min_chars, sep)
        .join(dup_side, "line_md5")
        .filter(
            ~(
                (F.col(id_col) == F.col("owner_doc"))
                & (F.col("line_no") == F.col("owner_line"))
            )
        )
        .select(id_col, "line_no")
    )
    removed = flagged.groupBy(id_col).agg(
        F.collect_list("line_no").alias("_rm")
    )
    rm = F.coalesce(F.col("_rm"), F.array().cast("array<int>"))
    kept = F.filter(
        F.split(F.col(text_col), re.escape(sep), -1),
        lambda line, i: ~F.array_contains(rm, i),
    )
    return df.join(removed, id_col, "left").select(
        F.col(id_col), F.concat_ws(sep, kept).alias("clean_text")
    )


# --------------------------------------------------------------------------
# multi-line corpus: documents.parquet has single-line texts, so the
# fixture derives pages with a body split into lines plus two injected
# boilerplate lines — one per-domain footer (7 families) and one
# corpus-wide banner (the mega-hot key) — mirrored exactly in the
# DuckDB CTE so the oracle has known answers.
# --------------------------------------------------------------------------

_BANNER = "copyright notice all rights reserved"
_FOOTER = "footer domain "


def line_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    body = F.replace(F.col("text"), F.lit(" value "), F.lit("\n"))
    txt = F.concat(
        body,
        F.lit("\n" + _BANNER + "\n" + _FOOTER),
        (F.col("doc_id") % 7).cast("string"),
    )
    return d.select("doc_id", txt.alias("text"))


DUCKDB_LINE_CORPUS_CTE = f"""
line_corpus AS (
    SELECT doc_id,
           replace(text, ' value ', chr(10))
           || chr(10) || '{_BANNER}'
           || chr(10) || '{_FOOTER}' || (doc_id % 7)::VARCHAR AS text
    FROM documents
)
"""


# --------------------------------------------------------------------------
# incremental (cross-run) line-dedup state: fold a NEW corpus slice into
# a persisted per-line stats table without rescanning historical text —
# the daily-ingestion production shape (same mandate as
# xjs.pipeline.incremental for simhash components).
#
# State: one parquet table (line_md5, n_lines, n_docs, ok) where ok is
# the encoded min-(doc, line_no) owner.  All three merge exactly under
# slice union: counts SUM (docs are disjoint across slices — each doc
# is ingested exactly once, so per-slice distinct-doc counts add),
# owners MIN.  Hence after any slice sequence the state equals
# duplicated_lines() over the full corpus — the oracle's claim — and
# cleaning any slice against the final state equals the batch removal
# restricted to that slice (removal of a doc depends only on the
# duplicate set + owner identity, both state-derived).
#
# 100 TB shape: each run touches the new slice's text once (the narrow
# line cut); the merge is a partial-agg groupBy over state-size +
# slice-distinct-line rows, all id/digest-width — historical text is
# never re-read.  Replay-safe: a complete (_SUCCESS) state dir is never
# recomputed.
# --------------------------------------------------------------------------

def _slice_line_stats(df: DataFrame, id_col: str, text_col: str,
                      min_chars: int, sep: str = "\n") -> DataFrame:
    enc = F.col(id_col).cast("long") * _OWNER_ENC + F.col("line_no")
    return (
        _candidates(df, id_col, text_col, min_chars, sep)
        .groupBy("line_md5")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count_distinct(F.col(id_col)).alias("n_docs"),
            F.min(enc).alias("ok"),
        )
    )


def line_state_update(
    spark: SparkSession,
    new_df: DataFrame,
    state_out: str,
    state_in: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = MIN_CHARS,
    sep: str = "\n",
) -> None:
    """Fold a new corpus slice (doc_id, text) into line-dedup state.
    ``state_in=None`` bootstraps.  No-op if ``state_out`` is already
    complete (kill/re-submit safe).  Slices must carry disjoint doc
    ids (each doc ingested exactly once) for n_docs to merge exactly.
    ``sep`` picks the grain (the paragraph form folds with
    sep=PARA_SEP; the separator is part of the state contract — mixing
    grains in one state dir is caller error)."""
    if state.complete(state_out):
        return
    fresh = _slice_line_stats(new_df, id_col, text_col, min_chars, sep)
    if state_in is not None:
        old = spark.read.parquet(state_in)
        fresh = old.unionByName(fresh)
    merged = fresh.groupBy("line_md5").agg(
        F.sum("n_lines").alias("n_lines"),
        F.sum("n_docs").alias("n_docs"),
        F.min("ok").alias("ok"),
    )
    merged.write.mode("overwrite").parquet(state_out)


def duplicated_from_state(
    spark: SparkSession, state_dir: str, min_count: int = MIN_COUNT
) -> DataFrame:
    """The ``duplicated_lines`` answer over everything folded so far,
    computed from state alone (same schema, drop-in for
    ``line_dedup_remove(dups=...)``)."""
    st = spark.read.parquet(state_dir)
    return st.filter(F.col("n_lines") >= min_count).select(
        "line_md5",
        "n_lines",
        "n_docs",
        F.floor(F.col("ok") / _OWNER_ENC).cast("long").alias("owner_doc"),
        (F.col("ok") % _OWNER_ENC).cast("int").alias("owner_line"),
    )


def q_line_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the line corpus as three interleaved daily slices
    (doc_id % 3) through incremental state; the oracle recomputes the
    duplicate-line table from the full corpus in one batch."""
    corpus = line_corpus(spark, sf_dir)
    fold = partial(line_state_update, spark)
    with state.replay_slices(corpus, fold, "incr-lines-") as final:
        return duplicated_from_state(spark, final).localCheckpoint(eager=True)


def oracle_line_dedup_incremental_sql() -> str:
    return oracle_line_dedup_lines_sql()


#: bumping this rebuilds the bench's materialized line corpus
LINE_SCALE_VERSION = 1


def line_page_transform(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Derive multi-line pages from single-line docs for bench/fixture
    use: body lines cut from the text (duplicated wherever the source
    text is), ONE unique line per doc, a corpus-wide banner (the
    mega-hot line) and a 7-family footer — the line-duplication
    profile of real crawled pages (most lines shared, some unique)."""
    body = F.replace(F.col(text_col), F.lit(" value "), F.lit("\n"))
    txt = F.concat(
        body,
        F.lit("\nrow "),
        F.col(id_col).cast("string"),
        F.lit("\n" + _BANNER + "\n" + _FOOTER),
        (F.col(id_col) % 7).cast("string"),
    )
    return df.select(id_col, txt.alias(text_col))


def q_line_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicated_lines(line_corpus(spark, sf_dir))


def q_line_dedup_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    return line_dedup_remove(line_corpus(spark, sf_dir))


def _lines_ctes() -> str:
    return f"""
WITH {DUCKDB_LINE_CORPUS_CTE.strip()},
lines AS (
    SELECT doc_id, i - 1 AS line_no, l[i] AS line
    FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM line_corpus) t,
         unnest(range(1, len(l) + 1)) AS r(i)
),
cand AS (
    SELECT doc_id, line_no, md5(line) AS line_md5
    FROM lines WHERE length(line) >= {MIN_CHARS} AND line_no < {_OWNER_ENC}
),
dups AS (
    SELECT line_md5, COUNT(*) AS n_lines, COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id * {_OWNER_ENC} + line_no) AS ok
    FROM cand GROUP BY 1 HAVING COUNT(*) >= {MIN_COUNT}
)
"""


def oracle_line_dedup_lines_sql() -> str:
    return _lines_ctes() + f"""
SELECT line_md5, n_lines, n_docs,
       ok // {_OWNER_ENC} AS owner_doc,
       (ok % {_OWNER_ENC})::INT AS owner_line
FROM dups
"""


def oracle_line_dedup_remove_sql() -> str:
    return _lines_ctes() + f"""
, flagged AS (
    SELECT c.doc_id, c.line_no
    FROM cand c JOIN dups d USING (line_md5)
    WHERE NOT (c.doc_id = d.ok // {_OWNER_ENC}
               AND c.line_no = d.ok % {_OWNER_ENC})
)
SELECT lc.doc_id, COALESCE(k.clean_text, '') AS clean_text
FROM line_corpus lc
LEFT JOIN (
    SELECT l.doc_id,
           string_agg(l.line, chr(10) ORDER BY l.line_no) AS clean_text
    FROM lines l
    LEFT JOIN flagged f ON f.doc_id = l.doc_id AND f.line_no = l.line_no
    WHERE f.doc_id IS NULL
    GROUP BY l.doc_id
) k USING (doc_id)
"""


# --------------------------------------------------------------------------
# paragraph grain — CCNet's actual dedup unit is the paragraph (its
# per-shard hash dedup keys normalized PARAGRAPHS, not lines); the
# machinery above is grain-agnostic via ``sep``, so the paragraph form
# is the same oracle-checked code path with sep='\n\n'.  The fixture
# derives paragraph-structured pages with a corpus-wide banner
# paragraph (the mega-hot key) and a 7-family footer paragraph.
# --------------------------------------------------------------------------

PARA_SEP = "\n\n"


def duplicated_paragraphs(df: DataFrame, **kw) -> DataFrame:
    """duplicated_lines at paragraph grain (owner columns keep the
    generic line_* names: line_no is the paragraph index)."""
    return duplicated_lines(df, sep=PARA_SEP, **kw)


def paragraph_dedup_remove(df: DataFrame, dups: DataFrame | None = None,
                           **kw) -> DataFrame:
    """line_dedup_remove at paragraph grain: every non-owner
    occurrence of a corpus-duplicated paragraph removed, pages
    rejoined with '\\n\\n' byte-faithfully."""
    return line_dedup_remove(df, dups=dups, sep=PARA_SEP, **kw)


def paragraph_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    body = F.replace(F.col("text"), F.lit(" value "), F.lit(PARA_SEP))
    txt = F.concat(
        body,
        F.lit(PARA_SEP + _BANNER + PARA_SEP + _FOOTER),
        (F.col("doc_id") % 7).cast("string"),
    )
    return d.select("doc_id", txt.alias("text"))


def q_paragraph_dedup_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    return paragraph_dedup_remove(paragraph_corpus(spark, sf_dir))


def oracle_paragraph_dedup_remove_sql() -> str:
    """The line-remove oracle restated at paragraph grain — DuckDB's
    multi-char string_split has the same non-overlapping left-to-right
    rule as Spark's split, so the grain change is just the separator."""
    sep = "chr(10) || chr(10)"
    return f"""
WITH para_corpus AS (
    SELECT doc_id,
           replace(text, ' value ', chr(10) || chr(10))
           || chr(10) || chr(10) || '{_BANNER}'
           || chr(10) || chr(10) || '{_FOOTER}' || (doc_id % 7)::VARCHAR
               AS text
    FROM documents
),
paras AS (
    SELECT doc_id, i - 1 AS line_no, l[i] AS line
    FROM (SELECT doc_id, string_split(text, {sep}) AS l
          FROM para_corpus) t,
         unnest(range(1, len(l) + 1)) AS r(i)
),
cand AS (
    SELECT doc_id, line_no, md5(line) AS line_md5
    FROM paras WHERE length(line) >= {MIN_CHARS} AND line_no < {_OWNER_ENC}
),
dups AS (
    SELECT line_md5, COUNT(*) AS n_lines,
           MIN(doc_id * {_OWNER_ENC} + line_no) AS ok
    FROM cand GROUP BY 1 HAVING COUNT(*) >= {MIN_COUNT}
),
flagged AS (
    SELECT c.doc_id, c.line_no
    FROM cand c JOIN dups d USING (line_md5)
    WHERE NOT (c.doc_id = d.ok // {_OWNER_ENC}
               AND c.line_no = d.ok % {_OWNER_ENC})
)
SELECT pc.doc_id, COALESCE(k.clean_text, '') AS clean_text
FROM para_corpus pc
LEFT JOIN (
    SELECT p.doc_id,
           string_agg(p.line, {sep} ORDER BY p.line_no) AS clean_text
    FROM paras p
    LEFT JOIN flagged f ON f.doc_id = p.doc_id AND f.line_no = p.line_no
    WHERE f.doc_id IS NULL
    GROUP BY p.doc_id
) k USING (doc_id)
"""


def line_dedup_within_doc(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = MIN_CHARS,
    sep: str = "\n",
) -> DataFrame:
    """(id, clean_text): every repeat of a line WITHIN the same
    document removed, first occurrence kept — the intra-document half
    of line cleanup (RefinedWeb's in-page repetition removal; the
    corpus-wide functions above deliberately leave within-doc repeats
    to their owner rule only when the line is duplicated ACROSS docs).
    Sub-``min_chars`` lines are never removed (blank separator lines
    survive verbatim).

    Scale shape: one doc-keyed window over (doc, digest, line_no) —
    the ONLY exchange is on the doc id (no corpus-wide digest key at
    all, so no hot-line skew class exists here); removal is the same
    narrow index-array splice as line_dedup_remove, corpus text never
    shuffled."""
    from pyspark.sql.window import Window

    cand = _candidates(df, id_col, text_col, min_chars, sep)
    win = Window.partitionBy(id_col, "line_md5").orderBy("line_no")
    dup_pos = (
        cand.withColumn("_rk", F.row_number().over(win))
        .filter(F.col("_rk") > 1)
        .select(id_col, "line_no")
    )
    removed = dup_pos.groupBy(id_col).agg(
        F.collect_list("line_no").alias("_rm")
    )
    rm = F.coalesce(F.col("_rm"), F.array().cast("array<int>"))
    kept = F.filter(
        F.split(F.col(text_col), re.escape(sep), -1),
        lambda line, i: ~F.array_contains(rm, i),
    )
    return df.join(removed, id_col, "left").select(
        F.col(id_col), F.concat_ws(sep, kept).alias("clean_text")
    )


def within_doc_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """line_corpus plus stated WITHIN-doc repeats: a second banner at
    doc_id % 4 == 0 and a second footer at % 9 == 0 (the base fixture
    has no intra-doc repeats — verified degenerate before this
    injection existed)."""
    base = line_corpus(spark, sf_dir)
    i = F.col("doc_id")
    txt = F.concat(
        F.col("text"),
        F.when(i % 4 == 0, F.lit("\n" + _BANNER)).otherwise(F.lit("")),
        F.when(i % 9 == 0,
               F.concat(F.lit("\n" + _FOOTER), (i % 7).cast("string")))
         .otherwise(F.lit("")),
    )
    return base.select("doc_id", txt.alias("text"))


def q_line_dedup_within_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return line_dedup_within_doc(within_doc_corpus(spark, sf_dir))


def oracle_line_dedup_within_doc_sql() -> str:
    return f"""
WITH {DUCKDB_LINE_CORPUS_CTE.strip()},
within_corpus AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 4 = 0 THEN chr(10) || '{_BANNER}'
              ELSE '' END
           || CASE WHEN doc_id % 9 = 0
              THEN chr(10) || '{_FOOTER}' || (doc_id % 7)::VARCHAR
              ELSE '' END AS text
    FROM line_corpus
),
lines AS (
    SELECT doc_id, i - 1 AS line_no, l[i] AS line
    FROM (SELECT doc_id, string_split(text, chr(10)) AS l
          FROM within_corpus) t,
         unnest(range(1, len(l) + 1)) AS r(i)
),
dup_pos AS (
    SELECT doc_id, line_no
    FROM (SELECT doc_id, line_no,
                 row_number() OVER (PARTITION BY doc_id, md5(line)
                                    ORDER BY line_no) AS rk
          FROM lines
          WHERE length(line) >= {MIN_CHARS} AND line_no < {_OWNER_ENC})
    WHERE rk > 1
)
SELECT lc.doc_id, COALESCE(k.clean_text, '') AS clean_text
FROM within_corpus lc
LEFT JOIN (
    SELECT l.doc_id,
           string_agg(l.line, chr(10) ORDER BY l.line_no) AS clean_text
    FROM lines l
    LEFT JOIN dup_pos d ON d.doc_id = l.doc_id AND d.line_no = l.line_no
    WHERE d.doc_id IS NULL
    GROUP BY l.doc_id
) k USING (doc_id)
"""
