"""HTML -> text extraction — the first stage of every web-corpus
pipeline (the CCNet/trafilatura slot): strip script/style subtrees,
drop tags, normalize whitespace, decode the core character entities.

The extractor is deliberately a DEFINED, exact contract rather than a
best-effort heuristic, so it is pure Catalyst (a regexp_replace chain
fused into the scan: zero shuffle, zero Python) with a bit-exact DuckDB
twin.  Order matters and is part of the contract:

1. remove <script>/<style> subtrees (non-greedy, case-insensitive,
   dotall — RE2-compatible: no backreferences, so the two tag names are
   separate patterns),
2. strip ALL remaining tags to a single space (naive ``<[^>]*>``; a
   ``>`` inside an attribute value truncates that tag early — the
   documented naive-extractor limitation),
3. collapse ASCII whitespace runs (the Java-``\\s`` class, explicit so
   Spark and DuckDB agree) and trim,
4. decode entities LAST — ``&lt;script&gt;`` in body text must never
   be stripped as a tag, and ``&amp;lt;`` must decode to the literal
   ``&lt;`` (single pass, ``&amp;`` handled after the others).

NULL html propagates NULL.  Step 4 can re-introduce whitespace-class
chars only via ``&nbsp;`` -> U+00A0, which is NOT ASCII whitespace —
post-decode text is stable under step 3's collapse by construction.

Scale shape: one narrow projection over the html column — at 100 TB
this is scan speed; the oracle row's page corpus is synthesized from
``documents`` with entities/scripts injected at fixed residues, and the
oracle states the EXPECTED text constructively (from the synthesis
formula, not by mirroring the regex chain), so a green row proves the
extractor actually inverts the page builder.

The reference engine has no corpus operators; this op belongs to the
training-data-pipeline mandate (SURVEY.md §2.9 family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xjs.pipeline.text import WS_CHARS

_WS = f"[{WS_CHARS}]"

#: (entity, replacement) — order is the contract; &amp; strictly last
ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def extract_text_col(html: Column) -> Column:
    """The extraction chain as a Column expression (castable binary or
    string input)."""
    s = html.cast("string")
    s = F.regexp_replace(s, r"(?is)<script\b[^>]*>.*?</script>", " ")
    s = F.regexp_replace(s, r"(?is)<style\b[^>]*>.*?</style>", " ")
    s = F.regexp_replace(s, r"(?s)<[^>]*>", " ")
    s = F.trim(F.regexp_replace(s, _WS + "+", " "))
    for ent, rep in ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(rep))
    return s


def html_extract_text(
    df: DataFrame, html_col: str = "html", out_col: str = "extracted_text"
) -> DataFrame:
    """df + ``out_col``: the extraction contract applied to every row —
    one narrow scan-fused projection, no shuffle (plan-asserted in
    tests/test_html.py)."""
    return df.withColumn(out_col, extract_text_col(F.col(html_col)))


# --------------------------------------------------------------------------
# synthetic page corpus: deterministic rich pages from `documents`, with
# scripts/styles/entities/null-html at fixed residues (the webpages
# injection convention)
# --------------------------------------------------------------------------

# body suffix present on every non-null page: every entity in the
# contract, decoded by a correct extractor into EXPECT_TAIL
_ENTITY_SNIPPET = (
    "Tom &amp; Jerry &lt;3 &quot;quotes&quot; &#39;s &gt; nbsp&nbsp;end"
)
_EXPECT_TAIL = "Tom & Jerry <3 \"quotes\" 's > nbsp end"


def page_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    doc_id, src, text = F.col("doc_id"), F.col("source"), F.col("text")
    page = F.concat(
        F.lit("<html><head><title>"), src, F.lit("</title>"),
        F.lit('<script type="text/javascript">var page = "'), src,
        F.lit('"; if (1 > 0) { render(); }</script>'),
        F.lit("<STYLE>.c { color: red; }</STYLE>"),
        F.lit('</head><body><h1 class="hero">'), src, F.lit(" daily</h1>\n<p>"),
        text, F.lit("</p>\n<p>"), F.lit(_ENTITY_SNIPPET),
        F.lit("</p><div>page "), doc_id.cast("string"),
        F.lit("</div></body></html>"),
    )
    html = F.when(doc_id % 211 == 0, F.lit(None).cast("string")).otherwise(page)
    return d.select(doc_id, src.alias("source"), text, html.alias("html"))


_PAGE_SQL = (
    "CASE WHEN doc_id % 211 = 0 THEN NULL ELSE "
    "'<html><head><title>' || source || '</title>"
    "<script type=\"text/javascript\">var page = \"' || source || "
    "'\"; if (1 > 0) { render(); }</script>"
    "<STYLE>.c { color: red; }</STYLE>"
    "</head><body><h1 class=\"hero\">' || source || ' daily</h1>' || chr(10) || "
    "'<p>' || text || '</p>' || chr(10) || "
    "'<p>Tom &amp; Jerry &lt;3 &quot;quotes&quot; &#39;s &gt; "
    "nbsp&nbsp;end</p><div>page ' || doc_id || '</div></body></html>' END"
)


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return html_extract_text(page_corpus(spark, sf_dir)).select(
        "doc_id", "extracted_text"
    )


def oracle_html_extract_sql() -> str:
    """CONSTRUCTIVE oracle: the expected text comes from the synthesis
    formula (title + h1 + body text + decoded entity tail + footer),
    never from re-running the extraction chain — a green row proves the
    extractor inverts the page builder, including script/style removal
    (neither 'var page' nor 'color: red' may survive), the '>' inside
    the script (subtree removal must not stop at it), tag-case
    insensitivity (<STYLE>), and the entity decode order."""
    tail = _EXPECT_TAIL.replace("'", "''")
    return f"""
SELECT doc_id,
       CASE WHEN doc_id % 211 = 0 THEN NULL
            ELSE source || ' ' || source || ' daily ' || trim(text)
                 || ' ' || '{tail}' || ' page ' || doc_id
       END AS extracted_text
FROM documents
"""
