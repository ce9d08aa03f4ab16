"""Hyperlink extraction + link-graph statistics — the web-graph side
of a crawl pipeline: outlinks feed frontier scheduling, in-degree is a
classic page-quality prior, and cross-domain degree skew is exactly
the hot-key profile the engine's skew machinery exists for.

Extraction contract (exact, so the oracle can restate it): href
attribute values in single or double quotes, attribute name
case-insensitive; KEEP absolute http(s) urls verbatim and
root-relative paths ("/...") resolved against the page url's
scheme+host; DROP everything else (fragments, mailto:, javascript:,
protocol-relative, empty).  One output row per kept occurrence.

Scale shape: extraction is one scan-fused regexp_extract_all +
array transform/filter + explode — narrow, zero shuffle, output
proportional to link count.  Degree aggregation is one partial-agg
groupBy on target domain; hub domains are HOT by nature (the fixture
builds that skew in deliberately), and count/count_distinct partials
absorb it map-side.

Fixture + constructive oracle: ``linked_page_corpus`` embeds three
kept links per page as pure formulas of (doc_id, source) — a
root-relative self-domain link, an absolute same-domain link, and a
cross-domain link to one of three HUB domains (doc_id % 3: the skew)
— plus junk (fragment/mailto/javascript) that must be dropped, under
both quoting styles and attr cases.  The DuckDB oracles restate the
FORMULAS, never the parse, so green rows prove the extractor inverts
the page builder.

The reference engine (/root/reference, a schema validator) has no
corpus operators; this op belongs to the training-data-pipeline
mandate (SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xjs.pipeline.text import tokens

HREF_RE = r"""(?i)href\s*=\s*["']([^"']*)["']"""


def extract_links_col(url: Column, html: Column) -> Column:
    """Array of kept link urls (absolute http(s) verbatim;
    root-relative resolved against the page's scheme+host)."""
    raw = F.regexp_extract_all(html, F.lit(HREF_RE), 1)
    origin = F.regexp_extract(url, r"^(https?://[^/]+)", 1)
    resolved = F.transform(
        raw,
        lambda h: F.when(h.rlike("^https?://"), h)
        .when(h.startswith("/") & ~h.startswith("//"),
              F.concat(origin, h))
        .otherwise(F.lit(None)),
    )
    return F.filter(resolved, lambda x: x.isNotNull())


def html_extract_links(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, url, link) — one row per kept href occurrence."""
    return df.filter(F.col(html_col).isNotNull()).select(
        id_col, url_col,
        F.explode(extract_links_col(F.col(url_col), F.col(html_col)))
        .alias("link"),
    )


def link_graph_degrees(links: DataFrame) -> DataFrame:
    """(target_domain, in_links, n_src_domains) — in-degree stats at
    target-domain grain; one partial-agg shuffle."""
    src_domain = F.regexp_extract("url", r"^https?://([^/]+)", 1)
    dst_domain = F.regexp_extract("link", r"^https?://([^/]+)", 1)
    return (links
            .select(src_domain.alias("src_domain"),
                    dst_domain.alias("target_domain"))
            .groupBy("target_domain")
            .agg(F.count(F.lit(1)).alias("in_links"),
                 F.count_distinct("src_domain").alias("n_src_domains")))


PR_SCALE = 1_000_000
PR_DAMPING_PCT = 85


def pagerank_int(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = PR_SCALE,
    damping_pct: int = PR_DAMPING_PCT,
) -> DataFrame:
    """(node, score): fixed-iteration PageRank in INTEGER arithmetic —
    the repo's exactness pattern applied to the one iterative
    algorithm of the family, so the unrolled SQL oracle bit-matches
    instead of chasing float drift.

    Defined contract (documented variant, restated by the oracle):
    scores start at ``scale``; each iteration every node sends
    floor(score / out_degree) along each outlink and receives
    new = floor(scale*(100-damping_pct)/100)
        + floor(damping_pct * received / 100);
    dangling mass is dropped (not redistributed).  Self-loops and
    duplicate edges are removed up front.

    Scale shape: per iteration ONE join of the (node, score) table to
    the degree-annotated edge list on src + one partial-agg groupBy on
    dst — hub in-degree skew is absorbed map-side like any count.  The
    edge list is derived ONCE and cut with localCheckpoint (the
    clusters.py pointer-jumping pattern): without the cut, every
    iteration's plan re-derives the edge extraction (regexp over html
    at the call sites here) once per reference — measured as 24
    Exchanges for 3 iterations vs ~10 after.

    Setup rides ONE src-keyed shuffle (r6: setup, not the iterations,
    was ~90% of the row): repartition(src) -> groupBy(src, dst) dedup
    (subset partitioning, no second exchange) -> out_degree as a
    window count over the same partitioning — replacing the previous
    distinct + groupBy(src) + join + repartition chain (3 edge-table
    shuffles and an SMJ).  nodes drops its redundant repartition (the
    distinct aggregation already leaves the table node-partitioned).

    ``persist()`` rather than ``localCheckpoint`` (r6 second pass): a
    checkpointed table scans back as an ExistingRDD with UNKNOWN
    partitioning, so every iteration re-shuffled both e_deg (on src)
    and nodes (on node) — 2 edge/node-table Exchanges per iteration in
    the plan audit.  The cached plan keeps its hashpartitioning +
    sort order, the per-iteration joins see their requirements already
    satisfied, and only the score/contrib sides move (guide §2.4:
    establish the partitioning once and reuse it)."""
    from pyspark.sql import Window

    e_deg = (edges.filter(F.col("src") != F.col("dst"))
             .select("src", "dst")
             .repartition("src")
             .distinct()  # subset partitioning: no second exchange
             .withColumn(
                 "outd", F.count(F.lit(1)).over(Window.partitionBy("src")))
             .persist())
    nodes = (e_deg.select(F.col("src").alias("node"))
             .unionByName(e_deg.select(F.col("dst").alias("node")))
             .distinct()
             .persist())
    base = scale * (100 - damping_pct) // 100
    scores = nodes.select("node", F.lit(scale).cast("long").alias("score"))
    for _ in range(iterations):
        contrib = (e_deg.join(scores.withColumnRenamed("node", "src"),
                              "src")
                   .select(F.col("dst").alias("node"),
                           F.expr("score div outd").alias("c")))
        recv = contrib.groupBy("node").agg(F.sum("c").alias("r"))
        scores = nodes.join(recv, "node", "left").select(
            "node",
            (F.lit(base).cast("long")
             + F.expr(f"({damping_pct} * coalesce(r, 0L)) div 100"))
            .alias("score"),
        )
    return scores


# ---------------------------------------------------------------------------
# fixture + queries + constructive oracles
# ---------------------------------------------------------------------------


def linked_pages_from(d: DataFrame) -> DataFrame:
    """(doc_id, url, html) from any (doc_id, source) frame — the link
    fixture as a pure projection, so bench can build it over the
    factor-scaled page table at 1M+ docs."""
    doc_id, src = F.col("doc_id"), F.col("source")
    url = F.concat(F.lit("https://"), src, F.lit(".example.com/doc/"),
                   doc_id.cast("string"))
    page = F.concat(
        F.lit("<html><body><a href=\"/doc/"),
        (doc_id + 7).cast("string"),
        F.lit("\">next</a> <A HREF='https://"), src,
        F.lit(".example.com/doc/"), (doc_id * 2).cast("string"),
        F.lit("'>twice</A> <a class=\"x\" href=\"https://hub"),
        F.pmod(doc_id, F.lit(3)).cast("string"),
        F.lit(".example.com/t/"), F.pmod(doc_id, F.lit(50)).cast("string"),
        F.lit("\">hub</a> <a href=\"#frag\">f</a>"
              " <a href='mailto:x@y.z'>m</a>"
              " <a href=\"javascript:void(0)\">j</a></body></html>"),
    )
    html = F.when(doc_id % 211 == 0, F.lit(None).cast("string")) \
        .otherwise(page)
    return d.select(doc_id, url.alias("url"), html.alias("html"))


def linked_page_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, url, html): pages whose links are pure formulas of
    (doc_id, source) under both quoting styles + junk to drop."""
    return linked_pages_from(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))


def link_edges_from(d: DataFrame) -> DataFrame:
    """(src, dst) url edges from any (doc_id, source) frame — the
    fixture's three kept links restated as the same formulas the
    oracle CTE uses, skipping html synthesis + parsing.  Bench uses
    this to price the PageRank iterations themselves rather than
    re-billing extraction (which the html_links row prices)."""
    doc_id, src = F.col("doc_id"), F.col("source")
    page_url = F.concat(F.lit("https://"), src, F.lit(".example.com/doc/"),
                        doc_id.cast("string"))
    pages = d.filter(doc_id % 211 != 0).select(
        doc_id, src.alias("source"), page_url.alias("url"))
    did, s = F.col("doc_id"), F.col("source")
    out = []
    for target in (
        F.concat(F.lit("https://"), s, F.lit(".example.com/doc/"),
                 (did + 7).cast("string")),
        F.concat(F.lit("https://"), s, F.lit(".example.com/doc/"),
                 (did * 2).cast("string")),
        F.concat(F.lit("https://hub"), F.pmod(did, F.lit(3)).cast("string"),
                 F.lit(".example.com/t/"),
                 F.pmod(did, F.lit(50)).cast("string")),
    ):
        out.append(pages.select(F.col("url").alias("src"),
                                target.alias("dst")))
    e = out[0]
    for o in out[1:]:
        e = e.unionByName(o)
    return e


def q_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    return html_extract_links(linked_page_corpus(spark, sf_dir))


def q_link_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return link_graph_degrees(q_html_links(spark, sf_dir))


#: the three kept links restated as SQL formulas (the oracle never
#: parses html)
_LINKS_CTE = """
pages AS (
    SELECT doc_id, source,
           'https://' || source || '.example.com/doc/' || doc_id AS url
    FROM documents
    WHERE doc_id % 211 != 0
),
links AS (
    SELECT doc_id, url,
           'https://' || source || '.example.com/doc/' || (doc_id + 7)
               AS link
    FROM pages
    UNION ALL
    SELECT doc_id, url,
           'https://' || source || '.example.com/doc/' || (doc_id * 2)
    FROM pages
    UNION ALL
    SELECT doc_id, url,
           'https://hub' || (doc_id % 3) || '.example.com/t/'
               || (doc_id % 50)
    FROM pages
)
"""


def oracle_html_links_sql() -> str:
    return f"WITH {_LINKS_CTE.strip()} SELECT doc_id, url, link FROM links"


def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 integer iterations) over the PAGE-grain link graph
    of the fixture corpus — the +7 chains, the doubling links, and
    the hub sinks give it real structure; hubs accumulate the mass."""
    links = q_html_links(spark, sf_dir)
    edges = links.select(F.col("url").alias("src"),
                         F.col("link").alias("dst"))
    return pagerank_int(edges, iterations=3)


def oracle_link_pagerank_sql(iterations: int = 3,
                             scale: int = PR_SCALE,
                             damping_pct: int = PR_DAMPING_PCT) -> str:
    """The SAME integer contract unrolled as SQL CTEs — one CTE per
    iteration, generated by the same loop count, so the iterative
    algorithm keeps a bit-exact oracle instead of the weaker
    rows-only check."""
    base = scale * (100 - damping_pct) // 100
    parts = [f"""
WITH {_LINKS_CTE.strip()},
edges AS (
    SELECT DISTINCT url AS src, link AS dst FROM links WHERE url != link
),
outd AS (SELECT src, COUNT(*) AS outd FROM edges GROUP BY src),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
it0 AS (SELECT node, {scale}::BIGINT AS score FROM nodes)"""]
    for k in range(1, iterations + 1):
        parts.append(f""",
it{k} AS (
    SELECT n.node,
           ({base}::BIGINT
            + (({damping_pct} * COALESCE(s.r, 0)) // 100))::BIGINT AS score
    FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(p.score // o.outd)::BIGINT AS r
        FROM edges e
        JOIN it{k - 1} p ON p.node = e.src
        JOIN outd o ON o.src = e.src
        GROUP BY e.dst) s ON s.node = n.node)""")
    parts.append(f"\nSELECT node, score FROM it{iterations}")
    return "".join(parts)


def oracle_link_graph_degrees_sql() -> str:
    return f"""
WITH {_LINKS_CTE.strip()}
SELECT regexp_extract(link, '^https?://([^/]+)', 1) AS target_domain,
       COUNT(*) AS in_links,
       COUNT(DISTINCT regexp_extract(url, '^https?://([^/]+)', 1))
           AS n_src_domains
FROM links
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# anchor text: extraction + per-target-domain term aggregation
# ---------------------------------------------------------------------------

#: (href, anchor) pairs.  Anchor contract (exact, RE2-compatible, no
#: backreferences): the element's IMMEDIATE text — anchors whose
#: content contains any nested tag (`<`) are dropped, documented
#: limitation (same naive-tag tier as html.extract_text).
ANCHOR_RE = r"""(?i)<a\b[^>]*href\s*=\s*["']([^"']*)["'][^>]*>([^<]*)</a>"""


def extract_anchor_pairs_col(url: Column, html: Column) -> Column:
    """Array of (link, anchor) structs under the same keep/resolve
    rules as ``extract_links_col``; two regexp_extract_all passes over
    the SAME pattern align positionally, so zip_with pairs each href
    with its own anchor text."""
    hrefs = F.regexp_extract_all(html, F.lit(ANCHOR_RE), 1)
    texts = F.regexp_extract_all(html, F.lit(ANCHOR_RE), 2)
    origin = F.regexp_extract(url, r"^(https?://[^/]+)", 1)
    pairs = F.zip_with(
        hrefs, texts,
        lambda h, t: F.struct(
            F.when(h.rlike("^https?://"), h)
            .when(h.startswith("/") & ~h.startswith("//"),
                  F.concat(origin, h))
            .otherwise(F.lit(None)).alias("link"),
            t.alias("anchor"),
        ),
    )
    return F.filter(pairs, lambda p: p.getField("link").isNotNull())


def html_anchor_pairs(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, url, link, anchor) — one row per kept anchor element.
    Scan-fused: regexp_extract_all x2 + zip_with + explode, zero
    shuffle, output proportional to anchor count."""
    p = F.explode(
        extract_anchor_pairs_col(F.col(url_col), F.col(html_col))
    ).alias("p")
    return (df.filter(F.col(html_col).isNotNull())
            .select(id_col, url_col, p)
            .select(id_col, url_col,
                    F.col("p.link").alias("link"),
                    F.col("p.anchor").alias("anchor")))


def anchor_text_terms(pairs: DataFrame, k: int = 5) -> DataFrame:
    """(target_domain, term, cnt, rank): the top-``k`` whitespace
    anchor terms pointing at each target domain — the classic
    anchor-text relevance signal (what the web calls a page).

    Scale shape: one narrow term explode + ONE partial-agg shuffle on
    (domain, term) — hub domains are hot but partials absorb them
    map-side; the top-k window runs over the AGGREGATED (domain, term)
    table partitioned by domain, never over raw anchor rows."""
    from pyspark.sql import Window

    dst = F.regexp_extract("link", r"^https?://([^/]+)", 1)
    terms = (pairs
             .filter(F.length(F.trim("anchor")) > 0)
             .select(dst.alias("target_domain"),
                     F.explode(tokens(F.col("anchor")))
                     .alias("term"))
             .groupBy("target_domain", "term")
             .agg(F.count(F.lit(1)).alias("cnt")))
    w = Window.partitionBy("target_domain").orderBy(
        F.col("cnt").desc(), F.col("term").asc())
    return (terms.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def anchor_pages_from(d: DataFrame) -> DataFrame:
    """(doc_id, url, html): pages whose anchors are pure formulas of
    (doc_id, source) — three kept anchors plus a nested-tag anchor and
    a fragment href that must be dropped.  The DuckDB oracle restates
    the FORMULAS (never parses html), so a green row proves the
    extractor inverts this builder."""
    doc_id, src = F.col("doc_id"), F.col("source")
    url = F.concat(F.lit("https://"), src, F.lit(".example.com/doc/"),
                   doc_id.cast("string"))
    page = F.concat(
        F.lit("<html><body><a href=\"/doc/"),
        (doc_id + 7).cast("string"),
        F.lit("\">next page "), F.pmod(doc_id, F.lit(5)).cast("string"),
        F.lit("</a> <A HREF='https://"), src,
        F.lit(".example.com/doc/"), (doc_id * 2).cast("string"),
        F.lit("'>visit "), src,
        F.lit("</A> <a class=\"x\" href=\"https://hub"),
        F.pmod(doc_id, F.lit(3)).cast("string"),
        F.lit(".example.com/t/"), F.pmod(doc_id, F.lit(50)).cast("string"),
        F.lit("\">hub topic "), F.pmod(doc_id, F.lit(50)).cast("string"),
        F.lit("</a> <a href=\"/nested\"><b>bold</b></a>"
              " <a href=\"#frag\">skip me</a></body></html>"),
    )
    html = F.when(doc_id % 211 == 0, F.lit(None).cast("string")) \
        .otherwise(page)
    return d.select(doc_id, url.alias("url"), html.alias("html"))


def q_html_anchor_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "source")
    return anchor_text_terms(html_anchor_pairs(anchor_pages_from(d)), k=5)


def oracle_html_anchor_terms_sql(k: int = 5) -> str:
    # the three kept anchors' terms restated as formulas; the
    # nested-tag and fragment anchors never appear
    return f"""
WITH pages AS (
    SELECT doc_id, source FROM documents WHERE doc_id % 211 != 0
),
terms AS (
    SELECT source || '.example.com' AS target_domain, 'next' AS term FROM pages
    UNION ALL
    SELECT source || '.example.com', 'page' FROM pages
    UNION ALL
    SELECT source || '.example.com', (doc_id % 5)::VARCHAR FROM pages
    UNION ALL
    SELECT source || '.example.com', 'visit' FROM pages
    UNION ALL
    SELECT source || '.example.com', source FROM pages
    UNION ALL
    SELECT 'hub' || (doc_id % 3) || '.example.com', 'hub' FROM pages
    UNION ALL
    SELECT 'hub' || (doc_id % 3) || '.example.com', 'topic' FROM pages
    UNION ALL
    SELECT 'hub' || (doc_id % 3) || '.example.com',
           (doc_id % 50)::VARCHAR FROM pages
),
counts AS (
    SELECT target_domain, term, COUNT(*) AS cnt
    FROM terms GROUP BY target_domain, term
)
SELECT target_domain, term, cnt, rank FROM (
    SELECT target_domain, term, cnt,
           ROW_NUMBER() OVER (PARTITION BY target_domain
                              ORDER BY cnt DESC, term ASC) AS rank
    FROM counts)
WHERE rank <= {k}
"""
