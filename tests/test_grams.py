"""Arrow gram cutter vs the pure-Catalyst HOF reference: exact
equivalence, including whitespace edge cases where Python and Java
tokenizers classically diverge (VERDICT r2 #1)."""

import pytest
from pyspark.sql import functions as F

from xjs.pipeline.grams import ngram_rows
from xjs.pipeline.text import token_ngrams

EDGE_TEXTS = [
    (1, "a b c d e f g"),            # plain
    (2, "a  b   c d e"),             # multi-space runs
    (3, "\ta b c d e"),              # leading tab -> leading empty token
    (4, "a b c d e \t"),             # trailing whitespace -> trailing empty
    (5, ""),                         # empty
    (6, "   "),                      # all spaces
    (7, "a b c"),                    # fewer than n tokens
    (8, "a b c d e"),                # exactly n tokens -> 1 gram
    (9, "x y a b c d e"),       # NBSP is NOT whitespace in Java \s
    (10, None),                      # NULL text
    (11, "w w w w w w w w"),         # repeated token (distinct grams)
    (12, "a\nb\rc\x0bd\fe f"),       # every Java \s class member
]


@pytest.fixture(scope="module")
def edge_df(spark):
    return spark.createDataFrame(EDGE_TEXTS, "doc_id bigint, text string")


def _hof_rows(df, n):
    return df.select(
        "doc_id",
        F.explode(F.array_distinct(token_ngrams(F.col("text"), n))).alias("gram"),
    )


@pytest.mark.parametrize("n", [2, 5])
def test_arrow_equals_hof_on_edge_cases(edge_df, n):
    got = ngram_rows(edge_df, ["doc_id"], "text", n)
    want = _hof_rows(edge_df, n)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_arrow_equals_hof_on_corpus(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = ngram_rows(docs, ["doc_id"], "text", 5)
    want = _hof_rows(docs, 5)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


def test_arrow_edge_windows_equal_catalyst_edge_grams(spark, sf_dir):
    """Edge-window mode (head/tail slices of long docs) must equal the
    Catalyst edge_grams form — exercised on the page-length corpus
    where the long-doc branch actually fires."""
    from xjs.pipeline.boilerplate import edge_grams, edge_regime_corpus

    docs = edge_regime_corpus(spark, sf_dir)
    got = ngram_rows(docs, ["doc_id"], "text", 5, edge_tokens=32)
    want = docs.select(
        "doc_id", F.explode(edge_grams(F.col("text"), 5, 32)).alias("gram")
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


def test_arrow_edge_windows_whitespace_long_docs(spark):
    """Long-doc edge mode uses bounded splits (head maxsplit + reversed
    tail maxsplit) — pin parity with Catalyst edge_grams on long docs
    carrying tabs, whitespace runs, and trailing separators."""
    from xjs.pipeline.boilerplate import edge_grams

    mid = " ".join(f"m{i}" for i in range(100))
    rows = [
        (1, "h0 h1\th2  h3 " + mid + " t0\tt1 t2"),   # tabs both ends
        (2, "a b c " + mid + " x y z \t"),             # trailing tab -> '' token
        (3, "\t lead " + mid + " tail"),               # leading tab -> '' token
        (4, " ".join(f"w{i}" for i in range(65))),     # just past 2*edge
        (5, " ".join(f"w{i}" for i in range(64))),     # exactly 2*edge: full path
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = ngram_rows(df, ["doc_id"], "text", 5, edge_tokens=32)
    want = df.select(
        "doc_id", F.explode(edge_grams(F.col("text"), 5, 32)).alias("gram")
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    # tokens + every Java \s member + NBSP (which is NOT Java \s) mixed
    _CHUNK = st.one_of(
        st.text(alphabet="abcXYZ09.,!", min_size=1, max_size=6),
        st.sampled_from([" ", "\t", "\n", "\x0b", "\f", "\r", "\xa0", "  ", " \t "]),
    )
    _TEXT = st.lists(_CHUNK, min_size=0, max_size=40).map("".join)

    @settings(max_examples=15, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(_TEXT, min_size=1, max_size=8), st.integers(2, 4))
    def test_gram_cutter_matches_hof_property(spark, texts, n):
        """Random whitespace-adversarial strings: the Arrow cutter and
        the Catalyst HOF form must agree exactly (tokenizer parity is
        the whole contract)."""
        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = ngram_rows(df, ["doc_id"], "text", n)
        want = _hof_rows(df, n)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
except ImportError:  # pragma: no cover
    pass


def test_boilerplate_builders_agree(spark, sf_dir):
    """The full boilerplate aggregate is builder-independent."""
    from xjs.pipeline import boilerplate

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    arrow = boilerplate.boilerplate_grams(d, "source", builder="arrow")
    hof = boilerplate.boilerplate_grams(d, "source", builder="hof")
    assert arrow.exceptAll(hof).count() == 0
    assert hof.exceptAll(arrow).count() == 0


def test_boilerplate_remove_builders_agree(spark, sf_dir):
    """Arrow str.replace removal == the Catalyst F.aggregate/F.replace
    reference fold, byte-for-byte, on the edge corpus — including
    docs with no flagged grams (null array path) and multi-gram
    sequential-removal order."""
    from pyspark.sql import functions as F

    from xjs.pipeline.boilerplate import (
        boilerplate_grams_edges,
        boilerplate_remove,
        edge_regime_corpus,
    )

    corpus = edge_regime_corpus(spark, sf_dir)
    flagged = boilerplate_grams_edges(
        corpus.select("source", "text"), "source"
    ).select("source", "gram")
    arrow = boilerplate_remove(corpus, flagged, "source", builder="arrow")
    hof = boilerplate_remove(corpus, flagged, "source", builder="hof")
    assert arrow.count() == hof.count() == corpus.count()
    assert arrow.exceptAll(hof).count() == 0
    assert hof.exceptAll(arrow).count() == 0
    # sequential-order sensitivity pinned on a handcrafted overlap:
    # removing "a b" first turns "a a b b" into "a b" which the later
    # gram "a b" also removes — both builders must agree on the chain
    docs = spark.createDataFrame(
        [(1, "s", "x a a b b y"), (2, "t", "untouched")],
        "doc_id long, source string, text string",
    )
    fl = spark.createDataFrame(
        [("s", "a b"), ("s", "b y")], "source string, gram string"
    )
    got_a = {r["doc_id"]: r["clean_text"]
             for r in boilerplate_remove(docs, fl, "source", builder="arrow").collect()}
    got_h = {r["doc_id"]: r["clean_text"]
             for r in boilerplate_remove(docs, fl, "source", builder="hof").collect()}
    assert got_a == got_h
    assert got_a[2] == "untouched"


@pytest.mark.parametrize("edge_tokens", [None, 32])
def test_count_rows_equal_ngram_rows_counts(edge_df, edge_tokens):
    """The combine-in-cutter form (ngram_count_rows, mapInArrow) must
    aggregate to exactly ngram_rows' per-(key, gram) document
    frequency on the whitespace edge cases."""
    from xjs.pipeline.grams import ngram_count_rows

    got = (
        ngram_count_rows(edge_df, ["doc_id"], "text", 2, edge_tokens)
        .groupBy("doc_id", "gram")
        .agg(F.sum("cnt").alias("c"))
    )
    want = (
        ngram_rows(edge_df, ["doc_id"], "text", 2, edge_tokens)
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_count_rows_combine_on_shared_boilerplate(spark):
    """cnt rows genuinely combine: many docs of one group sharing a
    footer must produce per-batch cnt>1 partials that sum to the doc
    frequency."""
    from xjs.pipeline.grams import ngram_count_rows

    rows = [(i, "s", f"u{i} v{i} alpha beta gamma") for i in range(200)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).coalesce(1)
    out = ngram_count_rows(df, ["source"], "text", 3)
    partials = out.where(F.col("gram") == "alpha beta gamma").collect()
    assert sum(r["cnt"] for r in partials) == 200
    # one input partition -> the shared gram collapsed into few rows
    assert len(partials) < 200


def test_boilerplate_grams_builders_agree(spark, sf_dir):
    """Detection output identical across the arrow (combine-in-cutter)
    and hof builders, full-doc and edge-window forms."""
    from xjs.pipeline.boilerplate import boilerplate_grams, boilerplate_grams_edges

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.col("lang").alias("source"), "text")
    )
    for fn in (boilerplate_grams, boilerplate_grams_edges):
        a = fn(docs, "source", builder="arrow")
        h = fn(docs, "source", builder="hof")
        assert a.exceptAll(h).count() == 0
        assert h.exceptAll(a).count() == 0


@pytest.mark.parametrize("impl", ["native"])
@pytest.mark.parametrize("edge_tokens", [None, 3, 32])
@pytest.mark.parametrize("n", [1, 2, 5])
def test_vectorized_impls_equal_python_impl(spark, edge_df, n, edge_tokens, impl):
    """The fully-vectorized cutter (ascii_split_whitespace + take +
    binary_join + Arrow group_by) must match the per-doc python loop
    row-for-row in every mode: full-document and edge-window cuts,
    distinct, count and position rows."""
    from xjs.pipeline.grams import ngram_count_rows, ngram_pos_rows

    a = ngram_rows(edge_df, ["doc_id"], "text", n, edge_tokens, impl=impl)
    b = ngram_rows(edge_df, ["doc_id"], "text", n, edge_tokens, impl="python")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0

    ca = (
        ngram_count_rows(edge_df, ["doc_id"], "text", n, edge_tokens, impl=impl)
        .groupBy("doc_id", "gram").agg(F.sum("cnt").alias("c"))
    )
    cb = (
        ngram_count_rows(edge_df, ["doc_id"], "text", n, edge_tokens, impl="python")
        .groupBy("doc_id", "gram").agg(F.sum("cnt").alias("c"))
    )
    assert ca.exceptAll(cb).count() == 0
    assert cb.exceptAll(ca).count() == 0

    if edge_tokens is None:
        pa_ = ngram_pos_rows(edge_df, ["doc_id"], "text", n, impl=impl)
        pb = ngram_pos_rows(edge_df, ["doc_id"], "text", n, impl="python")
        assert pa_.exceptAll(pb).count() == 0
        assert pb.exceptAll(pa_).count() == 0


def test_native_impl_equals_python_on_corpus(spark, sf_dir):
    """Corpus-level pin of the native path (the 'auto' default for
    full-document cuts) against the python reference."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = ngram_rows(docs, ["doc_id"], "text", 5, impl="native")
    b = ngram_rows(docs, ["doc_id"], "text", 5, impl="python")
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0
