"""C4 line-filter + Gopher gate: rule-level pins, integer boundary
cases, plan shape (zero Exchange), and fixture determinism."""

import pytest
from pyspark.sql import functions as F

from xjs.pipeline import heuristics as H


def _c4(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = H.c4_stats(df, **kw).collect()
    return {r.doc_id: r for r in out}


def _gopher(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = H.gopher_features(df, **kw).collect()
    return {r.doc_id: r for r in out}


LINE_OK = "Five good words right here."          # 5 words, terminal '.'
LINE_OK2 = "Quite another fine sentence stands!"  # terminal '!'
LINE_Q = "Is this a real question?"               # terminal '?'
LINE_QUOTE = 'He said the word "done."'           # ends with '.' -- add a quote-ender below
LINE_QUOTE_END = 'She replied with one word "yes"'  # ends with '"'
LINE_SHORT = "Too few words here."                 # 4 words -> drop
LINE_NOPUNCT = "Five good words without punctuation"  # no terminal -> drop
LINE_JS = "This line uses JavaScript for styling purposes."  # drop


class TestC4Lines:
    def test_line_rules(self, spark):
        doc = "\n".join(
            [LINE_OK, LINE_SHORT, LINE_OK2, LINE_NOPUNCT, LINE_Q,
             LINE_QUOTE_END, LINE_JS]
        )
        r = _c4(spark, [(1, doc)])[1]
        assert r.n_lines == 7
        assert r.n_kept == 4  # OK, OK2, Q, QUOTE_END survive
        assert r.keep and r.reason == ""
        # byte-faithful reassembly in original order
        assert r.clean_text == "\n".join(
            [LINE_OK, LINE_OK2, LINE_Q, LINE_QUOTE_END]
        )

    def test_word_minimum_boundary(self, spark):
        four = "One two three four."
        five = "One two three four five."
        r = _c4(spark, [(1, "\n".join([four, five, LINE_OK, LINE_OK2]))])[1]
        assert r.n_kept == 3  # the 4-word line drops, 5-word keeps

    def test_javascript_case_insensitive(self, spark):
        doc = "\n".join([LINE_OK, LINE_OK2, LINE_Q,
                         "Plain javascript mention kills this line."])
        r = _c4(spark, [(1, doc)])[1]
        assert r.n_kept == 3

    def test_page_rules_and_reason_order(self, spark):
        good = "\n".join([LINE_OK, LINE_OK2, LINE_Q])
        cases = [
            (1, good),                                   # kept
            (2, good + "\nLorem Ipsum dolor."),          # lorem (case-insens)
            (3, good + "\ncode { block }"),              # brace
            (4, good + "\nlorem ipsum and also { x }"),  # lorem wins
            (5, "\n".join([LINE_OK, LINE_OK2])),         # 2 kept < 3
        ]
        r = _c4(spark, cases)
        assert r[1].keep and r[1].reason == ""
        assert r[2].reason == "lorem_ipsum"
        assert r[3].reason == "curly_brace"
        assert r[4].reason == "lorem_ipsum"
        assert r[5].reason == "too_few_lines" and r[5].n_kept == 2
        for i in (2, 3, 4, 5):
            assert r[i].clean_text is None

    def test_blocklist(self, spark):
        good = "\n".join([LINE_OK, LINE_OK2, LINE_Q])
        r = _c4(spark, [(1, good + "\nBadword appears.")],
                blocklist=("badword",))
        assert r[1].reason == "blocklist"

    def test_c4_clean_production_form(self, spark):
        good = "\n".join([LINE_OK, LINE_OK2, LINE_Q])
        df = spark.createDataFrame(
            [(1, good), (2, good + "\nlorem ipsum")],
            "doc_id long, text string",
        )
        out = H.c4_clean(df).collect()
        assert len(out) == 1 and out[0].doc_id == 1
        assert out[0].text == good

    def test_plan_zero_exchange(self, spark, sf_dir):
        df = H.q_c4_clean(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _mk(n_words=60, word="alpha"):
    return " ".join(f"{word}{i % 10}" for i in range(n_words)) + " the of"


class TestGopher:
    def test_word_count_bounds(self, spark):
        r = _gopher(spark, [(1, _mk(48)), (2, _mk(49))])
        # _mk(48) -> 50 words (the/of appended), _mk(49) -> 51
        assert r[1].n_words == 50 and "word_count" not in r[1].fail_rules
        r2 = _gopher(spark, [(1, _mk(40))])[1]
        assert r2.n_words == 42 and "word_count" in r2.fail_rules

    def test_mean_word_len_boundaries(self, spark):
        # 50 words of exactly 3 chars -> mean exactly 3: passes
        doc3 = " ".join(["the"] * 25 + ["abc"] * 24 + ["and"])
        # 49 3-char + one long word pushing mean over 10
        doc_hi = " ".join(["the"] * 49 + ["z" * 400])
        r = _gopher(spark, [(1, doc3), (2, doc_hi)])
        assert "mean_word_len" not in r[1].fail_rules
        assert r[2].word_chars == 49 * 3 + 400
        assert "mean_word_len" in r[2].fail_rules

    def test_symbol_ratio_counts(self, spark):
        # '....' counts one non-overlapping '...' (the leftover '.' is
        # not a symbol); '#' counted per char
        doc = _mk(58) + " ## ...."
        r = _gopher(spark, [(1, doc)])[1]
        assert r.n_sym == 3

    def test_symbol_ratio_exact(self, spark):
        doc = " ".join(["word"] * 58 + ["the", "of"]) + " ## ..."
        r = _gopher(spark, [(1, doc)])[1]
        assert r.n_sym == 3 and r.n_words == 62
        # 10*3 <= 62 passes
        assert "symbol_ratio" not in r.fail_rules
        doc2 = " ".join(["word"] * 48 + ["the", "of"]) + " ##### ..."
        r2 = _gopher(spark, [(1, doc2)])[1]
        assert r2.n_sym == 6 and r2.n_words == 52
        assert "symbol_ratio" in r2.fail_rules  # 60 > 52

    def test_bullet_fraction(self, spark):
        body = _mk(60)
        nine_of_ten = "\n".join(["- " + body] * 9 + [body])
        ten_of_ten = "\n".join(["- " + body] * 10)
        r = _gopher(spark, [(1, nine_of_ten), (2, ten_of_ten)])
        assert r[1].bullet_lines == 9 and r[1].n_lines == 10
        assert "bullet_frac" not in r[1].fail_rules  # 90 <= 90
        assert "bullet_frac" in r[2].fail_rules      # 100 > 90
        # unicode bullet recognized
        r3 = _gopher(spark, [(1, "\n".join(["• " + body] * 10))])[1]
        assert r3.bullet_lines == 10

    def test_ellipsis_fraction(self, spark):
        body = _mk(60)
        three_of_ten = "\n".join([body + "..."] * 3 + [body] * 7)
        four_of_ten = "\n".join([body + "…"] * 4 + [body] * 6)
        r = _gopher(spark, [(1, three_of_ten), (2, four_of_ten)])
        assert r[1].ellipsis_lines == 3
        assert "ellipsis_frac" not in r[1].fail_rules  # 30 <= 30
        assert r[2].ellipsis_lines == 4
        assert "ellipsis_frac" in r[2].fail_rules      # 40 > 30

    def test_alpha_fraction_boundary(self, spark):
        # 40 alpha + 10 numeric = exactly 80%: passes
        doc = " ".join(["word"] * 38 + ["the", "of"] + ["123"] * 10)
        r = _gopher(spark, [(1, doc)])[1]
        assert r.n_words == 50 and r.alpha_words == 40
        assert "alpha_frac" not in r.fail_rules
        doc2 = " ".join(["word"] * 37 + ["the", "of"] + ["123"] * 11)
        r2 = _gopher(spark, [(1, doc2)])[1]
        assert "alpha_frac" in r2.fail_rules

    def test_stopword_hits_distinct(self, spark):
        # repeated 'the' counts once; need >= 2 distinct required words
        doc_one = " ".join(["the"] * 25 + ["word"] * 25)
        doc_two = " ".join(["the", "and"] + ["word"] * 48)
        r = _gopher(spark, [(1, doc_one), (2, doc_two)])
        assert r[1].stop_hits == 1 and "stopwords" in r[1].fail_rules
        assert r[2].stop_hits == 2 and "stopwords" not in r[2].fail_rules

    def test_fail_rules_order_and_keep(self, spark):
        # a doc failing several rules lists them in GOPHER_RULES order
        doc = " ".join(["####"] * 10)  # few words, all symbols, no alpha
        r = _gopher(spark, [(1, doc)])[1]
        names = r.fail_rules.split(",")
        assert names == [n for n in H.GOPHER_RULES if n in set(names)]
        assert not r.keep
        good = _mk(60)
        r2 = _gopher(spark, [(1, good)])[1]
        assert r2.keep and r2.fail_rules == ""

    def test_gate_matches_features(self, spark, sf_dir):
        docs = H.gopher_corpus(spark, sf_dir)
        kept = sorted(
            r.doc_id for r in H.gopher_gate(docs).select("doc_id").collect()
        )
        feats = sorted(
            r.doc_id
            for r in H.gopher_features(docs).filter("keep").collect()
        )
        assert kept == feats and len(kept) > 0

    def test_plan_zero_exchange(self, spark, sf_dir):
        # default (arrow): one narrow MapInArrow stage, still no shuffle
        df = H.q_gopher_gate(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "MapInArrow" in plan
        # catalyst (hof) builder: no Python worker at all
        docs = H.gopher_corpus(spark, sf_dir)
        p = (
            H.gopher_features(docs, impl="hof")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        assert "MapInArrow" not in p


def test_fixture_determinism(spark, sf_dir):
    a = H.gopher_corpus(spark, sf_dir).orderBy("doc_id").collect()
    b = H.gopher_corpus(spark, sf_dir).orderBy("doc_id").collect()
    assert a == b
    c = H.c4_page_corpus(spark, sf_dir).orderBy("doc_id").collect()
    d = H.c4_page_corpus(spark, sf_dir).orderBy("doc_id").collect()
    assert c == d


class TestGopherBuilders:
    EDGE_DOCS = [
        (1, ""),                               # empty
        (2, "   \t  "),                        # whitespace only
        (3, "the"),                            # single required word
        (4, "xthe thex"),                      # substring, not a token
        (5, "- bullet line\n* starred\n• dot\nplain"),
        (6, "ends here...\n…\nno dots\ntail…"),
        (7, "12ab 12 ab a1a ---"),             # alpha-word shapes
        (8, "w....\nends....\nfour dots...."),  # '....' = one '...'
        (9, "  -  spaced bullet\n\tnot a bullet (tab)"),
        (10, "the\nof and that have with to be"),
        (11, "a\n\n\nb"),                      # empty lines
        (12, "## #... #"),
        (13, None),                            # null text -> null features
        (14, "a\xa0b the of"),                 # NBSP is NOT whitespace
        # CRLF / lone-CR endings: '\r' stays inside the line for both
        # '\n'-splitting builders, so 'crlf...\r' is NOT an ellipsis
        # line and '\r- bullet' is NOT a bullet line
        (15, "crlf...\r\nnext...\nmid\r- bullet\r\nend…"),
    ]

    def test_builders_row_identical_edges(self, spark):
        df = spark.createDataFrame(self.EDGE_DOCS, "doc_id long, text string")
        ref = sorted(H.gopher_features(df, impl="hof").collect())
        got = sorted(H.gopher_features(df, impl="arrow").collect())
        assert got == ref
        # null text propagates null features + null keep in both builders
        null_row = [r for r in ref if r.doc_id == 13][0]
        assert null_row.n_words is None and null_row.keep is None
        # NBSP stays inside the token: 'a\xa0b' is ONE 3-char word
        nbsp = [r for r in ref if r.doc_id == 14][0]
        assert nbsp.n_words == 3 and nbsp.word_chars == 3 + 3 + 2

    def test_builders_row_identical_fixture(self, spark, sf_dir):
        docs = H.gopher_corpus(spark, sf_dir)
        ref = sorted(H.gopher_features(docs, impl="hof").collect())
        got = sorted(H.gopher_features(docs, impl="arrow").collect())
        assert got == ref


#: (module, name) pairs every operator must refuse: a typo, and each
#: variant name the module no longer implements
UNKNOWN_IMPLS = [
    ("grams", "hybrid"), ("grams", "nope"),
    ("gopher", "native"), ("gopher", "nope"),
    ("suffix", "rank"), ("suffix", "hash"), ("suffix", "nope"),
    ("similarity", "pairs"), ("similarity", "nope"),
]


@pytest.mark.parametrize(
    "module,name", UNKNOWN_IMPLS, ids=[f"{m}-{n}" for m, n in UNKNOWN_IMPLS]
)
def test_unknown_impl_raises(spark, module, name):
    """An unknown implementation name raises instead of silently
    running some other implementation."""
    from xjs.pipeline import similarity
    from xjs.pipeline.grams import ngram_rows
    from xjs.pipeline.suffix import char_window_keys

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    emb = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, emb array<double>")
    build = {
        "grams": lambda: ngram_rows(docs, ["doc_id"], "text", 2, impl=name),
        "gopher": lambda: H.gopher_features(docs, impl=name),
        "suffix": lambda: char_window_keys(docs, method=name),
        "similarity": lambda: similarity.brute_force_topk_df(emb, name),
    }[module]
    with pytest.raises(ValueError):
        build()


def test_c4_null_text_explicit_drop(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "\n".join([LINE_OK, LINE_OK2, LINE_Q]))],
        "doc_id long, text string",
    )
    r = {x.doc_id: x for x in H.c4_stats(df).collect()}
    assert r[1].keep is False and r[1].reason == "null_text"
    assert r[1].clean_text is None
    assert r[2].keep is True
