"""Character-grain exact-substring dedup (xjs.pipeline.suffix): the
two equality-key methods (literal / rolling hash) must produce
identical spans, match a brute-force python reference, and remove
byte-faithfully."""

import random

import pytest
from pyspark.sql import functions as F

from xjs.pipeline.suffix import (
    K_CHARS,
    char_dedup_remove,
    char_span_duplicates,
)

SHARED = "the quick brown fox jumps over the lazy dog again and again tonight"


def _corpus():
    """Word-salad docs with engineered >=50-char shared passages:
    embedded quotes, shared prefixes, one exact replica, one short doc."""
    random.seed(11)

    def salad(n):
        return " ".join(
            random.choice(["alpha", "beta", "gamma", "delta", "eps"])
            for _ in range(n)
        )

    rows = []
    for i in range(40):
        t = salad(30)
        if i % 4 == 0:
            t = t[:50] + " " + SHARED + " " + t[50:]
        if i % 7 == 0:
            t = SHARED + " " + t
        rows.append((i, t))
    rows.append((100, rows[3][1]))  # exact replica of doc 3
    rows.append((101, "short"))     # < k chars: never flagged
    return rows


def _ref_spans(texts, k):
    """Brute-force reference: min-id owner per window content, gaps-
    and-islands merge."""
    owners = {}
    for d in sorted(texts):
        t = texts[d]
        for p in range(len(t) - k + 1):
            w = t[p : p + k]
            if w not in owners:
                owners[w] = d
    out = []
    for d, t in texts.items():
        ps = [
            p
            for p in range(len(t) - k + 1)
            if owners[t[p : p + k]] < d
        ]
        if not ps:
            continue
        start = prev = ps[0]
        for p in ps[1:]:
            if p > prev + k:
                out.append((d, start, prev + k))
                start = p
            prev = p
        out.append((d, start, prev + k))
    return sorted(out)


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(_corpus(), "doc_id long, text string")


def _canon(sdf):
    return sorted(tuple(r) for r in sdf.collect())


def test_spans_match_python_reference(corpus_df):
    got = _canon(char_span_duplicates(corpus_df))
    want = _ref_spans(dict(_corpus()), K_CHARS)
    assert got == want
    assert len(got) > 0


@pytest.mark.parametrize("method", ["rolling"])
def test_methods_agree_with_literal(corpus_df, method):
    lit = _canon(char_span_duplicates(corpus_df))
    other = _canon(char_span_duplicates(corpus_df, method=method))
    assert other == lit


def test_partial_span_keeps_unshared_tail(corpus_df):
    """A doc sharing only a PREFIX with a lower-id doc gets a partial
    span: removal keeps the unshared remainder (whole-doc dropping
    would over-delete — the Lee et al. motivation)."""
    spans = char_span_duplicates(corpus_df)
    cleaned = {
        r["doc_id"]: r["clean_text"]
        for r in char_dedup_remove(corpus_df, spans).collect()
    }
    texts = dict(_corpus())
    # doc 100 replicates doc 3 entirely -> cleaned to empty
    assert cleaned[100] == ""
    # doc 3 is the owner -> untouched
    assert cleaned[3] == texts[3]
    # short doc: untouched
    assert cleaned[101] == texts[101]
    # every cleaned doc is a subsequence-of-segments of its original,
    # and removal is byte-faithful vs the python reference
    ref = _ref_spans(texts, K_CHARS)
    for d, t in texts.items():
        sp = sorted((s, e) for dd, s, e in ref if dd == d)
        out, cur = [], 0
        for s, e in sp:
            out.append(t[cur:s])
            cur = e
        out.append(t[cur:])
        assert cleaned[d] == "".join(out)


def test_within_doc_repeats_alone_do_not_flag(spark):
    """Min-owner semantics: a doc repeating ITS OWN 50-char passage is
    not flagged (same id), matching the token-grain family."""
    passage = "z" * 60
    df = spark.createDataFrame(
        [(1, passage + " middle " + passage)], "doc_id long, text string"
    )
    assert char_span_duplicates(df).count() == 0


def test_unicode_chars_counted_not_bytes(spark):
    """Char offsets are codepoint offsets (Spark length/substring and
    DuckDB length/substr both count chars) — multi-byte chars must not
    desynchronize spans."""
    shared = "é" * 60  # 60 chars, 120 utf-8 bytes
    # the two docs share shared + " unique-" = 68 CHARS: duplicated
    # 50-windows start at char positions 0..18, so the span covers
    # [0, 68) in codepoints — any byte-offset confusion would shift it
    df = spark.createDataFrame(
        [(1, shared + " unique-a"), (2, shared + " unique-b")],
        "doc_id long, text string",
    )
    spans = _canon(char_span_duplicates(df))
    assert spans == [(2, 0, 68)]
    cleaned = {
        r["doc_id"]: r["clean_text"]
        for r in char_dedup_remove(df, char_span_duplicates(df)).collect()
    }
    assert cleaned[2] == "b"
    assert cleaned[1] == shared + " unique-a"


def test_key_universe_excludes_tail_positions(corpus_df):
    """Every method must emit keys only for positions with a full
    k-window (pos <= len - k + 1): equal span COUNTS per doc across
    methods already pin this, but assert the flagged-position grain
    directly via span bounds staying inside the document."""
    texts = dict(_corpus())
    for method in ("literal", "rolling"):
        for d, s, e in _canon(char_span_duplicates(corpus_df, method=method)):
            assert 0 <= s < e <= len(texts[d])


def test_no_duplicates_no_spans(spark):
    df = spark.createDataFrame(
        [(1, "completely unique text number one with nothing shared here at all ok"),
         (2, "a different unique document body that shares no fifty char run either")],
        "doc_id long, text string",
    )
    assert char_span_duplicates(df).count() == 0
    cleaned = _canon(char_dedup_remove(df, char_span_duplicates(df)))
    assert cleaned == sorted(
        (r[0], r[1]) for r in df.select("doc_id", "text").collect()
    )


def test_remove_plan_broadcasts_spans_and_keeps_text_narrow(corpus_df):
    """Scale-shape assert: the span table joins broadcast-or-small and
    the corpus text column never appears in an Exchange (document text
    is not shuffled by removal)."""
    spans = char_span_duplicates(corpus_df)
    plan = char_dedup_remove(corpus_df, spans)._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line and "text#" in line:
            raise AssertionError(f"corpus text shuffled: {line}")
