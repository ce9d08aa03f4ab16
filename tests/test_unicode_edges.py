"""Unicode / whitespace edge semantics for the text + URL ops.

The DuckDB oracles run on the (ASCII) driver corpus; these pin the
behavior on inputs the corpus never contains — tabs, newlines, runs of
spaces, non-ASCII words, emoji — against a pure-Python mirror.

Semantics note (documented, deliberate): Spark compiles Java regexes
where ``\\s`` is ASCII-only, matching DuckDB's RE2 — so NBSP
(\\u00a0) is NOT a token separator in any engine of this repo.  The
Python mirrors below use ``re.ASCII`` to mirror that.
"""

import re

import pytest
from pyspark.sql import Row, functions as F

from xjs.pipeline import text, urls


def py_tokens(s: str):
    """Spark ``split(trim(s), '\\s+')``: trim strips U+0020 only, and
    empty leading/trailing fields are kept."""
    return re.split(r"\s+", s.strip(" "), flags=re.ASCII)


def py_token_count(s: str) -> int:
    return 0 if len(s.strip(" ")) == 0 else len(py_tokens(s))


def py_bpe_count(s: str) -> int:
    return len(re.findall(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]", s, flags=re.ASCII))


CASES = [
    "",
    "   ",
    "a",
    "  a\tb\nc  d  ",
    "héllo wörld héllo",
    "日本語 テスト 日本語",
    "emoji 🙂 here 🙂",
    "nbsp joined stays",
    "tab\tand\nnewline mix\r\nhere",
    "a a a a a",
    "\ta b",
    "a\x1cb",
]


def test_token_counts_match_python(spark):
    df = spark.createDataFrame([Row(i=i, t=s) for i, s in enumerate(CASES)])
    got = {r["i"]: (r["n"], r["b"]) for r in df.select(
        "i",
        text.token_count(F.col("t")).alias("n"),
        text.token_count_bpe(F.col("t")).alias("b"),
    ).collect()}
    for i, s in enumerate(CASES):
        assert got[i][0] == py_token_count(s), f"ws count mismatch on {s!r}"
        assert got[i][1] == py_bpe_count(s), f"bpe count mismatch on {s!r}"


def _engine_tokens(spark, engine, cases):
    """(tokens, token_count) per case from one engine's definition."""
    if engine == "python":
        return [(text.split_tokens(s), None) for s in cases]
    if engine == "arrow":
        import pyarrow as pa

        flat, off = text.arrow_tokens(pa.array(cases, type=pa.string()))
        flat = flat.to_pylist()
        return [(flat[off[i]:off[i + 1]], None) for i in range(len(cases))]
    if engine == "catalyst":
        df = spark.createDataFrame(list(enumerate(cases)), "i int, t string")
        rows = df.select("i", text.tokens(F.col("t")).alias("k"),
                         text.token_count(F.col("t")).alias("n")).collect()
        got = {r["i"]: (r["k"], r["n"]) for r in rows}
        return [got[i] for i in range(len(cases))]
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE c (i INTEGER, t VARCHAR)")
    con.executemany("INSERT INTO c VALUES (?, ?)", list(enumerate(cases)))
    rows = con.execute(
        f"SELECT {text.tokens_sql('t')}, {text.token_count_sql('t')} "
        "FROM c ORDER BY i").fetchall()
    return [(k, n) for k, n in rows]


@pytest.mark.parametrize("engine", ["catalyst", "arrow", "python", "duckdb"])
def test_tokenizer_engines_agree_with_mirror(spark, engine):
    """Every engine's tokenizer equals the mirror on every case.  NULL:
    the Catalyst and DuckDB forms propagate it; the Arrow and Python
    helpers read it as '' (one empty token) and leave null policy to
    their callers."""
    cases = CASES + [None]
    got = _engine_tokens(spark, engine, cases)
    for s, (toks, n) in zip(cases, got):
        if s is None and engine in ("catalyst", "duckdb"):
            assert toks is None and n is None, (engine, toks, n)
            continue
        assert list(toks) == py_tokens(s or ""), f"{engine} tokens on {s!r}"
        if n is not None:
            assert n == py_token_count(s), f"{engine} count on {s!r}"


def test_ngrams_match_python(spark):
    df = spark.createDataFrame([Row(i=i, t=s) for i, s in enumerate(CASES)])
    got = {r["i"]: r["g"] for r in df.select(
        "i", text.token_ngrams(F.col("t"), 2).alias("g")).collect()}
    for i, s in enumerate(CASES):
        toks = py_tokens(s)
        expected = (
            [" ".join(toks[j:j + 2]) for j in range(len(toks) - 1)]
            if len(toks) >= 2 else []
        )
        assert got[i] == expected, f"ngram mismatch on {s!r}"


def test_repetition_matches_python(spark):
    df = spark.createDataFrame([Row(doc_id=i, text=s) for i, s in enumerate(CASES)])
    got = {r["doc_id"]: r for r in text.repetition_features(df).collect()}
    for i, s in enumerate(CASES):
        n = py_token_count(s)
        r = got[i]
        assert r["n_tokens"] == n
        if n == 0:
            assert (r["dup_token_fraction"], r["top_bigram_fraction"],
                    r["max_token_run"]) == (0.0, 0.0, 0)
            continue
        toks = py_tokens(s)
        assert r["dup_token_fraction"] == round(1 - len(set(toks)) / n, 4)
        # max run
        best = run = 1
        for a, b in zip(toks, toks[1:]):
            run = run + 1 if a == b else 1
            best = max(best, run)
        assert r["max_token_run"] == best
        bgs = [" ".join(toks[j:j + 2]) for j in range(len(toks) - 1)]
        if bgs:
            top = max(bgs.count(g) for g in set(bgs))
            assert r["top_bigram_fraction"] == round(top / len(bgs), 4)
        else:
            assert r["top_bigram_fraction"] == 0.0


def test_canonical_url_unicode_paths(spark):
    cases = {
        # unicode path case preserved, host lowered
        "HTTPS://EXAMPLE.com/ÜberUns/": "https://example.com/ÜberUns",
        # IDN-ish host just lowercases (no punycode — documented)
        "https://BÜcher.example/a": "https://bücher.example/a",
        # query with unicode value survives tracking strip
        "https://example.com/a?q=café&utm_source=x": "https://example.com/a?q=café",
    }
    df = spark.createDataFrame([Row(u=k) for k in cases])
    got = {r["u"]: r["c"] for r in df.select(
        "u", urls.canonical_url(F.col("u")).alias("c")).collect()}
    assert got == cases


# ---------------------------------------------------------------------------
# NFC normalization
# ---------------------------------------------------------------------------


def test_nfc_folds_decomposed_into_precomposed_dedup_keys(spark, sf_dir):
    """The op's purpose: after NFC, the decomposed-injected rows carry
    the SAME suffix bytes as the precomposed-injected rows, so
    byte-keyed dedup collides them; ASCII rows pass through unchanged."""
    from pyspark.sql import functions as F

    from xjs.pipeline.text import (
        NFC_DECOMPOSED,
        NFC_PRECOMPOSED,
        normalize_nfc,
        q_text_normalize_nfc,
    )

    assert NFC_DECOMPOSED != NFC_PRECOMPOSED  # different bytes...
    import unicodedata

    assert unicodedata.normalize("NFC", NFC_DECOMPOSED) == NFC_PRECOMPOSED

    out = q_text_normalize_nfc(spark, sf_dir).cache()
    dec = out.filter(F.col("doc_id") % 7 == 2)
    pre = out.filter(F.col("doc_id") % 7 == 4)
    ascii_rows = out.filter(~F.col("doc_id").isin(
        *[r.doc_id for r in out.filter(
            (F.col("doc_id") % 7 == 2) | (F.col("doc_id") % 7 == 4)
        ).collect()]))
    assert dec.filter(~F.col("nfc_changed")).count() == 0
    assert dec.filter(~F.col("text_nfc").endswith(NFC_PRECOMPOSED)).count() == 0
    assert pre.filter(F.col("nfc_changed")).count() == 0
    assert ascii_rows.filter(F.col("nfc_changed")).count() == 0
    out.unpersist()

    # null text propagates
    df = spark.createDataFrame([(1, None), (2, "plain")],
                               "doc_id long, text string")
    rows = {r.doc_id: r for r in normalize_nfc(df).collect()}
    assert rows[1].text_nfc is None and rows[1].nfc_changed is False
    assert rows[2].text_nfc == "plain" and rows[2].nfc_changed is False
