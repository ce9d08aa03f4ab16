"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID, document fingerprinting.

All pure Catalyst expressions (split/regexp/array ops — zero Python),
each with an exact DuckDB oracle.  At 100 TB these are narrow
map-stage columns appended to the scan, fused into the same
whole-stage-codegen pass as the validation predicates.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xjs.pipeline.hashing import char_hash, char_hash_sql

#: tiny per-language stopword profiles for the n-gram/stopword
#: language-ID heuristic (fixed, deterministic; order = tiebreak order)
LANG_PROFILES = [
    ("en", ["the", "and", "of", "to", "a", "in", "is"]),
    ("de", ["der", "die", "und", "das", "ist", "nicht"]),
    ("fr", ["le", "la", "et", "les", "des", "est"]),
    ("es", ["el", "la", "de", "que", "los", "es"]),
]

STOPWORDS = sorted({w for _, ws in LANG_PROFILES for w in ws})

FP_PREFIX = 256   # fingerprint looks at the first N chars
FP_GRAM = 5       # char n-gram width


# ---------------------------------------------------------------------------
# the token layer: the tokenizer and its n-gram windows, written once per
# engine (Catalyst, Python, Arrow, DuckDB SQL)
# ---------------------------------------------------------------------------
#
# The rule: ``trim`` strips U+0020 only, then the text splits on runs of
# the ASCII ``\s`` class WS_CHARS (NBSP and U+001C are not separators),
# keeping leading and trailing empty fields (Spark ``split`` limit -1):
# "\ta b" is ["", "a", "b"].  Every operator and oracle that tokenizes
# text calls one of the definitions below; tests/test_unicode_edges.py
# checks the four engines against one Python mirror.

#: Java regex ``\s`` (ASCII only), spelled so Java, RE2 and Python
#: regexes all read it alike
WS_CHARS = r" \t\n\x0b\f\r"
_WS = re.compile(f"[{WS_CHARS}]+")


def tokens(col: Column) -> Column:
    return F.split(F.trim(col), "\\s+")


def token_count(col: Column) -> Column:
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(
        F.size(tokens(col))
    )


def ngrams(toks: Column, n: int) -> Column:
    """Array of the space-joined ``n``-token windows of a token array;
    empty when it has fewer than ``n`` tokens (guard required: Spark's
    ``sequence`` happily generates a descending range)."""
    cnt = F.size(toks)
    return F.when(
        cnt >= n,
        F.transform(
            F.sequence(F.lit(1), cnt - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def token_ngrams(col: Column, n: int) -> Column:
    """Array of space-joined token n-grams of a text column."""
    return ngrams(tokens(col), n)


def split_tokens(s: str | None, maxsplit: int = 0) -> list[str]:
    """Python form of ``tokens`` for one string, NULL read as ''
    (``maxsplit`` bounds the split as in ``re.split``)."""
    return _WS.split((s or "").strip(" "), maxsplit)


def arrow_tokens(text):
    """Arrow form of ``tokens`` for a string array: the flat tokens of
    ``split(trim(coalesce(text, '')))`` and int64 offsets, row ``r``
    owning ``flat[offsets[r]:offsets[r + 1]]``.  A null row comes out
    as the one empty token of ''; each kernel applies its own policy
    for null and blank rows.  ``ascii_split_whitespace`` splits on
    exactly WS_CHARS, keeps empty fields and runs 6x faster than RE2's
    ``split_pattern_regex``."""
    import numpy as np
    import pyarrow.compute as pc

    lists = pc.ascii_split_whitespace(
        pc.utf8_trim(pc.fill_null(text, ""), characters=" "))
    counts = pc.list_value_length(lists).to_numpy(zero_copy_only=False)
    offsets = np.concatenate(([0], np.cumsum(counts, dtype=np.int64)))
    return pc.list_flatten(lists), offsets


def ragged_ranges(starts, lengths):
    """Vectorized expansion of per-segment (start, length) pairs into one
    flat position array: concat(range(s0, s0+l0), range(s1, s1+l1), ...),
    with the segment id of each position.  The numpy idiom for cutting
    every window of every doc without a Python loop."""
    import numpy as np

    total = int(lengths.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    seg_ids = np.repeat(np.arange(len(lengths)), lengths)
    excl = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    local = np.arange(total, dtype=np.int64) - excl[seg_ids]
    return np.repeat(starts, lengths) + local, seg_ids


def window_starts(counts, n: int):
    """(pos, row_ids): the 0-based start of every ``n``-wide window of
    every row holding ``counts`` items — the numpy form of ``ngrams``."""
    import numpy as np

    return ragged_ranges(np.zeros(len(counts), dtype=np.int64),
                         np.maximum(counts - n + 1, 0))


def tokens_sql(expr: str) -> str:
    """DuckDB form of ``tokens``."""
    return f"regexp_split_to_array(trim({expr}), '\\s+')"


def token_count_sql(expr: str) -> str:
    """DuckDB form of ``token_count``."""
    return (f"CASE WHEN length(trim({expr})) = 0 THEN 0 "
            f"ELSE len({tokens_sql(expr)}) END")


def ngrams_sql(arr: str, n: int) -> str:
    """DuckDB form of ``ngrams`` over a token list expression."""
    return (f"CASE WHEN len({arr}) >= {n} "
            f"THEN list_transform(range(1, len({arr}) - {n} + 2), "
            f"i -> array_to_string({arr}[i:i+{n - 1}], ' ')) ELSE [] END")


def token_windows_sql(src: str, n: int, cols: str = "doc_id",
                      where: str = "") -> str:
    """DuckDB rows of every ``n``-token window of the token list ``t``
    of ``src`` (optionally filtered by ``where``): ``cols``, the 0-based
    window start ``pos`` and the space-joined ``gram`` — the row form
    of ``ngrams``; ``n = 1`` gives one row per token."""
    gram = ("t[i]" if n == 1
            else f"list_aggregate(t[i:i+{n - 1}], 'string_agg', ' ')")
    return (f"SELECT {cols}, i - 1 AS pos, {gram} AS gram "
            f"FROM {src}, unnest(range(1, len(t) - {n} + 2)) AS r(i)"
            + (f" WHERE {where}" if where else ""))


# ---------------------------------------------------------------------------
# quality features, built on the tokenizer
# ---------------------------------------------------------------------------

def _quality_columns(t: Column) -> dict[str, Column]:
    """The cheap quality signals of ``quality_features`` and the
    combined score, one arithmetic for both (DuckDB: ``_quality_sql``)."""
    toks = tokens(t)
    n_tokens = token_count(t)
    n_chars = F.length(t)
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    stop_ratio = F.round(n_stop / F.greatest(n_tokens, F.lit(1)).cast("double"), 4)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, "[.,;:!?]", ""))
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)).cast("double"), 4)
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "avg_token_len": F.round(
            (n_chars - (n_tokens - 1)) / F.greatest(n_tokens, F.lit(1)), 4
        ),
        "stopword_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "quality_score": F.round(
            F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.4
            + stop_ratio * 0.4
            + (1 - punct_ratio) * 0.2,
            4,
        ),
    }


def quality_score(t: Column) -> Column:
    """The combined per-row quality score (DuckDB: ``quality_score_sql``)."""
    return _quality_columns(t)["quality_score"]


def _quality_inputs_sql(expr: str) -> tuple[str, str, str, str]:
    """(n_chars, n_tokens, n_stop, n_punct) of a text expression."""
    return (
        f"length({expr})",
        f"({token_count_sql(expr)})",
        f"len(list_filter({tokens_sql(expr)}, "
        f"x -> list_contains({STOPWORDS!r}, x)))",
        f"(length({expr}) - length(regexp_replace({expr}, '[.,;:!?]', '', 'g')))",
    )


def _quality_sql(n_chars: str, n_tokens: str, n_stop: str,
                 n_punct: str) -> tuple[str, str, str]:
    """(stopword_ratio, punct_ratio, quality_score) — the DuckDB twin of
    ``_quality_columns``' arithmetic."""
    stop_ratio = f"ROUND({n_stop} / GREATEST({n_tokens}, 1)::DOUBLE, 4)"
    punct_ratio = f"ROUND({n_punct} / GREATEST({n_chars}, 1)::DOUBLE, 4)"
    score = (
        f"ROUND(LEAST({n_tokens} / 100.0, 1.0) * 0.4 + {stop_ratio} * 0.4 "
        f"+ (1 - {punct_ratio}) * 0.2, 4)"
    )
    return stop_ratio, punct_ratio, score


def quality_score_sql(expr: str) -> str:
    """DuckDB per-row equivalent of ``quality_score`` for any text
    expression."""
    return _quality_sql(*_quality_inputs_sql(expr))[2]


def quality_features_sql(src: str) -> str:
    """DuckDB form of ``quality_features`` over the ``doc_id``/``text``
    rows of ``src``."""
    n_chars, n_tokens, n_stop, n_punct = _quality_inputs_sql("text")
    stop_ratio, punct_ratio, score = _quality_sql(
        "n_chars", "n_tokens", "n_stop", "n_punct")
    return f"""
SELECT doc_id, n_chars, n_tokens,
       ROUND((n_chars - (n_tokens - 1)) / GREATEST(n_tokens, 1), 4) AS avg_token_len,
       {stop_ratio} AS stopword_ratio,
       {punct_ratio} AS punct_ratio,
       {score} AS quality_score
FROM (SELECT doc_id, {n_chars} AS n_chars, {n_tokens} AS n_tokens,
             {n_stop} AS n_stop, {n_punct} AS n_punct
      FROM {src})
"""


def quality_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, n_chars, n_tokens, avg_token_len, stopword_ratio,
    punct_ratio, quality_score) — the classic cheap quality signals."""
    cols = _quality_columns(F.col(text_col))
    return df.select(F.col(id_col), *[c.alias(k) for k, c in cols.items()])


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_features(d)


ORACLE_TEXT_QUALITY_SQL = quality_features_sql("documents")


def langid(col: Column) -> Column:
    """Stopword-profile language ID: argmax of per-language hit counts;
    'und' (undetermined) when no profile scores > 0.  Ties break by
    profile order."""
    toks = F.array_distinct(tokens(F.lower(col)))
    scores = [
        F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in ws])))
        for _, ws in LANG_PROFILES
    ]
    best = F.greatest(*scores)
    out = F.lit("und")
    # reverse order => earlier profiles win ties
    for (lang, _), s in reversed(list(zip(LANG_PROFILES, scores))):
        out = F.when(s == best, F.lit(lang)).otherwise(out)
    return F.when(best <= 0, F.lit("und")).otherwise(out)


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select("doc_id", langid(F.col("text")).alias("lang_pred"))


def _langid_sql() -> str:
    score_exprs = [
        f"len(list_intersect(toks, {ws!r}))" for _, ws in LANG_PROFILES
    ]
    best = f"GREATEST({', '.join(score_exprs)})"
    case = "'und'"
    for (lang, _), s in reversed(list(zip(LANG_PROFILES, score_exprs))):
        case = f"CASE WHEN {s} = best THEN '{lang}' ELSE {case} END"
    return f"""
WITH t AS (
    SELECT doc_id,
           list_distinct({tokens_sql('lower(text)')}) AS toks
    FROM documents
),
s AS (SELECT doc_id, toks, {best} AS best FROM t)
SELECT doc_id, CASE WHEN best <= 0 THEN 'und' ELSE {case} END AS lang_pred FROM s
"""


def oracle_text_langid_sql() -> str:
    return _langid_sql()


# ---------------------------------------------------------------------------
# pluggable model hook (real langid / tokenizer models drop in here)
# ---------------------------------------------------------------------------

def text_model_adapter(
    df: DataFrame,
    out_col: str,
    model_fn,
    out_type: str = "string",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The adapter contract for real text models (fastText langid, a
    BPE tokenizer, a quality classifier): ``model_fn`` is a vectorized
    ``pd.Series[str] -> pd.Series`` callable invoked per Arrow batch
    via ``mapInPandas`` — never per row.  At 100 TB this is a narrow
    map stage: the model loads once per worker inside the generator
    (load it lazily in ``model_fn``'s closure), batches stream through
    Arrow, and no shuffle is introduced.  Output: (id, out_col)."""
    import pandas as pd  # noqa: F401

    id_type = dict(df.dtypes)[id_col]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {id_col: pdf[id_col], out_col: model_fn(pdf[text_col])}
            )

    return df.select(id_col, text_col).mapInPandas(
        run, f"{id_col} {id_type}, {out_col} {out_type}"
    )


def default_langid_model(texts):
    """Default ``model_fn`` for language-ID: the same stopword-profile
    heuristic as ``langid()``, vectorized over a pandas Series and
    tokenized by ``split_tokens`` (python ``str.split()`` would diverge
    from the Catalyst form on NBSP and friends).  Swap in fastText by
    replacing this function only."""
    profiles = [(lang, set(ws)) for lang, ws in LANG_PROFILES]

    def one(t):
        if t is None:
            return "und"
        toks = set(split_tokens(t.lower()))
        best_lang, best = "und", 0
        for lang, ws in profiles:
            s = len(toks & ws)
            if s > best:  # strict > : earlier profiles win ties
                best, best_lang = s, lang
        return best_lang

    return texts.map(one)


def langid_with_model(
    df: DataFrame, model_fn=None, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Language-ID through the pluggable adapter; defaults to the
    stopword heuristic so the adapter path itself is oracle-checked
    (same DuckDB oracle as ``q_text_langid``)."""
    return text_model_adapter(
        df, "lang_pred", model_fn or default_langid_model, "string", text_col, id_col
    )


def q_text_langid_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return langid_with_model(d)


def fingerprint(col: Column) -> Column:
    """Document fingerprint: min polynomial hash over the char
    FP_GRAM-grams of the first FP_PREFIX chars (winnowing-lite)."""
    prefix = F.substring(col, 1, FP_PREFIX)
    n = F.length(prefix)
    grams = F.when(
        n >= FP_GRAM,
        F.transform(
            F.sequence(F.lit(1), n - FP_GRAM + 1),
            lambda i: F.substr(col, i, F.lit(FP_GRAM)),
        ),
    ).otherwise(F.array(col))
    hashes = F.transform(grams, lambda g: char_hash(g))
    return F.array_min(hashes)


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
        token_count(F.col("text")).alias("n_tokens"),
    )


def oracle_text_fingerprint_sql() -> str:
    g = char_hash_sql("g")
    return f"""
WITH t AS (
    SELECT doc_id, text, substring(text, 1, {FP_PREFIX}) AS prefix FROM documents
)
SELECT doc_id,
       list_min(list_transform(
           CASE WHEN length(prefix) >= {FP_GRAM}
                THEN list_transform(range(1, length(prefix) - {FP_GRAM} + 2),
                                    i -> substring(text, i, {FP_GRAM}))
                ELSE [text] END,
           g -> {g})) AS fp,
       {token_count_sql('text')} AS n_tokens
FROM t
"""


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style quality rules)
# ---------------------------------------------------------------------------

def _max_equal_run(arr: Column) -> Column:
    """Length of the longest run of equal adjacent elements — a single
    O(n) ``aggregate`` pass with a (prev, run, best) accumulator, the
    same single-pass-fold shape as the minhash/simhash signatures (no
    per-distinct-element rescan, so per-doc cost stays linear at
    100 TB)."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def merge(acc, x):
        run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(arr, init, merge, lambda acc: acc["best"])


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_tokens, dup_token_fraction, top_bigram_fraction,
    max_token_run) — the classic repetition-based quality gates
    (Gopher rules 'fraction of duplicate n-grams' family).

    ``top_bigram_fraction`` = occurrences of the most frequent word
    bigram / total bigrams, computed as the longest equal run of the
    *sorted* bigram array — O(n log n) per doc, never per-distinct
    rescans.  All pure Catalyst; at scale this is a narrow map stage
    fused into the corpus scan like ``quality_features``."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tokens = token_count(t)
    dup_frac = F.when(n_tokens <= 0, F.lit(0.0)).otherwise(
        F.round(1 - F.size(F.array_distinct(toks)) / n_tokens, 4)
    )
    bigrams = token_ngrams(t, 2)
    n_bigrams = F.size(bigrams)
    top_bg = F.when(n_bigrams <= 0, F.lit(0.0)).otherwise(
        F.round(_max_equal_run(F.array_sort(bigrams)) / n_bigrams, 4)
    )
    max_run = F.when(n_tokens <= 0, F.lit(0)).otherwise(_max_equal_run(toks))
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        dup_frac.alias("dup_token_fraction"),
        top_bg.alias("top_bigram_fraction"),
        max_run.alias("max_token_run"),
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_features(d)


def oracle_text_repetition_sql() -> str:
    return f"""
WITH base AS (
    SELECT doc_id, {tokens_sql('text')} AS t,
           {token_count_sql('text')} AS n_tokens
    FROM documents
),
tok AS (
    SELECT doc_id, pos AS i, gram AS tok
    FROM ({token_windows_sql('base', 1, where='n_tokens > 0')})
),
islands AS (
    SELECT doc_id, tok,
           i - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY i) AS grp
    FROM tok
),
runlen AS (
    SELECT doc_id, MAX(c) AS max_run FROM (
        SELECT doc_id, tok, grp, COUNT(*) AS c FROM islands GROUP BY 1, 2, 3
    ) GROUP BY doc_id
),
bg AS (
    SELECT doc_id, gram AS g FROM ({token_windows_sql('base', 2)})
),
bgstats AS (
    SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_bg FROM (
        SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2
    ) GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       CASE WHEN b.n_tokens <= 0 THEN 0.0
            ELSE ROUND(1 - len(list_distinct(b.t)) / b.n_tokens::DOUBLE, 4)
       END AS dup_token_fraction,
       COALESCE(ROUND(s.top_c / s.n_bg::DOUBLE, 4), 0.0) AS top_bigram_fraction,
       COALESCE(r.max_run, 0) AS max_token_run
FROM base b
LEFT JOIN runlen r USING (doc_id)
LEFT JOIN bgstats s USING (doc_id)
"""


# ---------------------------------------------------------------------------
# BPE-ish regex token counting
# ---------------------------------------------------------------------------

#: GPT-2-flavored pre-tokenizer classes: letter runs, digit runs, single
#: non-alnum marks.  RE2-compatible so the DuckDB oracle runs the same
#: pattern byte-identically.
BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def token_count_bpe(col: Column) -> Column:
    """Token count under the BPE-ish pre-tokenizer — the budget number
    a training pipeline actually bills by (whitespace counts
    undercount punctuation-heavy web text).  Pure Catalyst
    (`regexp_extract_all`), fused into the scan like every other text
    signal."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_PATTERN), F.lit(0)))


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count(t).alias("n_ws_tokens"),
        token_count_bpe(t).alias("n_bpe_tokens"),
    )


def oracle_text_tokens_sql() -> str:
    return f"""
SELECT doc_id,
       {token_count_sql('text')} AS n_ws_tokens,
       len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe_tokens
FROM documents
"""


# ---------------------------------------------------------------------------
# Unicode NFC normalization (the unicode tier above dedup_normalized)
# ---------------------------------------------------------------------------

#: injected by the fixture query at doc_id%7==2: a DECOMPOSED suffix
#: (e + U+0301) that NFC must fold into the PRECOMPOSED form injected
#: at doc_id%7==4 — so normalized dedup keys collide across the two
#: residues by construction
NFC_DECOMPOSED = " caf" + "e\u0301"  # decomposed: e + COMBINING ACUTE
NFC_PRECOMPOSED = " caf" + "\u00e9"  # precomposed (the NFC form)


def normalize_nfc(df: DataFrame, text_col: str = "text",
                  out_col: str = "text_nfc") -> DataFrame:
    """df + ``out_col`` (NFC form) + ``nfc_changed`` (row was not
    already normalized).  Web text mixes precomposed and decomposed
    codepoint sequences for the SAME rendered string; byte-keyed ops
    (exact dedup digests, line/char window keys, substring spans)
    treat them as different documents unless this runs first.

    CPython's ``unicodedata.normalize`` (a C loop) inside
    ``mapInPandas`` with an ``str.isascii()`` fast path — web text is
    overwhelmingly ASCII, so most rows cost one C scan and zero
    allocations; narrow, zero shuffle.  NOT Arrow's
    ``utf8_normalize``: pyarrow 16.1 ignores the ``form`` option and
    returns NFD for every form (probed; all three forms decompose
    U+00E9).  The oracle is a real cross-IMPLEMENTATION check:
    DuckDB normalizes with utf8proc, this path with CPython's
    unicodedata — a green row means two independent Unicode
    implementations agree on every row."""
    import unicodedata

    from collections.abc import Iterator

    import pandas as pd

    fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{fields}, {out_col} string, nfc_changed boolean"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        norm = unicodedata.normalize
        for pdf in batches:
            out = pdf.copy()
            vals = [
                s if not isinstance(s, str) or s.isascii()
                else norm("NFC", s)
                for s in pdf[text_col]
            ]
            out[out_col] = pd.Series(vals, index=pdf.index, dtype=object)
            out["nfc_changed"] = [
                isinstance(s, str) and v != s
                for s, v in zip(pdf[text_col], vals)
            ]
            yield out

    return df.mapInPandas(run, schema)


def q_text_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 2,
               F.concat(F.col("text"), F.lit(NFC_DECOMPOSED)))
        .when(F.col("doc_id") % 7 == 4,
              F.concat(F.col("text"), F.lit(NFC_PRECOMPOSED)))
        .otherwise(F.col("text")).alias("text"),
    )
    return normalize_nfc(corpus).select("doc_id", "text_nfc", "nfc_changed")


def oracle_text_normalize_nfc_sql() -> str:
    # independent implementation: utf8proc's NFC vs Arrow's
    return """
WITH corpus AS (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 2 THEN text || ' caf' || 'e' || chr(769)
                WHEN doc_id % 7 = 4 THEN text || ' caf' || chr(233)
                ELSE text END AS text
    FROM documents
)
SELECT doc_id, nfc_normalize(text) AS text_nfc,
       nfc_normalize(text) != text AS nfc_changed
FROM corpus
"""
