"""Named heuristic document filters: the C4 line-level cleaning rules
(Raffel et al. 2020, "Exploring the Limits of Transfer Learning", §2.2)
and the Gopher document-quality gate (Rae et al. 2021, "Scaling
Language Models", Appendix A1.1).

These are the two rule sets real pre-training pipelines deploy by name,
and they sit at a different tier from the repo's existing quality
family: ``quality_features`` is generic signals, the LM rows are
model-based gates — C4 and Gopher are fixed PUBLISHED rule sets whose
value is that the rules are exact and auditable.  Both are implemented
as that: every rule is integer arithmetic (``10*n_sym <= n_words``
instead of ``n_sym/n_words <= 0.1``) so there is no floating point
anywhere, the verdict is bit-stable, and the DuckDB oracle restates the
same rules independently.

Scale shape: both operators are ONE narrow zero-Exchange pass
(plan-asserted in tests/test_heuristics.py).  C4 is a scan-fused
Catalyst projection; the Gopher feature block defaults to an Arrow
C++/numpy batch kernel (the grams.py pattern — one tokenization per
batch feeds every feature) after the interleaved A/B showed the
Catalyst forms at 8-10s/1M pages and the kernel at 1.7s (5.7x,
BENCH/ab_gopher_r5.json); the 'hof' array form stays selectable as
the reference the kernel is equivalence-pinned to.  At 100 TB both
compose in front of the shuffle-bearing stages (dedup, export) exactly
where a production pipeline puts its cheap gates: the filter prunes
rows BEFORE anything pays a shuffle for them.

The reference engine (/root/reference, a schema validator) has no
corpus operators; this module belongs to the training-data-pipeline
mandate (SURVEY.md §2.9/§2.10 family).

Implemented C4 rules (documented subset of the paper's list — the
blocklist-of-bad-words rule takes a caller-supplied list and defaults
to empty):

* keep only lines ending in a terminal punctuation mark
  (``.``, ``!``, ``?``, or the closing quote ``"``),
* keep only lines with at least ``min_words`` words (paper: 5),
* drop any line containing the word "javascript" (case-insensitive),
* drop any page containing "lorem ipsum" (case-insensitive),
* drop any page containing a curly bracket ``{``,
* drop any page with fewer than ``min_kept_lines`` retained lines
  (paper: 3 sentences; retained lines are this implementation's
  stated proxy, since every retained line ends in terminal
  punctuation).

Implemented Gopher rules (A1.1 "quality filtering" list, integer
form; thresholds are parameters with the paper's defaults):

* ``min_words <= n_words <= max_words``           (paper: 50..100000)
* mean word length in [3, 10]:
  ``3*n_words <= sum(len(word)) <= 10*n_words``
* symbol-to-word ratio <= 0.1 for ``#`` and ``...``:
  ``10*n_sym <= n_words``
* <= 90% of lines start with a bullet ("- ", "* ", or U+2022 " "):
  ``10*bullet_lines <= 9*n_lines``
* <= 30% of lines end with an ellipsis ("..." or U+2026):
  ``10*ellipsis_lines <= 3*n_lines``
* >= 80% of words contain at least one alphabetic character:
  ``10*alpha_words >= 8*n_words``
* at least 2 of the 8 required English words appear
  (the, be, to, of, and, that, have, with).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# C4 line-level cleaning
# ---------------------------------------------------------------------------

C4_MIN_WORDS = 5        # per-line word minimum (paper: 5)
C4_MIN_KEPT_LINES = 3   # per-page retained-line minimum (paper: 3 sentences)
_TERMINAL = (".", "!", "?", '"')


def _words(l: Column) -> Column:
    """Non-empty whitespace tokens of a (line) column — the Java-\\s /
    RE2-\\s classes agree, the pairing every oracle in the repo uses."""
    return F.filter(F.split(F.trim(l), r"\s+"), lambda w: w != F.lit(""))


def _c4_keep_line(min_words: int):
    def keep(l: Column) -> Column:
        return (
            F.substring(l, -1, 1).isin(*_TERMINAL)
            & (F.size(_words(l)) >= F.lit(min_words))
            & ~F.contains(F.lower(l), F.lit("javascript"))
        )

    return keep


def c4_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = C4_MIN_WORDS,
    min_kept_lines: int = C4_MIN_KEPT_LINES,
    blocklist: tuple[str, ...] = (),
) -> DataFrame:
    """Per-doc C4 ledger: (id, keep, reason, n_lines, n_kept,
    clean_text) — nothing silently dropped (the curate-job ledger
    contract).  ``reason`` is the FIRST failing page rule in the stated
    order (null_text, lorem_ipsum, blocklist, curly_brace,
    too_few_lines); kept
    docs carry ``''`` and the reassembled clean text, dropped docs a
    NULL clean_text.  One narrow projection, zero shuffle."""
    t = F.col(text_col)
    lines = F.split(t, "\n", -1)
    kept = F.filter(lines, _c4_keep_line(min_words))
    lower = F.lower(t)
    has_lorem = F.contains(lower, F.lit("lorem ipsum"))
    has_block = F.lit(False)
    for w in blocklist:
        has_block = has_block | F.contains(lower, F.lit(w.lower()))
    has_brace = F.contains(t, F.lit("{"))
    too_few = F.size(kept) < F.lit(min_kept_lines)
    # NULL text is an explicit drop class: every page rule evaluates
    # NULL on it, which otherwise falls through to the KEEP branch —
    # a silently-kept null row (and a doc the curate funnel's exact
    # accounting would lose, since NULL keep joins into neither side)
    reason = (
        F.when(t.isNull(), "null_text")
        .when(has_lorem, "lorem_ipsum")
        .when(has_block, "blocklist")
        .when(has_brace, "curly_brace")
        .when(too_few, "too_few_lines")
        .otherwise("")
    )
    keep = reason == F.lit("")
    return df.select(
        F.col(id_col),
        keep.alias("keep"),
        reason.alias("reason"),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.when(keep, F.array_join(kept, "\n")).alias("clean_text"),
    )


def c4_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kw,
) -> DataFrame:
    """The production form: surviving docs only, text replaced by the
    retained lines rejoined with '\\n' in original order."""
    s = c4_stats(df, id_col=id_col, text_col=text_col, **kw)
    return s.filter("keep").select(
        F.col(id_col), F.col("clean_text").alias(text_col)
    )


# --- constructive fixture: pages with a stated line formula over
# `documents`, so the oracle restates the generator + rules and a green
# row proves the operator inverts both ---

_L1A = "Intro sentence number "
_L1B = " stands complete."
_L4 = "Another valid sentence appears right here."
_L6 = "This properly formed line also survives cleanly."
_L5 = "Uses javascript heavily in every single clause."
_LOREM = "lorem ipsum filler line"
_BRACE = "include { brace line"


def c4_page_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-line pages from `documents`: one always-kept
    intro line, a word-salad line with no terminal punctuation (always
    dropped), two conditionally present valid lines (doc_id % 2 / % 3),
    an always-dropped javascript line, and page-level lorem-ipsum /
    curly-brace triggers at % 11 / % 13."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id")
    page = F.concat(
        F.lit(_L1A), i.cast("string"), F.lit(_L1B),
        F.lit("\n"), F.substring(F.col("text"), 1, 40),
        F.when(i % 2 == 0, F.lit("\n" + _L4)).otherwise(F.lit("")),
        F.when(i % 3 == 0, F.lit("\n" + _L6)).otherwise(F.lit("")),
        F.lit("\n" + _L5),
        F.when(i % 11 == 0, F.lit("\n" + _LOREM)).otherwise(F.lit("")),
        F.when(i % 13 == 0, F.lit("\n" + _BRACE)).otherwise(F.lit("")),
    )
    return d.select("doc_id", page.alias("text"))


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return c4_stats(c4_page_corpus(spark, sf_dir))


def oracle_c4_clean_sql() -> str:
    """Restates the page generator AND the line/page rules in DuckDB
    (independent engine, same integer semantics)."""
    keep_line = (
        "l -> right(l, 1) IN ('.', '!', '?', '\"') "
        "AND len(list_filter(regexp_split_to_array(trim(l), '\\s+'), "
        "w -> w != '')) >= " + str(C4_MIN_WORDS) + " "
        "AND NOT contains(lower(l), 'javascript')"
    )
    return f"""
WITH pages AS (
    SELECT doc_id,
           '{_L1A}' || doc_id || '{_L1B}'
           || chr(10) || substr(text, 1, 40)
           || CASE WHEN doc_id % 2 = 0 THEN chr(10) || '{_L4}' ELSE '' END
           || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '{_L6}' ELSE '' END
           || chr(10) || '{_L5}'
           || CASE WHEN doc_id % 11 = 0 THEN chr(10) || '{_LOREM}' ELSE '' END
           || CASE WHEN doc_id % 13 = 0 THEN chr(10) || '{_BRACE}' ELSE '' END
           AS text
    FROM documents
), split AS (
    SELECT doc_id, text,
           str_split(text, chr(10)) AS lines,
           list_filter(str_split(text, chr(10)), {keep_line}) AS kept
    FROM pages
), verdict AS (
    SELECT doc_id, lines, kept,
           CASE WHEN contains(lower(text), 'lorem ipsum') THEN 'lorem_ipsum'
                WHEN contains(text, '{{') THEN 'curly_brace'
                WHEN len(kept) < {C4_MIN_KEPT_LINES} THEN 'too_few_lines'
                ELSE '' END AS reason
    FROM split
)
SELECT doc_id,
       reason = '' AS keep,
       reason,
       len(lines) AS n_lines,
       len(kept) AS n_kept,
       CASE WHEN reason = '' THEN array_to_string(kept, chr(10)) END
           AS clean_text
FROM verdict
"""


# ---------------------------------------------------------------------------
# Gopher document-quality gate
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
REQUIRED_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_BULLETS = ("- ", "* ", "• ")

#: rule names in verdict order — ``fail_rules`` joins the failing
#: subset with ',' in exactly this order
GOPHER_RULES = (
    "word_count",
    "mean_word_len",
    "symbol_ratio",
    "bullet_frac",
    "ellipsis_frac",
    "alpha_frac",
    "stopwords",
)


#: default feature builder — chosen by interleaved 1M-page A/B
#: (BENCH/ab_gopher_r5.json); 'hof' is the array-semantics reference
#: the kernel is equivalence-pinned to
BUILDER = "arrow"

_FEATS = ("n_words", "word_chars", "n_sym", "n_lines", "bullet_lines",
          "ellipsis_lines", "alpha_words", "stop_hits")


def _gopher_hof_feats(df, id_col, text_col):
    """Catalyst feature builder: arrays + higher-order filters — the
    readable reference the Arrow kernel is pinned against (HOF lambdas
    are interpreted and the words array is re-split per feature).  A
    scan-fused regexp_count builder measured a tie with this one at 1M
    pages and was dropped (BENCH/ab_gopher_r5.json)."""
    t = F.col(text_col)
    word_chars = F.length(F.regexp_replace(F.trim(t), r"\s+", ""))
    n_sym = (
        F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
        + (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / F.lit(3)
    ).cast("int")
    words = _words(t)
    n_words = F.size(words)
    lines = F.split(t, "\n", -1)
    n_lines = F.size(lines)
    bullet = F.size(
        F.filter(
            lines,
            lambda l: F.substring(F.ltrim(l), 1, 2).isin(*_BULLETS),
        )
    )
    ellipsis = F.size(
        F.filter(
            lines,
            lambda l: F.endswith(l, F.lit("...")) | F.endswith(l, F.lit("…")),
        )
    )
    alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    stop_hits = F.lit(0)
    for w in REQUIRED_WORDS:
        stop_hits = stop_hits + F.array_contains(words, w).cast("int")
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        word_chars.alias("word_chars"),
        n_sym.alias("n_sym"),
        n_lines.alias("n_lines"),
        bullet.alias("bullet_lines"),
        ellipsis.alias("ellipsis_lines"),
        alpha.alias("alpha_words"),
        stop_hits.alias("stop_hits"),
    )


def _gopher_arrow_feats(df, id_col, text_col):
    """Arrow C++/numpy feature kernel (the grams.py pattern): one
    ``ascii_split_whitespace`` per batch (already proven Java-``\\s``
    field-identical in grams.py), one '\\n' split, flat per-token /
    per-line predicate arrays in C++, and exact empty-safe segment
    sums via cumsum differences — zero per-doc Python, every feature
    from ONE tokenization instead of one re-split per feature (hof).
    Null text -> all-null features, the Catalyst builder's
    propagation."""
    import pyarrow as pa

    id_field = df.select(id_col).schema.fields[0]
    out_schema = (
        f"{id_col} {id_field.dataType.simpleString()}, "
        + ", ".join(f"{c} int" for c in _FEATS)
    )
    req = list(REQUIRED_WORDS)

    def run(batches):
        import numpy as np
        import pyarrow.compute as pc

        def seg_sum(values, offsets):
            cs = np.concatenate(([0], np.cumsum(values, dtype=np.int64)))
            return cs[offsets[1:]] - cs[offsets[:-1]]

        for batch in batches:
            ids = batch.column(0)
            text = batch.column(1)
            null_mask = pc.is_null(text).to_numpy(zero_copy_only=False)
            t = pc.fill_null(text, "")

            words = pc.ascii_split_whitespace(t)
            w_off = np.asarray(words.offsets)
            if w_off.dtype != np.int64:
                w_off = w_off.astype(np.int64)
            flat_w = pc.list_flatten(words)
            nonempty = pc.not_equal(flat_w, "").to_numpy(zero_copy_only=False)
            n_words = seg_sum(nonempty, w_off)
            wlen = pc.utf8_length(flat_w).to_numpy(zero_copy_only=False)
            word_chars = seg_sum(wlen, w_off)
            alpha_mask = pc.match_substring_regex(
                flat_w, "[A-Za-z]"
            ).to_numpy(zero_copy_only=False)
            alpha = seg_sum(alpha_mask & nonempty, w_off)
            stop_hits = np.zeros(len(t), dtype=np.int64)
            for w in req:
                hit = pc.equal(flat_w, w).to_numpy(zero_copy_only=False)
                stop_hits += seg_sum(hit, w_off) > 0

            lines = pc.split_pattern(t, pattern="\n")
            l_off = np.asarray(lines.offsets)
            if l_off.dtype != np.int64:
                l_off = l_off.astype(np.int64)
            flat_l = pc.list_flatten(lines)
            n_lines = l_off[1:] - l_off[:-1]
            led = pc.utf8_ltrim(flat_l, characters=" ")
            b = None
            for pre in _BULLETS:
                m = pc.starts_with(led, pattern=pre)
                b = m if b is None else pc.or_(b, m)
            bullet = seg_sum(b.to_numpy(zero_copy_only=False), l_off)
            e = pc.or_(
                pc.ends_with(flat_l, pattern="..."),
                pc.ends_with(flat_l, pattern="…"),
            )
            ellipsis = seg_sum(e.to_numpy(zero_copy_only=False), l_off)

            n_sym = (
                pc.count_substring(t, pattern="#").to_numpy(zero_copy_only=False)
                + pc.count_substring(t, pattern="...").to_numpy(
                    zero_copy_only=False
                )
            )

            def col(v):
                return pa.array(
                    np.where(null_mask, 0, v).astype("int32"),
                    mask=null_mask,
                )

            yield pa.RecordBatch.from_arrays(
                [ids, col(n_words), col(word_chars), col(n_sym),
                 col(n_lines), col(bullet), col(ellipsis), col(alpha),
                 col(stop_hits)],
                names=[id_col, *_FEATS],
            )

    return df.select(id_col, text_col).mapInArrow(run, out_schema)


def gopher_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = GOPHER_MIN_WORDS,
    max_words: int = GOPHER_MAX_WORDS,
    impl: str | None = None,
) -> DataFrame:
    """Per-doc integer features + per-rule verdicts + the combined
    ``keep`` + ``fail_rules`` (comma-joined failing rule names in
    GOPHER_RULES order).  All-arithmetic-is-integer is the contract:
    every ratio rule is cross-multiplied, so the DuckDB oracle
    bit-matches and the verdict cannot drift with float rounding.

    Two feature builders, row-identical (test-pinned across the
    whitespace/bullet/ellipsis/CRLF edge cases, null text, AND the
    driver fixture): ``impl='arrow'`` (default: the grams.py-pattern
    C++ kernel, ONE tokenization per batch feeding every feature,
    5.7x the array form at 1M pages) and ``impl='hof'`` (the readable
    array reference it is pinned against; BENCH/ab_gopher_r5.json has
    the measured ranking, including a dropped regexp_count builder).
    The rule layer on top is shared Catalyst.

    ``sum(len(word))`` is the concatenated-token char count in every
    builder (strip-all-whitespace regex / flat token-length segment
    sum) — never a per-word interpreted-HOF fold (the repo's
    thrice-measured lesson)."""
    if impl is None:
        impl = BUILDER
    if impl == "arrow":
        feats = _gopher_arrow_feats(df, id_col, text_col)
    elif impl == "hof":
        feats = _gopher_hof_feats(df, id_col, text_col)
    else:
        raise ValueError(f"unknown impl {impl!r}")

    n_words = F.col("n_words")
    word_chars = F.col("word_chars")
    n_sym = F.col("n_sym")
    n_lines = F.col("n_lines")
    bullet = F.col("bullet_lines")
    ellipsis = F.col("ellipsis_lines")
    alpha = F.col("alpha_words")
    stop_hits = F.col("stop_hits")
    rules = {
        "word_count": (n_words >= min_words) & (n_words <= max_words),
        "mean_word_len": (3 * n_words <= word_chars) & (word_chars <= 10 * n_words),
        "symbol_ratio": 10 * n_sym <= n_words,
        "bullet_frac": 10 * bullet <= 9 * n_lines,
        "ellipsis_frac": 10 * ellipsis <= 3 * n_lines,
        "alpha_frac": 10 * alpha >= 8 * n_words,
        "stopwords": stop_hits >= 2,
    }
    keep = F.lit(True)
    for name in GOPHER_RULES:
        keep = keep & rules[name]
    fail = F.concat_ws(
        ",",
        F.array_compact(
            F.array(*[
                F.when(~rules[name], F.lit(name)) for name in GOPHER_RULES
            ])
        ),
    )
    return feats.select(
        F.col(id_col),
        *_FEATS,
        keep.alias("keep"),
        fail.alias("fail_rules"),
    )


def gopher_gate(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", **kw) -> DataFrame:
    """Surviving docs only (id + text), the composable production form."""
    feats = gopher_features(df, id_col=id_col, text_col=text_col, **kw)
    return (
        df.join(feats.filter("keep").select(id_col), id_col, "left_semi")
        .select(id_col, text_col)
    )


# --- constructive fixture: documents + stated injections at fixed
# residues so each rule fails somewhere and passes somewhere ---


def gopher_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Injections (suffixes applied in this order, prefix last):
    % 3: 3 required stopwords (passes the stopword rule);
    % 5: a '########' symbol word (trips symbol_ratio for short docs);
    % 23: one 800-char word (trips mean_word_len);
    % 29: 30 numeric words (trips alpha_frac);
    % 19: a trailing '...' clause (trips ellipsis_frac — single-line
    docs make the fraction 0 or 1; the intermediate fractions are
    pinned on crafted multi-line docs in tests);
    % 17: a '- ' bullet prefix (trips bullet_frac)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(i % 3 == 0, F.lit(" of and that")).otherwise(F.lit("")),
        F.when(i % 5 == 0, F.lit(" ########")).otherwise(F.lit("")),
        F.when(i % 23 == 0, F.concat(F.lit(" "), F.repeat(F.lit("z"), 800)))
         .otherwise(F.lit("")),
        F.when(i % 29 == 0, F.repeat(F.lit(" 0"), 30)).otherwise(F.lit("")),
        F.when(i % 19 == 0, F.lit(" trailing words end here..."))
         .otherwise(F.lit("")),
    )
    t = F.when(i % 17 == 0, F.concat(F.lit("- "), t)).otherwise(t)
    return d.select("doc_id", t.alias("text"))


def q_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_features(gopher_corpus(spark, sf_dir))


def oracle_gopher_gate_sql() -> str:
    req = ", ".join(f"'{w}'" for w in REQUIRED_WORDS)
    rule_sql = {
        "word_count": (
            f"n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}"
        ),
        "mean_word_len": "3 * n_words <= word_chars AND word_chars <= 10 * n_words",
        "symbol_ratio": "10 * n_sym <= n_words",
        "bullet_frac": "10 * bullet_lines <= 9 * n_lines",
        "ellipsis_frac": "10 * ellipsis_lines <= 3 * n_lines",
        "alpha_frac": "10 * alpha_words >= 8 * n_words",
        "stopwords": "stop_hits >= 2",
    }
    keep = " AND ".join(f"({rule_sql[r]})" for r in GOPHER_RULES)
    fails = ", ".join(
        f"CASE WHEN NOT ({rule_sql[r]}) THEN '{r}' END" for r in GOPHER_RULES
    )
    return f"""
WITH corpus AS (
    SELECT doc_id,
           CASE WHEN doc_id % 17 = 0 THEN '- ' ELSE '' END
           || text
           || CASE WHEN doc_id % 3 = 0 THEN ' of and that' ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN ' ########' ELSE '' END
           || CASE WHEN doc_id % 23 = 0 THEN ' ' || repeat('z', 800) ELSE '' END
           || CASE WHEN doc_id % 29 = 0 THEN repeat(' 0', 30) ELSE '' END
           || CASE WHEN doc_id % 19 = 0 THEN ' trailing words end here...' ELSE '' END
           AS text
    FROM documents
), feats AS (
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
               w -> w != '')) AS n_words,
           length(regexp_replace(trim(text), '\\s+', '', 'g')) AS word_chars,
           (length(text) - length(replace(text, '#', ''))
            + (length(text) - length(replace(text, '...', ''))) // 3)::INT
               AS n_sym,
           len(str_split(text, chr(10))) AS n_lines,
           len(list_filter(str_split(text, chr(10)),
               l -> substr(ltrim(l), 1, 2) IN ('- ', '* ', '• ')))
               AS bullet_lines,
           len(list_filter(str_split(text, chr(10)),
               l -> ends_with(l, '...') OR ends_with(l, '…')))
               AS ellipsis_lines,
           len(list_filter(list_filter(regexp_split_to_array(trim(text), '\\s+'),
               w -> w != ''), w -> regexp_matches(w, '[A-Za-z]')))
               AS alpha_words,
           len(list_filter([{req}],
               rw -> list_contains(list_filter(
                   regexp_split_to_array(trim(text), '\\s+'),
                   w -> w != ''), rw)))::INT AS stop_hits
    FROM corpus
)
SELECT doc_id, n_words, word_chars, n_sym, n_lines, bullet_lines,
       ellipsis_lines, alpha_words, stop_hits,
       ({keep}) AS keep,
       COALESCE(array_to_string(list_filter([{fails}], x -> x IS NOT NULL),
                                ','), '') AS fail_rules
FROM feats
"""
