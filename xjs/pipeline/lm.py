"""Language-model perplexity scoring + filtering — the CCNet-shaped
quality gate: score each document under a small LM trained on a
REFERENCE corpus, keep documents whose per-token log-probability
clears a threshold (equivalently, whose perplexity is low enough).
One scorer serves every committed artifact and reads the model order
and the backoff chain from it: a bigram model with add-1 smoothing
(scripts/train_bigram_lm.py), a singleton-pruned trigram
(scripts/train_trigram_lm.py) and a 5-gram — CCNet's deployed model
form (scripts/train_5gram_lm.py) — the last two with integer stupid
backoff.  Small models keep the operator end-to-end exact while
exercising the identical pipeline mechanics: trained artifact →
distributed scoring → threshold gate.

Exactness design: the artifact stores log-probabilities as INTEGER
micro-nats (round(ln p × 1e6)), so a document's score is an integer
SUM — order-independent, bit-identical in Spark, numpy, and DuckDB —
and the filter compares integers (sum ≥ threshold × n_transitions),
no floating-point aggregation anywhere.  The DuckDB oracle embeds the
artifact's order tables as VALUES lists (the BPE-oracle pattern:
the oracle is built driver-side FROM the same artifact).

Scale shape: transitions are a narrow ``arrays_zip(slice, ...)``
explode (no window, no per-doc state); each order table (model-sized)
broadcast-joins; per-doc aggregation is ONE groupBy on the doc id
summing (long, long) — map-side partials absorb the explosion, so the
shuffle carries two longs per doc per partition.  At 10^12 docs this
is the token-counting shape with a broadcast lookup bolted on.

The reference engine (/root/reference, a schema validator) has no
corpus operators; this op belongs to the training-data-pipeline
mandate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xjs.pipeline.model_artifact import PKG_PREFIX, load
from xjs.pipeline.text import arrow_tokens, tokens, tokens_sql, window_starts

DEFAULT_LM = PKG_PREFIX + "bigram_lm.pkl"
DEFAULT_LM3 = PKG_PREFIX + "trigram_lm.pkl"
DEFAULT_LM5 = PKG_PREFIX + "fivegram_lm.pkl"

#: default gate: mean transition log-prob ≥ ln(1/MAX_PPL)
MAX_PPL = 400.0

#: gram column names per order, longest context first
_GRAM_COLS = {5: ["p4", "p3", "p2", "p1", "tok"],
              4: ["p3", "p2", "p1", "tok"],
              3: ["p2", "p1", "tok"],
              2: ["p1", "tok"]}


def _model(artifact: str) -> tuple[dict, dict, int]:
    """(tables, penalties, lp_oov) of a committed LM artifact.
    ``tables`` is {order: [(tok..., lp), ...]}, highest order first;
    ``penalties`` is {order: (top - order) × backoff}, the integer the
    stupid-backoff chain adds when a transition falls through to that
    order.  Reads the three committed layouts: bigram (``bigrams``),
    trigram (``trigrams``, ``bigrams``, ``backoff``) and 5-gram
    (``order``, ``tables``, ``backoff``)."""
    model = load(artifact)
    if "tables" in model:
        raw = model["tables"]
        if model["order"] != max(raw):
            raise ValueError(f"{artifact}: order {model['order']} but "
                             f"tables up to {max(raw)}")
    else:
        raw = {2: model["bigrams"]}
        if "trigrams" in model:
            raw[3] = model["trigrams"]
    top = max(raw)
    backoff = int(model.get("backoff", 0))
    tables = {n: [(*g[:-1], int(g[-1])) for g in raw[n]]
              for n in sorted(raw, reverse=True)}
    penalties = {n: (top - n) * backoff for n in tables}
    return tables, penalties, int(model["lp_oov"])


# --------------------------------------------------------------------------
# native scorer kernel (r6)
# --------------------------------------------------------------------------
#
# hash_mode='native' used to probe broadcast tables on xxhash64 longs
# from an exploded transition stream — one Generate + N broadcast joins
# + a doc-keyed aggregation over ~46M rows at 1M docs.  The whole
# scorer is per-document over MODEL-SIZED tables, so it now runs as one
# narrow Arrow kernel: C++ tokenization (split parity pinned in
# grams.py), exact token->vocab-id mapping via index_in, per-order gram
# keys as a wraparound polynomial hash over the id windows (the same
# 2^-64 non-adversarial collision stance as the xxhash64 probes it
# replaces), probed with binary search against the sorted model keys,
# and integer per-doc sums — ZERO shuffle.  'portable' (the declared
# queries' mode) keeps the string-pair joins and remains the
# oracle-provable reference; the native==portable equality tests now
# pin the kernel against it.

_KB = 0x100000001B3  # FNV-1a prime, odd => bijective wraparound mult


def _score_kernel(
    df: DataFrame,
    tables: dict,
    penalties: dict,
    lp_oov: int,
    text_col: str,
    id_col: str,
    carry_cols: tuple = (),
) -> DataFrame:
    """(id, carry..., n_transitions, lp_sum) — generic stupid-backoff
    scorer over ``tables`` {order: [(tok..., lp), ...]} with integer
    ``penalties`` {order: added_micro_nats}; highest order defines the
    transition width.  One output row per input row, no shuffle."""
    from collections.abc import Iterator

    orders = sorted(tables, reverse=True)
    kmax = orders[0]
    vocab = sorted({t for o in orders for g in tables[o] for t in g[:-1]})
    vindex = {t: i for i, t in enumerate(vocab)}
    model_keys = {}
    model_lps = {}
    import numpy as np

    for o in orders:
        keys = np.zeros(len(tables[o]), dtype=np.uint64)
        lps = np.zeros(len(tables[o]), dtype=np.int64)
        with np.errstate(over="ignore"):
            for j, g in enumerate(tables[o]):
                h = np.uint64(0)
                for t in g[:-1]:
                    h = h * np.uint64(_KB) + np.uint64(vindex[t])
                keys[j] = h
                lps[j] = int(g[-1])
        order_ = np.argsort(keys)
        model_keys[o] = keys[order_]
        model_lps[o] = lps[order_]

    dtypes = dict(df.dtypes)
    carry = list(carry_cols)
    out_schema = ", ".join(
        [f"{id_col} {dtypes[id_col]}"]
        + [f"{c} {dtypes[c]}" for c in carry]
        + ["n_transitions long", "lp_sum long"])

    def build(batches: Iterator) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc

        voc_arr = pa.array(vocab, type=pa.string())
        n_voc = len(vocab)
        for batch in batches:
            text = batch.column(1 + len(carry))
            nrows = len(text)
            flat, tok_off = arrow_tokens(text)
            # null text -> no transitions (split(trim(null)) is null);
            # eff masks them while tok_off keeps flat-buffer alignment
            eff = np.where(
                pc.is_valid(text).to_numpy(zero_copy_only=False),
                np.diff(tok_off), 0)
            ids = pc.fill_null(
                pc.index_in(flat, value_set=voc_arr), n_voc
            ).to_numpy(zero_copy_only=False).astype(np.uint64)
            m = np.maximum(eff - (kmax - 1), 0)
            n_trans = m.copy()
            lp_sum = np.zeros(nrows, dtype=np.int64)
            total = int(m.sum())
            if total:
                local, seg = window_starts(eff, kmax)
                g = tok_off[seg] + local
                lp = np.full(total, lp_oov, dtype=np.int64)
                undecided = np.ones(total, dtype=bool)
                with np.errstate(over="ignore"):
                    for o in orders:
                        start = g + (kmax - o)
                        key = np.zeros(total, dtype=np.uint64)
                        for t in range(o):
                            key = key * np.uint64(_KB) + ids[start + t]
                        mk, ml = model_keys[o], model_lps[o]
                        if not len(mk):
                            continue
                        pos = np.searchsorted(mk, key)
                        pos_c = np.minimum(pos, len(mk) - 1)
                        hit = undecided & (pos < len(mk)) & (
                            mk[pos_c] == key)
                        lp[hit] = ml[pos_c[hit]] + penalties[o]
                        undecided &= ~hit
                np.add.at(lp_sum, seg, lp)
            arrays = [batch.column(0)]
            arrays += [batch.column(1 + i) for i in range(len(carry))]
            arrays += [pa.array(n_trans, type=pa.int64()),
                       pa.array(lp_sum, type=pa.int64())]
            yield pa.RecordBatch.from_arrays(
                arrays, names=[id_col, *carry,
                               "n_transitions", "lp_sum"])

    return df.select(
        F.col(id_col), *[F.col(c) for c in carry], F.col(text_col)
    ).mapInArrow(build, out_schema)


def lm_score(
    df: DataFrame,
    artifact: str = DEFAULT_LM,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "native",
    carry_cols: tuple = (),
) -> DataFrame:
    """(id, n_transitions, lp_sum): integer micro-nat log-probability
    of each document's token transitions under the artifact's n-gram
    model with RECURSIVE stupid backoff over its order tables — for a
    top order n:

        lp = coalesce(lp_n, lp_(n-1) + B, ..., lp_2 + (n-2)B, lp_oov)

    Each missed order adds the artifact's integer backoff constant B
    (the multiplier ln(0.4) is an integer ADDITION in micro-nat
    space), so pruning costs no exactness and the chain stays exact
    integer arithmetic end to end.  The bigram artifact has no backoff:
    unseen transitions land on the OOV floor.  Docs with fewer than n
    tokens score (0, 0) — no transitions.

    ``hash_mode='native'`` (default) runs the zero-shuffle Arrow kernel
    above.  ``'portable'`` is the oracle-provable reference: one narrow
    ``arrays_zip`` explode of the top-order windows, one broadcast left
    join per order table on the exact strings, and one doc-keyed
    partial-agg sum; the native==portable tests pin the kernel to it.

    ``carry_cols`` names extra per-doc columns (functionally dependent
    on the id, e.g. the language) carried through the aggregation so
    consumers skip a corpus-sized join-back.

    Zero-transition docs are kept via ``explode_outer`` (one null row
    per such doc) instead of the previous id-only join-back against the
    corpus — that join was two corpus-sized Exchanges per call (r6
    guide §2.4); the null rows are masked out of both aggregates."""
    if hash_mode not in ("native", "portable"):
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    tables, penalties, lp_oov = _model(artifact)
    if hash_mode == "native":
        return _score_kernel(df, tables, penalties, lp_oov, text_col,
                             id_col, carry_cols)
    spark = df.sparkSession
    cols = _GRAM_COLS[max(tables)]
    toks = tokens(F.col(text_col))
    m = F.greatest(F.size(toks) - (len(cols) - 1), F.lit(0))
    windows = F.arrays_zip(
        *[F.slice(toks, i + 1, m).alias(c) for i, c in enumerate(cols)])
    carry = list(carry_cols)
    scored = df.select(
        id_col, *carry, F.explode_outer(windows).alias("_t")
    ).select(
        id_col, *carry,
        F.col("_t").isNotNull().alias("_has"),
        *[F.col(f"_t.{c}").alias(c) for c in cols])
    for n, rows in tables.items():
        schema = ", ".join(f"{c} string" for c in _GRAM_COLS[n]) + f", lp{n} long"
        scored = scored.join(
            F.broadcast(spark.createDataFrame(rows, schema)),
            _GRAM_COLS[n], "left")
    lp = F.coalesce(
        *[F.col(f"lp{n}") + F.lit(penalties[n]) if penalties[n]
          else F.col(f"lp{n}") for n in tables],
        F.lit(lp_oov))
    return scored.groupBy(id_col, *carry).agg(
        F.count(F.when(F.col("_has"), F.lit(1))).alias("n_transitions"),
        F.coalesce(F.sum(F.when(F.col("_has"), lp)),
                   F.lit(0).cast("long")).alias("lp_sum"),
    ).select(id_col, *carry, "n_transitions", "lp_sum")


def lm_filter(
    df: DataFrame,
    max_ppl: float = MAX_PPL,
    artifact: str = DEFAULT_LM,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "native",
) -> DataFrame:
    """(id, n_transitions, lp_sum, keep): the perplexity gate.  keep
    iff mean transition log-prob ≥ ln(1/max_ppl) — compared in integer
    arithmetic (lp_sum ≥ threshold × n_transitions), so the verdict is
    exact.  Zero-transition docs are kept (nothing to judge)."""
    thr = round(-math.log(max_ppl) * 1_000_000)
    s = lm_score(df, artifact, text_col, id_col, hash_mode)
    return s.select(
        id_col,
        "n_transitions",
        "lp_sum",
        (
            (F.col("n_transitions") == 0)
            | (F.col("lp_sum") >= F.lit(thr) * F.col("n_transitions"))
        ).alias("keep"),
    )


def lm_filter_5gram(df: DataFrame, **kw) -> DataFrame:
    """lm_filter under the committed 5-gram artifact."""
    return lm_filter(df, artifact=DEFAULT_LM5, **kw)


# --------------------------------------------------------------------------
# query + oracle: the corpus mixes in-distribution docs with injected
# doubled-token noise (out of vocabulary), so the gate has real work;
# the oracle embeds the artifact's tables as VALUES.
# --------------------------------------------------------------------------


def lm_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # every 9th doc: double every token ("key" -> "keykey") — the
    # out-of-vocabulary garbage profile LM filtering exists to catch;
    # every transition lands on the OOV floor (the tiny fixture vocab
    # makes in-vocab scrambles indistinguishable — 916 of 961 possible
    # bigrams are in-model — so the noise must leave the vocabulary)
    noisy = F.concat_ws(
        " ",
        F.transform(tokens(F.col("text")), lambda t: F.concat(t, t)),
    )
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 9 == 0, noisy).otherwise(F.col("text")).alias("text"),
    )


def _lang_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang")
    return lm_corpus(spark, sf_dir).join(d, "doc_id")


# the declared queries run the provable string joins (the substring
# hash_mode precedent); bench/production run 'native'


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_filter(lm_corpus(spark, sf_dir), hash_mode="portable")


def q_lm_perplexity_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_filter(lm_corpus(spark, sf_dir), artifact=DEFAULT_LM3,
                     hash_mode="portable")


def q_lm_perplexity_5gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_filter(lm_corpus(spark, sf_dir), artifact=DEFAULT_LM5,
                     hash_mode="portable")


def _oracle_scored_sql(artifact: str, corpus_cols: str) -> str:
    """The CTE chain every LM oracle shares: the noisy ``corpus``
    (``corpus_cols`` + text), one VALUES table per model order built
    driver-side FROM the artifact, the top-order windows ``trans`` and
    ``scored`` (doc_id, n, lp_sum) with the backoff chain restated as
    one COALESCE — so the comparison pins the whole scorer
    bit-exactly.  Docs without transitions have no ``scored`` row."""
    tables, penalties, lp_oov = _model(artifact)
    top = max(tables)

    def esc(s: str) -> str:
        return s.replace("'", "''")

    def values(n: int) -> str:
        return ", ".join(
            "(" + ", ".join([f"'{esc(x)}'" for x in g[:-1]]
                            + [str(g[-1])]) + ")"
            for g in tables[n]
        )

    lms = ",\n".join(
        f"lm{n}({', '.join(_GRAM_COLS[n])}, lp{n}) AS (VALUES {values(n)})"
        for n in tables)
    windows = ", ".join(f"t[i - {top - 1 - k}] AS {c}"
                        for k, c in enumerate(_GRAM_COLS[top]))
    chain = ", ".join([f"lm{n}.lp{n} + {penalties[n]}" for n in tables]
                      + [str(lp_oov)])
    joins = "\n    ".join(
        f"LEFT JOIN lm{n} ON "
        + " AND ".join(f"lm{n}.{c} = tr.{c}" for c in _GRAM_COLS[n])
        for n in tables)
    return f"""
WITH corpus AS (
    SELECT {corpus_cols},
           CASE WHEN doc_id % 9 = 0
                THEN array_to_string(list_transform(
                         {tokens_sql('text')},
                         t -> t || t), ' ')
                ELSE text END AS text
    FROM documents
),
{lms},
toks AS (
    SELECT doc_id, {tokens_sql('text')} AS t FROM corpus
),
trans AS (
    SELECT doc_id, {windows}
    FROM toks, unnest(range({top}, len(t) + 1)) AS r(i)
),
scored AS (
    SELECT tr.doc_id, COUNT(*) AS n,
           SUM(COALESCE({chain}))::BIGINT AS lp_sum
    FROM trans tr
    {joins}
    GROUP BY tr.doc_id
)"""


def oracle_lm_perplexity_sql(artifact: str = DEFAULT_LM) -> str:
    thr = round(-math.log(MAX_PPL) * 1_000_000)
    return _oracle_scored_sql(artifact, "doc_id") + f"""
SELECT c.doc_id,
       COALESCE(s.n, 0) AS n_transitions,
       COALESCE(s.lp_sum, 0) AS lp_sum,
       (COALESCE(s.n, 0) = 0
        OR COALESCE(s.lp_sum, 0) >= {thr}::BIGINT * s.n) AS keep
FROM corpus c LEFT JOIN scored s USING (doc_id)
"""


def oracle_lm_perplexity_trigram_sql() -> str:
    return oracle_lm_perplexity_sql(DEFAULT_LM3)


def oracle_lm_perplexity_5gram_sql() -> str:
    return oracle_lm_perplexity_sql(DEFAULT_LM5)


# ---------------------------------------------------------------------------
# CCNet head/middle/tail perplexity bucketing
# ---------------------------------------------------------------------------

#: deterministic threshold-sample selector — CCNet computes its
#: per-language cutoffs on a held-out sample and applies them as
#: constants.  Selection hashes the id (md5, the mixture/export
#: arithmetic — bit-exact in DuckDB) rather than taking a residue
#: class: any id-arithmetic corpus structure (e.g. a fixture's %9
#: noise residue) lands in residue samples at a biased rate, which
#: skews the cutoffs — a hashed sample is decorrelated by
#: construction.  1-in-SAMPLE_MOD sampling rate.
SAMPLE_MOD = 3
_SAMPLE_SEED = "ccnet"


def _sample_mask(id_col, mod: int):
    key = F.md5(F.concat(id_col.cast("string"), F.lit(f"#{_SAMPLE_SEED}")))
    return F.pmod(F.conv(F.substring(key, 1, 15), 16, 10).cast("long"),
                  F.lit(mod)) == 0


def _sample_mask_sql(expr: str, mod: int) -> str:
    return (f"(('0x' || substr(md5({expr}::VARCHAR || '#{_SAMPLE_SEED}'), "
            f"1, 15))::BIGINT % {mod}) = 0")


def _floor_div(a, b):
    """Exact floor division on integer Columns, portable to DuckDB:
    both engines define % as truncated remainder, so
    (a - ((a % b + b) % b)) is divisible by b and the final / is an
    exact integer (< 2^53, double-safe)."""
    pm = ((a % b) + b) % b
    return ((a - pm) / b).cast("long")


def ccnet_buckets(
    df: DataFrame,
    artifact: str = DEFAULT_LM,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    sample_mod: int = SAMPLE_MOD,
    hash_mode: str = "native",
) -> DataFrame:
    """(id, lang, score_key, bucket): CCNet's head/middle/tail split —
    per-language perplexity terciles, better (higher mean log-prob)
    documents land in 'head'.

    ``artifact`` selects the LM (pass ``DEFAULT_LM5`` for CCNet's
    deployed 5-gram form) — the bucket machinery only reads the
    scorer's integer (id, n_transitions, lp_sum).

    All-integer arithmetic end to end: score_key = floor(lp_sum /
    n_transitions) in micro-nats per transition (total order with the
    id tie-break), tercile ranks k = ceil(m/3), ceil(2m/3) computed
    as integer expressions — no float comparison anywhere, so the
    bucket verdict is exact and the DuckDB oracle bit-matches.

    Scale shape (the CCNet deployment shape): thresholds come from a
    deterministic hash-mod SAMPLE — the only sort in the plan is a
    per-language window over sample rows (sample-sized by
    construction; CCNet hard-codes the resulting cutoffs per
    language) — then broadcast-join back and assign in one narrow
    pass over the corpus.  No per-language global sort of the corpus
    ever happens, so hot languages (English ≈ half the crawl) never
    concentrate on one task.  Zero-transition docs are unjudgeable
    and keep bucket 'head' (the permissive default), as do languages
    absent from the sample."""

    def keyed(d: DataFrame) -> DataFrame:
        # score_key NULL for zero-transition (unjudgeable) docs.  The
        # language column is CARRIED through the scorer's aggregation —
        # the previous id-keyed join-back was a corpus-sized shuffle
        # join paid twice per call (sample + main pass).
        s = lm_score(d, artifact, text_col, id_col, hash_mode,
                     carry_cols=(lang_col,))
        return s.select(
            id_col, lang_col,
            F.when(
                F.col("n_transitions") > 0,
                _floor_div(F.col("lp_sum"), F.col("n_transitions")),
            ).alias("score_key"),
        )

    # threshold sample: FILTER FIRST (the mask pushes into the scan),
    # then score — the corpus is LM-scored exactly once in the main
    # pass plus 1/sample_mod of it here, never twice in full
    sample = keyed(
        df.filter(_sample_mask(F.col(id_col), sample_mod))
    ).filter(F.col("score_key").isNotNull())

    from pyspark.sql import Window

    w = Window.partitionBy(lang_col).orderBy(
        F.col("score_key").desc(), F.col(id_col).asc())
    wc = Window.partitionBy(lang_col)
    ranked = sample.select(
        lang_col, "score_key",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("m"),
    )
    k1 = _floor_div(F.col("m") + 2, F.lit(3))          # ceil(m/3)
    k2 = _floor_div(2 * F.col("m") + 2, F.lit(3))      # ceil(2m/3)
    thresholds = ranked.groupBy(lang_col).agg(
        F.max(F.when(F.col("rn") == k1, F.col("score_key"))).alias("t1"),
        F.max(F.when(F.col("rn") == k2, F.col("score_key"))).alias("t2"),
    )
    # one main branch, no union: unjudgeable docs fold into the same
    # projection (NULL score_key -> 'head', the permissive default)
    return keyed(df).join(F.broadcast(thresholds), lang_col, "left").select(
        id_col, lang_col, "score_key",
        F.when(F.col("score_key").isNull(), F.lit("head"))
        .when(F.col("t1").isNull(), F.lit("head"))
        .when(F.col("score_key") >= F.col("t1"), F.lit("head"))
        .when(F.col("score_key") >= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail")).alias("bucket"),
    )


def q_lm_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ccnet_buckets(_lang_corpus(spark, sf_dir), hash_mode="portable")


def q_lm_ccnet_buckets_5gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ccnet_buckets(_lang_corpus(spark, sf_dir), artifact=DEFAULT_LM5,
                         hash_mode="portable")


def oracle_lm_ccnet_buckets_sql(artifact: str = DEFAULT_LM) -> str:
    """The scored CTE chain of the artifact's model, then the same
    integer tercile arithmetic as ccnet_buckets."""
    return _oracle_scored_sql(artifact, "doc_id, lang") + f""",
judged AS (
    SELECT c.doc_id, c.lang,
           ((lp_sum - ((lp_sum % n) + n) % n) / n)::BIGINT AS score_key
    FROM corpus c JOIN scored s USING (doc_id)
),
ranked AS (
    SELECT lang, score_key,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY score_key DESC, doc_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY lang) AS m
    FROM judged
    WHERE {_sample_mask_sql("doc_id", SAMPLE_MOD)}
),
thresholds AS (
    SELECT lang,
           MAX(CASE WHEN rn = ((m + 2) - ((m + 2) % 3)) / 3
                    THEN score_key END) AS t1,
           MAX(CASE WHEN rn = ((2 * m + 2) - ((2 * m + 2) % 3)) / 3
                    THEN score_key END) AS t2
    FROM ranked GROUP BY lang
)
SELECT j.doc_id, j.lang, j.score_key,
       CASE WHEN t.t1 IS NULL THEN 'head'
            WHEN j.score_key >= t.t1 THEN 'head'
            WHEN j.score_key >= t.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM judged j LEFT JOIN thresholds t USING (lang)
UNION ALL
SELECT c.doc_id, c.lang, NULL::BIGINT AS score_key, 'head' AS bucket
FROM corpus c LEFT JOIN scored s USING (doc_id)
WHERE s.doc_id IS NULL
"""


def oracle_lm_ccnet_buckets_5gram_sql() -> str:
    return oracle_lm_ccnet_buckets_sql(DEFAULT_LM5)
