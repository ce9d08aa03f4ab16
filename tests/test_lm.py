"""Bigram- and trigram-LM perplexity scoring/filtering: pinned
artifact retrain, handcrafted integer scores, degenerate docs, gate
semantics, and the CCNet buckets.  The per-order checks are shared
with the 5-gram tests (tests/lm_checks.py)."""

from lm_checks import (
    check_gate_drops_exactly_the_noise,
    check_native_equals_portable,
    check_native_plan_is_shuffle_free,
    check_portable_plan_broadcasts,
    check_retrains_byte_identical,
)
from pyspark.sql import functions as F

from xjs.pipeline.lm import DEFAULT_LM, DEFAULT_LM3, lm_filter, lm_score
from xjs.pipeline.model_artifact import load


def test_artifact_retrains_byte_identical():
    check_retrains_byte_identical(2)


def test_handcrafted_integer_scores(spark):
    model = load(DEFAULT_LM)
    lp = {(p, w): v for p, w, v in model["bigrams"]}
    (p0, w0), v0 = next(iter(sorted(lp.items())))
    df = spark.createDataFrame(
        [
            (1, f"{p0} {w0}"),              # one known transition
            (2, f"{p0} {w0} zzzunseen"),    # known + OOV
            (3, "solo"),                    # no transitions
            (4, ""),                        # empty
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_transitions, r.lp_sum) for r in lm_score(df).collect()}
    assert got[1] == (1, v0)
    assert got[2] == (2, v0 + model["lp_oov"])
    assert got[3] == (0, 0)
    assert got[4] == (0, 0)


def test_filter_gate_integer_exact(spark):
    import math

    model = load(DEFAULT_LM)
    df = spark.createDataFrame(
        [(1, "zzz yyy xxx www")], "doc_id long, text string"
    )
    # all 3 transitions at the OOV floor: mean lp = lp_oov
    row = lm_filter(df, max_ppl=100.0).first()
    assert row.n_transitions == 3 and row.lp_sum == 3 * model["lp_oov"]
    # floor perplexity ~ e^6.92 >> 100 -> dropped
    assert row.keep is False
    assert math.exp(-model["lp_oov"] / 1e6) > 100
    # generous threshold keeps it
    assert lm_filter(df, max_ppl=1e9).first().keep is True


def test_corpus_gate_drops_exactly_the_noise(spark, sf_dir):
    check_gate_drops_exactly_the_noise(spark, sf_dir, 2)


def test_broadcast_lookup_plan(spark, sf_dir):
    check_portable_plan_broadcasts(spark, sf_dir, 2)


def test_native_kernel_plan_is_shuffle_free(spark, sf_dir):
    check_native_plan_is_shuffle_free(spark, sf_dir, 2)


def test_native_equals_portable_bigram(spark, sf_dir):
    check_native_equals_portable(spark, sf_dir, 2)


# --------------------------------------------------------------------------
# trigram + stupid backoff (r5)
# --------------------------------------------------------------------------


def test_trigram_artifact_retrains_byte_identical():
    check_retrains_byte_identical(3)


def test_trigram_backoff_chain_integer_exact(spark):
    """Hand-check the three-way backoff: pruned-trigram hit, bigram
    backoff (+integer alpha), OOV floor — each an exact integer."""
    model = load(DEFAULT_LM3)
    tri = {(a, b, c): lp for a, b, c, lp in model["trigrams"]}
    bi = {(p, w): lp for p, w, lp in model["bigrams"]}
    (a, b, c), lp3 = next(iter(sorted(tri.items())))
    # a bigram NOT extending to a kept trigram with some continuation
    backoff_pair = next(
        (p, w) for (p, w) in sorted(bi)
        if not any(k[1] == p and k[2] == w for k in tri)
    )
    df = spark.createDataFrame(
        [
            (1, f"{a} {b} {c}"),                      # trigram hit
            (2, f"zz {backoff_pair[0]} {backoff_pair[1]}"),  # bigram backoff
            (3, "zz yy xx"),                           # OOV floor
            (4, f"{a} {b}"),                           # < 3 tokens
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_transitions, r.lp_sum)
        for r in lm_score(df, DEFAULT_LM3).collect()
    }
    assert got[1] == (1, tri[(a, b, c)])
    assert got[2] == (1, bi[backoff_pair] + model["backoff"])
    assert got[3] == (1, model["lp_oov"])
    assert got[4] == (0, 0)


def test_trigram_gate_drops_exactly_the_noise(spark, sf_dir):
    check_gate_drops_exactly_the_noise(spark, sf_dir, 3)


def test_trigram_native_equals_portable(spark, sf_dir):
    check_native_equals_portable(spark, sf_dir, 3)


def test_trigram_broadcast_plan(spark, sf_dir):
    check_portable_plan_broadcasts(spark, sf_dir, 3)


def test_trigram_native_kernel_plan_is_shuffle_free(spark, sf_dir):
    check_native_plan_is_shuffle_free(spark, sf_dir, 3)


# ---------------------------------------------------------------------------
# CCNet head/middle/tail buckets
# ---------------------------------------------------------------------------


def test_ccnet_buckets_are_threshold_consistent(spark, sf_dir):
    """Within a language, bucket order must be monotone in score_key:
    min(head) >= max(middle-or-tail), min(middle) >= max(tail) —
    the terciles are real cutoffs, not per-doc noise."""
    from xjs.pipeline.lm import ccnet_buckets, lm_corpus

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang")
    out = ccnet_buckets(lm_corpus(spark, sf_dir).join(d, "doc_id")).filter(
        F.col("score_key").isNotNull()).cache()
    stats = out.groupBy("lang").pivot(
        "bucket", ["head", "middle", "tail"]).agg(
        F.struct(F.min("score_key").alias("lo"),
                 F.max("score_key").alias("hi"))).collect()
    assert len(stats) > 0
    for r in stats:
        if r["head"] is not None and r["middle"] is not None:
            assert r["head"]["lo"] >= r["middle"]["hi"]
        if r["middle"] is not None and r["tail"] is not None:
            assert r["middle"]["lo"] > r["tail"]["hi"]
    # every lang produced all three buckets on this fixture
    assert all(r["head"] and r["middle"] and r["tail"] for r in stats)
    out.unpersist()


def test_ccnet_unjudgeable_docs_default_to_head(spark):
    from xjs.pipeline.lm import ccnet_buckets

    df = spark.createDataFrame(
        [(1, "en", "single"), (2, "en", ""), (3, "en", "two tokens here"),
         (4, "en", "more than two tokens")],
        "doc_id long, lang string, text string")
    rows = {r.doc_id: r for r in ccnet_buckets(df, sample_mod=1).collect()}
    assert rows[1].bucket == "head" and rows[1].score_key is None
    assert rows[2].bucket == "head" and rows[2].score_key is None
    assert rows[3].score_key is not None
    assert len(rows) == 4


def test_ccnet_thresholds_broadcast_and_corpus_never_sorts(spark, sf_dir):
    """The scale contract: the only sort is over the SAMPLE window;
    the full corpus joins the thresholds via broadcast."""
    from xjs.pipeline.lm import ccnet_buckets, lm_corpus

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang")
    plan = (
        ccnet_buckets(lm_corpus(spark, sf_dir).join(d, "doc_id"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
