"""5-gram LM (CCNet's deployed model form): pinned artifact retrain,
the 4-level recursive stupid-backoff chain hand-checked at every
level as exact integers, hash-mode equivalence, and the CCNet buckets
under the 5-gram artifact.  The per-order checks are shared with the
bigram and trigram tests (tests/lm_checks.py)."""

from lm_checks import (
    check_gate_drops_exactly_the_noise,
    check_native_equals_portable,
    check_native_plan_is_shuffle_free,
    check_portable_plan_broadcasts,
    check_retrains_byte_identical,
)
from pyspark.sql import functions as F

from xjs.pipeline.lm import DEFAULT_LM5, ccnet_buckets, lm_corpus, lm_score
from xjs.pipeline.model_artifact import load


def test_5gram_artifact_retrains_byte_identical():
    check_retrains_byte_identical(5)


def test_backoff_chain_exact_at_every_level(spark):
    """One handcrafted transition per chain level: 5-gram hit, 4-gram
    (+B), 3-gram (+2B), bigram (+3B), OOV floor, and the <5-token
    degenerate — each score an exact integer from the artifact."""
    model = load(DEFAULT_LM5)
    t5 = {g[:-1]: g[-1] for g in model["tables"][5]}
    t4 = {g[:-1]: g[-1] for g in model["tables"][4]}
    t3 = {g[:-1]: g[-1] for g in model["tables"][3]}
    t2 = {g[:-1]: g[-1] for g in model["tables"][2]}
    b = model["backoff"]

    g5 = next(iter(sorted(t5)))
    # a kept 4-gram whose OOV-prefixed 5-gram cannot be in the table
    g4 = next(iter(sorted(t4)))
    # a kept 3-gram, a kept bigram — prefix with OOV tokens to force
    # every higher order to miss
    g3 = next(iter(sorted(t3)))
    g2 = next(iter(sorted(t2)))
    oov = "zzqq"
    assert oov not in {w for (_, w) in t2} | {p for (p, _) in t2}

    df = spark.createDataFrame(
        [
            (1, " ".join(g5)),
            (2, " ".join((oov,) + g4)),
            (3, " ".join((oov, oov) + g3)),
            (4, " ".join((oov, oov, oov) + g2)),
            (5, " ".join((oov, oov, oov, oov, oov))),
            (6, " ".join(g5[:4])),  # < 5 tokens: unjudgeable
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_transitions, r.lp_sum)
           for r in lm_score(df, DEFAULT_LM5).collect()}
    assert got[1] == (1, t5[g5])
    assert got[2] == (1, t4[g4] + b)
    assert got[3] == (1, t3[g3] + 2 * b)
    assert got[4] == (1, t2[g2] + 3 * b)
    assert got[5] == (1, model["lp_oov"])
    assert got[6] == (0, 0)


def test_native_equals_portable(spark, sf_dir):
    check_native_equals_portable(spark, sf_dir, 5)


def test_gate_drops_exactly_the_noise(spark, sf_dir):
    check_gate_drops_exactly_the_noise(spark, sf_dir, 5)


def test_all_four_tables_broadcast(spark, sf_dir):
    check_portable_plan_broadcasts(spark, sf_dir, 5)


def test_native_kernel_plan_is_shuffle_free(spark, sf_dir):
    check_native_plan_is_shuffle_free(spark, sf_dir, 5)


def test_bucket_hook_uses_the_5gram_scorer(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang")
    corpus = lm_corpus(spark, sf_dir).join(d, "doc_id")
    out = ccnet_buckets(corpus, artifact=DEFAULT_LM5)
    buckets = {r.bucket for r in out.collect()}
    assert buckets == {"head", "middle", "tail"}
    # noise docs must not dominate head: their per-transition score is
    # the OOV floor, the worst possible
    noise_head = out.filter((F.col("doc_id") % 9 == 0)
                            & (F.col("bucket") == "head")
                            & F.col("score_key").isNotNull()).count()
    assert noise_head == 0
