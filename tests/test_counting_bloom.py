"""Counting bloom (retraction-capable novelty state): binarized
counters must equal the plain bloom over the live registry bit for
bit, folds must be exact and order-insensitive, saturation must be
sticky (false-positive-only failure direction), underflow must raise,
and the retraction query must stay EXACT through the verify join."""

import glob
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from xjs.pipeline.bloom import (
    COUNTER_MAX,
    bloom_build,
    counting_build,
    counting_from_state,
    counting_state_update,
    counting_to_bits,
    novel_keys,
    q_bloom_novel_retraction,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_SLOTS = 1 << 15
K = 5


@pytest.fixture(scope="module")
def keys(spark):
    adds = spark.range(3_000).select(
        F.concat(F.lit("u-"), F.col("id")).alias("key")).cache()
    removes = spark.range(0, 3_000, 3).select(
        F.concat(F.lit("u-"), F.col("id")).alias("key")).cache()
    live = adds.join(removes, "key", "left_anti").cache()
    return adds, removes, live


def test_binarized_build_equals_plain_bloom(spark, keys):
    adds, _, _ = keys
    counters = counting_build(adds, "key", n_slots=N_SLOTS, k=K)
    assert counting_to_bits(counters) == bloom_build(
        adds, "key", n_bits=N_SLOTS, k=K)


def test_binarized_after_removal_equals_bloom_of_live_registry(
        spark, keys, tmp_path):
    """count[slot] = sum of live-key touches, so after subtracting the
    removed slice the >0 slots are EXACTLY the live keys' slots."""
    adds, removes, live = keys
    counting_state_update(spark, adds, None, "key",
                          str(tmp_path / "d1"), n_slots=N_SLOTS, k=K)
    counters = counting_state_update(
        spark, None, removes, "key", str(tmp_path / "d2"),
        prev_state_dir=str(tmp_path / "d1"), n_slots=N_SLOTS, k=K)
    assert counting_to_bits(counters) == bloom_build(
        live, "key", n_bits=N_SLOTS, k=K)


def test_fold_order_insensitive_and_equals_single_pass(spark, keys,
                                                       tmp_path):
    """Interleaved add/remove slices fold to the same counters as one
    build over the net multiset — counts are additive."""
    adds, removes, live = keys
    a1 = adds.filter(F.pmod(F.xxhash64("key"), F.lit(2)) == 0)
    a2 = adds.join(a1, "key", "left_anti")
    counting_state_update(spark, a1, None, "key", str(tmp_path / "s1"),
                          n_slots=N_SLOTS, k=K)
    counting_state_update(
        spark, a2, removes.filter(F.pmod(F.xxhash64("key"), F.lit(2)) == 1), "key",
        str(tmp_path / "s2"), prev_state_dir=str(tmp_path / "s1"),
        n_slots=N_SLOTS, k=K)
    folded = counting_state_update(
        spark, None, removes.filter(F.pmod(F.xxhash64("key"), F.lit(2)) == 0), "key",
        str(tmp_path / "s3"), prev_state_dir=str(tmp_path / "s2"),
        n_slots=N_SLOTS, k=K)
    single = counting_build(live, "key", n_slots=N_SLOTS, k=K)
    assert np.array_equal(folded.astype(np.uint32), single)


def test_live_keys_never_false_negative_after_removal(spark, keys,
                                                      tmp_path):
    adds, removes, live = keys
    counting_state_update(spark, adds, None, "key",
                          str(tmp_path / "d1"), n_slots=N_SLOTS, k=K)
    counters = counting_state_update(
        spark, None, removes, "key", str(tmp_path / "d2"),
        prev_state_dir=str(tmp_path / "d1"), n_slots=N_SLOTS, k=K)
    novel = novel_keys(
        spark.range(0).select(F.lit("x").alias("key")).limit(0)
        .unionByName(live), live, "key", n_bits=N_SLOTS, k=K,
        bloom=counting_to_bits(counters))
    assert novel.count() == 0  # every live key recognized as member


def test_underflow_raises(spark, tmp_path):
    present = spark.range(100).select(
        F.concat(F.lit("p-"), F.col("id")).alias("key"))
    absent = spark.range(100).select(
        F.concat(F.lit("GHOST-"), F.col("id")).alias("key"))
    counting_state_update(spark, present, None, "key",
                          str(tmp_path / "d1"), n_slots=N_SLOTS, k=K)
    with pytest.raises(ValueError, match="underflow"):
        counting_state_update(
            spark, None, absent, "key", str(tmp_path / "d2"),
            prev_state_dir=str(tmp_path / "d1"), n_slots=N_SLOTS, k=K)


def test_saturation_is_sticky_and_false_positive_only(spark, tmp_path):
    """64 slots vs 10k keys forces counters past 255: saturated cells
    pin at COUNTER_MAX through a removal fold (never underflow, never
    binarize to 0), so membership stays no-false-negative."""
    many = spark.range(10_000).select(
        F.concat(F.lit("m-"), F.col("id")).alias("key"))
    rem = many.filter(F.col("key").endswith("0"))
    counting_state_update(spark, many, None, "key",
                          str(tmp_path / "d1"), n_slots=64, k=3)
    c1, _, _ = counting_from_state(str(tmp_path / "d1"))
    assert (c1 == COUNTER_MAX).all()  # fully saturated tiny state
    c2 = counting_state_update(
        spark, None, rem, "key", str(tmp_path / "d2"),
        prev_state_dir=str(tmp_path / "d1"), n_slots=64, k=3)
    assert (c2 == COUNTER_MAX).all()  # sticky: removal cannot dent it


def test_replay_is_noop(spark, keys, tmp_path):
    adds, _, _ = keys
    first = counting_state_update(spark, adds, None, "key",
                                  str(tmp_path / "d1"),
                                  n_slots=N_SLOTS, k=K)
    # a replayed day must return the stored state without recompute
    replay = counting_state_update(
        spark, adds.limit(1), None, "key", str(tmp_path / "d1"),
        n_slots=N_SLOTS, k=K)
    assert np.array_equal(first, replay)
    assert os.path.exists(str(tmp_path / "d1" / "_SUCCESS"))


def test_param_mismatch_raises(spark, keys, tmp_path):
    adds, _, _ = keys
    counting_state_update(spark, adds, None, "key", str(tmp_path / "d1"),
                          n_slots=N_SLOTS, k=K)
    with pytest.raises(ValueError, match="params changed"):
        counting_state_update(spark, None, adds, "key",
                              str(tmp_path / "d2"),
                              prev_state_dir=str(tmp_path / "d1"),
                              n_slots=N_SLOTS * 2, k=K)


def test_retraction_query_matches_exact_semantics(spark, sf_dir):
    import duckdb

    from xjs.pipeline.bloom import oracle_bloom_novel_retraction_sql

    got = sorted(map(tuple, q_bloom_novel_retraction(spark, sf_dir)
                     .collect()))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')")
    want = sorted(map(tuple,
                      con.sql(oracle_bloom_novel_retraction_sql())
                      .fetchall()))
    assert got == want
    # retracted-and-recrawled urls really are novel again
    assert any(d % 10 == 0 for d, _ in got)


def test_retraction_query_leaves_no_state_dir(spark, sf_dir):
    """The query's counting-bloom state dirs are scratch: they are gone
    once it returns, and its result (which holds the counters in
    memory) still evaluates."""
    pattern = os.path.join(REPO, ".tmp", "cbloom-*")
    before = set(glob.glob(pattern))
    assert q_bloom_novel_retraction(spark, sf_dir).count() > 0
    assert set(glob.glob(pattern)) == before


def test_partials_sparse_and_dense_paths_agree_with_reference(spark, keys):
    """r6: build partials pick np.unique sparse folding for sparse
    tasks and fall back to one bincount for dense ones (task touch
    count vs n_slots/8).  Pin BOTH branches against a single-process
    reference bincount over the same JVM-computed hash lanes — the
    chunk encoding, widened CHUNK_SLOTS grouping, and driver assembly
    must reproduce it exactly at any slot count."""
    from xjs.pipeline.bloom import _lanes, _slots

    adds, _, _ = keys
    h, g = _lanes(F.col("key"))
    rows = (adds.select("key").distinct()
            .select(h.alias("h"), g.alias("g")).collect())
    hh = np.array([r.h for r in rows], dtype=np.int64).view(np.uint64)
    gg = np.array([r.g for r in rows], dtype=np.int64).view(np.uint64)
    # n_slots=256 forces every task dense (touches >= n_slots/8);
    # n_slots=1<<20 forces every task sparse (touches << slots/8)
    for n_slots in (256, 1 << 20):
        expect = np.zeros(n_slots, dtype=np.uint32)
        for pos in _slots(hh, gg, K, n_slots):
            expect += np.bincount(pos.astype(np.int64), minlength=n_slots
                                  ).astype(np.uint32)
        got = counting_build(adds, "key", n_slots=n_slots, k=K)
        assert np.array_equal(got, expect), n_slots
