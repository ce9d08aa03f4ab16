"""Incremental (cross-run) twin of char-grain exact-substring dedup:
window-owner state folds over disjoint slices, content-defined anchor
pruning (the state-size dial), and the retro-clean contract — final
state reproduces the batch answer exactly."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from xjs.pipeline.suffix import (
    char_span_duplicates,
    char_state_update,
    char_duplicates_from_state,
    char_window_keys,
    _anchored,
)

K = 50
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def state_base():
    base = tempfile.mkdtemp(prefix="t-incr-char-", dir=os.path.join(REPO, ".tmp"))
    yield base
    shutil.rmtree(base, ignore_errors=True)


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    from xjs.pipeline.dedup import dedup_corpus

    return dedup_corpus(spark, sf_dir)


def _fold(spark, corpus, base, n_slices=3, **kw):
    """Interleaved doc_id % n fold; returns the final state dir."""
    prev = None
    for day in range(n_slices):
        out = os.path.join(base, f"day{day}")
        char_state_update(
            spark, corpus.filter(F.col("doc_id") % n_slices == day),
            out, prev, **kw,
        )
        prev = out
    return prev


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("anchor_mod", [1, 4])
def test_fold_equals_batch_owner_table(spark, corpus, state_base, anchor_mod):
    """min is the whole merge algebra: a 3-slice interleaved fold must
    equal the single-pass full-corpus owner table, exact and anchored."""
    final = _fold(spark, corpus, state_base,
                  method="rolling", anchor_mod=anchor_mod)
    folded = spark.read.parquet(final)
    batch = (
        char_window_keys(corpus, method="rolling", anchor_mod=anchor_mod)
        .groupBy("key").agg(F.min("doc_id").alias("owner"))
    )
    assert folded.exceptAll(batch).count() == 0
    assert batch.exceptAll(folded).count() == 0


def test_retro_clean_equals_batch_spans(spark, corpus, state_base):
    """Spans of any one slice against FINAL state == batch anchored
    spans restricted to that slice's docs (the production contract:
    yesterday's partition can be re-cleaned after today's ingest moved
    ownership, without rescanning any text but its own)."""
    final = _fold(spark, corpus, state_base, method="rolling", anchor_mod=4)
    batch = char_span_duplicates(corpus, method="rolling", anchor_mod=4)
    for day in range(3):
        sl = corpus.filter(F.col("doc_id") % 3 == day)
        incr = char_duplicates_from_state(
            spark, sl, final, method="rolling", anchor_mod=4
        )
        want = batch.join(
            sl.select("doc_id").distinct(), "doc_id", "left_semi"
        )
        assert _canon(incr) == _canon(want)


def test_cross_slice_ownership_moves_to_smaller_id(spark, state_base):
    """A later slice carrying a SMALLER doc id takes ownership: after
    the fold, the earlier (larger-id) doc is the flagged one — batch
    min-owner semantics, reproduced through state."""
    # shared verbatim content is "x"*K + " " (the space after the block
    # matches too): windows at pos 1 and 2 flag -> span [0, K+1)
    text = "x" * K
    s1 = spark.createDataFrame([(10, text + " tail one")], "doc_id long, text string")
    s2 = spark.createDataFrame([(3, text + " other")], "doc_id long, text string")
    p1 = os.path.join(state_base, "s1")
    p2 = os.path.join(state_base, "s2")
    char_state_update(spark, s1, p1, method="rolling")
    char_state_update(spark, s2, p2, p1, method="rolling")
    both = s1.unionByName(s2)
    spans = char_duplicates_from_state(spark, both, p2, method="rolling")
    rows = {(r.doc_id, r.char_start, r.char_end) for r in spans.collect()}
    assert rows == {(10, 0, K + 1)}


def test_replay_is_idempotent(spark, corpus, state_base):
    """A state dir with _SUCCESS is never recomputed: re-submitting the
    same update (even with different input) leaves it untouched."""
    out = os.path.join(state_base, "day0")
    sl = corpus.filter(F.col("doc_id") % 3 == 0)
    char_state_update(spark, sl, out, method="rolling")
    before = _canon(spark.read.parquet(out))
    poisoned = spark.createDataFrame(
        [(999999, "z" * (K + 5))], "doc_id long, text string"
    )
    char_state_update(spark, poisoned, out, method="rolling")
    assert _canon(spark.read.parquet(out)) == before


def test_anchoring_prunes_state(spark, corpus, state_base):
    """anchor_mod=s keeps ~1/s of the distinct windows (content-hash
    selection); assert a real reduction, not the exact ratio."""
    exact = _fold(spark, corpus, os.path.join(state_base, "e"),
                  method="rolling", anchor_mod=1)
    pruned = _fold(spark, corpus, os.path.join(state_base, "p"),
                   method="rolling", anchor_mod=4)
    n_exact = spark.read.parquet(exact).count()
    n_pruned = spark.read.parquet(pruned).count()
    assert n_exact > 0
    assert n_pruned < 0.6 * n_exact


def test_anchored_spans_nest_inside_exact_spans(spark, corpus):
    """Selected windows are a subset of all windows, so every anchored
    span must lie inside some exact span (pruning narrows coverage,
    never invents duplicates)."""
    exact = char_span_duplicates(corpus, method="rolling")
    anch = char_span_duplicates(corpus, method="rolling", anchor_mod=4)
    ex = {}
    for r in exact.collect():
        ex.setdefault(r.doc_id, []).append((r.char_start, r.char_end))
    got = anch.collect()
    assert len(got) > 0
    for r in got:
        assert any(
            s <= r.char_start and r.char_end <= e
            for s, e in ex.get(r.doc_id, [])
        ), (r.doc_id, r.char_start, r.char_end)


@pytest.mark.parametrize("mod", [3, 8])
def test_rolling_anchor_pushdown_equals_post_filter(spark, corpus, mod):
    """The rolling kernel's in-batch anchor mask must select exactly
    the rows F.pmod(key, s) == 0 keeps on the unanchored output —
    including a non-power-of-two modulus, where unsigned-% would
    diverge from pmod on hashes >= 2^63 (the kernel uses the floored
    int64 view for this reason)."""
    pushed = char_window_keys(corpus, method="rolling", anchor_mod=mod)
    post = _anchored(
        char_window_keys(corpus, method="rolling"), "rolling", mod
    )
    assert pushed.count() == post.count() > 0
    assert pushed.exceptAll(post).count() == 0
