"""The incremental-state protocol shared by every state family
(xjs.pipeline.state): done markers, slice replay in a scratch dir, and
removal of that dir."""

import os

import pytest
from pyspark.sql import functions as F

from xjs.pipeline import lines, state


def test_complete_needs_every_part(tmp_path):
    d = str(tmp_path)
    assert not state.complete(d)
    os.makedirs(tmp_path / "a")
    os.makedirs(tmp_path / "b")
    state.mark_complete(str(tmp_path / "a"))
    assert state.complete(d, "a")
    assert not state.complete(d, "a", "b")
    assert not state.complete(d)
    state.mark_complete(d)
    assert state.complete(d)


def test_replay_removes_scratch_dir_on_failure(spark, tmp_path, monkeypatch):
    """The fold sees the three doc_id % 3 slices in order, each chained
    to the previous state dir, and the scratch dir goes even when a
    fold raises."""
    monkeypatch.setattr(state, "SCRATCH_ROOT", str(tmp_path / "scratch"))
    corpus = spark.range(9).select(F.col("id").alias("doc_id"))
    seen = []

    def fold(sl, out, prev):
        seen.append(([r.doc_id % 3 for r in sl.collect()], out, prev))
        if len(seen) == 2:
            raise RuntimeError("killed mid-replay")

    with pytest.raises(RuntimeError, match="killed"):
        with state.replay_slices(corpus, fold, "t-"):
            pass
    assert [set(ids) for ids, _, _ in seen] == [{0}, {1}]
    assert seen[0][2] is None and seen[1][2] == seen[0][1]
    assert os.listdir(tmp_path / "scratch") == []


def test_replay_creates_missing_scratch_root(spark, sf_dir, tmp_path, monkeypatch):
    """A fresh checkout has no scratch root: an incremental oracle query
    creates it, and leaves nothing in it."""
    root = tmp_path / "fresh-checkout" / ".tmp"
    monkeypatch.setattr(state, "SCRATCH_ROOT", str(root))
    got = lines.q_line_dedup_incremental(spark, sf_dir)
    assert got.count() > 0
    assert os.listdir(root) == []

