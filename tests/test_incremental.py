"""Incremental cross-run dedup: batch-equivalence, replay safety,
old-component merging, and the first-seen-rep vs min-doc-survivor
distinction."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from xjs.pipeline import incremental as inc
from xjs.pipeline.clusters import connected_components
from xjs.pipeline.dedup import dedup_corpus, simhash_pairs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def tmp_state(tmp_path):
    return str(tmp_path)


def _replay(spark, df, base, n_slices=3, key=None):
    key = key or (F.col("doc_id") % n_slices)
    prev = None
    for day in range(n_slices):
        out = os.path.join(base, f"day{day}")
        inc.incremental_update(spark, df.filter(key == day), out, prev)
        prev = out
    return prev


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_incremental_matches_batch(spark, sf_dir, tmp_state):
    """3-slice interleaved replay == one-shot batch recompute
    (digest-contract + simhash pairs + connected components),
    composed independently from the batch building blocks."""
    corpus = dedup_corpus(spark, sf_dir)
    final = _replay(spark, corpus, tmp_state)
    got = _rows(inc.survivors(spark, final))

    # independent batch composition
    uniq = corpus.groupBy(F.md5("text").alias("dig")).agg(
        F.min("doc_id").alias("rep"), F.any_value("text").alias("text")
    )
    pairs = simhash_pairs(
        uniq.select(F.col("rep").alias("doc_id"), "text")
    ).select("doc_a", "doc_b")
    cc = connected_components(pairs)
    membership = (
        corpus.select("doc_id", F.md5("text").alias("dig"))
        .join(uniq.select("dig", "rep"), "dig")
        .join(cc.withColumnRenamed("doc_id", "rep").withColumnRenamed("cluster", "root"),
              "rep", "left")
        .select("doc_id", F.coalesce("root", F.col("rep")).alias("root"))
    )
    want = _rows(
        membership.groupBy("root")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
        .select("keep_doc_id", "n_docs")
    )
    assert got == want
    assert len(got) > 0


def test_replay_safe(spark, sf_dir, tmp_state):
    """A complete state dir is never recomputed (kill/re-submit
    safety); an incomplete one (missing _SUCCESS) is."""
    corpus = dedup_corpus(spark, sf_dir).filter(F.col("doc_id") < 2_000_100)
    out = os.path.join(tmp_state, "day0")
    inc.incremental_update(spark, corpus, out)
    before = inc.survivors(spark, out).count()

    def mtimes():
        return {
            p: os.path.getmtime(os.path.join(dp, p))
            for dp, _, fs in os.walk(out)
            for p in fs
        }

    m1 = mtimes()
    inc.incremental_update(spark, corpus, out)  # replay: must be a no-op
    assert mtimes() == m1

    # a partial write (missing _SUCCESS) must be redone
    os.remove(os.path.join(out, "sigs", "_SUCCESS"))
    inc.incremental_update(spark, corpus, out)
    assert os.path.exists(os.path.join(out, "sigs", "_SUCCESS"))
    assert inc.survivors(spark, out).count() == before


def test_old_components_merge_through_new_doc(spark, tmp_state, monkeypatch):
    """Two separate historical components must merge when a new doc is
    near BOTH (the old-root remap path).  Signatures are pinned via a
    stubbed simhash so hamming distances are exact by construction:
    sim(A)=0, sim(B)=15 (hamming 4 apart: separate), sim(C)=3
    (hamming 2 from each: bridges them)."""
    sims = {"textA": 0, "textB": 15, "textC": 3}

    def stub(col):
        expr = F.lit(None).cast("long")
        for t, s in sims.items():
            expr = F.when(col == t, F.lit(s)).otherwise(expr)
        return expr

    monkeypatch.setattr(inc, "simhash", stub)

    day0 = spark.createDataFrame([(1, "textA"), (2, "textB")], "doc_id long, text string")
    day1 = spark.createDataFrame([(3, "textC")], "doc_id long, text string")
    s0 = os.path.join(tmp_state, "s0")
    s1 = os.path.join(tmp_state, "s1")
    inc.incremental_update(spark, day0, s0)
    assert _rows(inc.survivors(spark, s0)) == [(1, 1), (2, 1)]  # separate
    inc.incremental_update(spark, day1, s1, s0)
    assert _rows(inc.survivors(spark, s1)) == [(1, 3)]  # merged via C
    # and the sigs table's roots were remapped, not just the output
    _, sigs, _ = inc.load_state(spark, s1)
    assert {r.root for r in sigs.collect()} == {1}


def test_survivor_is_min_doc_not_first_seen_rep(spark, tmp_state):
    """A later slice can carry a SMALLER doc_id for an already-seen
    text; the rep stays first-seen (state stability) but the survivor
    must be the global min doc_id."""
    day0 = spark.createDataFrame([(30, "same text here")], "doc_id long, text string")
    day1 = spark.createDataFrame([(7, "same text here")], "doc_id long, text string")
    s0, s1 = os.path.join(tmp_state, "s0"), os.path.join(tmp_state, "s1")
    inc.incremental_update(spark, day0, s0)
    inc.incremental_update(spark, day1, s1, s0)
    assert _rows(inc.survivors(spark, s1)) == [(7, 2)]
    digests, _, _ = inc.load_state(spark, s1)
    assert [r.rep_id for r in digests.collect()] == [30]  # rep stable


def test_seen_texts_skip_signature_stage(spark, tmp_state):
    """Exact-collapse-first: a slice whose texts are all already in
    state adds members but no new sigs rows (the 100 TB cost story —
    repeated texts never reach the signature stage)."""
    day0 = spark.createDataFrame([(1, "alpha beta gamma")], "doc_id long, text string")
    day1 = spark.createDataFrame([(2, "alpha beta gamma")], "doc_id long, text string")
    s0, s1 = os.path.join(tmp_state, "s0"), os.path.join(tmp_state, "s1")
    inc.incremental_update(spark, day0, s0)
    inc.incremental_update(spark, day1, s1, s0)
    _, sigs, members = inc.load_state(spark, s1)
    assert sigs.count() == 1
    assert members.count() == 2


# --------------------------------------------------------------------------
# minhash-LSH incremental twin (same state algebra, array signatures,
# agreement-count verification — see incremental.py module docstring)
# --------------------------------------------------------------------------


def _mh_replay(spark, df, base, n_slices=3):
    prev = None
    for day in range(n_slices):
        out = os.path.join(base, f"day{day}")
        inc.minhash_incremental_update(
            spark, df.filter(F.col("doc_id") % n_slices == day), out, prev
        )
        prev = out
    return prev


def test_minhash_incremental_matches_batch(spark, sf_dir, tmp_state):
    """3-slice interleaved replay == one-shot batch recompute under the
    identical agreement contract, restated independently: band join on
    exploded keys, agreement counted by position-explode + group count
    (not the zip_with form the implementation uses)."""
    from xjs.pipeline.dedup import band_keys, minhash_signature

    corpus = dedup_corpus(spark, sf_dir)
    final = _mh_replay(spark, corpus, tmp_state)
    got = _rows(inc.survivors(spark, final))

    uniq = corpus.groupBy(F.md5("text").alias("dig")).agg(
        F.min("doc_id").alias("rep"), F.any_value("text").alias("text")
    )
    sigs = uniq.select(
        "rep", minhash_signature(F.col("text")).alias("sig")
    ).localCheckpoint(eager=True)
    bands = sigs.select(
        "rep", F.posexplode(band_keys(F.col("sig"))).alias("band", "key")
    ).filter(F.col("key") != "")
    cands = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "key"])
        .filter(F.col("a.rep") < F.col("b.rep"))
        .select(F.col("a.rep").alias("ra"), F.col("b.rep").alias("rb"))
        .distinct()
    )
    # agreement via component explode + equality count (independent form)
    comp = sigs.select("rep", F.posexplode("sig").alias("k", "v")).filter(
        F.col("v").isNotNull()
    )
    agree = (
        cands.join(comp.select(F.col("rep").alias("ra"), "k", F.col("v").alias("va")), "ra")
        .join(
            comp.select(F.col("rep").alias("rb"), "k", F.col("v").alias("vb")),
            ["rb", "k"],
        )
        .filter(F.col("va") == F.col("vb"))
        .groupBy("ra", "rb")
        .count()
        .filter(F.col("count") >= inc.AGREE_T)
        .select(F.col("ra").alias("doc_a"), F.col("rb").alias("doc_b"))
    )
    cc = connected_components(agree)
    membership = (
        corpus.select("doc_id", F.md5("text").alias("dig"))
        .join(uniq.select("dig", "rep"), "dig")
        .join(
            cc.withColumnRenamed("doc_id", "rep").withColumnRenamed("cluster", "root"),
            "rep",
            "left",
        )
        .select("doc_id", F.coalesce("root", F.col("rep")).alias("root"))
    )
    want = _rows(
        membership.groupBy("root")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
        .select("keep_doc_id", "n_docs")
    )
    assert got == want
    assert len(got) > 0
    assert any(n > 1 for _, n in got)  # fixture has near-dup mass


def test_minhash_replay_safe(spark, tmp_state):
    """A complete minhash state dir is never recomputed; a partial one
    (missing _SUCCESS) is redone to the same answer."""
    docs = spark.createDataFrame(
        [(i, f"w{i} common words shared across documents here") for i in range(8)],
        "doc_id long, text string",
    )
    out = os.path.join(tmp_state, "day0")
    inc.minhash_incremental_update(spark, docs, out)
    before = _rows(inc.minhash_survivors(spark, out))

    def mtimes():
        return {
            os.path.join(dp, p): os.path.getmtime(os.path.join(dp, p))
            for dp, _, fs in os.walk(out)
            for p in fs
        }

    m1 = mtimes()
    inc.minhash_incremental_update(spark, docs, out)  # replay: no-op
    assert mtimes() == m1

    os.remove(os.path.join(out, "sigs", "_SUCCESS"))
    inc.minhash_incremental_update(spark, docs, out)
    assert os.path.exists(os.path.join(out, "sigs", "_SUCCESS"))
    assert _rows(inc.minhash_survivors(spark, out)) == before


def test_minhash_old_components_merge_through_new_doc(spark, tmp_state, monkeypatch):
    """Two historical components merge when a new doc shares a band +
    >= AGREE_T components with BOTH (the old-root remap path).
    Signatures pinned by stubbing minhash_signature: A and B disjoint;
    C copies A's first 6 components (bands 0-1) and B's last 6
    (bands 2-3) — agreement exactly AGREE_T with each."""
    import xjs.pipeline.dedup as dedup_mod

    sig_a = list(range(1, 13))
    sig_b = list(range(21, 33))
    sig_c = sig_a[:6] + sig_b[6:]
    sims = {"textA": sig_a, "textB": sig_b, "textC": sig_c}

    def stub(col, hash_mode="portable"):
        expr = F.lit(None).cast("array<long>")
        for t, s in sims.items():
            arr = F.array(*[F.lit(v).cast("long") for v in s])
            expr = F.when(col == t, arr).otherwise(expr)
        return expr

    monkeypatch.setattr(dedup_mod, "minhash_signature", stub)

    day0 = spark.createDataFrame([(1, "textA"), (2, "textB")], "doc_id long, text string")
    day1 = spark.createDataFrame([(3, "textC")], "doc_id long, text string")
    s0, s1 = os.path.join(tmp_state, "s0"), os.path.join(tmp_state, "s1")
    inc.minhash_incremental_update(spark, day0, s0)
    assert _rows(inc.survivors(spark, s0)) == [(1, 1), (2, 1)]  # separate
    inc.minhash_incremental_update(spark, day1, s1, s0)
    assert _rows(inc.survivors(spark, s1)) == [(1, 3)]  # merged via C
    _, sigs, _ = inc.load_state(spark, s1)
    assert {r.root for r in sigs.collect()} == {1}


def test_minhash_band_without_agreement_is_rejected(spark, tmp_state, monkeypatch):
    """Sharing a band is only a CANDIDATE: a pair whose stored
    signatures agree on < AGREE_T components stays separate (the
    verification contract is agreement, not banding)."""
    import xjs.pipeline.dedup as dedup_mod

    sig_a = list(range(1, 13))
    sig_d = sig_a[:3] + list(range(41, 50))  # band 0 shared, agreement 3 < 6
    sims = {"textA": sig_a, "textD": sig_d}

    def stub(col, hash_mode="portable"):
        expr = F.lit(None).cast("array<long>")
        for t, s in sims.items():
            arr = F.array(*[F.lit(v).cast("long") for v in s])
            expr = F.when(col == t, arr).otherwise(expr)
        return expr

    monkeypatch.setattr(dedup_mod, "minhash_signature", stub)

    day0 = spark.createDataFrame([(1, "textA")], "doc_id long, text string")
    day1 = spark.createDataFrame([(2, "textD")], "doc_id long, text string")
    s0, s1 = os.path.join(tmp_state, "s0"), os.path.join(tmp_state, "s1")
    inc.minhash_incremental_update(spark, day0, s0)
    inc.minhash_incremental_update(spark, day1, s1, s0)
    assert _rows(inc.survivors(spark, s1)) == [(1, 1), (2, 1)]


def test_minhash_survivor_min_doc_and_seen_skip(spark, tmp_state):
    """Later slice carries a smaller doc_id for a seen text: rep stays
    first-seen, survivor is the global min, and no new sigs row is
    written (exact-collapse-first)."""
    day0 = spark.createDataFrame([(30, "same text here")], "doc_id long, text string")
    day1 = spark.createDataFrame([(7, "same text here")], "doc_id long, text string")
    s0, s1 = os.path.join(tmp_state, "s0"), os.path.join(tmp_state, "s1")
    inc.minhash_incremental_update(spark, day0, s0)
    inc.minhash_incremental_update(spark, day1, s1, s0)
    assert _rows(inc.survivors(spark, s1)) == [(7, 2)]
    digests, sigs, members = inc.load_state(spark, s1)
    assert [r.rep_id for r in digests.collect()] == [30]
    assert sigs.count() == 1
    assert members.count() == 2
