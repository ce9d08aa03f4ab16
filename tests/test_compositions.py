"""Pipeline compositions: cluster/survivor selection, training-set
selection, sessionization."""

from pyspark.sql import functions as F

from xjs.pipeline import clusters, select, sessions
from xjs.pipeline.dedup import dedup_corpus, verified_near_duplicates


def test_clusters_group_injected_duplicates(spark, sf_dir):
    corpus = dedup_corpus(spark, sf_dir)
    pairs = verified_near_duplicates(corpus)
    cc = {r["doc_id"]: r["cluster"] for r in clusters.connected_components(pairs).collect()}
    # doc 0, its exact copy (2M) and near copy (1M) form one cluster
    # rooted at 0
    assert cc[0] == cc[1_000_000] == cc[2_000_000] == 0
    # survivors: exactly one keep per cluster
    surv = clusters.dedup_survivors(corpus, pairs).collect()
    by_cluster = {}
    for r in surv:
        by_cluster.setdefault(r["cluster"], []).append(r["keep"])
    for c, keeps in by_cluster.items():
        assert sum(keeps) == 1


def test_select_training_gates(spark, sf_dir):
    out = select.q_select_training(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        assert r["n_tokens"] >= select.MIN_TOKENS
        assert r["stopword_ratio"] >= select.MIN_STOPWORD_RATIO
    # exact-dup survivors only: no doc_id from the +2M replica range
    assert all(r["doc_id"] < 2_000_000 for r in out)


def test_sessionize(spark, sf_dir):
    out = sessions.q_sessionize_events(spark, sf_dir)
    rows = out.collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert sum(r["n_events"] for r in rows) == ev.count()
    for r in rows:
        assert r["session_start"] <= r["session_end"]
    # session ids are dense per user starting at 0
    first = min(r["session_id"] for r in rows)
    assert first == 0


def test_connected_components_long_chain(spark):
    """Diameter > MAX_ITERS: pointer jumping must converge in O(log d)
    rounds where plain min-propagation needs O(d) (round-1 verdict #5:
    the old loop silently returned non-converged labels here)."""
    n = 40  # path graph 0-1-2-...-39, diameter 39 > MAX_ITERS=20
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    cc = {r["doc_id"]: r["cluster"] for r in clusters.connected_components(pairs).collect()}
    assert cc == {i: 0 for i in range(n)}


def test_connected_components_fast_path_equals_loop(spark):
    """The driver union-find fast path (r6) must label exactly like the
    distributed pointer-jumping loop, including multi-component graphs
    with merge-through-chains and isolated pairs."""
    rows = ([(i, i + 1) for i in range(0, 20)]           # chain 0..20
            + [(100, 101), (102, 101), (104, 103)]       # small merges
            + [(500, 700), (700, 300)])                  # min in middle
    pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")
    fast = {(r["doc_id"], r["cluster"])
            for r in clusters.connected_components(pairs).collect()}
    loop = {(r["doc_id"], r["cluster"])
            for r in clusters.connected_components(
                pairs, driver_edge_cap=0).collect()}
    assert fast == loop and len(fast) > 0


def test_connected_components_nonconvergence_raises(spark):
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    # driver_edge_cap=0 forces the distributed loop (the fast path
    # solves any under-cap graph exactly, so it cannot non-converge)
    with pytest.raises(RuntimeError, match="did not converge"):
        clusters.connected_components(pairs, max_iters=2, driver_edge_cap=0)


def test_curate_corpus_is_subset_with_gates(spark, sf_dir):
    """The full funnel keeps only exact-survivors that are neither
    substring-duplicates nor contaminated nor low-quality."""
    from pyspark.sql import functions as F

    from xjs.pipeline import select
    from xjs.pipeline.decontam import BENCH_RESIDUE
    from xjs.pipeline.dedup import dedup_corpus, substring_duplicates

    out = select.q_curate_corpus(spark, sf_dir)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert kept, "funnel must keep something"
    # subset of the quality-only selection
    base = {r["doc_id"] for r in select.q_select_training(spark, sf_dir).collect()}
    assert kept <= base
    # no benchmark docs, no substring duplicates
    assert not any(d % BENCH_RESIDUE == 0 for d in kept)
    corpus = dedup_corpus(spark, sf_dir)
    survivors = corpus.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    dup_ids = {r["doc_id"] for r in substring_duplicates(
        corpus.join(survivors.select("doc_id"), "doc_id")).select("doc_id").collect()}
    assert kept.isdisjoint(dup_ids)


def test_quality_survivor_argmax_and_tiebreak(spark):
    """Quality-aware survivor: argmax(quality_score) per cluster, ties
    to the smaller doc_id; exactly one keep per cluster."""
    # cluster {1,2,3}: doc 2 has many stopwords + tokens -> highest q;
    # cluster {10,11}: identical text -> tie broken to doc 10
    rich = "the and is of to in a " * 20
    docs = spark.createDataFrame(
        [
            (1, "zzz qqq xxx!!!???..."),
            (2, rich),
            (3, "one two three"),
            (10, "same text the and"),
            (11, "same text the and"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r for r in
           clusters.dedup_survivors_quality(docs, pairs).collect()}
    assert out[2]["keep"] and not out[1]["keep"] and not out[3]["keep"]
    assert out[10]["keep"] and not out[11]["keep"]
    by_cluster = {}
    for r in out.values():
        by_cluster.setdefault(r["cluster"], 0)
        by_cluster[r["cluster"]] += int(r["keep"])
    assert all(v == 1 for v in by_cluster.values())
    # min-id survivor would have kept doc 1 — the counterfactual that
    # makes the quality pick demonstrably different
    minid = {r["doc_id"]: r["keep"]
             for r in clusters.dedup_survivors(docs, pairs).collect()}
    assert minid[1] and not minid[2]


def test_quality_survivor_matches_driver_oracle(spark, sf_dir):
    """The fixture-corpus query keeps exactly one doc per cluster and
    every kept doc has max q in its cluster (doc-id tiebreak)."""
    rows = clusters.q_dedup_survivors_quality(spark, sf_dir).collect()
    best = {}
    for r in rows:
        c = r["cluster"]
        key = (-r["q"], r["doc_id"])
        if c not in best or key < best[c][0]:
            best[c] = (key, r["doc_id"])
    for r in rows:
        assert r["keep"] == (best[r["cluster"]][1] == r["doc_id"])


def test_curate_decisions_reason_precedence(spark):
    """The first failing gate names a rejected doc, in the order
    exact_duplicate, substring_duplicate, benchmark, contaminated,
    low_quality; a kept doc reads NULL."""
    from xjs.pipeline import select

    def words(tag, n):  # n tokens, half stopwords, unique to ``tag``
        return " ".join(f"the {tag}w{k}" for k in range(n // 2))

    doc1 = words("a", 40)
    rows = [
        (1, doc1),                                   # shares grams with 41
        (2, "the short text"),
        (3, "the short text"),                       # copy of 2, also short
        (4, words("b", 40)),
        (5, None),                                   # NULL quality verdict
        (41, " ".join(doc1.split()[:16]) + " " + words("c", 24)),
        (82, words("d", 40)),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.reason for r in select.curate_decisions(docs).collect()}
    assert got == {
        1: "contaminated",
        2: "low_quality",
        3: "exact_duplicate",          # not low_quality
        4: None,
        5: "low_quality",              # rejected, not silently kept
        41: "substring_duplicate",     # not benchmark
        82: "benchmark",
    }
    kept = select.curate_corpus(docs)
    assert kept.columns == ["doc_id", "n_tokens", "stopword_ratio", "quality_score"]
    assert [r.doc_id for r in kept.collect()] == [4]
