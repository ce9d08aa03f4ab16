"""Model-based quality classifier gate (xjs/pipeline/quality_model.py):
artifact determinism, integer-score exactness vs a python reference,
fixture-gate behavior, and the broadcast plan shape."""

import hashlib
import pickle

from pyspark.sql import functions as F

from xjs.pipeline import quality_model
from xjs.pipeline.model_artifact import load


def test_retrain_is_byte_identical():
    from scripts.train_quality_classifier import train

    got = pickle.dumps(train(), protocol=4)
    committed = open(
        "xjs/pipeline/artifacts/quality_lr.pkl", "rb").read()
    assert got == committed


def _py_score(model, text):
    b = model["B"]
    s = model["b_micro"]
    for t in text.split():
        s += model["w_micro"][
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % b]
    return s


def test_scores_match_python_reference(spark):
    model = load(quality_model.DEFAULT_QC)
    rows = [
        (1, "the scan window batch"),
        (2, "zzthe zzscan zzwindow"),
        (3, "repeat repeat repeat"),
        (4, ""),            # blank: bias only, 0 tokens
        (5, None),          # null: excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["score_micro"])
           for r in quality_model.classifier_scores(df).collect()}
    for i, t in rows:
        if t is None:
            assert i not in got
        elif not t.strip():
            assert got[i] == (0, model["b_micro"])
        else:
            assert got[i] == (len(t.split()), _py_score(model, t))


def test_gate_drops_exactly_the_corrupted_docs(spark, sf_dir):
    out = quality_model.q_quality_classifier(spark, sf_dir).collect()
    for r in out:
        if r["n_tokens"] == 0:
            continue  # blank docs gate on bias sign, not vocabulary
        assert r["keep"] == (r["doc_id"] % 9 != 0), r
    # and both classes are non-empty (the test is non-vacuous)
    kept = sum(r["keep"] for r in out)
    assert 0 < kept < len(out)


def test_weight_join_broadcasts(spark):
    """The catalyst reference impl: the B-row weight table must
    broadcast; bucket is never a shuffle key."""
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (quality_model.classifier_scores(df, impl="catalyst")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin [bucket" in plan
    assert "Exchange hashpartitioning(bucket" not in plan


def test_arrow_scores_plan_is_shuffle_free(spark):
    """The production (arrow) impl is one narrow kernel: no Exchange,
    no join anywhere in the plan (r6)."""
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (quality_model.classifier_scores(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "MapInArrow" in plan
    for node in ("Exchange", "Join"):
        assert node not in plan, node


def test_arrow_scores_equal_catalyst(spark):
    """Kernel vs reference on edge rows: blank, null, leading tab
    (empty-string token), unicode, repeats."""
    rows = [(1, "the scan window batch"), (2, "zzthe zzscan"),
            (3, "repeat repeat repeat"), (4, ""), (5, None),
            (6, "\tx y"), (7, "éé café"), (8, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, quality_model.classifier_scores(df).collect()))
    c = sorted(map(tuple, quality_model.classifier_scores(
        df, impl="catalyst").collect()))
    assert a == c and len(a) == 7  # null-text row excluded in both


def test_token_instances_count_twice(spark):
    model = load(quality_model.DEFAULT_QC)
    df = spark.createDataFrame(
        [(1, "scan"), (2, "scan scan")], "doc_id long, text string")
    got = {r["doc_id"]: r["score_micro"]
           for r in quality_model.classifier_scores(df).collect()}
    w = got[1] - model["b_micro"]
    assert got[2] == model["b_micro"] + 2 * w


def test_two_bucket_counts_on_one_worker(spark, tmp_path):
    """The per-worker token -> bucket memo must not leak buckets from
    one artifact into another with a different B: score the committed
    artifact, then a B=7 artifact over the same tokens in the same
    session, each against the catalyst reference."""
    import pickle as pkl

    small = str(tmp_path / "qc_b7.pkl")
    with open(small, "wb") as f:
        pkl.dump({"B": 7, "b_micro": -5,
                  "w_micro": [100, -200, 300, -400, 500, -600, 700]}, f)
    df = spark.createDataFrame(
        [(1, "the scan window batch"), (2, "repeat repeat café"),
         (3, "alpha beta gamma delta")],
        "doc_id long, text string").coalesce(1)
    for artifact in (quality_model.DEFAULT_QC, small):
        a = sorted(map(tuple, quality_model.classifier_scores(
            df, artifact).collect()))
        c = sorted(map(tuple, quality_model.classifier_scores(
            df, artifact, impl="catalyst").collect()))
        assert a == c, artifact
