"""Per-order LM checks shared by tests/test_lm.py and
tests/test_lm_5gram.py.  Each check is written once and runs against
one committed artifact, named by its model order (2, 3 or 5)."""

import importlib.util
import pickle
from pathlib import Path

from xjs.pipeline.lm import (
    DEFAULT_LM,
    DEFAULT_LM3,
    DEFAULT_LM5,
    lm_corpus,
    lm_filter,
    lm_score,
)
from xjs.pipeline.model_artifact import load

#: model order -> (committed artifact, trainer script under scripts/,
#: number of order tables the scorer probes)
ORDERS = {
    2: (DEFAULT_LM, "train_bigram_lm.py", 1),
    3: (DEFAULT_LM3, "train_trigram_lm.py", 2),
    5: (DEFAULT_LM5, "train_5gram_lm.py", 4),
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def check_retrains_byte_identical(order: int) -> None:
    artifact, script, _ = ORDERS[order]
    spec = importlib.util.spec_from_file_location(
        script[:-3], Path(__file__).resolve().parent.parent / "scripts" / script)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert pickle.dumps(mod.train(), protocol=4) == pickle.dumps(
        load(artifact), protocol=4)


def check_native_equals_portable(spark, sf_dir, order: int) -> None:
    corpus = lm_corpus(spark, sf_dir)
    artifact = ORDERS[order][0]
    nat = lm_filter(corpus, artifact=artifact, hash_mode="native").collect()
    por = lm_filter(corpus, artifact=artifact, hash_mode="portable").collect()
    assert sorted(map(tuple, nat)) == sorted(map(tuple, por))


def check_gate_drops_exactly_the_noise(spark, sf_dir, order: int) -> None:
    """The doubled-token noise docs land on the OOV floor at every
    transition; the gate must reject exactly the judgeable ones and
    keep every doc too short to have a transition."""
    out = lm_filter(lm_corpus(spark, sf_dir),
                    artifact=ORDERS[order][0]).collect()
    for r in out:
        if r.n_transitions == 0:
            assert r.keep, r
        elif r.doc_id % 9 == 0:
            assert not r.keep, r
        else:
            assert r.keep, r
    assert any(not r.keep for r in out)


def check_portable_plan_broadcasts(spark, sf_dir, order: int) -> None:
    """The portable reference broadcasts every order table; the corpus
    never shuffles on a gram key."""
    artifact, _, n_tables = ORDERS[order]
    plan = _plan(lm_score(lm_corpus(spark, sf_dir), artifact,
                          hash_mode="portable"))
    assert plan.count("BroadcastHashJoin") >= n_tables
    assert "SortMergeJoin" not in plan


def check_native_plan_is_shuffle_free(spark, sf_dir, order: int) -> None:
    """hash_mode='native' is one narrow Arrow kernel: no Exchange, no
    join anywhere in the scorer plan."""
    plan = _plan(lm_score(lm_corpus(spark, sf_dir), ORDERS[order][0]))
    assert "MapInArrow" in plan
    for node in ("Exchange", "Join"):
        assert node not in plan, node
