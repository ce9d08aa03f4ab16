#!/usr/bin/env python3
"""Train the committed 5-gram language model artifact — CCNet's
deployed form (a 5-gram KenLM) expressed in this repo's exactness
design: every log-probability is an INTEGER micro-nat, so document
scores are order-independent integer sums and the DuckDB oracle can
bit-match Spark.

Model: add-1 n-gram tables for orders 5, 4, 3 (each KenLM-style
singleton-pruned: n-grams seen once are dropped) over a FULL bigram
floor, with recursive stupid backoff — a transition scores the
longest-order hit, and each missed order adds the integer backoff
constant round(ln(0.4)*1e6):

    lp = coalesce(lp5, lp4 + B, lp3 + 2B, lp2 + 3B, lp_oov)

Pruning therefore costs no exactness: the backoff path IS the model.

    python3 scripts/train_5gram_lm.py          # rewrites the artifact

Retraining is pinned byte-identical by the shared per-order check in
tests/lm_checks.py, run from tests/test_lm_5gram.py.
"""

from __future__ import annotations

import math
import pickle
import sys
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from xjs.pipeline.text import split_tokens  # noqa: E402

CORPUS = "/root/testdata/sf0.001/documents.parquet"
OUT = REPO / "xjs" / "pipeline" / "artifacts" / "fivegram_lm.pkl"
SCALE = 1_000_000
BACKOFF = round(math.log(0.4) * SCALE)  # stupid-backoff alpha as integer add
MIN_COUNT = 2                           # singleton pruning, orders 5/4/3


def train(corpus_path: str = CORPUS) -> dict:
    import pyarrow.parquet as pq

    texts = pq.read_table(
        corpus_path, columns=["text"]).column("text").to_pylist()
    uni: Counter = Counter()
    grams: dict[int, Counter] = {n: Counter() for n in (2, 3, 4, 5)}
    for t in sorted(texts):  # sorted: independent of row order on disk
        toks = split_tokens(t)
        uni.update(toks)
        for n in (2, 3, 4, 5):
            grams[n].update(
                zip(*(toks[i:] for i in range(n))))

    v = len(uni) + 1  # + <oov>
    # context counts for add-1: order-n gram conditions on its (n-1)-prefix
    ctx = {2: uni, 3: grams[2], 4: grams[3], 5: grams[4]}

    def rows(n: int, min_count: int) -> list[tuple]:
        out = []
        for g, c in grams[n].items():
            if c < min_count:
                continue
            denom = ctx[n][g[0] if n == 2 else g[:-1]] + v
            out.append((*g, round(math.log((c + 1) / denom) * SCALE)))
        return sorted(out)

    lp_oov = round(math.log(1.0 / (max(uni.values()) + v)) * SCALE)
    return {
        "version": 1,
        "order": 5,
        "scale": SCALE,
        "vocab_size": v,
        "backoff": BACKOFF,
        "tables": {
            5: rows(5, MIN_COUNT),
            4: rows(4, MIN_COUNT),
            3: rows(3, MIN_COUNT),
            2: rows(2, 1),  # full bigram floor — the backoff terminus
        },
        "lp_oov": lp_oov,
    }


def main() -> None:
    model = train()
    OUT.parent.mkdir(exist_ok=True)
    with open(OUT, "wb") as f:
        pickle.dump(model, f, protocol=4)
    sizes = {n: len(t) for n, t in model["tables"].items()}
    print(f"wrote {OUT}: table rows per order {sizes}, "
          f"lp_oov={model['lp_oov']}, backoff={model['backoff']}")


if __name__ == "__main__":
    main()
