#!/usr/bin/env python3
"""Train the committed trigram language model artifact — the higher-
order CCNet-shaped scorer (xjs/pipeline/lm.py order=3).  Same exactness
design as the bigram artifact: every log-probability is an INTEGER
micro-nat, so document scores are order-independent integer sums.

Model: add-1 trigram with SINGLETON PRUNING (KenLM-style: trigrams seen
once are dropped — 16.5k -> 7.1k rows on the fixture corpus) and
stupid backoff to the bigram model: a transition not in the pruned
trigram table scores lp_bigram + round(ln(0.4)*1e6), and one not in the
bigram table either scores the OOV floor.  The backoff multiplier is an
integer ADDITION in micro-nat space, so pruning costs no exactness.

    python3 scripts/train_trigram_lm.py          # rewrites the artifact

Retraining is pinned byte-identical by the shared per-order check in
tests/lm_checks.py, run from tests/test_lm.py.
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
OUT = REPO / "xjs" / "pipeline" / "artifacts" / "trigram_lm.pkl"
SCALE = 1_000_000
BACKOFF = round(math.log(0.4) * SCALE)  # stupid-backoff alpha as integer add
MIN_TRIGRAM_COUNT = 2                   # singleton pruning


def train(corpus_path: str = CORPUS) -> dict:
    import pyarrow.parquet as pq

    texts = pq.read_table(corpus_path, columns=["text"]).column("text").to_pylist()
    uni: Counter = Counter()
    bi: Counter = Counter()
    tri: Counter = Counter()
    for t in sorted(texts):  # sorted: independent of row order on disk
        toks = split_tokens(t)
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
        tri.update(zip(toks, toks[1:], toks[2:]))

    v = len(uni) + 1  # + <oov>
    tri_rows = sorted(
        (p2, p1, w, round(math.log((c + 1) / (bi[(p2, p1)] + v)) * SCALE))
        for (p2, p1, w), c in tri.items()
        if c >= MIN_TRIGRAM_COUNT
    )
    bi_rows = sorted(
        (p, w, round(math.log((c + 1) / (uni[p] + v)) * SCALE))
        for (p, w), c in bi.items()
    )
    lp_oov = round(math.log(1.0 / (max(uni.values()) + v)) * SCALE)
    return {
        "version": 1,
        "scale": SCALE,
        "vocab_size": v,
        "backoff": BACKOFF,
        "trigrams": tri_rows,     # [(prev2, prev1, tok, lp_scaled)]
        "bigrams": bi_rows,       # backoff table [(prev, tok, lp_scaled)]
        "lp_oov": lp_oov,
    }


def main() -> None:
    model = train()
    OUT.parent.mkdir(exist_ok=True)
    with open(OUT, "wb") as f:
        pickle.dump(model, f, protocol=4)
    print(
        f"wrote {OUT}: {len(model['trigrams'])} trigrams "
        f"(singleton-pruned), {len(model['bigrams'])} backoff bigrams, "
        f"lp_oov={model['lp_oov']}, backoff={model['backoff']}"
    )


if __name__ == "__main__":
    main()
