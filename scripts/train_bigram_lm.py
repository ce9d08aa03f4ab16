#!/usr/bin/env python3
"""Train the committed bigram language model artifact — the scorer
behind CCNet-style perplexity filtering (xjs/pipeline/lm.py).

Deterministic and dependency-free: token/bigram counts over the
sf0.001 documents corpus (pyarrow read, no Spark), add-1 smoothing
over vocab ∪ {<oov>}, and log-probabilities stored as INTEGER
micro-nats (round(ln(p) * 1e6)) so every downstream sum is
order-independent and bit-exact across Spark, numpy, and DuckDB.

    python3 scripts/train_bigram_lm.py          # rewrites the artifact

Retraining is pinned byte-identical by the shared per-order check in
tests/lm_checks.py, run from tests/test_lm.py (same pattern as the
langid and BPE artifacts).
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
OUT = REPO / "xjs" / "pipeline" / "artifacts" / "bigram_lm.pkl"
SCALE = 1_000_000  # micro-nats


def train(corpus_path: str = CORPUS) -> dict:
    import pyarrow.parquet as pq

    texts = pq.read_table(corpus_path, columns=["text"]).column("text").to_pylist()
    uni: Counter = Counter()
    bi: Counter = Counter()
    for t in sorted(texts):  # sorted: independent of row order on disk
        toks = split_tokens(t)
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))

    vocab = sorted(uni)
    v = len(vocab) + 1  # + <oov>
    # P(w | prev) = (c(prev,w) + 1) / (c(prev) + V); stored only for
    # seen bigrams — everything else backs off to the OOV constant
    # ln(1 / (max_prev_count + V)) (a pessimistic floor, monotone and
    # deterministic).
    rows = sorted(
        (p, w, round(math.log((c + 1) / (uni[p] + v)) * SCALE))
        for (p, w), c in bi.items()
    )
    lp_oov = round(math.log(1.0 / (max(uni.values()) + v)) * SCALE)
    return {
        "version": 1,
        "scale": SCALE,
        "vocab_size": v,
        "bigrams": rows,          # [(prev, tok, lp_scaled)]
        "lp_oov": lp_oov,
    }


def main() -> None:
    model = train()
    OUT.parent.mkdir(exist_ok=True)
    with open(OUT, "wb") as f:
        pickle.dump(model, f, protocol=4)
    print(f"wrote {OUT}: {len(model['bigrams'])} bigrams, "
          f"lp_oov={model['lp_oov']}")


if __name__ == "__main__":
    main()
