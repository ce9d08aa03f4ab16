#!/usr/bin/env python3
"""Train the committed quality-classifier artifact — the model-based
quality gate (xjs/pipeline/quality_model.py): a logistic regression
over hashed bag-of-words buckets, the LLaMA/GPT-3-style "does this
look like reference text" filter, kept end-to-end exact.

Deterministic and dependency-free beyond numpy: positives are the
sf0.001 documents texts; negatives are the SAME texts under the
stated corruption formula (every token prefixed 'zz' — the formula
the fixture and the DuckDB oracle restate).  Features are counts over
B=512 buckets with bucket(t) = int(md5(t)[:15], 16) % B — the exact
arithmetic Spark computes as conv(substring(md5(t),1,15),16,10) and
DuckDB as ('0x' || substr(md5(t),1,15))::BIGINT (bit-identity proven
by the export-shard oracles).  Full-batch gradient descent in float64
with fixed iterations/learning rate; weights FROZEN to integer
micro-units (round(w * 1e6)), so a document's score is an integer sum
— order-independent and bit-exact across Spark and DuckDB.

    python3 scripts/train_quality_classifier.py   # rewrites the artifact

Retraining is pinned byte-identical in tests/test_quality_model.py
(same pattern as the langid / BPE / LM artifacts).
"""

from __future__ import annotations

import hashlib
import pickle
import sys
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from xjs.pipeline.text import split_tokens  # noqa: E402

CORPUS = "/root/testdata/sf0.001/documents.parquet"
OUT = REPO / "xjs" / "pipeline" / "artifacts" / "quality_lr.pkl"

B = 512
SCALE = 1_000_000
ITERS = 300
LR = 0.5
L2 = 1e-3


def bucket(token: str) -> int:
    return int(hashlib.md5(token.encode("utf-8")).hexdigest()[:15], 16) % B


def corrupt(text: str) -> str:
    """The stated negative-class formula (mirrored by the fixture and
    the oracle): every whitespace token prefixed 'zz'."""
    return " ".join("zz" + t for t in split_tokens(text))


def featurize(text: str) -> np.ndarray:
    x = np.zeros(B, dtype=np.float64)
    for t in split_tokens(text):
        x[bucket(t)] += 1.0
    return x


def train(corpus_path: str = CORPUS) -> dict:
    import pyarrow.parquet as pq

    texts = [
        t for t in pq.read_table(corpus_path, columns=["text"])
        .column("text").to_pylist()
        if t is not None and t.strip(" ")  # the kernel's blank rule
    ]
    xs = np.stack([featurize(t) for t in texts]
                  + [featurize(corrupt(t)) for t in texts])
    ys = np.concatenate([np.ones(len(texts)), np.zeros(len(texts))])
    w = np.zeros(B, dtype=np.float64)
    b = 0.0
    n = len(ys)
    for _ in range(ITERS):
        z = xs @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - ys
        w -= LR * ((xs.T @ g) / n + L2 * w)
        b -= LR * float(g.mean())
    return {
        "version": 1,
        "kind": "hashed-bow logistic regression, integer micro weights",
        "B": B,
        "w_micro": [int(round(x * SCALE)) for x in w],
        "b_micro": int(round(b * SCALE)),
        "trained_on": "sf0.001 documents (positives) + 'zz'-prefixed "
                      "token corruption (negatives)",
        "bucket": "int(md5(token)[:15], 16) % B",
    }


def main() -> None:
    model = train()
    OUT.write_bytes(pickle.dumps(model, protocol=4))
    nz = sum(1 for x in model["w_micro"] if x != 0)
    print(f"wrote {OUT} ({OUT.stat().st_size} bytes, {nz}/{B} nonzero "
          f"buckets, bias {model['b_micro']} micro)")


if __name__ == "__main__":
    main()
