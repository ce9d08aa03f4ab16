"""The commit protocol every incremental state family shares.

A state family folds a new corpus slice into a state dir written next
to the previous one (simhash / minhash components in ``incremental``,
line stats in ``lines``, window owners in ``suffix``, gram document
frequencies in ``boilerplate``, bit and counting blooms in ``bloom``).
All of them follow the same four rules:

1. a state dir is done when every part has a ``_SUCCESS`` marker
   (``complete``) — Spark writes it after all files of a part landed,
   the numpy-blob families write it last (``mark_complete``);
2. a done dir is never recomputed: each writer returns early on
   ``complete``, so a killed run re-submitted by a scheduler never
   double-applies a slice;
3. the oracle queries replay the corpus as ``SLICES`` interleaved
   ``doc_id % SLICES`` slices in a scratch dir (``replay_slices``) —
   later slices carry smaller ids than earlier representatives, which
   exercises first-seen state against min-id answers;
4. the scratch dir is removed afterwards (``scratch_dir``).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SLICES = 3

#: parent of every scratch dir; created on first use
SCRATCH_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".tmp",
)


def complete(state_dir: str, *parts: str) -> bool:
    """True when every ``<state_dir>/<part>/_SUCCESS`` exists; with no
    parts, when ``<state_dir>/_SUCCESS`` does."""
    return all(
        os.path.exists(os.path.join(state_dir, p, "_SUCCESS"))
        for p in parts or ("",)
    )


def mark_complete(state_dir: str) -> None:
    """Write ``<state_dir>/_SUCCESS``; call it after every file of the
    dir has landed."""
    with open(os.path.join(state_dir, "_SUCCESS"), "w"):
        pass


@contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """A fresh dir under ``SCRATCH_ROOT``, removed on exit."""
    os.makedirs(SCRATCH_ROOT, exist_ok=True)
    base = tempfile.mkdtemp(prefix=prefix, dir=SCRATCH_ROOT)
    try:
        yield base
    finally:
        shutil.rmtree(base, ignore_errors=True)


@contextmanager
def replay_slices(
    corpus: DataFrame,
    fold: Callable[[DataFrame, str, str | None], None],
    prefix: str,
) -> Iterator[str]:
    """Fold ``corpus`` slice by slice (``doc_id % SLICES``) through
    ``fold(slice_df, out, prev)`` in a scratch dir and yield the final
    state dir.  Force whatever reads that dir inside the ``with``
    block: the dir is gone after it."""
    with scratch_dir(prefix) as base:
        prev = None
        for day in range(SLICES):
            out = os.path.join(base, f"day{day}")
            fold(corpus.filter(F.col("doc_id") % SLICES == day), out, prev)
            prev = out
        yield prev
