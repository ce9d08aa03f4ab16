"""Production token n-gram cutter.

Round-2 profiling showed interpreted higher-order-function gram
construction (``transform(sequence(...), array_join(slice(...)))``)
dominating the bench suite — ~22s of boilerplate_grams' 25s at
sf0.1/f200, and the cost floor under decontamination and substring
dedup (SCALE.md 8c; VERDICT r2 #1).  Catalyst evaluates HOF lambdas
interpreted per element, so a 50-token doc pays ~46 interpreted
slice+join trees per row.  This module replaces construction with an
Arrow-batched ``mapInPandas`` builder that emits the exploded
(keys..., gram) rows directly — one Python loop per doc, no
interpreted expression tree, no intermediate array column, and the
per-doc DISTINCT folded into the same pass.  Measured on the bench
corpus (100k docs, local[32]): 8.9s HOF vs 4.5s Scala ml.NGram vs
2.2s this builder, identical output rows.

Tokenizer: ``split_tokens`` / ``arrow_tokens`` and ``window_starts``
from xjs.pipeline.text, the Python, Arrow and numpy forms of
``tokens`` / ``ngrams``.  The equivalence is pinned against the HOF
form on edge-case strings in tests/test_grams.py, and every
oracle-checked query using this builder proves it against DuckDB's
``regexp_split_to_array`` again.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

from xjs.pipeline.text import (
    arrow_tokens, ragged_ranges, split_tokens, window_starts,
)

# Default cutter implementation.  'native' keeps the whole batch in
# Arrow C++/numpy — text.arrow_tokens, window
# gather via take, separator join, and the per-doc DISTINCT as C++ hash
# group_bys, zero per-doc Python (see _native_gram_parts); 'python' is
# the per-doc loop kept as the equivalence reference (pinned against
# 'native' in tests/test_grams.py, and itself pinned against the
# pure-Catalyst HOF form).
#
# 'auto' (the default) picks per MODE, from interleaved 1M-doc A/Bs
# (BENCH/ab_gram_native_r5.json): native wins full-document cuts
# (1.2-1.3x — the whole doc must be tokenized anyway, and C++ beats the
# per-doc loop); EDGE-window cuts stay on the python per-doc loop (its
# maxsplit-bounded split never tokenizes the page middle; Arrow has no
# bounded split, so 'native' loses 0.6-1.0x here).  Python extraction
# feeding Arrow windowing measured a tie with the plain loop and was
# dropped (BENCH/ab_gram_hybrid_r5.json).  Measured policy, not a guess.
IMPL = "auto"


def _resolve_impl(impl: str, edge_tokens: int | None) -> str:
    if impl == "auto":
        return "python" if edge_tokens is not None else "native"
    if impl not in ("native", "python"):
        raise ValueError(f"unknown impl {impl!r}")
    return impl


def _native_gram_parts(batch, text_idx: int, n: int, edge_tokens: int | None):
    """Core of the native cutter: one Arrow RecordBatch in, flat
    (row_ids, local_pos, gram StringArray) out, with per-doc semantics
    identical to _gram_set / the per-doc python loop:

    - doc skipped when text is null or '' (``if not txt``),
    - tokens from ``text.arrow_tokens``,
    - full mode: every window position; edge mode: head/tail windows of
      long docs, full set for docs of <= 2*edge_tokens tokens.

    Everything runs batch-wide: text.arrow_tokens, numpy
    ragged-range window enumeration, Arrow ``take`` gathers of the n
    shifted token columns, and one binary_join_element_wise for the
    space join — per-batch cost is O(tokens + output grams) with no
    per-doc Python."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    text = batch.column(text_idx)
    ndocs = len(text)
    valid = pc.fill_null(pc.not_equal(text, ""), False).to_numpy(
        zero_copy_only=False
    )
    flat, tok_offsets = arrow_tokens(text)

    # gram-window start positions, local to each doc
    eff = np.where(valid, np.diff(tok_offsets), 0)
    if edge_tokens is None:
        local_pos, row_ids = window_starts(eff, n)
    else:
        e = edge_tokens
        full_m = np.maximum(eff - n + 1, 0)
        long_doc = eff > 2 * e
        win_m = max(e - n + 1, 0)
        head_len = np.where(long_doc, win_m, full_m)
        tail_len = np.where(long_doc, win_m, 0)
        starts = np.concatenate(
            (np.zeros(ndocs, dtype=np.int64), np.maximum(eff - e, 0))
        )
        lens = np.concatenate((head_len, tail_len))
        local_pos, seg_ids = ragged_ranges(starts, lens)
        row_ids = np.where(seg_ids >= ndocs, seg_ids - ndocs, seg_ids)
        order = np.argsort(row_ids, kind="stable")
        row_ids, local_pos = row_ids[order], local_pos[order]

    if len(local_pos) == 0:
        return row_ids, local_pos, pa.array([], type=pa.string())
    gram_start = tok_offsets[row_ids] + local_pos
    parts = [flat.take(pa.array(gram_start + j)) for j in range(n)]
    grams = parts[0] if n == 1 else pc.binary_join_element_wise(*parts, " ")
    return row_ids, local_pos, grams


def _native_batches(
    df: DataFrame,
    keys: list[str],
    text_col: str,
    n: int,
    edge_tokens: int | None,
    mode: str,
) -> DataFrame:
    """Shared mapInArrow driver for the three native cutters.  mode:
    'distinct' -> (keys..., gram), one row per distinct gram per doc;
    'count'    -> (keys..., gram, cnt) with the per-batch map-side
                  combine folded in (cnt = docs in batch carrying gram);
    'pos'      -> (keys..., pos, gram), one row per window position.
    The distinct / combine steps are Arrow C++ hash group_bys keyed on
    the batch-local row index — no Python data structures at all."""
    import pyarrow as pa

    dtypes = dict(df.dtypes)
    extra = {
        "distinct": ["gram string"],
        "count": ["gram string", "cnt long"],
        "pos": ["pos int", "gram string"],
    }[mode]
    schema = ", ".join([f"{k} {dtypes[k]}" for k in keys] + extra)
    nkeys = len(keys)

    def build(batches: Iterator) -> Iterator:
        for batch in batches:
            row_ids, local_pos, grams = _native_gram_parts(
                batch, nkeys, n, edge_tokens
            )
            idx = pa.array(row_ids)
            key_arrays = [batch.column(j).take(idx) for j in range(nkeys)]
            if mode == "pos":
                yield pa.RecordBatch.from_arrays(
                    key_arrays
                    + [pa.array(local_pos, type=pa.int32()), grams],
                    names=[*keys, "pos", "gram"],
                )
                continue
            tb = pa.table(
                {
                    "__row": pa.array(row_ids),
                    **{k: a for k, a in zip(keys, key_arrays)},
                    "gram": grams,
                }
            )
            distinct = tb.group_by(["__row", *keys, "gram"]).aggregate([])
            if mode == "distinct":
                out = distinct.select([*keys, "gram"])
            else:
                counted = distinct.group_by([*keys, "gram"]).aggregate(
                    [("__row", "count")]
                )
                out = counted.rename_columns([*keys, "gram", "cnt"])
            for ob in out.combine_chunks().to_batches():
                if ob.num_rows:
                    yield ob

    return df.select(*keys, text_col).mapInArrow(build, schema)


def _grams_of(toks: list[str], n: int) -> set[str]:
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _gram_set(txt: str | None, n: int, edge_tokens: int | None) -> set[str]:
    """Distinct space-joined token n-grams of one document; with
    ``edge_tokens`` set, only the head/tail windows of long docs (the
    semantics of boilerplate.edge_grams).

    Edge mode never tokenizes the middle of a long document: the head
    comes from a ``maxsplit``-bounded split and the tail from the same
    bounded split over the REVERSED string (runs of the
    ``text.WS_CHARS`` class are palindromic, so splitting
    the reversal from the left == splitting the original from the
    right).  On 600-token pages this cut the edge path 4x vs splitting
    the whole text — per-doc cost scales with the edge window, not the
    page length."""
    if not txt:
        return set()
    if edge_tokens is None:
        toks = split_tokens(txt)
        if len(toks) < n:
            return set()
        return _grams_of(toks, n)
    e = edge_tokens
    head_parts = split_tokens(txt, 2 * e)
    if len(head_parts) <= 2 * e:  # short doc: exact full gram set
        if len(head_parts) < n:
            return set()
        return _grams_of(head_parts, n)
    head = head_parts[:e]
    rev = split_tokens(txt[::-1], e)
    tail = [t[::-1] for t in rev[:e]][::-1]
    return _grams_of(head, n) | _grams_of(tail, n)


def ngram_rows(
    df: DataFrame,
    keys: list[str],
    text_col: str,
    n: int,
    edge_tokens: int | None = None,
    impl: str = IMPL,
) -> DataFrame:
    """(keys..., gram) — one row per distinct gram per input row,
    equivalent to ``explode(array_distinct(token_ngrams(text, n)))``
    but built Arrow-batch-wise (see module docstring for why that
    wins).  A narrow map stage: no shuffle, each task streams its
    batches through, output bounded by that task's gram count.
    impl 'auto' (default) picks the measured winner per mode (module
    docstring); 'native' = zero-per-doc-Python Arrow/numpy path;
    'python' = the per-doc loop reference it is pinned against."""
    if _resolve_impl(impl, edge_tokens) == "native":
        return _native_batches(df, keys, text_col, n, edge_tokens, "distinct")
    import pandas as pd  # noqa: F401

    dtypes = dict(df.dtypes)
    schema = ", ".join([f"{k} {dtypes[k]}" for k in keys] + ["gram string"])

    def build(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {k: [] for k in keys}
            out_g: list[str] = []
            key_cols = [pdf[k] for k in keys]
            for row in zip(pdf[text_col], *key_cols):
                grams = _gram_set(row[0], n, edge_tokens)
                if not grams:
                    continue
                out_g.extend(grams)
                for k, v in zip(keys, row[1:]):
                    out[k].extend([v] * len(grams))
            out["gram"] = out_g
            yield pd.DataFrame(out)

    return df.select(*keys, text_col).mapInPandas(build, schema)


def ngram_count_rows(
    df: DataFrame,
    keys: list[str],
    text_col: str,
    n: int,
    edge_tokens: int | None = None,
    impl: str = IMPL,
) -> DataFrame:
    """(keys..., gram, cnt) — ``ngram_rows`` with the map-side combine
    folded INTO the cutter: cnt = number of docs in this Arrow batch
    whose distinct gram set contains the gram, so
    ``groupBy(keys, gram).sum(cnt)`` equals ``ngram_rows``'s
    ``count(1)`` exactly (pinned in tests/test_grams.py).

    Why: for document-frequency consumers (boilerplate detection) the
    one-row-per-(doc, gram) contract makes the cutter emit ~60 rows/doc
    through Arrow before the JVM's partial aggregate re-collapses them.
    Boilerplate grams by definition repeat across the docs of a group,
    so combining per batch (a ``Counter.update`` per doc — C loop, no
    per-gram Python) halves the emitted rows on the bench corpus and
    shrinks both the Python→JVM Arrow transfer and the shuffle input.
    Emission is ``mapInArrow`` — RecordBatch out directly, skipping a
    pandas object-array round-trip.  impl 'native' runs the cut AND the
    combine fully vectorized (Arrow group_by, no Counter); 'python' is
    the per-doc Counter loop it is pinned against; 'auto' (default)
    picks the measured winner per mode (module docstring)."""
    if _resolve_impl(impl, edge_tokens) == "native":
        return _native_batches(df, keys, text_col, n, edge_tokens, "count")
    import pyarrow as pa

    dtypes = dict(df.dtypes)
    schema = ", ".join(
        [f"{k} {dtypes[k]}" for k in keys] + ["gram string", "cnt long"]
    )

    def build(batches: Iterator) -> Iterator:
        from collections import Counter

        for batch in batches:
            cols = {
                name: batch.column(j).to_pylist()
                for j, name in enumerate(batch.schema.names)
            }
            key_types = [batch.schema.field(k).type for k in keys]
            outer: dict[tuple, Counter] = {}
            for row in zip(cols[text_col], *(cols[k] for k in keys)):
                grams = _gram_set(row[0], n, edge_tokens)
                if not grams:
                    continue
                kt = row[1:]
                c = outer.get(kt)
                if c is None:
                    c = outer[kt] = Counter()
                c.update(grams)
            out_keys: list[list] = [[] for _ in keys]
            out_g: list[str] = []
            out_c: list[int] = []
            for kt, c in outer.items():
                m = len(c)
                for i, v in enumerate(kt):
                    out_keys[i].extend([v] * m)
                out_g.extend(c.keys())
                out_c.extend(c.values())
            arrays = [
                pa.array(col, type=t) for col, t in zip(out_keys, key_types)
            ] + [
                pa.array(out_g, type=pa.string()),
                pa.array(out_c, type=pa.int64()),
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=[*keys, "gram", "cnt"])

    return df.select(*keys, text_col).mapInArrow(build, schema)


def ngram_pos_rows(
    df: DataFrame,
    keys: list[str],
    text_col: str,
    n: int,
    impl: str = IMPL,
) -> DataFrame:
    """(keys..., pos, gram) — one row per token *window position*
    (0-based; NOT distinct, unlike ngram_rows), for span-grain
    consumers (substring span removal needs to know WHERE a duplicated
    window sits, not just that it exists).  Same Arrow-batched narrow
    map stage and tokenizer as ngram_rows."""
    if _resolve_impl(impl, None) == "native":
        return _native_batches(df, keys, text_col, n, None, "pos")
    import pandas as pd  # noqa: F401

    dtypes = dict(df.dtypes)
    schema = ", ".join(
        [f"{k} {dtypes[k]}" for k in keys] + ["pos int", "gram string"]
    )

    def build(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {k: [] for k in keys}
            out_p: list[int] = []
            out_g: list[str] = []
            key_cols = [pdf[k] for k in keys]
            for row in zip(pdf[text_col], *key_cols):
                txt = row[0]
                if not txt:
                    continue
                toks = split_tokens(txt)
                m = len(toks) - n + 1
                if m <= 0:
                    continue
                out_g.extend(" ".join(toks[i : i + n]) for i in range(m))
                out_p.extend(range(m))
                for k, v in zip(keys, row[1:]):
                    out[k].extend([v] * m)
            out["pos"] = out_p
            out["gram"] = out_g
            yield pd.DataFrame(out)

    return df.select(*keys, text_col).mapInPandas(build, schema)
