"""Similarity search over an embedding column (array<float>).

* **brute-force top-k** — the correctness baseline: Q query vectors ×
  N corpus vectors, dot products via ``zip_with``/``aggregate`` (pure
  JVM), ranked per query.  O(Q·N·d) — fine for small Q even at large
  N because the corpus side stays partitioned (the query side is
  broadcast), but the scale path is the LSH variant.
* **random-hyperplane LSH** — P deterministic hyperplanes → P sign
  bits → bucket id.  Candidates = same bucket (expected N/2^P per
  bucket); top-k within candidates.  The bucketing is a narrow map;
  the candidate join shuffles only (query, bucket) pairs.  An IVF
  variant would replace the planes with k-means centroids; the plan
  shape (assign → co-partition → local rank) is identical.

Hyperplane weights are small deterministic integers (same formula in
the DuckDB oracle): w(p, i) = (((i*31 + p*17) * 993) % 1024) % 7 - 3.
(The extra *993 % 1024 scramble matters: a plain (i*31 + p*17) % 7 is
linear in p mod 7, so planes repeat with period 7 and bucket count
caps at 2^7 = 128 no matter how many planes are requested — measured
at the 1M-vector bench table, r5.  With the scramble the p-period is
1024, so n_planes is a real web-scale knob.)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

N_QUERIES = 8       # vec_id < N_QUERIES are the query set
TOP_K = 5
N_PLANES = 6
DIM = 64

# default builder for the vector math (VERDICT r4 #1): "arrow" runs
# the dot/dist2/cosine/bucket arithmetic as Arrow-batched numpy
# kernels; "hof" is the pure-Catalyst higher-order-function form the
# DuckDB oracles mirror literally.  Catalyst evaluates HOF lambdas
# interpreted per element — this repo has measured that constant
# factor at 4-25x three times (grams r3, pii md5 r4, boilerplate
# builder r4) — while the kernels below are constructed to be
# BIT-IDENTICAL to the HOF fold (not merely close), so the oracle
# proves the same numbers the fast path produces.  Brute force under
# "arrow" is the map-side-combine pass; a crossJoin + Arrow cosine
# form measured slowest of the three at 1M x 64-d (23.4s vs 18.6s
# map-side combine and 13.5s hof) and was dropped
# (BENCH/ab_embedding_r5.json).
BUILDER = "arrow"


def _kernel(builder: str) -> bool:
    """True for the Arrow kernel builder, False for the HOF reference;
    any other name raises."""
    if builder not in ("arrow", "hof"):
        raise ValueError(f"unknown builder {builder!r}")
    return builder == "arrow"


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


# --------------------------------------------------------------------------
# Arrow/numpy batch kernels (r5).  The trick that makes them safe to
# swap under the oracle gate: each kernel is vectorized ACROSS rows
# but accumulates over the vector dims in ascending order — one
# `acc = acc + A[:, k] * B[:, k]` per dim — so every double add/mul
# happens in exactly the sequence the sequential HOF fold (and the
# oracle's list_reduce) performs.  IEEE doubles make that order
# significant: numpy's own pairwise-summation `sum`/BLAS `dot` would
# drift in the final ulps and could flip a round(x, 4) landing on a
# rounding boundary; the dim-loop form cannot.  64 vectorized ops per
# batch still beats 64 interpreted lambda calls per ROW by orders of
# magnitude.
# --------------------------------------------------------------------------


def _stack(series: "pd.Series"):
    """(n, dim) float64 matrix from an Arrow list column (equal dims
    by construction on every kernel path — enforced, not assumed)."""
    import numpy as np

    return np.stack(series.to_numpy()).astype(np.float64, copy=False)


def _seq_dot(A, B):
    import numpy as np

    acc = np.zeros(A.shape[0], dtype=np.float64)
    for k in range(A.shape[1]):
        acc = acc + A[:, k] * B[:, k]
    return acc


def _seq_dist2(A, B):
    import numpy as np

    acc = np.zeros(A.shape[0], dtype=np.float64)
    for k in range(A.shape[1]):
        d = A[:, k] - B[:, k]
        acc = acc + d * d
    return acc


@pandas_udf(DoubleType())
def _cosine_kernel(a: "pd.Series", b: "pd.Series") -> "pd.Series":
    import numpy as np

    if len(a) == 0:
        return pd.Series([], dtype="float64")
    A, B = _stack(a), _stack(b)
    cos = _seq_dot(A, B) / (np.sqrt(_seq_dot(A, A)) * np.sqrt(_seq_dot(B, B)))
    return pd.Series(cos, index=a.index)


@pandas_udf(DoubleType())
def _dist2_kernel(a: "pd.Series", b: "pd.Series") -> "pd.Series":
    if len(a) == 0:
        return pd.Series([], dtype="float64")
    return pd.Series(_seq_dist2(_stack(a), _stack(b)), index=a.index)


def _cos(a: Column, b: Column, builder: str) -> Column:
    return _cosine_kernel(a, b) if _kernel(builder) else cosine(a, b)


def _d2(a: Column, b: Column, builder: str) -> Column:
    return _dist2_kernel(a, b) if _kernel(builder) else _dist2(a, b)


def cast_embeddings(df: DataFrame) -> DataFrame:
    """float32 -> float64 once, so all arithmetic is double (matches
    the DuckDB oracle's CAST(x AS DOUBLE))."""
    return df.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cast_embeddings(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


EMB_SCALE_VERSION = 2  # bump when the perturbation recipe changes
                       # (cache paths key on it, like EDGE_INJECT_VERSION)


def embeddings_scaled(
    spark: SparkSession, sf_dir: str, factor: int,
    parallelism: int | None = None, amp: float = 0.11,
) -> DataFrame:
    """Deterministic scale-up of the embeddings table for benching
    (the webpages_scaled pattern): replicate ``factor``x with a vec_id
    stride and a per-replica deterministic perturbation so the scaled
    corpus has ``factor * n_base`` DISTINCT vectors — a pure function
    of (sf_dir, factor), no RNG.

    Perturbation: emb'[i] = emb[i] + (((rep*2654435761 + i*40503) %
    1024) - 512) / 1024 * amp, rounded back to float32.  The odd
    Knuth multiplier makes rep -> offset-pattern injective mod 1024,
    so every replica below rep 1024 is a distinct vector (a plain
    ``% 13`` pattern would collapse the 500 default replicas onto 13
    identical vectors and produce degenerate mega-buckets).  The
    default amp=0.11 gives |delta| ~ 0.26 against unit-norm base
    vectors: replicas of one base stay mutual near-neighbors (cos ~
    0.94, so near-dup verification does real work) while their LSH
    signs differ enough to spread across buckets.

    Parallelism is driven by an explicitly partitioned spark.range
    broadcast-hash-joined to the small base table — a crossJoin
    against the single-file parquet side would plan one task total
    (see webpages_scaled's note)."""
    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_base = base.count()  # small dimension table; one cheap job
    par = parallelism or spark.sparkContext.defaultParallelism * 4
    ids = spark.range(0, n_base * factor, 1, par)
    keyed = ids.select(
        (F.col("id") % n_base).alias("_base"),
        (F.col("id") / n_base).cast("long").alias("_rep"),
    )
    # embeddings vec_id is dense 0..n_base-1, so _base == vec_id
    dim = F.broadcast(base.withColumnRenamed("vec_id", "_base"))
    rep = F.col("_rep")
    pert = F.transform(
        "embedding",
        lambda x, i: (
            x.cast("double")
            + ((rep * 2654435761 + i * 40503) % 1024 - 512) / 1024.0 * amp
        ).cast("float"),
    )
    return keyed.join(dim, "_base").select(
        (F.col("_base") + rep * F.lit(1_000_000)).alias("vec_id"),
        pert.alias("embedding"),
        "label",
    )


def lsh_buckets_df(
    emb: DataFrame, builder: str = BUILDER, n_planes: int = N_PLANES
) -> DataFrame:
    return emb.select(
        "vec_id", _bucket(F.col("emb"), builder, n_planes).alias("bucket")
    )


def brute_force_topk(
    spark: SparkSession, sf_dir: str, builder: str = BUILDER
) -> DataFrame:
    """(query_id, neighbor_id, score): exact cosine top-k per query."""
    emb = load_embeddings(spark, sf_dir)
    return brute_force_topk_df(emb, builder=builder)


def brute_force_topk_df(emb: DataFrame, builder: str = BUILDER) -> DataFrame:
    if _kernel(builder):
        # map-side-combine form (r5): the scalable brute-force shape.
        # NB it is ~1.4x SLOWER locally than the crossJoin+HOF form at
        # 1M x 64-d (18.6s vs 13.5s, BENCH/ab_embedding_r5.json) and
        # stays the default anyway: it ships each corpus vector across
        # the Arrow boundary once instead of q times and avoids the
        # q*N-row shuffle — the tradeoff that matters at 100 TB.  Do
        # not "fix" this backwards from a local profile.
        return _brute_force_topk_map(emb)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    scored = F.broadcast(q).crossJoin(emb).filter(
        F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(_cos(F.col("q_emb"), F.col("emb"), builder), 4).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _brute_force_topk_map(
    emb: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K
) -> DataFrame:
    """Brute-force exact top-k as ONE corpus pass with map-side
    combine — the 100 TB shape.  The crossJoin+scalar-UDF form ships
    every (query, corpus) pair through the Arrow boundary (8x the
    corpus bytes for 8 queries, then an 8M-row shuffle into the
    ranking window); here the bounded query set rides the closure,
    each corpus vector crosses the boundary ONCE, scores are an
    (n x q) dim-loop inside the batch, and only each batch's top-k
    candidates (~q*k rows per 10k-row batch) reach the final window.

    Exactness under rounding: the global key is (round(cos,4) DESC,
    neighbor_id ASC) but the local cut uses RAW cosines — so the
    batch keeps every row with raw >= (k-th best raw) - 1e-4.  If
    raw < r_k - 1e-4 then round(raw) < round(r_k) strictly (values
    more than one rounding quantum apart cannot share a rounded
    value), so every dropped row is outranked by >= k rows of its own
    batch regardless of tie-breaks; the kept superset therefore
    contains the exact global top-k.  The per-dim accumulation order
    matches the sequential HOF fold, so scores are bit-identical to
    the 'hof' builder and the DuckDB oracle."""
    import numpy as np

    q_rows = sorted(
        emb.filter(F.col("vec_id") < n_queries).select("vec_id", "emb").collect(),
        key=lambda r: r.vec_id,
    )  # bounded driver collect: the query set (n_queries rows)
    qids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    Q = np.array([list(r.emb) for r in q_rows], dtype=np.float64)
    # per-query norms via the same sequential fold
    qn = np.zeros(len(q_rows), dtype=np.float64)
    for d in range(Q.shape[1]):
        qn = qn + Q[:, d] * Q[:, d]
    qn = np.sqrt(qn)

    out_schema = StructType([
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("score_raw", DoubleType()),
    ])

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["emb"].to_numpy()).astype(np.float64, copy=False)
            ids = pdf["vec_id"].to_numpy()
            n, dim = A.shape
            acc = np.zeros((n, len(qids)), dtype=np.float64)
            an = np.zeros(n, dtype=np.float64)
            for d in range(dim):
                col = A[:, d]
                acc = acc + col[:, None] * Q[None, :, d]
                an = an + col * col
            S = acc / (np.sqrt(an)[:, None] * qn[None, :])
            self_mask = ids[:, None] == qids[None, :]
            sel_r, sel_q = [], []
            for j in range(len(qids)):
                col = np.where(self_mask[:, j], -np.inf, S[:, j])
                m = np.count_nonzero(np.isfinite(col))
                if m == 0:
                    continue
                if m > k:
                    rk = np.partition(col, -k)[-k]
                    keep = np.nonzero(col >= rk - 1e-4)[0]
                else:
                    keep = np.nonzero(np.isfinite(col))[0]
                sel_r.append(keep)
                sel_q.append(np.full(len(keep), j, dtype=np.int64))
            if not sel_r:
                continue
            rr, qq = np.concatenate(sel_r), np.concatenate(sel_q)
            yield pd.DataFrame({
                "query_id": qids[qq],
                "neighbor_id": ids[rr],
                "score_raw": S[rr, qq],
            })

    cand = emb.select("vec_id", "emb").mapInPandas(gen, out_schema)
    scored = cand.select(
        "query_id", "neighbor_id", F.round("score_raw", 4).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def lsh_bucket(emb: Column, n_planes: int = N_PLANES) -> Column:
    """Random-hyperplane bucket id: bit p = sign(w_p · emb)."""
    def mk_plane(p):
        # NB: a 2-arg lambda in F.transform means (element, index) —
        # closure factory keeps this a 1-arg lambda
        return lambda i: (
            (((i * 31 + p * 17) * 993) % 1024) % 7 - 3
        ).cast("double")

    bits = []
    for p in range(n_planes):
        w = F.transform(F.sequence(F.lit(0), F.lit(DIM - 1)), mk_plane(p))
        proj = F.aggregate(
            F.zip_with(w, emb, lambda wi, xi: wi * xi),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj > 0, F.lit(2 ** p)).otherwise(F.lit(0)))
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return total.cast("int")


def _bucket_kernel(n_planes: int):
    """pandas_udf factory: the lsh_bucket arithmetic as a numpy
    kernel — per plane, a sequential dim-loop projection (bit-identical
    to the HOF fold), then the sign bits packed into the bucket id."""

    @pandas_udf(IntegerType())
    def k(emb: "pd.Series") -> "pd.Series":
        import numpy as np

        if len(emb) == 0:
            return pd.Series([], dtype="int32")
        A = _stack(emb)
        total = np.zeros(A.shape[0], dtype=np.int64)
        for p in range(n_planes):
            acc = np.zeros(A.shape[0], dtype=np.float64)
            for i in range(A.shape[1]):
                w = float((((i * 31 + p * 17) * 993) % 1024) % 7 - 3)
                acc = acc + w * A[:, i]
            total = total + (acc > 0) * (1 << p)
        return pd.Series(total.astype("int32"), index=emb.index)

    return k


def _bucket(emb: Column, builder: str, n_planes: int = N_PLANES) -> Column:
    if _kernel(builder):
        return _bucket_kernel(n_planes)(emb)
    return lsh_bucket(emb, n_planes)


def lsh_buckets(
    spark: SparkSession, sf_dir: str, builder: str = BUILDER
) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    return emb.select("vec_id", _bucket(F.col("emb"), builder).alias("bucket"))


def lsh_topk(
    spark: SparkSession, sf_dir: str, builder: str = BUILDER
) -> DataFrame:
    """Approximate top-k: rank only within the query's LSH bucket."""
    emb = load_embeddings(spark, sf_dir).withColumn(
        "bucket", _bucket(F.col("emb"), builder)
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("bucket").alias("qb"),
    )
    cands = F.broadcast(q).join(
        emb, (F.col("bucket") == F.col("qb")) & (F.col("vec_id") != F.col("query_id"))
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(_cos(F.col("q_emb"), F.col("emb"), builder), 4).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# --------------------------------------------------------------------------
# IVF: k-means-lite centroids -> cell assignment -> in-cell search.
# The production ANN shape: assign (narrow, broadcast centroids) ->
# co-partition by cell -> local rank.  Deterministic: seeds are the
# first N_CELLS vectors, Lloyd updates round to 6dp so the DuckDB
# oracle reproduces assignments exactly.
# --------------------------------------------------------------------------

N_CELLS = 8
KMEANS_ITERS = 2


def _dist2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _assign(emb: DataFrame, cent: DataFrame, builder: str = BUILDER) -> DataFrame:
    """(vec_id, emb, cluster): nearest centroid, ties to lowest id."""
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "emb", "cluster",
        _d2(F.col("emb"), F.col("centroid"), builder).alias("d2"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cluster"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "emb", "cluster")
    )


def kmeans_centroids(emb: DataFrame, n_cells: int = N_CELLS, iters: int = KMEANS_ITERS, builder: str = BUILDER) -> DataFrame:
    """(cluster, centroid) after ``iters`` Lloyd steps from
    first-vectors seeds.  Means recompute via posexplode ->
    groupBy(cluster, pos) -> reassemble (sort_array on (pos, val)),
    rounded to 6dp for cross-engine determinism."""
    cent = emb.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").cast("int").alias("cluster"), F.col("emb").alias("centroid")
    )
    for _ in range(iters):
        assigned = _assign(emb, cent, builder)
        expl = assigned.select("cluster", F.posexplode("emb").alias("pos", "val"))
        means = expl.groupBy("cluster", "pos").agg(F.round(F.avg("val"), 6).alias("m"))
        cent = (
            means.groupBy("cluster")
            .agg(F.sort_array(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "cluster",
                F.transform(F.col("pm"), lambda x: x.getField("m")).alias("centroid"),
            )
        )
    return cent


def ivf_assignments(
    spark: SparkSession, sf_dir: str, builder: str = BUILDER
) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    cent = kmeans_centroids(emb, builder=builder)
    return _assign(emb, cent, builder).select("vec_id", "cluster")


def ivf_topk(
    spark: SparkSession, sf_dir: str, builder: str = BUILDER
) -> DataFrame:
    """Approximate top-k searching only the query's IVF cell."""
    emb = load_embeddings(spark, sf_dir)
    cent = kmeans_centroids(emb, builder=builder)
    assigned = _assign(emb, cent, builder)
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("cluster").alias("qc"),
    )
    cands = F.broadcast(q).join(
        assigned, (F.col("cluster") == F.col("qc")) & (F.col("vec_id") != F.col("query_id"))
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(_cos(F.col("q_emb"), F.col("emb"), builder), 4).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# --------------------------------------------------------------------------
# embedding-cosine near-duplicate detection (dedup family).
# Unlike the top-k queries above, this is the ALL-PAIRS shape: no
# broadcastable query set — the self-join co-partitions both sides on
# the LSH bucket, so candidate volume is sum_b C(|bucket_b|, 2) and the
# exact-cosine verification touches only candidates.  At 10^9 vectors
# the bucket count (2^N_PLANES per table, more planes at scale) is the
# knob that keeps buckets small; a bucket-size cap like MinHash's would
# guard degenerate clusters.
# --------------------------------------------------------------------------

COSINE_T = 0.98      # verification threshold (rounded cosine)


def neardup_embedding_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings plus injected duplicates (the base table is
    near-orthogonal — max natural pairwise cosine ~0.51): exact copies
    (+20000, cosine 1.0) and near copies (+10000, coords scaled
    0.95/1.0/1.05 cyclically, cosine ~0.999).  Mirrored in the DuckDB
    oracle CTE."""
    emb = load_embeddings(spark, sf_dir)
    exact = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 20_000).alias("vec_id"), "emb"
    )
    near = emb.filter(F.col("vec_id") % 30 == 0).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        # NB: 2-arg transform lambda = (element, index)
        F.transform(
            F.col("emb"), lambda x, i: x * (1.0 + 0.05 * ((i % 3) - 1))
        ).alias("emb"),
    )
    return emb.unionAll(exact).unionAll(near)


def embedding_near_duplicates(
    emb: DataFrame, threshold: float = COSINE_T, max_bucket: int | None = None,
    builder: str = BUILDER, n_planes: int = N_PLANES,
) -> DataFrame:
    """(vec_a, vec_b, cos): same-LSH-bucket pairs with exact cosine >=
    threshold.

    ``max_bucket`` is the skew guard for degenerate clusters (the same
    role as MinHash's band-bucket cap): buckets above the cap are
    dropped before the self-join — their pairwise candidates grow
    quadratically while carrying no ranking information (route such
    buckets to a cluster report instead of pairwise verification).  At
    web scale, also raise ``n_planes`` so expected bucket size N/2^P
    stays small (the scaled bench runs 16 planes over 1M vectors)."""
    b = emb.withColumn("bucket", _bucket(F.col("emb"), builder, n_planes))
    if max_bucket is not None:
        # grouped cap (r4, same shape as minhash_candidate_pairs): the
        # bucket projection shuffles narrow (bucket, vec_id) rows once
        # with map-side partials; pair explosion is local and capped;
        # verification joins the embeddings back by id — the full
        # vectors are never shuffled on the bucket key at all (the
        # self-join form shipped them through the bucket exchange).
        from xjs.pipeline.dedup import bucket_pairs

        grouped = (
            b.select("bucket", F.col("vec_id").alias("doc_id"))
            .groupBy("bucket")
            .agg(F.collect_list("doc_id").alias("docs"))
            .filter((F.size("docs") >= 2) & (F.size("docs") <= max_bucket))
        )
        # The pair table is capped-bucket bounded (≤ max_bucket²/2 per
        # kept bucket — 124k rows of two longs at the 1M-vector bench),
        # so it BROADCASTS into the vector attach instead of dragging
        # the full embedding table through two id-keyed SortMergeJoin
        # exchanges (the r6 plan audit showed the 1M×64-d table
        # shuffled twice to meet a 2 MB pair set; guide §8: decide on
        # small rows, move heavy rows once).  The checkpoint serves the
        # pair set to its three consumers (two attaches + the semi
        # prefilter) from one computation; the b-side vectors are
        # pre-filtered with a broadcast semi-join so the only remaining
        # shuffle carries candidate vectors, not the corpus.
        pairs = bucket_pairs(grouped, "doc_id").localCheckpoint(eager=False)
        ea = emb.select(F.col("vec_id").alias("doc_id_a"), F.col("emb").alias("emb_a"))
        eb = emb.select(F.col("vec_id").alias("doc_id_b"), F.col("emb").alias("emb_b"))
        ebf = eb.join(
            F.broadcast(pairs.select("doc_id_b").distinct()), "doc_id_b",
            "left_semi",
        )
        return (
            ea.join(F.broadcast(pairs), "doc_id_a").join(ebf, "doc_id_b")
            .select(
                F.col("doc_id_a").alias("vec_a"),
                F.col("doc_id_b").alias("vec_b"),
                F.round(_cos(F.col("emb_a"), F.col("emb_b"), builder), 4).alias("cos"),
            )
            .filter(F.col("cos") >= threshold)
        )
    left, right = b.alias("a"), b.alias("b")
    cands = left.join(
        right,
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    return (
        cands.select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(_cos(F.col("a.emb"), F.col("b.emb"), builder), 4).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


EMB_MAX_BUCKET = 64  # LSH-bucket cap: the oracle-checked default


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped by default (r2 verdict #4) — the oracle proves the same
    skew-guarded path production runs; the DuckDB side replicates the
    cap with a windowed bucket count."""
    return embedding_near_duplicates(
        neardup_embedding_corpus(spark, sf_dir), max_bucket=EMB_MAX_BUCKET
    )


_NEARDUP_CORPUS_CTE = f"""
base AS (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
    FROM embeddings
),
emb AS (
    SELECT vec_id, emb FROM base
    UNION ALL
    SELECT vec_id + 20000 AS vec_id, emb FROM base WHERE vec_id % 50 = 0
    UNION ALL
    SELECT vec_id + 10000 AS vec_id,
           list_transform(range(1, {DIM} + 1), i -> emb[i] * (1.0 + 0.05 * ((i - 1) % 3 - 1))) AS emb
    FROM base WHERE vec_id % 30 = 0
)
"""


def oracle_dedup_embedding_sql() -> str:
    return f"""
WITH {_NEARDUP_CORPUS_CTE.strip()},
bucketed AS (
    SELECT vec_id, emb, CAST({_BUCKET_SQL} AS INTEGER) AS bucket FROM emb
    QUALIFY COUNT(*) OVER (PARTITION BY CAST({_BUCKET_SQL} AS INTEGER)) <= {EMB_MAX_BUCKET}
),
scored AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_DOT_SQL} /
                 (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, {DIM}+1), i -> a.emb[i]*a.emb[i])), (x,y)->x+y)) *
                  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, {DIM}+1), i -> b.emb[i]*b.emb[i])), (x,y)->x+y))), 4) AS cos
    FROM bucketed a JOIN bucketed b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cos FROM scored WHERE cos >= {COSINE_T}
"""


# --------------------------------------------------------------------------
# DuckDB oracles (identical arithmetic: sequential double dot products)
# --------------------------------------------------------------------------

_DOT_SQL = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, {d} + 1), "
    "i -> a.emb[i] * b.emb[i])), (x, y) -> x + y)"
).format(d=DIM)

_EMB_CTE = """
emb AS (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
    FROM embeddings
)
"""


def oracle_brute_force_sql() -> str:
    return f"""
WITH {_EMB_CTE.strip()},
scored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           ROUND({_DOT_SQL} /
                 (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, {DIM}+1), i -> a.emb[i]*a.emb[i])), (x,y)->x+y)) *
                  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, {DIM}+1), i -> b.emb[i]*b.emb[i])), (x,y)->x+y))), 4) AS score
    FROM emb a JOIN emb b ON a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, score, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, {DIM}+1), "
    f"i -> (((((i-1)*31 + {p}*17) * 993) % 1024) % 7 - 3)::DOUBLE * emb[i])), (x,y)->x+y) > 0 "
    f"THEN {2 ** p} ELSE 0 END)"
    for p in range(N_PLANES)
)


def oracle_lsh_buckets_sql() -> str:
    return f"""
WITH {_EMB_CTE.strip()}
SELECT vec_id, CAST({_BUCKET_SQL} AS INTEGER) AS bucket FROM emb
"""


_D2_SQL = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, {d} + 1), "
    "i -> (e.emb[i] - c.centroid[i]) * (e.emb[i] - c.centroid[i]))), (x, y) -> x + y)"
).format(d=DIM)


def _ivf_cte() -> str:
    """CTE chain: seeds -> KMEANS_ITERS Lloyd rounds -> final assign."""
    parts = [
        _EMB_CTE.strip(),
        f"cent0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, emb AS centroid FROM emb WHERE vec_id < {N_CELLS})",
    ]
    prev = "cent0"
    for it in range(KMEANS_ITERS):
        a, c = f"asg{it}", f"cent{it + 1}"
        parts.append(f"""
{a} AS (
    SELECT vec_id, emb, cluster FROM (
        SELECT e.vec_id, e.emb, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {_D2_SQL} ASC, c.cluster ASC) AS rn
        FROM emb e CROSS JOIN {prev} c
    ) WHERE rn = 1
)""".strip())
        parts.append(f"""
{c} AS (
    SELECT cluster, list(m ORDER BY pos) AS centroid FROM (
        SELECT cluster, pos, ROUND(AVG(val), 6) AS m
        FROM (SELECT cluster, UNNEST(emb) AS val, UNNEST(RANGE(1, {DIM} + 1)) AS pos FROM {a})
        GROUP BY cluster, pos
    ) GROUP BY cluster
)""".strip())
        prev = c
    parts.append(f"""
asg AS (
    SELECT vec_id, emb, cluster FROM (
        SELECT e.vec_id, e.emb, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {_D2_SQL} ASC, c.cluster ASC) AS rn
        FROM emb e CROSS JOIN {prev} c
    ) WHERE rn = 1
)""".strip())
    return ",\n".join(parts)


def oracle_ivf_assignments_sql() -> str:
    return f"WITH {_ivf_cte()} SELECT vec_id, cluster FROM asg"


def oracle_ivf_topk_sql() -> str:
    return f"""
WITH {_ivf_cte()},
scored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           ROUND({_DOT_SQL} /
                 (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, {DIM}+1), i -> a.emb[i]*a.emb[i])), (x,y)->x+y)) *
                  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, {DIM}+1), i -> b.emb[i]*b.emb[i])), (x,y)->x+y))), 4) AS score
    FROM asg a JOIN asg b
      ON a.vec_id < {N_QUERIES} AND b.cluster = a.cluster AND b.vec_id <> a.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, score, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


def oracle_lsh_topk_sql() -> str:
    return f"""
WITH {_EMB_CTE.strip()},
bucketed AS (SELECT vec_id, emb, CAST({_BUCKET_SQL} AS INTEGER) AS bucket FROM emb),
scored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           ROUND({_DOT_SQL} /
                 (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, {DIM}+1), i -> a.emb[i]*a.emb[i])), (x,y)->x+y)) *
                  sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, {DIM}+1), i -> b.emb[i]*b.emb[i])), (x,y)->x+y))), 4) AS score
    FROM bucketed a JOIN bucketed b
      ON a.vec_id < {N_QUERIES} AND b.bucket = a.bucket AND b.vec_id <> a.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, score, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


# --------------------------------------------------------------------------
# product quantization (PQ): compress embeddings to M sub-codes + ADC top-k
# --------------------------------------------------------------------------
# At 10^9+ vectors the float embeddings don't fit hot storage; PQ stores
# M small codes per vector (here 4x3 bits — production uses 8-16x8) and
# answers top-k with asymmetric distance computation: per query, an
# M x K table of exact subspace distances to the codebook centroids,
# then each vector's approximate distance is M table lookups summed.
# The scan side never touches floats — only the tiny code columns.

M_PQ = 4                 # subspaces
K_PQ = 8                 # centroids per subspace codebook
PQ_ITERS = 2             # Lloyd rounds per subquantizer
SUB_DIM = DIM // M_PQ


def _sub_emb(emb: DataFrame, j: int) -> DataFrame:
    return emb.select("vec_id", F.slice("emb", j * SUB_DIM + 1, SUB_DIM).alias("emb"))


def pq_codebooks(emb: DataFrame, builder: str = BUILDER) -> DataFrame:
    """(sub, cluster, centroid): one K_PQ-centroid k-means codebook per
    SUB_DIM-wide subspace (reuses the IVF Lloyd machinery; driver loops
    over M_PQ subspaces, each a small independent job)."""
    books = None
    for j in range(M_PQ):
        b = kmeans_centroids(
            _sub_emb(emb, j), n_cells=K_PQ, iters=PQ_ITERS, builder=builder
        ).select(
            F.lit(j).alias("sub"), "cluster", "centroid"
        )
        books = b if books is None else books.unionAll(b)
    return books


def pq_encode(emb: DataFrame, books: DataFrame, builder: str = BUILDER) -> DataFrame:
    """(vec_id, sub, code): nearest codebook centroid per subspace —
    a narrow broadcast-assign per subspace, exactly the IVF assign
    shape; this is the one pass that reads the float vectors."""
    codes = None
    for j in range(M_PQ):
        cent = books.filter(F.col("sub") == j).select("cluster", "centroid")
        a = _assign(_sub_emb(emb, j), cent, builder).select(
            "vec_id", F.lit(j).alias("sub"), F.col("cluster").alias("code")
        )
        codes = a if codes is None else codes.unionAll(a)
    return codes


def pq_codes(
    spark: SparkSession, sf_dir: str, builder: str = BUILDER
) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    return pq_encode(emb, pq_codebooks(emb, builder), builder)


def pq_topk(
    spark: SparkSession, sf_dir: str, builder: str = BUILDER
) -> DataFrame:
    """Approximate top-k by ADC: exact per-subspace distance tables for
    the (broadcastable) query set, summed over the corpus codes.  The
    corpus side touches only (vec_id, sub, code) — never the floats."""
    emb = load_embeddings(spark, sf_dir)
    books = pq_codebooks(emb, builder)
    codes = pq_encode(emb, books, builder)

    q = emb.filter(F.col("vec_id") < N_QUERIES)
    qsubs = None
    for j in range(M_PQ):
        s = _sub_emb(q, j).select(
            F.col("vec_id").alias("query_id"), F.lit(j).alias("sub"),
            F.col("emb").alias("q_emb"),
        )
        qsubs = s if qsubs is None else qsubs.unionAll(s)
    dtable = qsubs.join(books, "sub").select(
        "query_id", "sub", F.col("cluster").alias("code"),
        _d2(F.col("q_emb"), F.col("centroid"), builder).alias("d2"),
    )
    approx = (
        codes.join(F.broadcast(dtable), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("d2"), 6).alias("approx_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("approx_d2"), F.asc("vec_id"))
    return (
        approx.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "approx_d2", "rank")
    )


_SUB_D2_SQL = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, {d} + 1), "
    "i -> (e.emb[i] - c.centroid[i]) * (e.emb[i] - c.centroid[i]))), (x, y) -> x + y)"
).format(d=SUB_DIM)


def _pq_cte() -> str:
    """CTE chain: per subspace, seeds -> PQ_ITERS Lloyd rounds ->
    assign; then codes/books unions (mirrors _ivf_cte per subspace)."""
    parts = [_EMB_CTE.strip()]
    finals = []
    for j in range(M_PQ):
        lo, hi = j * SUB_DIM + 1, (j + 1) * SUB_DIM
        parts.append(f"emb_{j} AS (SELECT vec_id, emb[{lo}:{hi}] AS emb FROM emb)")
        parts.append(
            f"cent_{j}_0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, "
            f"emb AS centroid FROM emb_{j} WHERE vec_id < {K_PQ})"
        )
        prev = f"cent_{j}_0"
        for it in range(PQ_ITERS):
            a, c = f"asg_{j}_{it}", f"cent_{j}_{it + 1}"
            parts.append(f"""
{a} AS (
    SELECT vec_id, emb, cluster FROM (
        SELECT e.vec_id, e.emb, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {_SUB_D2_SQL} ASC, c.cluster ASC) AS rn
        FROM emb_{j} e CROSS JOIN {prev} c
    ) WHERE rn = 1
)""".strip())
            parts.append(f"""
{c} AS (
    SELECT cluster, list(m ORDER BY pos) AS centroid FROM (
        SELECT cluster, pos, ROUND(AVG(val), 6) AS m
        FROM (SELECT cluster, UNNEST(emb) AS val, UNNEST(RANGE(1, {SUB_DIM} + 1)) AS pos FROM {a})
        GROUP BY cluster, pos
    ) GROUP BY cluster
)""".strip())
            prev = c
        parts.append(f"""
asg_{j} AS (
    SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {_SUB_D2_SQL} ASC, c.cluster ASC) AS rn
        FROM emb_{j} e CROSS JOIN {prev} c
    ) WHERE rn = 1
)""".strip())
        finals.append((j, prev))
    codes_union = " UNION ALL ".join(
        f"SELECT vec_id, {j} AS sub, cluster AS code FROM asg_{j}" for j, _ in finals
    )
    books_union = " UNION ALL ".join(
        f"SELECT {j} AS sub, cluster, centroid FROM {c}" for j, c in finals
    )
    parts.append(f"codes AS ({codes_union})")
    parts.append(f"books AS ({books_union})")
    return ",\n".join(parts)


def oracle_pq_codes_sql() -> str:
    return f"WITH {_pq_cte()} SELECT vec_id, sub, code FROM codes"


def oracle_pq_topk_sql() -> str:
    q_d2 = (
        "list_reduce(list_prepend(0.0, list_transform(range(1, {d} + 1), "
        "i -> (q.emb[i] - b.centroid[i]) * (q.emb[i] - b.centroid[i]))), (x, y) -> x + y)"
    ).format(d=SUB_DIM)
    qsubs = " UNION ALL ".join(
        f"SELECT vec_id AS query_id, {j} AS sub, emb[{j * SUB_DIM + 1}:{(j + 1) * SUB_DIM}] AS emb "
        f"FROM emb WHERE vec_id < {N_QUERIES}" for j in range(M_PQ)
    )
    return f"""
WITH {_pq_cte()},
qsubs AS ({qsubs}),
dtable AS (
    SELECT q.query_id, q.sub, b.cluster AS code, {q_d2} AS d2
    FROM qsubs q JOIN books b USING (sub)
),
approx AS (
    SELECT d.query_id, c.vec_id, ROUND(SUM(d.d2), 6) AS approx_d2
    FROM codes c JOIN dtable d USING (sub, code)
    WHERE c.vec_id <> d.query_id
    GROUP BY d.query_id, c.vec_id
),
ranked AS (
    SELECT query_id, vec_id AS neighbor_id, approx_d2,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx_d2 ASC, vec_id ASC) AS rank
    FROM approx
)
SELECT query_id, neighbor_id, approx_d2, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# embedding vector QA
# ---------------------------------------------------------------------------

EXPECTED_DIM = 64


@pandas_udf(StructType([
    StructField("sq", DoubleType()),
    StructField("bad", BooleanType()),
    StructField("nan", BooleanType()),
]))
def _quality_kernel(v: "pd.Series") -> "pd.DataFrame":
    """Sum-of-squares + nonfinite flag, ragged-safe: rows are grouped
    by vector length and each group runs the sequential dim-loop (so a
    dim-violation row doesn't break the stack, and every group's fold
    order matches the HOF/oracle exactly).  Null vectors -> nulls,
    like the Catalyst fold.

    The `nan` field exists because Arrow serialization of a pandas
    float column maps NaN -> null (pa.Array.from_pandas semantics), so
    a NaN sum-of-squares cannot survive the UDF boundary; the caller
    rebuilds it Spark-side.  A NaN fold result occurs iff some
    component is NaN (squares are >= 0 or +inf, so no inf - inf)."""
    import numpy as np

    vals = v.to_numpy()
    n = len(vals)
    out_sq: list = [None] * n
    out_bad: list = [None] * n
    out_nan: list = [None] * n
    lens = np.fromiter(
        (len(x) if x is not None else -1 for x in vals), dtype=np.int64, count=n
    )
    for L in np.unique(lens):
        idx = np.nonzero(lens == L)[0]
        if L < 0:
            continue
        if L == 0:
            for i in idx:
                out_sq[i], out_bad[i], out_nan[i] = 0.0, False, False
            continue
        M = np.stack([vals[i] for i in idx]).astype(np.float64, copy=False)
        acc = np.zeros(len(idx), dtype=np.float64)
        for k in range(L):
            acc = acc + M[:, k] * M[:, k]
        bad = ~np.isfinite(M).all(axis=1)
        isnan = np.isnan(M).any(axis=1)
        for j, i in enumerate(idx):
            out_sq[i], out_bad[i], out_nan[i] = (
                float(acc[j]), bool(bad[j]), bool(isnan[j]),
            )
    return pd.DataFrame({"sq": out_sq, "bad": out_bad, "nan": out_nan})


def embedding_quality(df: DataFrame, vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      expected_dim: int = EXPECTED_DIM,
                      builder: str = BUILDER) -> DataFrame:
    """Vector-table QA: dimensionality violations, zero vectors,
    NaN/Inf components, L2 norm — the checks that catch a broken
    embedding job before it poisons ANN indexes and near-dup passes.

    Narrow single-pass, no shuffle; at 100 TB this fuses into the
    scan like every other row-local check.  builder 'arrow' runs the
    per-row fold as the ragged-safe numpy kernel (same sequential
    fold order, so norms compare bit-stable after rounding); 'hof' is
    the literal Catalyst mirror of the SQL oracle."""
    v = F.col(vec_col)
    if _kernel(builder):
        staged = df.select(
            F.col(id_col), F.size(v).alias("dim"),
            _quality_kernel(v).alias("_q"),
        )
        # rebuild the NaN the Arrow boundary erased (see kernel doc)
        sq = F.when(F.col("_q.nan"), F.lit(float("nan"))).otherwise(
            F.col("_q.sq")
        )
        has_bad = F.col("_q.bad")
        return staged.select(
            F.col(id_col),
            F.col("dim"),
            (F.col("dim") != expected_dim).alias("dim_violation"),
            (sq == 0.0).alias("is_zero"),
            has_bad.alias("has_nonfinite"),
            F.round(F.sqrt(sq), 6).alias("l2_norm"),
        )
    sq = F.aggregate(
        F.transform(v, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    has_bad = F.exists(v, lambda x: F.isnan(x) | (F.abs(x) == float("inf")))
    return df.select(
        F.col(id_col),
        F.size(v).alias("dim"),
        (F.size(v) != expected_dim).alias("dim_violation"),
        (sq == 0.0).alias("is_zero"),
        has_bad.alias("has_nonfinite"),
        F.round(F.sqrt(sq), 6).alias("l2_norm"),
    )


def q_embedding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_quality(emb)


def oracle_embedding_quality_sql() -> str:
    sq = ("list_reduce(list_prepend(0.0, "
          "list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
          "(a, b) -> a + b)")
    return f"""
SELECT vec_id,
       len(embedding) AS dim,
       len(embedding) <> {EXPECTED_DIM} AS dim_violation,
       {sq} = 0.0 AS is_zero,
       len(list_filter(embedding, x -> isnan(x) OR isinf(x))) > 0 AS has_nonfinite,
       round(sqrt({sq}), 6) AS l2_norm
FROM embeddings
"""
