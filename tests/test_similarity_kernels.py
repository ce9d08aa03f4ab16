"""Arrow/numpy kernel builder == HOF builder across the embedding
family (VERDICT r4 #1).

The kernels are designed to be BIT-identical, not approximately equal:
they accumulate over vector dims in ascending order, reproducing the
sequential fold the Catalyst higher-order functions (and the DuckDB
oracles' list_reduce) perform — so these tests assert exact equality
on every column, including the round(·, 4) score boundaries.
"""

import math

import pytest
from pyspark.sql import functions as F

from xjs.pipeline import similarity as sim


def rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize(
    "fn",
    [
        sim.brute_force_topk,
        sim.lsh_buckets,
        sim.lsh_topk,
        sim.ivf_assignments,
        sim.ivf_topk,
        sim.pq_codes,
        sim.pq_topk,
    ],
    ids=lambda f: f.__name__,
)
def test_kernel_equals_hof(spark, sf_dir, fn):
    assert rows(fn(spark, sf_dir, builder="arrow")) == rows(
        fn(spark, sf_dir, builder="hof")
    )


def test_brute_force_builders_agree(spark, sf_dir):
    """'arrow' (map-side combine: broadcast query set, one corpus
    pass, per-batch local top-k with the 1e-4 raw-score margin) and
    'hof' (crossJoin + pure Catalyst) produce identical rows, rounding
    boundaries and tie-breaks included."""
    e = sim.load_embeddings(spark, sf_dir)
    r_map = rows(sim.brute_force_topk_df(e, "arrow"))
    assert r_map == rows(sim.brute_force_topk_df(e, "hof"))
    assert len(r_map) == sim.N_QUERIES * sim.TOP_K


def test_lsh_plane_family_has_long_period(spark, sf_dir):
    """Regression for the r5 scale bug: the old weight formula
    ((i*31+p*17) % 7 - 3) was linear in p mod 7, so planes repeated
    with period 7 and bucket count capped at 128 forever.  The
    scrambled family must produce strictly more distinct buckets at
    16 planes than at 7."""
    emb = sim.load_embeddings(spark, sf_dir)
    n7 = emb.select(sim._bucket(F.col("emb"), "arrow", 7).alias("b")).distinct().count()
    n16 = emb.select(sim._bucket(F.col("emb"), "arrow", 16).alias("b")).distinct().count()
    assert n16 > n7, (n7, n16)


def test_embeddings_scaled_distinct(spark, sf_dir):
    """The scaled bench fixture must be factor*n_base DISTINCT
    vectors (a short-period perturbation once collapsed 500 replicas
    onto 13 patterns and produced degenerate mega-buckets)."""
    df = sim.embeddings_scaled(spark, sf_dir, 30)
    n = df.count()
    assert n == 30 * 500
    assert df.select("embedding").distinct().count() == n


def test_kernel_equals_hof_neardup(spark, sf_dir):
    corp = sim.neardup_embedding_corpus(spark, sf_dir)
    a = rows(
        sim.embedding_near_duplicates(
            corp, max_bucket=sim.EMB_MAX_BUCKET, builder="arrow"
        )
    )
    h = rows(
        sim.embedding_near_duplicates(
            corp, max_bucket=sim.EMB_MAX_BUCKET, builder="hof"
        )
    )
    assert a == h and len(a) > 0
    # uncapped branch too (the self-join form)
    a2 = rows(sim.embedding_near_duplicates(corp, builder="arrow"))
    h2 = rows(sim.embedding_near_duplicates(corp, builder="hof"))
    assert a2 == h2 and len(a2) > 0


def test_kernel_equals_hof_quality(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = rows(sim.embedding_quality(emb, builder="arrow"))
    h = rows(sim.embedding_quality(emb, builder="hof"))
    assert a == h and len(a) > 0


def test_quality_kernel_ragged_and_nonfinite(spark):
    """The kernel's group-by-length path: dim violations, zero and
    empty vectors, NaN/Inf components — same verdicts as the HOF
    fold, row for row."""
    rows_in = [
        (1, [1.0] * 64),
        (2, [0.0] * 64),
        (3, [1.0] * 10),          # dim violation
        (4, []),                   # empty
        (5, [float("nan")] + [1.0] * 63),
        (6, [float("inf")] + [1.0] * 63),
        (7, [2.0] * 10),          # second member of the L=10 group
    ]
    df = spark.createDataFrame(rows_in, "vec_id bigint, embedding array<float>")
    a = {r["vec_id"]: r.asDict() for r in sim.embedding_quality(df, builder="arrow").collect()}
    h = {r["vec_id"]: r.asDict() for r in sim.embedding_quality(df, builder="hof").collect()}
    for k in a:
        ra, rh = a[k], h[k]
        for col in ("dim", "dim_violation", "is_zero", "has_nonfinite"):
            assert ra[col] == rh[col], (k, col, ra, rh)
        na, nh = ra["l2_norm"], rh["l2_norm"]
        assert (na == nh) or (
            na is not None and nh is not None and math.isnan(na) and math.isnan(nh)
        ), (k, na, nh)
    assert a[3]["dim_violation"] and a[2]["is_zero"] and a[5]["has_nonfinite"]
    assert a[6]["has_nonfinite"] and a[4]["dim"] == 0


def test_kernel_empty_input(spark, sf_dir):
    """Zero-row partitions hit the kernels' empty-batch guard."""
    emb = sim.load_embeddings(spark, sf_dir).filter(F.col("vec_id") < 0)
    out = emb.select(
        sim._cos(F.col("emb"), F.col("emb"), "arrow").alias("c"),
        sim._d2(F.col("emb"), F.col("emb"), "arrow").alias("d"),
        sim._bucket(F.col("emb"), "arrow").alias("b"),
    )
    assert out.count() == 0


def test_bucket_kernel_more_planes(spark, sf_dir):
    """n_planes is the web-scale knob: kernel == HOF at 16 planes,
    and bucket ids stay within [0, 2^16)."""
    emb = sim.load_embeddings(spark, sf_dir)
    a = rows(emb.select("vec_id", sim._bucket(F.col("emb"), "arrow", 16).alias("b")))
    h = rows(emb.select("vec_id", sim._bucket(F.col("emb"), "hof", 16).alias("b")))
    assert a == h
    assert all(0 <= b < 2 ** 16 for _, b in a)
