"""Distribution drift: per-partition histogram + PSI / KS vs a baseline
(north_star class).

Histogramming is a single ``groupBy(partition, bucket).count()`` —
one shuffle whose cardinality is partitions × buckets (tiny), so the
comparison math runs on a DataFrame that fits anywhere.  PSI/KS are
then pure column arithmetic over the joined histogram pair — no
collect, no Python loop — so the same code works when "baseline" is a
checkpointed snapshot table at full scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

EPS = 0.5  # Laplace smoothing per bucket, identical in the SQL oracle


def bucketize(col: Column, lo: float, hi: float, n_buckets: int) -> Column:
    """Fixed-width bucket index in [0, n_buckets-1], clamped; identical
    arithmetic exists in the DuckDB oracle (floor/least/greatest)."""
    step = (hi - lo) / n_buckets
    raw = F.floor((col - F.lit(lo)) / F.lit(step))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n_buckets - 1)).cast("int")


def histogram(df: DataFrame, value: Column, partition_col: str,
              lo: float, hi: float, n_buckets: int) -> DataFrame:
    return (
        df.select(F.col(partition_col), bucketize(value, lo, hi, n_buckets).alias("bucket"))
        .groupBy(partition_col, "bucket")
        .count()
        .withColumnRenamed("count", "n")
    )


def _spine_join(part_hist: DataFrame, base_hist: DataFrame, partition_col: str,
                n_buckets: int) -> DataFrame:
    """(partition, bucket, n_p, n_q) over a dense partition × bucket
    spine, so buckets missing on either side read 0."""
    p = part_hist.withColumnRenamed("n", "n_p")
    q = base_hist.withColumnRenamed("n", "n_q")
    spine = (
        p.select(partition_col).distinct()
        .crossJoin(part_hist.sparkSession.range(n_buckets).select(F.col("id").cast("int").alias("bucket")))
    )
    return (
        spine.join(p, [partition_col, "bucket"], "left")
        .join(F.broadcast(q), ["bucket"], "left")
        .fillna(0, ["n_p", "n_q"])
    )


def psi(part_hist: DataFrame, base_hist: DataFrame, partition_col: str,
        n_buckets: int) -> DataFrame:
    """Population Stability Index of each partition vs the baseline.

    psi = Σ_b (p_b - q_b) * ln(p_b / q_b), with EPS-smoothed
    probabilities so empty buckets are defined.
    """
    j = _spine_join(part_hist, base_hist, partition_col, n_buckets)
    tot = Window.partitionBy(partition_col)
    pp = (F.col("n_p") + EPS) / (F.sum("n_p").over(tot) + EPS * n_buckets)
    # within one partition's spine each bucket appears once, so the
    # per-partition sum of n_q IS the full baseline total
    qq = (F.col("n_q") + EPS) / (F.sum("n_q").over(tot) + EPS * n_buckets)
    term = (pp - qq) * F.log(pp / qq)
    return (
        j.select(F.col(partition_col), term.alias("term"))
        .groupBy(partition_col)
        .agg(F.round(F.sum("term"), 4).alias("psi"))
    )


def ks(part_hist: DataFrame, base_hist: DataFrame, partition_col: str,
       n_buckets: int) -> DataFrame:
    """Kolmogorov–Smirnov statistic from bucketed CDFs (the KS at this
    bucket resolution), over the same dense spine as psi()."""
    j = _spine_join(part_hist, base_hist, partition_col, n_buckets)
    w = Window.partitionBy(partition_col).orderBy("bucket")
    tot = Window.partitionBy(partition_col)
    cdf_p = F.sum("n_p").over(w) / F.sum("n_p").over(tot)
    cdf_q = F.sum("n_q").over(w) / F.sum("n_q").over(tot)
    return (
        j.select(F.col(partition_col), F.abs(cdf_p - cdf_q).alias("d"))
        .groupBy(partition_col)
        .agg(F.round(F.max("d"), 4).alias("ks"))
    )


# --- baseline snapshot persistence ------------------------------------------

def write_baseline(hist: DataFrame, path: str) -> None:
    """Checkpoint a histogram as the drift baseline (parquet; Iceberg
    table in production — same shape)."""
    hist.write.mode("overwrite").parquet(path)


def read_baseline(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def psi_vs_baseline(df: DataFrame, value, partition_col: str, baseline_path: str,
                    lo: float, hi: float, n_buckets: int) -> DataFrame:
    """PSI of the current table's per-partition distributions against a
    previously checkpointed baseline snapshot."""
    h = histogram(df, value, partition_col, lo, hi, n_buckets)
    base = read_baseline(df.sparkSession, baseline_path).groupBy("bucket").agg(
        F.sum("n").alias("n")
    )
    return psi(h, base, partition_col, n_buckets)


# --- flagship queries -------------------------------------------------------

TEXT_LEN_LO, TEXT_LEN_HI, N_BUCKETS = 0.0, 640.0, 32


def webpages_drift_histogram(spark, sf_dir: str) -> DataFrame:
    from xjs.sources.webpages import webpages

    wp = webpages(spark, sf_dir)
    return histogram(wp, F.length("text"), "partition_id", TEXT_LEN_LO, TEXT_LEN_HI, N_BUCKETS)


def webpages_drift_psi(spark, sf_dir: str) -> DataFrame:
    """PSI of each partition's text-length distribution vs the global
    (all-partitions) distribution."""
    h = webpages_drift_histogram(spark, sf_dir)
    base = h.groupBy("bucket").agg(F.sum("n").alias("n"))
    return psi(h, base, "partition_id", N_BUCKETS)


def webpages_drift_ks(spark, sf_dir: str) -> DataFrame:
    """KS statistic of each partition's text-length distribution vs the
    global distribution (bucketed-CDF resolution)."""
    h = webpages_drift_histogram(spark, sf_dir)
    base = h.groupBy("bucket").agg(F.sum("n").alias("n"))
    return ks(h, base, "partition_id", N_BUCKETS)


def _hist_sql() -> str:
    """The per-(partition, bucket) count query over ``webpages`` — the
    DuckDB twin of ``histogram`` + ``bucketize``."""
    step = (TEXT_LEN_HI - TEXT_LEN_LO) / N_BUCKETS
    return f"""
    SELECT partition_id,
           CAST(LEAST(GREATEST(FLOOR((length(text) - {TEXT_LEN_LO}) / {step}), 0), {N_BUCKETS - 1}) AS INTEGER) AS bucket,
           COUNT(*) AS n
    FROM webpages GROUP BY 1, 2"""


def _oracle_joined_sql(cte: str) -> str:
    """``WITH`` chain shared by the PSI and KS oracles: ``hist``, its
    all-partition ``base``, the dense (partition x bucket) ``spine`` and
    ``j`` = (partition_id, bucket, n_p, n_q) with absent buckets as 0 —
    the DuckDB twin of ``_spine_join``."""
    return f"""
WITH {cte},
hist AS ({_hist_sql()}
),
base AS (SELECT bucket, SUM(n) AS n FROM hist GROUP BY 1),
spine AS (
    SELECT p.partition_id, b.bucket
    FROM (SELECT DISTINCT partition_id FROM hist) p
    CROSS JOIN (SELECT UNNEST(RANGE({N_BUCKETS})) AS bucket) b
),
j AS (
    SELECT s.partition_id, s.bucket,
           COALESCE(h.n, 0) AS n_p, COALESCE(base.n, 0) AS n_q
    FROM spine s
    LEFT JOIN hist h ON h.partition_id = s.partition_id AND h.bucket = s.bucket
    LEFT JOIN base ON base.bucket = s.bucket
)"""


def oracle_drift_histogram_sql(cte: str) -> str:
    return f"""
WITH {cte}
{_hist_sql().strip()}
"""


def oracle_drift_psi_sql(cte: str) -> str:
    nb = N_BUCKETS
    return f"""{_oracle_joined_sql(cte)},
probs AS (
    SELECT partition_id,
           (n_p + {EPS}) / (SUM(n_p) OVER (PARTITION BY partition_id) + {EPS} * {nb}) AS pp,
           (n_q + {EPS}) / (SUM(n_q) OVER (PARTITION BY partition_id) + {EPS} * {nb}) AS qq
    FROM j
)
SELECT partition_id, ROUND(SUM((pp - qq) * LN(pp / qq)), 4) AS psi
FROM probs GROUP BY partition_id
"""


def oracle_drift_ks_sql(cte: str) -> str:
    return f"""{_oracle_joined_sql(cte)},
cdfs AS (
    SELECT partition_id,
           SUM(n_p) OVER (PARTITION BY partition_id ORDER BY bucket)
             / SUM(n_p) OVER (PARTITION BY partition_id) AS cdf_p,
           SUM(n_q) OVER (PARTITION BY partition_id ORDER BY bucket)
             / SUM(n_q) OVER (PARTITION BY partition_id) AS cdf_q
    FROM j
)
SELECT partition_id, ROUND(MAX(ABS(cdf_p - cdf_q)), 4) AS ks
FROM cdfs GROUP BY partition_id
"""
