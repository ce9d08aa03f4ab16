"""Resumable runs: checkpoint manifest with per-partition lineage +
metrics (north_rule: "resumable from checkpoint with per-partition
lineage + metrics").

Design (Iceberg-ready, parquet-backed in the sandbox):

* violations are written partitioned by ``partition_id`` with dynamic
  partition overwrite — re-processing a partition atomically replaces
  exactly its own output files, so retries are idempotent;
* the **manifest is the commit point**: a partition's manifest row
  (status, per-check metrics, completed_ts) is appended only AFTER its
  violations landed.  A crash between the two leaves a partition
  without a manifest row -> it is re-run on resume, and the dynamic
  overwrite discards the partial output;
* resume = anti-join of the partition universe against the manifest's
  ``done`` rows — only remaining partitions are scanned (with a real
  partitioned source this is partition pruning at the file level).

On Iceberg the same protocol maps to ``overwrite dynamic`` +
``MERGE INTO`` on the manifest table; the fallback below uses plain
parquet so the sandbox (no Iceberg jars) exercises identical logic.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xjs.plan import CheckPlan
from xjs.runtime import verdicts as _verdicts
from xjs.runtime import violations as _violations

MANIFEST_SCHEMA = (
    "run_id string, partition_id int, check_name string, status string, "
    "n_checked long, n_violations long, metrics_json string, completed_ts timestamp"
)


@dataclass
class ResumeReport:
    run_id: str
    partitions_total: int
    partitions_skipped: int
    partitions_processed: int


class CheckpointedRun:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        run_id: Optional[str] = None,
    ):
        self.spark = spark
        self.out_dir = out_dir.rstrip("/")
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.manifest_path = f"{self.out_dir}/manifest"
        self.violations_path = f"{self.out_dir}/violations"

    # -- manifest ------------------------------------------------------------

    def read_manifest(self) -> DataFrame:
        if not os.path.exists(self.manifest_path):  # first run
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.manifest_path)

    def done_partitions(self) -> List[int]:
        m = self.read_manifest()
        rows = (
            m.filter(F.col("status") == "done")
            .select("partition_id")
            .distinct()
            .collect()
        )
        return sorted(r["partition_id"] for r in rows)

    # -- run -----------------------------------------------------------------

    def run(
        self,
        df: DataFrame,
        plan: CheckPlan,
        batches: int = 1,
    ) -> ResumeReport:
        """Validate ``df`` partition-incrementally.

        ``batches`` > 1 splits remaining partitions into groups that
        commit separately (each group = one scan restricted by
        partition pruning + one manifest append), bounding lost work
        on failure.
        """
        part_col = plan.partition_col
        assert part_col, "checkpointing requires a partition column"

        universe = sorted(
            r[0] for r in df.select(part_col).distinct().collect()
        )
        done = set(self.done_partitions())
        remaining = [p for p in universe if p not in done]

        groups = [
            remaining[i::batches] for i in range(batches)
        ] if batches > 1 else [remaining]
        groups = [g for g in groups if g]

        w = (
            self.spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
        )
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            for group in groups:
                sub = df.filter(F.col(part_col).isin(group))
                # 1. violations land first (idempotent dynamic overwrite)
                v = _violations(sub, plan)
                (
                    v.write.mode("overwrite")
                    .partitionBy("partition_id")
                    .parquet(self.violations_path)
                )
                # 2. manifest append = commit point
                vd = _verdicts(sub, plan)
                manifest_rows = vd.select(
                    F.lit(self.run_id).alias("run_id"),
                    F.col("partition_id"),
                    F.col("check_name"),
                    F.lit("done").alias("status"),
                    F.col("n_checked"),
                    F.col("n_violations"),
                    F.to_json(
                        F.struct(
                            F.col("pass").alias("pass"),
                            F.col("n_checked").alias("n_checked"),
                            F.col("n_violations").alias("n_violations"),
                        )
                    ).alias("metrics_json"),
                    F.current_timestamp().alias("completed_ts"),
                )
                manifest_rows.write.mode("append").parquet(self.manifest_path)
        finally:
            if w is not None:
                self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", w)

        return ResumeReport(
            run_id=self.run_id,
            partitions_total=len(universe),
            partitions_skipped=len(universe) - len(remaining),
            partitions_processed=len(remaining),
        )

    def violations(self) -> DataFrame:
        return self.spark.read.parquet(self.violations_path)

    def metrics(self) -> DataFrame:
        return self.read_manifest()
