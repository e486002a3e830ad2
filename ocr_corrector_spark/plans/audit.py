"""Per-partition lineage + correction metrics audit table
(BASELINE.json north_rule requirement; reference analog: the log-only
counters at base_corrector.py:58,71 promoted to real aggregates).

Audit rows are written per run: one row per physical input partition
(``spark_partition_id``) with row/correction counts and key ranges, plus
a per-biz rollup.  Both tables come from ONE aggregation over the
corrected frame (grouping sets over partition and ``tool``), collected as
Arrow — it has at most partitions + tools rows — and written back as
local relations, so the audit reads a persisted wave once and starts no
Python worker.  The write is an append to a run-id-partitioned parquet
table (Iceberg-ready: swap ``.write`` for ``.writeTo`` when an Iceberg
catalog is configured — this sandbox has no Iceberg runtime jar).
"""

from __future__ import annotations

import os
import time

import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# lineage and rollup columns between the leading run_id and the trailing
# created_at (and wave, for checkpoint waves)
_LINEAGE_COLS = (
    "partition_id",
    "n_rows",
    "n_corrected",
    "n_eligible",
    "min_conv_id",
    "max_conv_id",
    "min_ts",
    "max_ts",
)
_ROLLUP_COLS = ("tool", "n_rows", "n_corrected", "n_eligible")
AUDIT_SCHEMA_COLS = ("run_id", *_LINEAGE_COLS, "created_at")

# grouping_id() of each grouping set: bit 1 is partition_id, bit 0 is tool,
# and a set bit means the column is aggregated away
_BY_PARTITION, _BY_TOOL = 1, 2


def _eligible_expr(df: DataFrame):
    # pipeline exports eligibility as corr_mode (0 pass / 1 keyword /
    # 2 bert) when called with keep_mode_col=True
    if "corr_mode" in df.columns:
        return F.sum((F.col("corr_mode") != 0).cast("long")).alias("n_eligible")
    return F.lit(None).cast("long").alias("n_eligible")


def audit_frames(
    df: DataFrame, run_id: str, wave=None
) -> tuple[DataFrame, DataFrame]:
    """The lineage frame (one row per physical partition of ``df``) and the
    per-biz rollup frame (one row per ``tool``, the reference's log-only
    counters at base_corrector.py:58,71 per registry entry).  Runs one
    aggregation over ``df`` and collects it as Arrow; both frames are
    local relations over the collected rows.  ``wave`` adds the wave key
    column that ``write_audit`` partitions by."""
    agg = (
        df.withColumn("partition_id", F.spark_partition_id())
        .groupingSets([["partition_id"], ["tool"]], "partition_id", "tool")
        .agg(
            F.grouping_id().alias("_set"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (F.col("text") != F.col("text_corrected")).cast("long")
            ).alias("n_corrected"),
            _eligible_expr(df),
            F.min("conv_id").alias("min_conv_id"),
            F.max("conv_id").alias("max_conv_id"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
    )
    table = agg.toArrow()
    run = F.lit(run_id).alias("run_id")
    created = F.lit(int(time.time())).alias("created_at")
    extra = [] if wave is None else [F.lit(int(min(wave))).alias("wave")]

    def local(grouping_set: int, cols: tuple[str, ...]) -> DataFrame:
        rows = table.filter(pc.equal(table["_set"], grouping_set)).select(cols)
        frame = df.sparkSession.createDataFrame(
            rows, StructType([agg.schema[c] for c in cols])
        )
        return frame.select(run, *cols, created, *extra)

    return local(_BY_PARTITION, _LINEAGE_COLS), local(_BY_TOOL, _ROLLUP_COLS)


def write_audit(
    df: DataFrame, run_id: str, audit_path: str, wave=None
) -> None:
    """Write lineage + per-biz rollup audit rows (``audit_frames``).

    ``wave`` (the checkpoint wave's bucket list, plans/checkpoint.py) makes
    the write idempotent per (run_id, wave): rows land in a wave-keyed
    partition via DYNAMIC partition overwrite, so a crash between the audit
    write and the watermark commit cannot double-count — the resumed wave
    overwrites its own audit partition and the invariant
    ``out_rows == audit sum(n_rows)`` holds across crash/replay, not just
    crash-free.  Without ``wave`` (standalone one-shot audits) the write is
    a plain append."""
    lineage, rollup = audit_frames(df, run_id, wave)
    if wave is None:
        parts, mode = ["run_id"], "append"
    else:
        parts, mode = ["run_id", "wave"], "overwrite"
        df.sparkSession.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
    biz_path = audit_path.rstrip("/") + "_biz"
    for frame, path in ((lineage, audit_path), (rollup, biz_path)):
        frame.coalesce(1).write.mode(mode).partitionBy(*parts).parquet(path)


def read_audit(spark, audit_path: str) -> DataFrame:
    return spark.read.parquet(audit_path)


def audit_exists(audit_path: str) -> bool:
    return os.path.isdir(audit_path)
