"""Checkpointed, idempotently-resumable batch runs (BASELINE.json
north_rule: 'resumable from checkpoint with per-partition lineage').

Model: the input is bucketed by ``pmod(xxhash64(conv_id), n_buckets)``.
A watermark table (parquet, Iceberg-ready) records ``(run_id, bucket)``
rows once a bucket's output has been durably written.  On (re)start the
planner diff's all-buckets minus committed-buckets and processes only the
remainder; the output write uses dynamic partition overwrite
(``partitionOverwriteMode=dynamic``) keyed by the bucket column, so
re-processing a bucket that crashed mid-write simply overwrites its
partition — end state is identical to a single clean run (idempotence).

At cluster scale each wave is sized to executor memory; buckets give the
resume granularity that Spark's own task retry does not (driver loss,
whole-job kill).
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_WATERMARK_SCHEMA = "run_id string, bucket int"


@dataclass
class CheckpointedRun:
    run_id: str
    output_path: str
    watermark_path: str
    n_buckets: int = 16

    def with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bucket", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(self.n_buckets))
        )

    def committed_buckets(self, spark: SparkSession) -> set[int]:
        # Only a missing watermark table means "nothing committed".  A
        # table that exists but cannot be read must fail the run: treating
        # it as empty would reprocess every bucket.  The explicit schema
        # makes a directory without data files (a first commit that died
        # before writing one) read as empty instead of failing inference.
        try:
            wm = spark.read.schema(_WATERMARK_SCHEMA).parquet(self.watermark_path)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return set()
        rows = wm.filter(F.col("run_id") == self.run_id).select("bucket").collect()
        return {r.bucket for r in rows}

    def pending_buckets(self, spark: SparkSession) -> list[int]:
        done = self.committed_buckets(spark)
        return [b for b in range(self.n_buckets) if b not in done]

    def watermark_frame(self, spark: SparkSession, buckets: list[int]) -> DataFrame:
        """The watermark rows of ``buckets`` as a local relation.  Built
        from an Arrow table on the driver, the frame plans as a
        ``LocalTableScan``; a Python list would become a parallelized RDD
        whose write starts a Python worker to pickle a handful of rows."""
        bucket_ids = [int(b) for b in buckets]
        table = pa.table(
            {"run_id": [self.run_id] * len(bucket_ids), "bucket": bucket_ids}
        )
        return spark.createDataFrame(table, _WATERMARK_SCHEMA)

    def _commit(self, spark: SparkSession, buckets: list[int]) -> None:
        self.watermark_frame(spark, buckets).coalesce(1).write.mode(
            "append"
        ).parquet(self.watermark_path)

    def run(
        self,
        spark: SparkSession,
        df: DataFrame,
        transform,
        wave_size: int | None = None,
        max_waves: int | None = None,
        post_write=None,
    ) -> int:
        """Process pending buckets in waves; returns #buckets completed this
        call.  ``transform(df) -> df`` is the correction pipeline.
        ``max_waves`` lets tests simulate a mid-run crash.

        ``post_write(out_df, wave)`` — optional per-wave hook (audit
        writes); ``wave`` is the bucket list, so the hook can key its own
        writes idempotently per wave (plans/audit.write_audit does).  The
        wave's corrected frame is persisted across the output write and the
        hook, so the expensive correction UDF executes ONCE per wave: the
        write materializes the cache, the hook's actions read it.  (Calling
        audit writes inside ``transform`` instead would re-execute the full
        pipeline once per extra action — a 3x compute bill at scale.)

        Per wave the bookkeeping stays in the JVM: ``write_audit`` reads the
        cache in one aggregation, and the watermark commit writes a local
        relation (``watermark_frame``), so neither starts a Python worker."""
        # Idempotence depends on DYNAMIC partition overwrite: with the
        # default static mode every wave's write would wipe the buckets
        # committed by earlier waves.  The session a cluster submit hands
        # us need not have it set, so enforce it here.
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        bucketed = self.with_bucket(df)
        pending = self.pending_buckets(spark)
        if not pending:
            return 0
        wave_size = wave_size or max(1, len(pending) // 4)
        waves = [
            pending[i : i + wave_size] for i in range(0, len(pending), wave_size)
        ]
        if max_waves is not None:
            waves = waves[:max_waves]
        completed = 0
        for wave in waves:
            subset = bucketed.filter(F.col("bucket").isin([int(b) for b in wave]))
            out = transform(subset)
            if post_write is not None:
                out = out.persist()
            try:
                (
                    out.write.mode("overwrite")
                    .partitionBy("bucket")
                    .parquet(self.output_path)
                )
                if post_write is not None:
                    post_write(out, wave)
            finally:
                if post_write is not None:
                    out.unpersist()
            self._commit(spark, wave)
            completed += len(wave)
        return completed
