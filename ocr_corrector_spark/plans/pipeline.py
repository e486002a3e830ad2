"""The correction plan (SURVEY.md §3 EP2, Spark shape) — the engine's one
plan: every caller (scripts/run_job.py, the benchmark, __spark_entry__.py)
runs ``correct_pipeline``.

Physical stage order (chosen from .explain — see BENCH/PLANS.md):

  scan → repartitionByRange(conv_id, turn_idx) + sortWithinPartitions
       → extraction (Arrow UDF)
       → native detect (F1-F3 Catalyst expressions, whole-stage codegen)
       → single dispatched correction UDF (broadcast dictionaries)

Ordering runs FIRST, on the cheap scan: a range shuffle placed after the
UDFs would re-execute them once more for range-boundary sampling, and the
UDF stages are narrow (row-order preserving), so sorting the input yields
sorted output for free.  Range partitioning (vs hash) splits skewed
conv_ids across contiguous partitions — no hot executor.  In local mode
the range shuffle makes one partition per task slot, so each UDF stage
starts one Python task per slot, because every Arrow-UDF task pays a
fixed cost whatever its size; on a cluster it keeps the session's
shuffle parallelism (``order_turns``; measurements in docs/SCALE.md).

The per-biz dispatch mirrors the reference's corrector registry
(corrector/__init__.py:20-38: biz 'report' → keyword corrector, 'doc' →
BERT corrector) as ONE plan: a native ``corr_mode`` column (0 pass /
1 keyword / 2 bert) drives a single vectorized UDF — one Arrow transfer
for the whole table, no DataFrame split/merge (the reference's
insert-by-index post_process, base_corrector.py:88-94, is replaced by key
ordering).  Repeated rows are deduplicated by the correction UDF's
per-worker memo (operators/correct.py), not by the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.correct import with_dispatched_correction
from ..operators.detect import eligible_bert, eligible_keyword, err_positions
from ..operators.extract import with_extraction
from ..operators.reassemble import order_turns


def correct_pipeline(
    df: DataFrame,
    spark: SparkSession,
    biz_col: str = "tool",
    extract_html: bool = True,
    prob_threshold: float = 0.9,
    keyword_similarity_threshold: float = 0.55,
    order_output: bool = True,
    keep_mode_col: bool = False,
    row_counter=None,
    scorer_backend: str = "table",
    scorer_table: dict | None = None,
    context_bigrams: dict | None = None,
    lm_checkpoint: str | None = None,
) -> DataFrame:
    """Adds ``text_corrected`` (+ ``text`` rewritten by extraction).

    ``keep_mode_col`` keeps the ``corr_mode`` column, which
    plans/audit.write_audit counts as ``n_eligible``.  ``row_counter``:
    optional accumulator the correction UDF adds its batch sizes to.

    ``scorer_backend``/``scorer_table``/``context_bigrams``/
    ``lm_checkpoint`` select the masked-LM backend
    (operators/correct.with_dispatched_correction): the char-keyed table
    (default), an offline-trained table
    (assets/scorer_table.scorer_table_from_df), the context-aware framed
    path (functions/framed_scorer.py), or the committed pure-numpy masked
    LM (functions/numpy_lm.py)."""
    if order_output:
        df = order_turns(df)
    if extract_html:
        df = with_extraction(df)

    text = F.col("text")
    is_report = F.col(biz_col) == F.lit("report")
    err = err_positions(text, F.col("probs"), prob_threshold)
    eligible = F.when(is_report, eligible_keyword(text)).otherwise(eligible_bert(text))
    df = df.withColumn("err_pos", err)
    df = df.withColumn(
        "corr_mode",
        F.when(~eligible | (F.size("err_pos") == 0), F.lit(0))
        .when(is_report, F.lit(1))
        .otherwise(F.lit(2)),
    )
    out = with_dispatched_correction(
        df,
        similarity_threshold=keyword_similarity_threshold,
        spark=spark,
        row_counter=row_counter,
        scorer_backend=scorer_backend,
        scorer_table=scorer_table,
        context_bigrams=context_bigrams,
        lm_checkpoint=lm_checkpoint,
    )
    if keep_mode_col:
        return out.drop("err_pos")
    return out.drop("err_pos", "corr_mode")


def changed_rows(df: DataFrame) -> DataFrame:
    """The demo.py:67-70 diff report: rows the corrector changed."""
    return df.filter(F.col("text") != F.col("text_corrected"))


def flagship(spark: SparkSession, n_convs: int = 200) -> DataFrame:
    """Flagship query: generate the synthetic transcripts table, run
    extraction + correction, return changed rows in stable turn order."""
    from ..sources.transcripts import gen_transcripts

    df = gen_transcripts(spark, n_convs=n_convs)
    out = correct_pipeline(df, spark)
    return changed_rows(out).select(
        "conv_id", "turn_idx", "role", "tool", "text", "text_corrected"
    )
