"""End-to-end correction plan (SURVEY.md §3 EP2, Spark shape).

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
ordering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.correct import with_dispatched_correction
from ..operators.detect import (
    eligible_bert,
    eligible_keyword,
    err_from_key,
    err_positions,
    err_prob_key,
)
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
    dedup_correction: bool = False,
) -> DataFrame:
    """Adds ``text_corrected`` (+ ``text`` rewritten by extraction).

    ``scorer_backend``/``scorer_table``/``context_bigrams``/
    ``lm_checkpoint`` select the masked-LM backend
    (operators/correct.with_dispatched_correction): the char-keyed table
    (default), an offline-trained table
    (assets/scorer_table.scorer_table_from_df), the context-aware framed
    path (functions/framed_scorer.py), or the committed pure-numpy masked
    LM (functions/numpy_lm.py).

    ``dedup_correction``: run the expensive Python stages once per UNIQUE
    input cluster-wide.  The whole UDF chain (extraction → detection →
    correction) is a pure function of the raw ``(text, probs, biz)``
    triple, so the dedup plan computes it on ``distinct`` raw triples only
    and hash-joins the results back (SHUFFLE_HASH: the build side is the
    unique-triple table; a sort-merge join would sort both sides by the
    wide text key, and a broadcast would serialize the table through the
    driver — both measured slower than the big side's one hash exchange).
    The per-worker memo's hit rate FALLS as parallelism rises (copies of a
    text scatter across more workers: at duplication factor 3.6 the
    expected evaluations per distinct text grow ~1.3x from 4 to 16
    workers, measured as exactly that engine-CPU inflation at 4N width),
    so the default plan's total Python compute grows with cluster width on
    repetitive corpora; this plan moves the dedup from the worker memo
    into Catalyst, making compute width- and layout-invariant.  Output
    ordering runs AFTER the join (the join reshuffles rows; range-boundary
    sampling re-executes only the JVM join merge, never the Python
    stages, which live on the build side behind the shuffle).  At local
    bench scale the dedup machinery (two exchanges + join merge) costs
    about what the saved Python costs — the plan is for real width and
    duplication-heavy corpora, and for pipelines whose per-row Python cost
    dominates (framed/lm backends).  Rows and values are bit-identical to
    the default path (tests/test_dedup_correction.py)."""
    if dedup_correction:
        return _dedup_correct_pipeline(
            df,
            spark,
            biz_col=biz_col,
            extract_html=extract_html,
            prob_threshold=prob_threshold,
            keyword_similarity_threshold=keyword_similarity_threshold,
            order_output=order_output,
            keep_mode_col=keep_mode_col,
            row_counter=row_counter,
            scorer_backend=scorer_backend,
            scorer_table=scorer_table,
            context_bigrams=context_bigrams,
            lm_checkpoint=lm_checkpoint,
        )
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


def _dedup_correct_pipeline(
    df: DataFrame,
    spark: SparkSession,
    *,
    biz_col: str,
    extract_html: bool,
    prob_threshold: float,
    keyword_similarity_threshold: float,
    order_output: bool,
    keep_mode_col: bool,
    row_counter,
    scorer_backend: str,
    scorer_table: dict | None,
    context_bigrams: dict | None,
    lm_checkpoint: str | None,
) -> DataFrame:
    """correct_pipeline's dedup_correction=True body — see its docstring.

    The dedup key is ``(text, err_prob_key(probs), biz)`` — NOT the raw
    probs array: err_positions depends on probs only through its
    sub-threshold index set plus the null flag (the identity pinned in
    operators/detect.err_prob_key), so the key is exact while staying a
    few ints wide instead of one double per character — the probs arrays
    never enter the distinct, the shuffle, or the join hash tables."""
    df = df.withColumn("_errk", err_prob_key(F.col("probs"), prob_threshold))
    uniq = df.select(
        F.col("text").alias("_u_text"),
        F.col("_errk").alias("_u_errk"),
        F.col(biz_col).alias("_u_biz"),
    ).distinct()
    if extract_html:
        uniq = with_extraction(uniq, text_col="_u_text", out_col="_u_ext")
    else:
        uniq = uniq.withColumn("_u_ext", F.col("_u_text"))
    ext = F.col("_u_ext")
    is_report = F.col("_u_biz") == F.lit("report")
    eligible = F.when(is_report, eligible_keyword(ext)).otherwise(
        eligible_bert(ext)
    )
    uniq = uniq.withColumn(
        "_u_err", err_from_key(ext, F.col("_u_errk"))
    ).withColumn(
        "_u_mode",
        F.when(~eligible | (F.size("_u_err") == 0), F.lit(0))
        .when(is_report, F.lit(1))
        .otherwise(F.lit(2)),
    )
    uniq = with_dispatched_correction(
        uniq,
        similarity_threshold=keyword_similarity_threshold,
        spark=spark,
        text_col="_u_ext",
        mode_col="_u_mode",
        err_col="_u_err",
        out_col="_u_corr",
        row_counter=row_counter,
        scorer_backend=scorer_backend,
        scorer_table=scorer_table,
        context_bigrams=context_bigrams,
        lm_checkpoint=lm_checkpoint,
    ).select("_u_text", "_u_errk", "_u_biz", "_u_ext", "_u_mode", "_u_corr")
    cond = (
        F.col("text").eqNullSafe(F.col("_u_text"))
        & F.col("_errk").eqNullSafe(F.col("_u_errk"))
        & F.col(biz_col).eqNullSafe(F.col("_u_biz"))
    )
    out = (
        df.join(uniq.hint("SHUFFLE_HASH"), cond, "left")
        .withColumn("text", F.col("_u_ext"))
        .withColumn("corr_mode", F.col("_u_mode"))
        .withColumn("text_corrected", F.col("_u_corr"))
        .drop("_errk", "_u_text", "_u_errk", "_u_biz", "_u_ext", "_u_mode", "_u_corr")
    )
    if order_output:
        out = order_turns(out)
    if keep_mode_col:
        return out
    return out.drop("corr_mode")


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
