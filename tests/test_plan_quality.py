"""Plan-quality gate: the optimizations the 100TB design depends on must
be visible in the executed plans — column pruning at the scan, predicate
pushdown, broadcast dictionary joins, and no shuffle Exchange where the
layout already provides the distribution.  A refactor that silently
breaks one of these passes every value-correctness test; these assertions
are the regression fence."""

from __future__ import annotations

import os

import pytest

from ocr_corrector_spark.operators import sqlops

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_prunes_columns(spark):
    # digit_translate touches only (doc_id, n_chars): the parquet scan's
    # ReadSchema must not carry text/lang/source
    plan = _plan(sqlops.q_digit_translate(spark, SF_DIR))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read, plan
    assert "doc_id" in read[0] and "n_chars" in read[0]
    assert "text" not in read[0] and "lang" not in read[0]


def test_filter_pushed_to_scan(spark):
    # ngram_jaccard bounds its brute-force input with doc_id < 120: the
    # predicate must reach the scan (PushedFilters), not run post-scan
    plan = _plan(sqlops.q_ngram_jaccard(spark, SF_DIR))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    assert any("LessThan(doc_id,120" in l for l in pushed)


def test_dictionary_join_broadcasts(spark):
    # the keyword levenshtein theta-join must broadcast the tiny dimension
    # (a shuffle join on a 6-row dim would be wrong at any scale)
    plan = _plan(sqlops.q_keyword_fuzzy_join(spark, SF_DIR))
    assert "Broadcast" in plan


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_driver_built_frames_are_local_relations(spark, tmp_path, arrow):
    # frames built from driver-side rows (the watermark commit, both audit
    # tables, the generator's corpus and the keyword dimension) must plan
    # as LocalTableScan: a list-backed frame plans as ExistingRDD, and
    # every job over it starts a Python worker to serve a handful of rows.
    # Holds whether or not Arrow conversion is enabled for pyspark.
    from pyspark.sql import functions as F

    from ocr_corrector_spark.plans.audit import audit_frames
    from ocr_corrector_spark.plans.checkpoint import CheckpointedRun
    from ocr_corrector_spark.sources.transcripts import corpus_df, gen_transcripts

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        run = CheckpointedRun("lt", str(tmp_path / "out"), str(tmp_path / "wm"))
        wave = gen_transcripts(spark, n_convs=5).withColumn(
            "text_corrected", F.col("text")
        )
        lineage, rollup = audit_frames(wave, "lt", wave=[0])
        frames = {
            "watermark": run.watermark_frame(spark, [0, 1]).coalesce(1),
            "lineage": lineage.coalesce(1),
            "rollup": rollup.coalesce(1),
            "corpus_df": corpus_df(spark),
            "gen_transcripts": gen_transcripts(spark, n_convs=5),
            "keyword_dim": sqlops.q_keyword_fuzzy_join(spark, SF_DIR),
        }
        for name, df in frames.items():
            plan = _plan(df)
            assert "LocalTableScan" in plan, (name, plan)
            assert "ExistingRDD" not in plan, (name, plan)
    finally:
        spark.conf.set(key, prior)


def test_detection_is_native_codegen(spark):
    # the pipeline's detect stage (F1-F3) must stay in native expressions:
    # the plan before the correction UDF carries codegen and NO Python
    # eval other than the extraction/correction Arrow stages
    from ocr_corrector_spark.plans.pipeline import correct_pipeline
    from ocr_corrector_spark.sources.transcripts import gen_transcripts

    df = correct_pipeline(gen_transcripts(spark, n_convs=20), spark)
    plan = _plan(df)
    # exactly two Python stages: extraction (ArrowEvalPython/MapInPandas)
    # and the dispatched correction UDF — detection adds NO third stage
    n_py = plan.count("ArrowEvalPython") + plan.count("MapInPandas")
    assert n_py == 2, plan
    # and the detect expressions run as native Catalyst inside the plan
    # (the F2 regex and the prob-threshold array filter are visible as
    # JVM expressions, not hidden inside a Python UDF)
    assert "RLIKE" in plan and "filter(sequence(" in plan, plan


def test_image_stats_scan_reads_only_doc_id(spark):
    from ocr_corrector_spark.operators.multimodal import q_image_stats

    plan = _plan(q_image_stats(spark, SF_DIR))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "doc_id" in read[0] and "text" not in read[0]


def test_decontaminate_broadcasts_eval_grams(spark):
    # the eval-suite gram set must broadcast: a shuffle join of the
    # training gram stream against the (tiny) eval set would put a 100TB
    # shuffle where a map-side hash probe belongs
    plan = _plan(sqlops.q_decontaminate(spark, SF_DIR))
    assert "Broadcast" in plan


def test_tfidf_broadcasts_df_table(spark):
    # the document-frequency table is vocabulary-sized; both it and the
    # single-row total must broadcast into the tf stream
    plan = _plan(sqlops.q_tfidf_top_terms(spark, SF_DIR))
    assert plan.count("BroadcastExchange") >= 2 or plan.count("Broadcast") >= 2


def test_stratified_sample_is_scan_local(spark):
    # the sampling gate is a pure row-local expression: no Exchange (and
    # no Python stage) may appear anywhere in the plan
    plan = _plan(sqlops.q_stratified_sample(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_pii_scrub_is_scan_local(spark):
    # scrubbing is embarrassingly parallel: no Exchange, no Python stage
    plan = _plan(sqlops.q_pii_scrub(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_domain_mix_broadcasts_rate_table(spark):
    # the per-source keep-rate table is sources-cardinality-sized and must
    # broadcast into the corpus scan — a shuffle join keyed on source
    # would also be badly skewed at scale
    plan = _plan(sqlops.q_domain_mix_sample(spark, SF_DIR))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


def test_asof_join_single_shuffle_no_nested_loop(spark):
    # the union+window recomposition must plan as ONE hash exchange on
    # user_id plus a sort — never a nested-loop/theta join
    plan = _plan(sqlops.q_asof_join(spark, SF_DIR))
    assert "NestedLoop" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_range_join_is_equi_join(spark):
    # bin bucketing must turn the interval predicate into an equi-join;
    # a BroadcastNestedLoopJoin means the θ-join leaked into the plan
    plan = _plan(sqlops.q_range_join(spark, SF_DIR))
    assert "NestedLoop" not in plan, plan


def test_pq_codes_broadcasts_codebook(spark):
    # the PQ codebook (PQ_M x PQ_K subvectors) must broadcast so code
    # assignment is a map-side argmin over the single embeddings scan
    plan = _plan(sqlops.q_pq_codes(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_incremental_dedup_broadcasts_the_batch(spark):
    # the arriving batch is tiny vs the corpus index: it must broadcast
    # so the index side is probed map-side, never shuffled
    plan = _plan(sqlops.q_incremental_dedup(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_repetition_score_is_scan_local(spark):
    # repetition is a per-row property: the whole score must stay inside
    # the scan stage — no Exchange, no explode-driven Generate, no Python
    plan = _plan(sqlops.q_repetition_score(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan and "Python" not in plan

