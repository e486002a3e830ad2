"""Spark pipeline correctness: per-turn text equality vs the pure-Python
oracle (the BASELINE.json contract), order/partitioning invariance, and
the designed correction outcomes."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ocr_corrector_spark.oracle import BertOracle, KeywordOracle
from ocr_corrector_spark.operators.extract import extract_any, extract_main_content
from ocr_corrector_spark.plans.pipeline import changed_rows, correct_pipeline
from ocr_corrector_spark.sources.transcripts import gen_transcripts


@pytest.fixture(scope="module")
def corrected(spark):
    df = gen_transcripts(spark, n_convs=150, keep_oracle_cols=True)
    out = correct_pipeline(df, spark)
    rows = out.select(
        "conv_id",
        "turn_idx",
        "tool",
        "text",
        "text_corrected",
        "text_clean",
        "text_noisy",
        "probs",
        "is_html",
    ).collect()
    assert len(rows) > 500
    return rows


def test_per_turn_equality_vs_oracle(corrected):
    """Every turn must equal the reference-semantics oracle run row-by-row."""
    kw = KeywordOracle(similarity_threshold=0.55)
    bert = BertOracle()
    mismatches = []
    for r in corrected:
        text = extract_main_content(r.text) if r.is_html else r.text
        oracle = kw if r.tool == "report" else bert
        expected = oracle.correct_row(text, list(r.probs) if r.probs is not None else None)
        if expected != r.text_corrected:
            mismatches.append((r.conv_id, r.turn_idx, text, r.text_corrected, expected))
    assert not mismatches, f"{len(mismatches)} mismatches, first: {mismatches[:3]}"


def test_designed_corrections_reach_clean_text(corrected):
    """Rows built from golden pairs whose correction is designed to succeed
    must equal the clean text (FIXTURES.md §5-6)."""
    correctable = {
        "我爱北京大安门",
        "本着平等、白愿、诚信、互利的原则，一致同意本合同内容，并共同遵守。",
        "无效、重大暇疵或不符合乙方其他规定的债权资产，乙方有权拒绝，不子初始登",
        "宋还本全",
        "数期大",
        "术还本金",
    }
    seen = set()
    for r in corrected:
        if r.text_noisy in correctable:
            assert r.text_corrected == r.text_clean, (
                r.text_noisy,
                r.text_corrected,
                r.text_clean,
            )
            seen.add(r.text_noisy)
    assert seen == correctable  # datagen covered every golden


def test_guarded_rows_unchanged(corrected):
    """Digit-guard / traditional-guard / filter pass-through rows stay put."""
    for r in corrected:
        if r.text_noisy in ("逾期3天要还", "一万个文本", "settlement ok", "账户状态"):
            inner = extract_main_content(r.text) if r.is_html else r.text
            assert r.text_corrected == inner


def test_extraction_recovers_inner_text(corrected):
    for r in corrected:
        if r.is_html:
            assert extract_main_content(r.text) == r.text  # pipeline already extracted
            assert "<html>" not in r.text


def test_output_is_turn_ordered(corrected):
    """Stable (conv_id, turn_idx) ordering within the collected output —
    order_turns' range partitioning yields globally sorted partitions."""
    keys = [(r.conv_id, r.turn_idx) for r in corrected]
    assert keys == sorted(keys)


def test_partitioning_invariance(spark):
    """Repartitioning the input never changes the corrected multiset
    (base_corrector.py:88-94 order-identity analog at scale)."""
    df = gen_transcripts(spark, n_convs=40)
    out1 = correct_pipeline(df, spark, order_output=False)
    out2 = correct_pipeline(df.repartition(17), spark, order_output=False)
    a = sorted(
        out1.select("conv_id", "turn_idx", "text_corrected").collect()
    )
    b = sorted(
        out2.select("conv_id", "turn_idx", "text_corrected").collect()
    )
    assert a == b


def test_changed_rows_only_contains_real_changes(spark):
    df = gen_transcripts(spark, n_convs=40)
    out = changed_rows(correct_pipeline(df, spark, order_output=False))
    bad = out.filter(F.col("text") == F.col("text_corrected")).count()
    assert bad == 0
    assert out.count() > 0


def test_no_rows_lost(spark):
    df = gen_transcripts(spark, n_convs=40)
    n_in = df.count()
    out = correct_pipeline(df, spark, order_output=False)
    assert out.count() == n_in
    assert out.filter(F.col("text_corrected").isNull()).count() == 0


def test_edge_rows_match_oracle(spark):
    """Malformed and boundary rows pass through the pipeline under the
    row-isolation contract: each equals the oracle on its extracted text,
    null text stays null, and none fails the task."""
    t = dt.datetime(2026, 1, 1)
    far = dt.datetime(2600, 1, 1)  # past the pandas ns-timestamp ceiling
    edge = [
        # NULL probs → non-prob path marks every position
        ("edge", 0, "user", "宋还本全", "report", t, None),
        # empty probs + empty text
        ("edge", 1, "user", "", "report", t, []),
        # NULL text
        ("edge", 2, "user", None, "doc", t, None),
        # PDF stub passthrough
        ("edge", 3, "user", "%PDF-1.4 junk", "doc", t, [0.5]),
        # malformed layout passthrough
        ("edge", 4, "user", "%LAYOUT v1\nP0 bad", "report", t, [0.5]),
        # far-future ts
        ("edge", 5, "user", "宋还本全", "report", far, None),
    ]
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, probs array<double>"
    )
    df = gen_transcripts(spark, n_convs=20).unionByName(
        spark.createDataFrame(edge, schema)
    )
    out = {
        r.turn_idx: r
        for r in correct_pipeline(df, spark)
        .filter(F.col("conv_id") == "edge")
        .collect()
    }
    assert sorted(out) == [row[1] for row in edge]
    kw = KeywordOracle(similarity_threshold=0.55)
    bert = BertOracle()
    for _, turn_idx, _, raw, tool, ts, probs in edge:
        r = out[turn_idx]
        assert r.ts == ts
        if raw is None:
            assert r.text is None and r.text_corrected is None
            continue
        text = extract_any(raw)
        assert r.text == text
        oracle = kw if tool == "report" else bert
        assert r.text_corrected == oracle.correct_row(text, probs), (turn_idx, r)
    assert out[0].text_corrected != out[0].text  # non-prob path corrected
    assert out[3].text_corrected == "%PDF-1.4 junk"
    assert out[4].text_corrected == "%LAYOUT v1\nP0 bad"
