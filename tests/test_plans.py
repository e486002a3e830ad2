"""Audit lineage, checkpoint/resume idempotence, ordered-stage
partitioning, salted reassembly, and the err-key identity."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from ocr_corrector_spark.operators.reassemble import (
    order_turns,
    reassemble_conversations,
)
from ocr_corrector_spark.plans.audit import write_audit
from ocr_corrector_spark.plans.checkpoint import CheckpointedRun
from ocr_corrector_spark.plans.pipeline import correct_pipeline
from ocr_corrector_spark.sources.transcripts import gen_transcripts


@pytest.fixture(scope="module")
def small(spark):
    return gen_transcripts(spark, n_convs=30).cache()


def test_reassemble_salted_matches_plain_collect(spark, small):
    df = small.withColumn("text_corrected", F.col("text"))
    out = reassemble_conversations(df, salt_buckets=4).collect()
    by_conv = {r.conv_id: r for r in out}
    # plain driver-side check
    plain = {}
    for r in df.select("conv_id", "turn_idx", "role", "text_corrected").collect():
        plain.setdefault(r.conv_id, []).append((r.turn_idx, r.role, r.text_corrected))
    assert set(by_conv) == set(plain)
    for conv_id, rows in plain.items():
        rows.sort()
        got = [(t.turn_idx, t.role, t.text_corrected) for t in by_conv[conv_id].turns]
        assert got == rows
        assert by_conv[conv_id].n_turns == len(rows)


def test_reassemble_heavy_conv_intact(spark):
    df = gen_transcripts(spark, n_convs=98, heavy_every=97, heavy_turns=150)
    df = df.withColumn("text_corrected", F.col("text"))
    heavy = (
        reassemble_conversations(df, salt_buckets=8)
        .filter(F.col("conv_id") == "conv-000000")
        .collect()[0]
    )
    assert heavy.n_turns == 150
    idxs = [t.turn_idx for t in heavy.turns]
    assert idxs == list(range(150))


def test_audit_lineage(spark, small, tmp_path):
    out = correct_pipeline(small, spark, order_output=False)
    audit_path = str(tmp_path / "audit")
    write_audit(out, "run-1", audit_path)
    audit = spark.read.parquet(audit_path)
    assert audit.agg(F.sum("n_rows")).collect()[0][0] == small.count()
    assert audit.agg(F.sum("n_corrected")).collect()[0][0] > 0
    assert audit.select("run_id").distinct().collect()[0][0] == "run-1"
    # lineage rows carry key ranges
    row = audit.collect()[0]
    assert row.min_conv_id is not None and row.max_conv_id is not None


def test_checkpoint_resume_idempotent(spark, tmp_path):
    df = gen_transcripts(spark, n_convs=40)

    def transform(d):
        return correct_pipeline(d, spark, order_output=False).select(
            "conv_id", "turn_idx", "text", "text_corrected", "bucket"
        )

    # single clean run → golden output
    golden_run = CheckpointedRun(
        "golden", str(tmp_path / "out_g"), str(tmp_path / "wm_g"), n_buckets=8
    )
    assert golden_run.run(spark, df, transform) == 8
    golden = sorted(
        spark.read.parquet(golden_run.output_path)
        .select("conv_id", "turn_idx", "text_corrected")
        .collect()
    )

    # interrupted run: only 1 wave of 2 buckets, then 'crash'
    run = CheckpointedRun(
        "r2", str(tmp_path / "out_r"), str(tmp_path / "wm_r"), n_buckets=8
    )
    done = run.run(spark, df, transform, wave_size=2, max_waves=1)
    assert done == 2
    assert len(run.pending_buckets(spark)) == 6

    # resume → completes the remaining buckets, output equals golden
    done2 = run.run(spark, df, transform, wave_size=3)
    assert done2 == 6
    assert run.pending_buckets(spark) == []
    resumed = sorted(
        spark.read.parquet(run.output_path)
        .select("conv_id", "turn_idx", "text_corrected")
        .collect()
    )
    assert resumed == golden

    # re-running a completed run is a no-op
    assert run.run(spark, df, transform) == 0


def test_correction_executes_once_per_row_with_audit(spark, tmp_path):
    """The audit hook must not re-execute the correction UDF: the wave's
    frame is persisted across the output write and both audit actions
    (VERDICT r01 'What's wrong' #1 — the 3x recompute bill)."""
    df = gen_transcripts(spark, n_convs=20)
    n_rows = df.count()
    acc = spark.sparkContext.accumulator(0)

    def transform(d):
        return correct_pipeline(
            d, spark, order_output=False, keep_mode_col=True, row_counter=acc
        )

    run = CheckpointedRun(
        "acc1", str(tmp_path / "out_a"), str(tmp_path / "wm_a"), n_buckets=4
    )
    audit_path = str(tmp_path / "audit_a")
    done = run.run(
        spark,
        df,
        transform,
        post_write=lambda out, wave: write_audit(out, "acc1", audit_path, wave=wave),
    )
    assert done == 4
    # output write + the single audit aggregation (lineage and biz rollup
    # as grouping sets), but the UDF saw each row exactly once
    assert acc.value == n_rows
    audit = spark.read.parquet(audit_path)
    assert audit.agg(F.sum("n_rows")).collect()[0][0] == n_rows
    out_rows = spark.read.parquet(run.output_path).count()
    assert out_rows == n_rows


def test_audit_wave_replay_idempotent(spark, tmp_path):
    """Crash between the audit write and the watermark commit (ADVICE r02):
    the resumed wave re-runs write_audit for the SAME wave — the wave-keyed
    dynamic partition overwrite must replace, not append, so the invariant
    out_rows == audit sum(n_rows) survives crash/replay."""
    df = gen_transcripts(spark, n_convs=20)
    n_rows = df.count()

    def transform(d):
        return correct_pipeline(d, spark, order_output=False, keep_mode_col=True)

    run = CheckpointedRun(
        "replay", str(tmp_path / "out_w"), str(tmp_path / "wm_w"), n_buckets=4
    )
    audit_path = str(tmp_path / "audit_w")

    crashed = {}

    def crashy_hook(out, wave):
        write_audit(out, "replay", audit_path, wave=wave)
        # simulate a crash AFTER the audit write but BEFORE _commit of the
        # first wave: raise once so the watermark is never written
        if not crashed:
            crashed["wave"] = list(wave)
            raise RuntimeError("simulated crash between audit and commit")

    with pytest.raises(RuntimeError, match="simulated crash"):
        run.run(spark, df, transform, wave_size=2, post_write=crashy_hook)
    # first wave's audit rows exist but its buckets are NOT committed
    assert len(run.pending_buckets(spark)) == 4

    # resume: the crashed wave re-runs, re-writing the SAME audit partition
    done = run.run(
        spark,
        df,
        transform,
        wave_size=2,
        post_write=lambda out, wave: write_audit(
            out, "replay", audit_path, wave=wave
        ),
    )
    assert done == 4
    audit = spark.read.parquet(audit_path)
    out_rows = spark.read.parquet(run.output_path).count()
    assert out_rows == n_rows
    # no double-counted wave: the replayed wave overwrote its partition
    assert audit.agg(F.sum("n_rows")).collect()[0][0] == n_rows
    biz = spark.read.parquet(audit_path + "_biz")
    assert biz.agg(F.sum("n_rows")).collect()[0][0] == n_rows


LINEAGE_SCHEMA = (
    "struct<partition_id:int,n_rows:bigint,n_corrected:bigint,"
    "n_eligible:bigint,min_conv_id:string,max_conv_id:string,"
    "min_ts:timestamp,max_ts:timestamp,created_at:int,run_id:string,wave:int>"
)
BIZ_SCHEMA = (
    "struct<tool:string,n_rows:bigint,n_corrected:bigint,n_eligible:bigint,"
    "created_at:int,run_id:string,wave:int>"
)


def _driver_side_audit(rows, key, has_mode):
    """Audit metrics of collected wave rows, grouped on the driver."""

    def total(vals):
        vals = [int(v) for v in vals if v is not None]
        return sum(vals) if vals else None

    def extreme(f, vals):
        vals = [v for v in vals if v is not None]
        return f(vals) if vals else None

    groups = {}
    for r in rows:
        groups.setdefault(r[key], []).append(r)
    out = {}
    for k, rs in groups.items():
        out[k] = {
            "n_rows": len(rs),
            "n_corrected": total(
                r.text != r.text_corrected
                for r in rs
                if r.text is not None and r.text_corrected is not None
            ),
            "n_eligible": (
                total(None if r.corr_mode is None else r.corr_mode != 0 for r in rs)
                if has_mode
                else None
            ),
            "min_conv_id": extreme(min, (r.conv_id for r in rs)),
            "max_conv_id": extreme(max, (r.conv_id for r in rs)),
            "min_ts": extreme(min, (r.ts for r in rs)),
            "max_ts": extreme(max, (r.ts for r in rs)),
        }
    return out


@pytest.mark.parametrize("keep_mode_col", [True, False])
def test_audit_equals_driver_side_groups(spark, tmp_path, keep_mode_col):
    """write_audit's one grouping-sets aggregation must give the same rows
    as grouping the wave's collected rows on the driver, by
    spark_partition_id (lineage) and by tool (biz rollup): with a null
    tool group, with n_eligible NULL when corr_mode is absent, and with
    min_ts/max_ts intact under a non-UTC session time zone."""
    tz_key = "spark.sql.session.timeZone"
    tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "Asia/Kolkata")
    try:
        wave = (
            correct_pipeline(
                gen_transcripts(spark, n_convs=30), spark, keep_mode_col=keep_mode_col
            )
            .withColumn("tool", F.when(F.col("turn_idx") % 3 != 0, F.col("tool")))
            .persist()
        )
        rows = wave.withColumn("_pid", F.spark_partition_id()).collect()
        audit_path = str(tmp_path / "audit")
        write_audit(wave, "eq", audit_path, wave=[5, 3])
        lineage = spark.read.parquet(audit_path)
        biz = spark.read.parquet(audit_path + "_biz")
        wave.unpersist()
    finally:
        spark.conf.set(tz_key, tz)

    assert lineage.schema.simpleString() == LINEAGE_SCHEMA
    assert biz.schema.simpleString() == BIZ_SCHEMA
    by_pid = _driver_side_audit(rows, "_pid", keep_mode_col)
    by_tool = _driver_side_audit(rows, "tool", keep_mode_col)
    assert None in by_tool and len(by_tool) >= 3
    got_lineage = lineage.collect()
    got_biz = biz.collect()
    for r in got_lineage + got_biz:
        assert (r.run_id, r.wave) == ("eq", 3) and r.created_at is not None
    assert {
        r.partition_id: {k: r[k] for k in by_pid[r.partition_id]} for r in got_lineage
    } == by_pid
    assert {
        r.tool: {k: r[k] for k in ("n_rows", "n_corrected", "n_eligible")}
        for r in got_biz
    } == {
        t: {k: m[k] for k in ("n_rows", "n_corrected", "n_eligible")}
        for t, m in by_tool.items()
    }
    if not keep_mode_col:
        assert all(r.n_eligible is None for r in got_lineage + got_biz)


def test_empty_waves_still_write_and_commit(spark, tmp_path):
    """More buckets than conversations: most waves are empty, and each
    still writes its (empty) audit and commits its bucket."""
    df = gen_transcripts(spark, n_convs=3)
    n_rows = df.count()
    run = CheckpointedRun(
        "empty", str(tmp_path / "out"), str(tmp_path / "wm"), n_buckets=8
    )
    audit_path = str(tmp_path / "audit")
    done = run.run(
        spark,
        df,
        lambda d: correct_pipeline(d, spark, keep_mode_col=True),
        wave_size=1,
        post_write=lambda out, wave: write_audit(out, "empty", audit_path, wave=wave),
    )
    assert done == 8
    assert run.pending_buckets(spark) == []
    wm = spark.read.parquet(run.watermark_path)
    assert wm.schema.simpleString() == "struct<run_id:string,bucket:int>"
    assert sorted(r.bucket for r in wm.collect()) == list(range(8))
    assert spark.read.parquet(run.output_path).count() == n_rows
    for path in (audit_path, audit_path + "_biz"):
        audit = spark.read.parquet(path)
        assert audit.agg(F.sum("n_rows")).collect()[0][0] == n_rows
    assert spark.read.parquet(audit_path).schema.simpleString() == LINEAGE_SCHEMA
    assert spark.read.parquet(audit_path + "_biz").schema.simpleString() == BIZ_SCHEMA
    assert run.run(spark, df, lambda d: d) == 0


@pytest.mark.parametrize("salt_buckets", [2, 8, 16])
def test_salted_reassembly_spreads_hot_conv(spark, salt_buckets):
    """North-rule skew property (VERDICT r02 #10): the generator's heavy
    conversation (200 turns) must land in >= 2 salt buckets in stage 1 of
    reassemble_conversations — a hot conv_id cannot pin one reducer — and
    the two-stage merge must leave the final turn order unchanged."""
    heavy_turns = 200
    df = gen_transcripts(
        spark, n_convs=60, heavy_every=59, heavy_turns=heavy_turns
    ).withColumn("text_corrected", F.col("text"))
    heavy_id = "conv-000000"

    # stage-1 salt spread, computed with the operator's own salt expression
    n_salts = (
        df.filter(F.col("conv_id") == heavy_id)
        .select(F.pmod(F.xxhash64(F.col("turn_idx")), F.lit(salt_buckets)).alias("s"))
        .distinct()
        .count()
    )
    assert n_salts >= 2

    out = (
        reassemble_conversations(df, salt_buckets=salt_buckets)
        .filter(F.col("conv_id") == heavy_id)
        .collect()[0]
    )
    assert out.n_turns == heavy_turns
    assert [t.turn_idx for t in out.turns] == list(range(heavy_turns))


def test_ordered_stage_takes_one_partition_per_task_slot(spark, tmp_path):
    """In local mode order_turns sizes its range shuffle to the task
    slots, not to spark.sql.shuffle.partitions: every partition past the
    slot count costs the Arrow-UDF stages one more fixed-cost Python
    task.  Order stays global because range partitions are contiguous,
    and a heavy conversation is still split across partitions."""
    slots = spark.sparkContext.defaultParallelism
    if slots < 2:
        pytest.skip("needs at least 2 task slots")
    # conv-000000 holds ~3/4 of the rows, so it cannot fit in one of
    # >= 2 balanced range partitions
    df = gen_transcripts(spark, n_convs=40, heavy_every=1000, heavy_turns=600)
    assert order_turns(df).rdd.getNumPartitions() == slots

    out = correct_pipeline(df, spark, order_output=True).select(
        "conv_id", "turn_idx", F.spark_partition_id().alias("pid")
    )
    rows = out.collect()
    keys = [(r.conv_id, r.turn_idx) for r in rows]
    assert keys == sorted(keys)
    heavy_pids = {r.pid for r in rows if r.conv_id == "conv-000000"}
    assert len(heavy_pids) >= 2

    # one checkpoint wave writes one file per range partition per bucket
    run = CheckpointedRun(
        "files", str(tmp_path / "out"), str(tmp_path / "wm"), n_buckets=2
    )
    wave_input = gen_transcripts(spark, n_convs=200)
    assert run.run(
        spark,
        wave_input,
        lambda d: correct_pipeline(d, spark, keep_mode_col=True),
        wave_size=2,
        max_waves=1,
    ) == 2
    for bucket in ("bucket=0", "bucket=1"):
        files = glob.glob(os.path.join(run.output_path, bucket, "part-*"))
        assert 1 <= len(files) <= slots, (bucket, len(files))


def test_unreadable_watermark_fails_instead_of_rerunning(spark, tmp_path):
    """Only a missing watermark table means nothing is committed.  A
    directory without data files reads as empty; one holding a file that
    is not parquet must raise, never report every bucket as pending."""
    wm = tmp_path / "wm"
    run = CheckpointedRun("wm1", str(tmp_path / "out"), str(wm), n_buckets=4)
    assert run.pending_buckets(spark) == [0, 1, 2, 3]
    wm.mkdir()
    assert run.pending_buckets(spark) == [0, 1, 2, 3]
    (wm / "notes.txt").write_text("not a parquet file\n")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        run.pending_buckets(spark)


def test_err_prob_key_identity(spark):
    # err_positions(text, probs) == err_from_key(text, err_prob_key(probs))
    # across the edge cases the dedup join key must encode exactly
    from ocr_corrector_spark.operators.detect import (
        err_from_key,
        err_positions,
        err_prob_key,
    )

    rows = [
        ("abc", [0.99, 0.5, 0.99]),
        ("abc", None),               # null probs -> every position
        ("", None),                  # null probs, empty text -> empty
        ("abc", []),                 # empty probs -> empty
        ("abcd", [0.1, 0.1]),        # probs shorter than text
        ("ab", [0.95, 0.91, 0.2]),   # probs longer than text
    ]
    df = spark.createDataFrame(rows, "text string, probs array<double>")
    got = df.select(
        err_positions(F.col("text"), F.col("probs")).alias("direct"),
        err_from_key(
            F.col("text"), err_prob_key(F.col("probs"))
        ).alias("via_key"),
    ).collect()
    for r in got:
        assert r["direct"] == r["via_key"], (r["direct"], r["via_key"])
