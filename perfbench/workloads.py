"""The benchmark's workloads: input preparation, one timed pass, the
untimed output checks and the traced per-layer breakdown.

Each workload runs as a closed loop with one client: the driver submits
one Spark job at a time and waits for it.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime
from decimal import Decimal

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ocr_corrector_spark.assets.scorer_table import topn_candidates
from ocr_corrector_spark.functions.correct_kernels import bert_correct_one, keyword_correct_one
from ocr_corrector_spark.functions.rules import find_err_pos_by_prob
from ocr_corrector_spark.operators.extract import extract_any
from ocr_corrector_spark.oracle import BertOracle, KeywordOracle
from ocr_corrector_spark.plans.pipeline import correct_pipeline
from ocr_corrector_spark.sources.transcripts import gen_transcripts

from . import crossing, inputs
from .harness import (
    MB,
    median,
    metric_sum,
    node_count,
    run_for_plan,
    stages_in_group,
    subtree_cpu_s,
)

# Per-operation time limits.  Far above a healthy run; a hung job or a
# dead worker hits them and fails the operation instead of the run hanging.
PASS_LIMIT_S = 90.0
STEP_LIMIT_S = 60.0
CHECK_LIMIT_S = 60.0
# About 1% of turns, chosen by key hash, are checked against the oracle.
SAMPLE_MOD = 101
PYTHON_EXECS = ("ArrowEvalPythonExec", "BatchEvalPythonExec", "MapInArrowExec", "MapInPandasExec")
EXCHANGES = ("ShuffleExchangeExec", "BroadcastExchangeExec")


@dataclass
class Prepared:
    seed: int
    rows: int
    prep_s: float
    df: DataFrame | None = None
    path: str | None = None
    stats: dict = field(default_factory=dict)


@dataclass
class PassResult:
    wall_s: float
    cpu_s: float
    rows: int
    attempted: int = 1
    failed: int = 0
    steps: list[float] = field(default_factory=list)
    golden: dict = field(default_factory=dict)


class Context:
    """What a workload needs from the run: the session, limits, spans and
    a place to report failed checks."""

    def __init__(self, engine, deadline, tracer, run_dir: str):
        self.engine = engine
        self.spark = engine.spark
        self.deadline = deadline
        self.tracer = tracer
        self.run_dir = run_dir
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failures.append(what)
            print(f"CHECK FAILED: {what}", flush=True)
        return ok

    def timed(self, what: str, limit_s: float, fn, pass_id: str | None = None):
        """Run ``fn`` under a time limit and a span; returns (result, wall
        seconds, engine CPU seconds)."""
        with self.deadline.op(what, limit_s), self.tracer.span(what, pass_id):
            c0, t0 = subtree_cpu_s(), time.perf_counter()
            result = fn()
            wall = time.perf_counter() - t0
            cpu = subtree_cpu_s() - c0
        return result, wall, cpu


def sampled():
    return F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(SAMPLE_MOD)) == 0


def fingerprint_aggs() -> list:
    """Row count, a keyed fingerprint of the corrected text (xor of
    per-row ``xxhash64(conv_id, turn_idx, text_corrected)``: it changes
    when any turn's output or key changes) and leak counters."""
    out = F.col("text_corrected")
    return [
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64("conv_id", "turn_idx", out)).alias("fp"),
        F.sum(out.isNull().cast("long")).alias("null_out"),
        F.sum((out.contains("<html") | out.startswith("%LAYOUT")).cast("long")).alias("markup_out"),
    ]


SAMPLE_COLS = ("conv_id", "turn_idx", "text", "tool", "probs", "text_corrected")


class Oracle:
    """The reference-semantics oracle run row by row on the driver."""

    def __init__(self):
        self.kw = KeywordOracle(similarity_threshold=0.55)
        self.bert = BertOracle()

    def expected(self, text, tool, probs):
        oracle = self.kw if tool == "report" else self.bert
        return oracle.correct_row(text, list(probs) if probs is not None else None)

    def kernel_calls(self, rows):
        """The correction-kernel calls the sampled rows make."""
        calls = []
        for r in rows:
            if r["probs"] is None:
                continue
            err = find_err_pos_by_prob(list(r["probs"]), 0.9)
            text = r["text"]
            if r["tool"] == "report":
                if err and self.kw.do_correct_filter(text):
                    kw = self.kw
                    calls.append(lambda t=text, e=err: keyword_correct_one(
                        t, e, kw.tree, kw.keywords, kw.char_sim, kw.similarity_threshold))
            elif err and self.bert.do_correct_filter(text):
                b = self.bert
                calls.append(lambda t=text, e=err: bert_correct_one(
                    t, e, b.char_sim, topn_candidates, b.topn))
        return calls


def _us_per_call(calls, reps: int = 3) -> float:
    if not calls:
        return 0.0
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for c in calls:
            c()
        times.append(time.perf_counter() - t0)
    return median(times) / len(calls) * 1e6


class Workload:
    name = ""
    # Full-size warm-up passes before timing.  Pass time falls for about
    # three passes while the JVM's JIT settles (curation: 18, 10.6, 9.0,
    # then 8-8.5 s); one more warm-up than this did not narrow the spread
    # on a host whose CPU steal varies, and the run-time budget has no room.
    warmups = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark

    def prepare(self, seed: int) -> Prepared:
        raise NotImplementedError

    def run_pass(self, prep: Prepared, pass_id: str, warmup: bool = False) -> PassResult:
        """One timed pass and its untimed checks.  The warm-up pass runs
        on a fixed seed; its outputs are compared with recorded values."""
        raise NotImplementedError

    def traced_pass(self, prep: Prepared, pass_id: str) -> tuple[float, dict]:
        """One pass with tracing on; returns its wall and the per-layer
        metrics it yields."""
        raise NotImplementedError

    def release(self, prep: Prepared) -> None:
        if prep.df is not None:
            prep.df.unpersist()
        if prep.path:
            shutil.rmtree(prep.path, ignore_errors=True)


# --- the correction pipeline's layers, shared by the transcript workloads ---
def _detect_prefix(df: DataFrame) -> DataFrame:
    """The pipeline's native detection columns (plans/pipeline.py), so the
    detect layer can end a plan prefix of its own."""
    from ocr_corrector_spark.operators.detect import eligible_bert, eligible_keyword, err_positions

    text = F.col("text")
    is_report = F.col("tool") == F.lit("report")
    eligible = F.when(is_report, eligible_keyword(text)).otherwise(eligible_bert(text))
    return df.withColumn("err_pos", err_positions(text, F.col("probs"))).withColumn(
        "corr_mode",
        F.when(~eligible | (F.size("err_pos") == 0), F.lit(0))
        .when(is_report, F.lit(1))
        .otherwise(F.lit(2)),
    )


def pipeline_layers(ctx: Context, inp: DataFrame, stats: dict, pass_id: str) -> tuple[float, dict]:
    """Per-layer metrics of ``correct_pipeline`` over ``inp``.

    The full plan runs first, so the correction memo is cold for it; then
    each plan prefix (scan, + order, + identity crossing, + extraction,
    + detection) runs to a noop-equivalent sink.  A layer's self time is
    the difference between adjacent prefixes."""
    from ocr_corrector_spark.operators.extract import with_extraction
    from ocr_corrector_spark.operators.reassemble import order_turns

    spark, sc = ctx.spark, ctx.spark.sparkContext
    group = f"full-{pass_id}"
    sc.setJobGroup(group, group)
    (_, full_nodes), full_w, full_c = ctx.timed(
        "pass", PASS_LIMIT_S, lambda: run_for_plan(correct_pipeline(inp, spark)), pass_id
    )
    stages = stages_in_group(sc, group)
    sc.setJobGroup("bench", "bench")

    def prefix(name, df):
        (_, nodes), wall, cpu = ctx.timed(name, STEP_LIMIT_S, lambda: run_for_plan(df), pass_id)
        return wall, cpu, nodes

    ordered = order_turns(inp)
    identity = F.pandas_udf(crossing.identity, StringType())
    scan_w, scan_c, _ = prefix("sources.scan", inp)
    ord_w, ord_c, ord_nodes = prefix("reassemble.order", ordered)
    idt_w, _, _ = prefix("extract.crossing", ordered.withColumn("text", identity("text")))
    ext_w, ext_c, ext_nodes = prefix("extract", with_extraction(ordered))
    det_w, det_c, _ = prefix("detect", _detect_prefix(with_extraction(ordered)))

    def skew():
        counts = [r[1] for r in ordered.groupBy(F.spark_partition_id()).count().collect()]
        return max(counts) / median(counts)

    part_skew, _, _ = ctx.timed("reassemble.skew", STEP_LIMIT_S, skew, pass_id)

    raw, _, _ = ctx.timed(
        "kernel.sample", CHECK_LIMIT_S,
        lambda: [r.asDict() for r in inp.filter(sampled()).select("text", "tool", "probs").collect()], pass_id)
    oracle = Oracle()
    extracted = [dict(r, text=extract_any(r["text"])) for r in raw]

    def py(nodes, udf, metric):
        return metric_sum(nodes, "ArrowEvalPythonExec", metric, udf)

    arrow = ("pythonDataSent", "pythonDataReceived")
    m = {
        "sources.scan_s": scan_w,
        "reassemble.order_s": ord_w - scan_w,
        "reassemble.order_cpu_s": ord_c - scan_c,
        "reassemble.shuffle_write_mb": metric_sum(ord_nodes, "ShuffleExchangeExec", "shuffleBytesWritten") / MB,
        "reassemble.partition_skew": part_skew,
        "extract.crossing_s": idt_w - ord_w,
        "extract.udf_s": ext_w - ord_w,
        "extract.udf_cpu_s": ext_c - ord_c,
        "extract.python_s": py(ext_nodes, "extract_udf", "pythonTotalTime"),
        "extract.python_init_s": py(ext_nodes, "extract_udf", "pythonInitTime"),
        "extract.arrow_mb": sum(py(ext_nodes, "extract_udf", a) for a in arrow) / MB,
        "extract.kernel_us_per_row": _us_per_call([lambda t=r["text"]: extract_any(t) for r in raw]),
        "detect.native_s": det_w - ext_w,
        "detect.mode0_share": stats["mode0_share"],
        "detect.mode1_share": stats["mode1_share"],
        "detect.mode2_share": stats["mode2_share"],
        "correct.udf_s": full_w - det_w,
        "correct.udf_cpu_s": full_c - det_c,
        "correct.python_s": py(full_nodes, "correct_udf", "pythonTotalTime"),
        "correct.python_init_s": py(full_nodes, "correct_udf", "pythonInitTime"),
        "correct.arrow_mb": sum(py(full_nodes, "correct_udf", a) for a in arrow) / MB,
        "correct.kernel_us_per_row": _us_per_call(oracle.kernel_calls(extracted)),
        "correct.unique_key_ratio": stats["unique_key_ratio"],
        "pipeline.python_crossings": node_count(full_nodes, PYTHON_EXECS),
        "pipeline.exchanges": node_count(full_nodes, EXCHANGES),
        "pipeline.stages": stages,
    }
    return full_w, m


def source_metrics(stats: dict) -> dict:
    return {f"sources.{k}": stats[k] for k in ("rows", "distinct_text_ratio", "html_share", "layout_share")}


def check_sample(ctx: Context, oracle: Oracle, inp: DataFrame, sample: list, what: str) -> bool:
    """Per-turn equality with the oracle on the sampled output rows, and
    extraction of the sampled raw inputs equal to the output text."""
    raw = {
        (r.conv_id, r.turn_idx): r.text
        for r in inp.filter(sampled()).select("conv_id", "turn_idx", "text").collect()
    }
    ok = ctx.check(len(sample) == len(raw) and len(raw) > 0,
                   f"{what}: sampled {len(sample)} output rows for {len(raw)} input rows")
    bad = 0
    for r in sample:
        if extract_any(raw.get((r["conv_id"], r["turn_idx"]))) != r["text"]:
            bad += 1
        elif oracle.expected(r["text"], r["tool"], r["probs"]) != r["text_corrected"]:
            bad += 1
    return ctx.check(bad == 0, f"{what}: {bad} of {len(sample)} sampled turns differ from the oracle") and ok


def check_fingerprint(ctx: Context, got: dict, rows: int, what: str) -> bool:
    ok = ctx.check(got["rows"] == rows, f"{what}: {got['rows']} output rows for {rows} input rows")
    ok &= ctx.check(not got["null_out"], f"{what}: {got['null_out']} null outputs")
    ok &= ctx.check(not got["markup_out"], f"{what}: {got['markup_out']} outputs keep markup")
    return ok


class FlagshipUnique(Workload):
    """``correct_pipeline(order_output=True)`` over transcripts whose every
    text is distinct, so the per-worker memo never answers and the
    correction kernels' cost shows."""

    name = "flagship_unique"
    warmups = 2
    n_convs = 8000

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.oracle = Oracle()

    def prepare(self, seed: int) -> Prepared:
        def build():
            df = inputs.unique_transcripts(self.spark, self.n_convs, seed).persist()
            return df, df.count()

        (df, rows), wall, _ = self.ctx.timed("prepare", STEP_LIMIT_S, build)
        return Prepared(seed=seed, rows=rows, prep_s=wall, df=df)

    def input_stats(self, prep: Prepared) -> dict:
        """Shares of this input and of the repetitive generator on the
        same seed; the unique variant must keep the repetitive one's mode
        mix and be (almost) all distinct."""

        def both():
            dup = gen_transcripts(self.spark, n_convs=self.n_convs, seed=prep.seed, keep_oracle_cols=True)
            return inputs.transcript_stats(prep.df), inputs.transcript_stats(dup)

        (uniq, dup), _, _ = self.ctx.timed("input_stats", CHECK_LIMIT_S, both)
        for label, s in (("flagship_unique", uniq), ("repetitive (gen_transcripts)", dup)):
            print(
                f"input {label}: rows={s['rows']} distinct_text_ratio={s['distinct_text_ratio']:.4f} "
                f"html={s['html_share']:.4f} layout={s['layout_share']:.4f} "
                + " ".join(f"mode{k}={s[f'mode{k}_share']:.4f}" for k in range(3)),
                flush=True,
            )
        self.ctx.check(uniq["distinct_text_ratio"] >= 0.99,
                       f"unique input distinct ratio {uniq['distinct_text_ratio']:.4f} < 0.99")
        for k in range(3):
            d = abs(uniq[f"mode{k}_share"] - dup[f"mode{k}_share"])
            self.ctx.check(d <= 0.02, f"unique input mode{k} share differs by {d:.4f} from the repetitive input")
        prep.stats = uniq
        return uniq

    def run_pass(self, prep: Prepared, pass_id: str, warmup: bool = False) -> PassResult:
        obs = Observation(f"out-{pass_id}")
        out = correct_pipeline(prep.df.select(*inputs.PIPELINE_COLS), self.spark, order_output=True)
        sample = F.collect_list(F.when(sampled(), F.struct(*SAMPLE_COLS))).alias("sample")
        observed = out.observe(obs, *fingerprint_aggs(), sample)
        _, wall, cpu = self.ctx.timed(
            "pass", PASS_LIMIT_S,
            lambda: observed.write.format("noop").mode("overwrite").save(), pass_id,
        )

        def checks():
            got = obs.get
            ok = check_fingerprint(self.ctx, got, prep.rows, f"{self.name} {pass_id}")
            rows = [r.asDict() for r in got["sample"]]
            ok &= check_sample(self.ctx, self.oracle, prep.df, rows, f"{self.name} {pass_id}")
            return ok, got

        (ok, got), _, _ = self.ctx.timed("check", CHECK_LIMIT_S, checks)
        return PassResult(wall_s=wall, cpu_s=cpu, rows=prep.rows, failed=int(not ok),
                          golden={"rows": got["rows"], "fingerprint": got["fp"]})

    def traced_pass(self, prep: Prepared, pass_id: str) -> tuple[float, dict]:
        stats = prep.stats or self.input_stats(prep)
        inp = prep.df.select(*inputs.PIPELINE_COLS)
        wall, m = pipeline_layers(self.ctx, inp, stats, pass_id)
        return wall, {**source_metrics(stats), **m}


class JobResume(Workload):
    """The batch job's write path (scripts/run_job.py): ``CheckpointedRun``
    with a ``write_audit`` post-write hook and bucketed parquet output.
    One pass is a crash after the first wave, a resume and a no-op
    resume."""

    name = "job_resume"
    n_convs = 3000
    n_buckets = 4
    wave_size = 2

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.oracle = Oracle()

    def prepare(self, seed: int) -> Prepared:
        def build():
            df = gen_transcripts(self.spark, n_convs=self.n_convs, seed=seed, keep_oracle_cols=True).persist()
            return df, df.count()

        (df, rows), wall, _ = self.ctx.timed("prepare", STEP_LIMIT_S, build)
        return Prepared(seed=seed, rows=rows, prep_s=wall, df=df,
                        path=os.path.join(self.ctx.run_dir, f"job-{seed}"))

    def _job(self, prep: Prepared, pass_id: str, warmup: bool) -> dict:
        from ocr_corrector_spark.plans.audit import write_audit
        from ocr_corrector_spark.plans.checkpoint import CheckpointedRun

        spark, tracer = self.spark, self.ctx.tracer
        run_id = f"bench-{prep.seed}"
        run = CheckpointedRun(
            run_id=run_id,
            output_path=os.path.join(prep.path, "out"),
            watermark_path=os.path.join(prep.path, "wm"),
            n_buckets=self.n_buckets,
        )
        inp = prep.df.select(*inputs.PIPELINE_COLS)
        starts: list[float] = []
        audit_s: list[float] = []

        def transform(d):
            starts.append(time.perf_counter())
            return correct_pipeline(d, spark, keep_mode_col=True)

        def post_write(out, wave):
            with tracer.span("audit.write", pass_id):
                t0 = time.perf_counter()
                write_audit(out, run_id, os.path.join(prep.path, "audit"), wave=wave)
                audit_s.append(time.perf_counter() - t0)

        calls = []
        # The warm-up is the crash alone: one wave on the write path.
        sequence = (("crash", 1),) if warmup else (("crash", 1), ("resume", None), ("noop_resume", None))
        for label, max_waves in sequence:
            with self.ctx.deadline.op(label, PASS_LIMIT_S), tracer.span(label, pass_id):
                first = len(starts)
                t0 = time.perf_counter()
                done = run.run(spark, inp, transform, wave_size=self.wave_size,
                               max_waves=max_waves, post_write=post_write)
                t1 = time.perf_counter()
            marks = starts[first:] + [t1]
            calls.append({
                "label": label,
                "buckets": done,
                "wall": t1 - t0,
                "pending": (marks[0] - t0),
                "waves": [b - a for a, b in zip(marks, marks[1:])],
            })
        return {"calls": calls, "audit_s": audit_s}

    def run_pass(self, prep: Prepared, pass_id: str, warmup: bool = False) -> PassResult:
        job, wall, cpu = self.ctx.timed(
            "pass", 3 * PASS_LIMIT_S, lambda: self._job(prep, pass_id, warmup), pass_id)
        calls = job["calls"]
        waves = [w for c in calls for w in c["waves"]]
        what = f"{self.name} {pass_id}"

        def checks():
            out = self.spark.read.parquet(os.path.join(prep.path, "out"))
            got = out.agg(*fingerprint_aggs()).collect()[0].asDict()
            audit_rows = self.spark.read.parquet(os.path.join(prep.path, "audit")).agg(F.sum("n_rows")).collect()[0][0]
            buckets = [c["buckets"] for c in calls]
            if warmup:
                # half the buckets are written; the recorded values pin them
                ok = self.ctx.check(audit_rows == got["rows"], f"{what}: audit counts {audit_rows} of {got['rows']} rows")
                ok &= self.ctx.check(buckets == [self.wave_size], f"{what}: buckets per call {buckets}")
                return ok, got
            ok = check_fingerprint(self.ctx, got, prep.rows, what)
            ok &= self.ctx.check(audit_rows == prep.rows, f"{what}: audit counts {audit_rows} rows of {prep.rows}")
            ok &= self.ctx.check(buckets == [self.wave_size, self.n_buckets - self.wave_size, 0],
                                 f"{what}: buckets per call {buckets}")
            # the fingerprint ignores row order, so the clean run skips the
            # ordering shuffle and its 32 Python tasks per UDF
            clean = correct_pipeline(prep.df.select(*inputs.PIPELINE_COLS), self.spark, order_output=False)
            want = clean.agg(*fingerprint_aggs()).collect()[0].asDict()
            sample = [r.asDict() for r in out.filter(sampled()).select(*SAMPLE_COLS).collect()]
            ok &= self.ctx.check(got["fp"] == want["fp"],
                                 f"{what}: crash+resume fingerprint {got['fp']} != clean run {want['fp']}")
            ok &= check_sample(self.ctx, self.oracle, prep.df, sample, what)
            return ok, got

        (ok, got), _, _ = self.ctx.timed("check", 2 * CHECK_LIMIT_S, checks)
        return PassResult(
            wall_s=wall, cpu_s=cpu, rows=prep.rows,
            attempted=len(waves) + 1, failed=0 if ok else len(waves) + 1, steps=waves,
            golden={"rows": got["rows"], "fingerprint": got["fp"]},
        )

    def traced_pass(self, prep: Prepared, pass_id: str) -> tuple[float, dict]:
        job, wall, _ = self.ctx.timed("pass", 3 * PASS_LIMIT_S, lambda: self._job(prep, pass_id, False), pass_id)
        calls = job["calls"]
        waves = [w for c in calls for w in c["waves"]]
        out_dir = os.path.join(prep.path, "out")
        files = [os.path.join(d, f) for d, _, fs in os.walk(out_dir) for f in fs if f.endswith(".parquet")]
        stats = inputs.transcript_stats(prep.df)
        _, m = pipeline_layers(self.ctx, prep.df.select(*inputs.PIPELINE_COLS), stats, pass_id + "-layers")
        m.update(source_metrics(stats))
        m.update({
            "checkpoint.waves": len(waves),
            "checkpoint.wave_s_p50": median(waves),
            "checkpoint.pending_s": sum(c["pending"] for c in calls),
            "checkpoint.resume_noop_s": calls[-1]["wall"],
            "checkpoint.output_mb": sum(os.path.getsize(f) for f in files) / MB,
            "checkpoint.output_files": len(files),
            "audit.write_s": sum(job["audit_s"]),
        })
        return wall, m


# --- curation SQL -----------------------------------------------------------
CURATION_QUERIES = ("curation_pipeline", "semantic_dedup", "conversation_dedup", "minhash_buckets")


def _ser(v) -> str:
    """Strict value serialization for result hashing: floats rounded to 6
    places, timestamps in ISO form, lists element-wise."""
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        v = float(v) if v != v.to_integral_value() else v
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 6))
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_ser(x) for x in v) + "]"
    return str(v)


def result_hash(rows, cols) -> str:
    """Order-free hash of a result: columns sorted by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("\x1f".join(_ser(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


class Curation(Workload):
    """``operators.sqlops`` curation queries over generated tables of the
    sf0.1 testdata's shape; native plans only, no Python UDFs."""

    name = "curation"
    warmups = 2
    # an eighth of the sf0.1 testdata's documents, a fifth of the rest
    n_docs = 600
    n_events = 20000
    n_users = 300
    n_vecs = 400

    def prepare(self, seed: int) -> Prepared:
        path = os.path.join(self.ctx.run_dir, f"tables-{seed}")
        rows, wall, _ = self.ctx.timed(
            "prepare", STEP_LIMIT_S,
            lambda: inputs.write_curation_tables(path, seed, self.n_docs, self.n_events, self.n_users, self.n_vecs),
        )
        return Prepared(seed=seed, rows=rows, prep_s=wall, path=path)

    def _queries(self):
        from ocr_corrector_spark.operators import sqlops

        return [(q, getattr(sqlops, f"q_{q}")) for q in CURATION_QUERIES]

    def run_pass(self, prep: Prepared, pass_id: str, warmup: bool = False) -> PassResult:
        results, steps, cpu = {}, [], 0.0
        def collect(fn):
            df = fn(self.spark, prep.path)
            return df.columns, df.collect()

        for q, fn in self._queries():
            result, wall, c = self.ctx.timed(f"sqlops.{q}", STEP_LIMIT_S, lambda fn=fn: collect(fn), pass_id)
            results[q] = result
            steps.append(wall)
            cpu += c

        if warmup:
            # the recorded values were checked against the oracle when recorded
            golden = {q: {"rows": len(rows), "hash": result_hash(rows, cols)} for q, (cols, rows) in results.items()}
            return PassResult(wall_s=sum(steps), cpu_s=cpu, rows=prep.rows, attempted=len(steps), steps=steps,
                              golden=golden)

        def checks():
            import duckdb

            import __spark_entry__

            oracle_sql = __spark_entry__.oracle_sql()
            con = duckdb.connect(config={"temp_directory": os.path.join(self.ctx.run_dir, "duckdb-tmp")})
            try:
                for t in ("documents", "events", "embeddings"):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{prep.path}/{t}.parquet'")
                failed, golden = 0, {}
                for q, (cols, rows) in results.items():
                    res = con.sql(oracle_sql[q])
                    want = result_hash(res.fetchall(), res.columns)
                    got = result_hash(rows, cols)
                    golden[q] = {"rows": len(rows), "hash": got}
                    failed += not self.ctx.check(
                        got == want, f"{self.name} {pass_id}: {q} differs from the DuckDB oracle ({len(rows)} rows)")
            finally:
                con.close()
            return failed, golden

        (failed, golden), _, _ = self.ctx.timed("check", CHECK_LIMIT_S, checks)
        return PassResult(wall_s=sum(steps), cpu_s=cpu, rows=prep.rows, attempted=len(steps),
                          failed=failed, steps=steps, golden=golden)

    def traced_pass(self, prep: Prepared, pass_id: str) -> tuple[float, dict]:
        m, walls, nodes_all = {}, [], []
        with self.ctx.tracer.span("pass", pass_id) as sp:
            for q, fn in self._queries():
                (_, nodes), wall, _ = self.ctx.timed(
                    f"sqlops.{q}", STEP_LIMIT_S, lambda fn=fn: run_for_plan(fn(self.spark, prep.path)), pass_id)
                m[f"sqlops.{q}_s"] = wall
                walls.append(wall)
                nodes_all += nodes
        m["sqlops.query_s_p50"] = median(walls)
        m["sqlops.broadcast_mb"] = metric_sum(nodes_all, "BroadcastExchangeExec", "dataSize") / MB
        m["sqlops.shuffle_write_mb"] = metric_sum(nodes_all, "ShuffleExchangeExec", "shuffleBytesWritten") / MB
        tables = [self.spark.read.parquet(os.path.join(prep.path, f"{t}.parquet"))
                  for t in ("documents", "events", "embeddings")]
        _, scan_s, _ = self.ctx.timed(
            "sources.scan", STEP_LIMIT_S, lambda: [run_for_plan(t) for t in tables], pass_id)
        m["sources.scan_s"] = scan_s
        m["sources.rows"] = prep.rows
        m["sources.distinct_text_ratio"] = tables[0].agg(
            F.count_distinct("text") / F.count(F.lit(1))).collect()[0][0]
        return self.ctx.tracer.duration(sp), m


WORKLOADS = {w.name: w for w in (FlagshipUnique, JobResume, Curation)}
