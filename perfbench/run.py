#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload flagship_unique --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` is a separate run that prints the per-layer
metrics and the tracing overhead.  The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
exit status is 0 only when every output check passed.

``--record`` stores the warm-up pass's outputs (fixed seed) in
``perfbench/expected.json``; every later run compares against them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected.json")

# Warm-up pass k runs on seed WARM_SEED - k; the first one's outputs are
# recorded.  Timed passes use positive seeds.
WARM_SEED = 0
# The run must end within 180 s; the rest is left for stopping the engine.
RUN_LIMIT_S = 165.0
STOP_LIMIT_S = 12.0

END_TO_END = (
    ("setup_s", "s"),
    ("pass_s_p50", "s"),
    ("rows_per_s", "1/s"),
    ("engine_cpu_s", "s"),
    ("peak_rss_mb", "MB"),
)
PER_LAYER = (
    ("sources.scan_s", "s"),
    ("sources.rows", "count"),
    ("sources.distinct_text_ratio", "ratio"),
    ("sources.html_share", "ratio"),
    ("sources.layout_share", "ratio"),
    ("reassemble.order_s", "s"),
    ("reassemble.order_cpu_s", "s"),
    ("reassemble.shuffle_write_mb", "MB"),
    ("reassemble.partition_skew", "ratio"),
    ("extract.crossing_s", "s"),
    ("extract.udf_s", "s"),
    ("extract.udf_cpu_s", "s"),
    ("extract.python_s", "s"),
    ("extract.python_init_s", "s"),
    ("extract.arrow_mb", "MB"),
    ("extract.kernel_us_per_row", "us"),
    ("detect.native_s", "s"),
    ("detect.mode0_share", "ratio"),
    ("detect.mode1_share", "ratio"),
    ("detect.mode2_share", "ratio"),
    ("correct.udf_s", "s"),
    ("correct.udf_cpu_s", "s"),
    ("correct.python_s", "s"),
    ("correct.python_init_s", "s"),
    ("correct.arrow_mb", "MB"),
    ("correct.kernel_us_per_row", "us"),
    ("correct.unique_key_ratio", "ratio"),
    ("pipeline.python_crossings", "count"),
    ("pipeline.exchanges", "count"),
    ("pipeline.stages", "count"),
    ("checkpoint.waves", "count"),
    ("checkpoint.wave_s_p50", "s"),
    ("checkpoint.pending_s", "s"),
    ("checkpoint.resume_noop_s", "s"),
    ("checkpoint.output_mb", "MB"),
    ("checkpoint.output_files", "count"),
    ("audit.write_s", "s"),
    ("sqlops.curation_pipeline_s", "s"),
    ("sqlops.semantic_dedup_s", "s"),
    ("sqlops.conversation_dedup_s", "s"),
    ("sqlops.minhash_buckets_s", "s"),
    ("sqlops.query_s_p50", "s"),
    ("sqlops.broadcast_mb", "MB"),
    ("sqlops.shuffle_write_mb", "MB"),
    ("session.start_s", "s"),
    ("engine.gc_s", "s"),
    ("engine.python_workers", "count"),
)


def pass_seed(seed: int, i: int) -> int:
    """Input seed of timed pass ``i``: distinct per pass and positive,
    so never a warm-up seed; no timed pass meets a text the session has
    seen."""
    return 1 + zlib.crc32(f"{seed}/{i}".encode()) % (2**31 - 2)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="timed pass seconds to measure")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true", help="record the warm-up outputs as expected")
    return ap.parse_args(argv)


def _golden_check(ctx, name: str, golden: dict, record: bool) -> None:
    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            expected = json.load(f)
    if record:
        expected[name] = golden
        with open(EXPECTED, "w") as f:
            json.dump(expected, f, indent=2, sort_keys=True)
            f.write("\n")
        print(f"recorded warm-up outputs of {name} in {EXPECTED}", flush=True)
        return
    ctx.check(name in expected, f"{name}: no recorded warm-up outputs in perfbench/expected.json")
    if name in expected:
        ctx.check(golden == expected[name],
                  f"{name}: warm-up outputs {golden} != recorded {expected[name]}")


def run(args) -> tuple[bool, int, int, dict]:
    from perfbench.harness import WORK_DIR, Deadline, Engine, OpTimeout, Tracer, median
    from perfbench.harness import python_worker_count, subtree_peak_rss_mb
    from perfbench.workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    run_dir = os.path.join(WORK_DIR, f"run-{os.getpid()}")
    deadline = Deadline(RUN_LIMIT_S)
    tracer = Tracer(False)
    engine = Engine(run_dir)
    attempted = failed = 0
    walls, cpus, rows, preps = [], [], [], []
    metrics: dict = {}
    ctx = None
    try:
        engine.start()
        ctx = Context(engine, deadline, tracer, run_dir)
        wl = WORKLOADS[args.workload](ctx)
        gc0 = engine.gc_s()

        warmup_s = 0.0
        for k in range(wl.warmups):
            warm = wl.prepare(WARM_SEED - k)
            n_failures = len(ctx.failures)
            w = wl.run_pass(warm, f"warmup{k}", warmup=True)
            wl.release(warm)
            if k == 0:
                _golden_check(ctx, wl.name, w.golden, args.record)
            attempted += w.attempted
            failed += max(w.failed, int(len(ctx.failures) > n_failures))
            warmup_s += warm.prep_s + w.wall_s
            print(f"warm-up seed={warm.seed} prepare={warm.prep_s:.3f}s pass={w.wall_s:.3f}s", flush=True)

        i = 0
        while True:
            prep = wl.prepare(pass_seed(args.seed, i))
            r = wl.run_pass(prep, f"p{i}")
            wl.release(prep)
            attempted += r.attempted
            failed += r.failed
            preps.append(prep.prep_s)
            walls.append(r.wall_s)
            cpus.append(r.cpu_s)
            rows.append(r.rows)
            steps = " ".join(f"{s:.3f}" for s in r.steps)
            print(f"pass p{i} seed={prep.seed} rows={r.rows} wall={r.wall_s:.3f}s cpu={r.cpu_s:.2f}s "
                  f"prepare={prep.prep_s:.3f}s steps=[{steps}]", flush=True)
            i += 1
            if args.trace or sum(walls) >= args.seconds:
                break
            if deadline.remaining() < 2 * max(walls) + 30:
                print("stopping early: run time limit", flush=True)
                break

        setup_s = engine.start_s + warmup_s + median(preps)
        print(f"setup: session={engine.start_s:.3f}s warm-up={warmup_s:.3f}s "
              f"prepare_p50={median(preps):.3f}s (n={len(preps)})", flush=True)
        if args.trace:
            prep = wl.prepare(pass_seed(args.seed, 1000))
            tracer.enabled = True
            n_failures = len(ctx.failures)
            wall_tr, metrics = wl.traced_pass(prep, "traced")
            wl.release(prep)
            attempted += 1
            failed += int(len(ctx.failures) > n_failures)
            overhead = wall_tr / median(walls) - 1
            print(f"tracing overhead: traced pass {wall_tr:.3f}s vs untraced {median(walls):.3f}s "
                  f"({overhead:+.1%})", flush=True)
            metrics.update({
                "session.start_s": engine.start_s,
                "engine.gc_s": engine.gc_s() - gc0,
                "engine.python_workers": python_worker_count(),
            })
        else:
            metrics = {
                "setup_s": setup_s,
                "pass_s_p50": median(walls),
                "rows_per_s": sum(rows) / sum(walls),
                "engine_cpu_s": median(cpus),
                "peak_rss_mb": subtree_peak_rss_mb(),
            }
        print(f"timed passes: n={len(walls)} seconds={sum(walls):.3f}", flush=True)
    except OpTimeout as e:
        print(f"TIMEOUT: {e} exceeded its time limit", flush=True)
        attempted += 1
        failed += 1
    except Exception:
        # a failed Spark job or a dead worker fails the operation and the run
        traceback.print_exc()
        print("FAILED: an operation raised; traceback on stderr", flush=True)
        attempted += 1
        failed += 1
    finally:
        deadline.cancel()
        stopper = Deadline(STOP_LIMIT_S)
        try:
            engine.stop()
        except OpTimeout:
            engine.kill()
        finally:
            stopper.cancel()
        if tracer.spans:
            tracer.dump(os.path.join(WORK_DIR, "traces", f"{args.workload}-seed{args.seed}.json"))
        shutil.rmtree(run_dir, ignore_errors=True)
    correct = failed == 0 and ctx is not None and not ctx.failures
    return correct, attempted, failed, metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ocr_corrector_spark", "__init__.py")):
        print("perfbench: the ocr_corrector_spark package is not next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    t0 = time.perf_counter()
    correct, attempted, failed, metrics = run(args)
    wanted = PER_LAYER if args.trace else END_TO_END
    print(f"{'metric':34s} {'value':>14s} unit", flush=True)
    for name, unit in wanted:
        shown = f"{metrics[name]:14.4f}" if name in metrics else f"{'n/a':>14s}"
        print(f"{name:34s} {shown} {unit}")
    print(f"failed_ops_ratio = {failed}/{attempted} = {failed / max(attempted, 1):.4f}")
    print(f"run wall {time.perf_counter() - t0:.1f}s, correct={correct}")
    # A layer the workload does not run did no work: 0, shown as n/a above.
    result = {
        "correct": correct,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in wanted},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
