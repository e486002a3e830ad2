#!/usr/bin/env python3
"""N→4N scaling rounds on this host, with engine CPU per row per layer.

    python scripts/scaling.py ROUNDS

N is a quarter of the cores this process may use.  A round runs the job
at N (pre), 4N and N (post), each in a fresh process (fresh JVM) on one
fixed ``gen_transcripts`` input, timing three plan prefixes into a noop
sink (``order_turns``, + ``with_extraction``, the full ``correct_pipeline``)
in wall time and engine CPU (``bench.subtree_cpu_seconds``), with capacity
probes (``bench.measure_capacity``) around the full run.  Gates and
formulas are those of the frozen 32-core record (BENCH/scaling_evidence.json).
Each round rewrites BENCH/scaling_local{N}_{4N}.json with all rounds so far.
"""

import contextlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent

STABILITY_TOL = 0.10
CAP_N_MIN_PER_WORKER = 2.6
CAP_RATIO_MIN = 2.5
TARGET_EFF = 0.8
N_CONVS = 20_000  # about 130k turns
SEED = 1
# a local[1] run takes about two minutes; one still running after this is hung
CHILD_TIMEOUT_S = 900
# layer -> (the timed prefix before it, the timed prefix that ends with it)
LAYERS = {"order": (None, "order"), "extract": ("order", "extract"),
          "detect_correct": ("extract", "full")}


def child(cpus: int) -> dict:
    """One timed run at local[cpus]; meant for a fresh process."""
    sys.path.insert(0, str(REPO))
    from bench import measure_capacity, subtree_cpu_seconds
    from ocr_corrector_spark.operators.extract import with_extraction
    from ocr_corrector_spark.operators.reassemble import order_turns
    from ocr_corrector_spark.plans.pipeline import correct_pipeline
    from ocr_corrector_spark.session import get_spark
    from ocr_corrector_spark.sources.transcripts import gen_transcripts

    spark = get_spark(app_name=f"scaling-{cpus}", cpus=cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    plans = {"order": order_turns,
             "extract": lambda d: with_extraction(order_turns(d)),
             "full": lambda d: correct_pipeline(d, spark)}
    df = gen_transcripts(spark, n_convs=N_CONVS, seed=SEED).repartition(128).persist()
    n_turns = df.count()
    wall, cpu = {}, {}

    def timed(name, frame=df):
        c0, t0 = subtree_cpu_seconds(), time.perf_counter()
        plans[name](frame).write.format("noop").mode("overwrite").save()
        wall[name] = round(time.perf_counter() - t0, 3)
        cpu[name] = round(subtree_cpu_seconds() - c0, 2)

    # warm-up on a disjoint seed; the timed full run below overwrites it
    timed("full", gen_transcripts(spark, n_convs=max(64, cpus * 8), seed=99)
          .repartition(cpus * 2))
    timed("order")
    timed("extract")
    cap_pre, burn_pre = measure_capacity(cpus, with_burn=True)
    timed("full")
    cap_post, burn_post = measure_capacity(cpus, with_burn=True)
    spark.stop()
    return {"cpus": cpus, "n_turns": n_turns, "wall_s": wall, "cpu_s": cpu,
            "thr": round(n_turns / wall["full"], 1), "probes": [cap_pre, cap_post],
            "burn_s": round((burn_pre + burn_post) / 2, 4)}


def run_child(cpus: int) -> dict:
    code = (f"import json, sys; sys.path.insert(0, {str(HERE)!r}); import scaling; "
            f"print(json.dumps(scaling.child({cpus})))")
    p = subprocess.Popen([sys.executable, "-c", code], text=True, stdout=subprocess.PIPE,
                         cwd=REPO, start_new_session=True)  # workers import from cwd
    try:
        out, _ = p.communicate(timeout=CHILD_TIMEOUT_S)
    finally:  # the child's session also holds its JVM
        with contextlib.suppress(ProcessLookupError):
            os.killpg(p.pid, signal.SIGKILL)
        p.wait(timeout=60)
    if p.returncode:
        raise RuntimeError(f"local[{cpus}] run exited with {p.returncode}")
    return json.loads([ln for ln in out.splitlines() if ln.startswith("{")][-1])


def measures(r: dict) -> tuple[float, float, float, float]:
    """(stability, min capacity at N, capacity ratio 4N/N, eff) of a round."""
    pre, post = r["thr_N_pre"], r["thr_N_post"]
    cap_n = min(r["cap_probes_N_pre"] + r["cap_probes_N_post"])
    cap_ratio = min(r["cap_probes_4N"]) / cap_n if cap_n else 0.0
    eff = r["thr_4N"] / (4 * ((pre + post) / 2))
    return abs(pre - post) / max(pre, post), cap_n, cap_ratio, eff


def gate_failures(r: dict, n: int) -> list[str]:
    """G1 N pre/post agree, G2 N was not starved, G3 4N got ~4x capacity."""
    stability, cap_n, cap_ratio, _ = measures(r)
    cap_n_min = CAP_N_MIN_PER_WORKER * n
    fails = []
    if stability > STABILITY_TOL:
        fails.append(f"G1 stability {stability:.3f} > {STABILITY_TOL}")
    if cap_n < cap_n_min:
        fails.append(f"G2 cap_N {cap_n:.1f} < {cap_n_min}")
    if cap_ratio < CAP_RATIO_MIN:
        fails.append(f"G3 cap_ratio {cap_ratio:.2f} < {CAP_RATIO_MIN}")
    return fails


def round_record(n: int, runs: dict, started: str) -> dict:
    pre, wide, post = runs["N_pre"], runs["4N"], runs["N_post"]
    r = {"seed": SEED, "started_utc": started, "finished_utc": _now(),
         "n_turns": pre["n_turns"], "thr_N_pre": pre["thr"], "thr_4N": wide["thr"],
         "thr_N_post": post["thr"], "cap_probes_N_pre": pre["probes"],
         "cap_probes_4N": wide["probes"], "cap_probes_N_post": post["probes"]}
    stability, _, cap_ratio, eff = measures(r)
    cpu_n = (pre["cpu_s"]["full"] + post["cpu_s"]["full"]) / 2
    wi_raw = round(wide["cpu_s"]["full"] / cpu_n, 3)
    hw = round(wide["burn_s"] / ((pre["burn_s"] + post["burn_s"]) / 2), 3)
    fails = gate_failures(r, n)
    r.update(stability=round(stability, 4), cap_ratio=round(cap_ratio, 3),
             host_probe_eff=round(cap_ratio / 4, 3), raw_efficiency=round(eff, 3),
             work_invariance_raw=wi_raw, hw_cpu_inflation=hw,
             work_invariance=round(wi_raw / hw, 3), gated=not fails,
             gate_failures=fails, layers=_layers(runs), runs=runs)
    return r


def _layers(runs: dict) -> dict:
    """Engine CPU µs per row of each layer at N (mean of pre, post), at 4N."""
    out = {}
    for layer, (lo, hi) in LAYERS.items():
        us = {k: 1e6 * (run["cpu_s"][hi] - run["cpu_s"].get(lo, 0.0)) / run["n_turns"]
              for k, run in runs.items()}
        at_n = (us["N_pre"] + us["N_post"]) / 2
        out[layer] = {"cpu_us_per_row_N": round(at_n, 2),
                      "cpu_us_per_row_4N": round(us["4N"], 2),
                      "ratio_4N_over_N": round(us["4N"] / at_n, 3) if at_n > 0 else None}
    return out


def med(vals):
    vals = [v for v in vals if v is not None]
    return round(statistics.median(vals), 3) if vals else None


def summarize(rounds: list[dict]) -> dict:
    gated = [r for r in rounds if r["gated"]]
    eff_gated = med(r["raw_efficiency"] for r in gated)
    paired = [(r["raw_efficiency"], r["cap_ratio"] / 4) for r in gated]
    return {
        "rounds_run": len(rounds), "n_gated": len(gated),
        "median_eff_gated": eff_gated, "target": TARGET_EFF,
        "median_eff_all": med(r["raw_efficiency"] for r in rounds),
        "meets_target": eff_gated is not None and eff_gated >= TARGET_EFF,
        "work_invariance_median_gated": med(r["work_invariance"] for r in gated),
        "host_eff_gated": med(h for _, h in paired),
        "eng_ge_host_gated": f"{sum(e >= h for e, h in paired)}/{len(gated)}",
        # over all rounds: the gates screen wall time, not CPU per row
        "layer_cpu_ratio_4N_over_N_all": {
            layer: med(r["layers"][layer]["ratio_4N_over_N"] for r in rounds if "layers" in r)
            for layer in LAYERS},
    }


def _now() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%S+00:00", time.gmtime())


def main() -> None:
    if len(sys.argv) != 2 or not sys.argv[1].isdigit():
        sys.exit("usage: python scripts/scaling.py ROUNDS")
    n = max(1, len(os.sched_getaffinity(0)) // 4)
    path = REPO / "BENCH" / f"scaling_local{n}_{4 * n}.json"
    rounds = json.loads(path.read_text())["rounds"] if path.exists() else []
    gate = {"stability_tol": STABILITY_TOL, "cap_n_min": CAP_N_MIN_PER_WORKER * n,
            "cap_ratio_min": CAP_RATIO_MIN}
    for _ in range(int(sys.argv[1])):
        started = _now()
        runs = {"N_pre": run_child(n), "4N": run_child(4 * n), "N_post": run_child(n)}
        rounds.append(round_record(n, runs, started))
        summary = {"generated_utc": _now(), "n_cores": n, "n4_cores": 4 * n,
                   "n_convs": N_CONVS, "gate": gate, **summarize(rounds)}
        path.write_text(json.dumps({**summary, "rounds": rounds}, indent=1))
        print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
