#!/usr/bin/env python3
"""Refresh the committed per-query baseline table from one or more full
bench runs (`python bench.py > run.json`, repeated).

Protocol (BENCH/BASELINE.md): each bench run already reports min-of-5
per query after a warm rep; across runs this script takes the PER-QUERY
MIN — the repo's established min-of-N convention for a shared host whose
capacity swings on a minutes timescale (a sporadic multi-second stall
inflates a query in one run but not the others; the minimum is the
engine's demonstrated cost in that window).  Flagship metadata (reps,
probes, degraded flag, turns/sec) comes from the LAST run whose own
degraded-window marker is clear; every contributing run's headline and
probe range is recorded next to the table so the merge is auditable.

Usage: python scripts/refresh_baseline.py run1.json run2.json ...
Rewrites bench_4N_full inside BENCH/scaling_evidence.json and
regenerates BENCH/BASELINE.md via scripts/scaling.py's writer.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from scaling import ARTIFACT, write_baseline_md  # noqa: E402


def load_run(path: str) -> dict:
    """Accept either a full-report file (SPARK_GRAFT_BENCH_OUT /
    BENCH/last_bench.json — preferred, carries the probe provenance) or a
    captured stdout whose LAST JSON line is bench's compact summary."""
    with open(path) as f:
        text = f.read().strip()
    try:
        return json.loads(text)
    except json.JSONDecodeError:
        lines = [l for l in text.splitlines() if l.startswith("{")]
        return json.loads(lines[-1])


def main() -> None:
    runs = [load_run(p) for p in sys.argv[1:]]
    if not runs:
        sys.exit("usage: refresh_baseline.py bench1.json [bench2.json ...]")
    clean = [r for r in runs if not r.get("degraded_window")]
    base = (clean or runs)[-1]
    merged = dict(base)
    queries: dict[str, float] = {}
    for r in runs:
        for k, v in r.get("queries", {}).items():
            queries[k] = min(queries.get(k, v), v)
    # flagship entries live in queries{} too — min them the same way
    merged["queries"] = queries
    merged["value"] = round(sum(queries.values()), 3)
    n_turns = merged.get("n_turns")
    if n_turns and queries.get("flagship_correct"):
        merged["corrected_turns_per_sec"] = round(
            n_turns / queries["flagship_correct"], 1
        )
    merged["baseline_runs"] = [
        {
            "flagship_correct": r.get("queries", {}).get("flagship_correct"),
            "degraded_window": r.get("degraded_window"),
            "hw_capacity_probes": r.get("hw_capacity_probes"),
        }
        for r in runs
    ]
    with open(ARTIFACT) as f:
        summary = json.load(f)
    summary["bench_4N_full"] = merged
    summary["companion_note"] = (
        f"The per-query table is the per-query MIN across {len(runs)} full "
        "bench runs at driver-default settings (local[32], sf0.1, mult 12 — "
        "comparable to the driver's BENCH_rNN.json), taken back-to-back in "
        "the same window; each run is itself min-of-5 after a warm rep, and "
        "every contributing run's flagship headline, probes, and "
        "degraded-window marker are recorded in bench_4N_full.baseline_runs. "
        "Round-2 companion artifacts (BENCH/scaling_evidence_local8_32.json, "
        "BENCH/SCALING_DIAGNOSIS.md) remain valid: the canonical "
        "local[8]->local[32] pair is hardware-capped near 0.60 by the host's "
        "own burn-probe scaling."
    )
    with open(ARTIFACT, "w") as f:
        json.dump(summary, f, indent=1)
    write_baseline_md(summary)
    print(
        json.dumps(
            {
                "n_runs": len(runs),
                "n_queries": len(queries),
                "flagship_correct": queries.get("flagship_correct"),
                "suite_sum_sec": merged["value"],
            }
        )
    )


if __name__ == "__main__":
    main()
