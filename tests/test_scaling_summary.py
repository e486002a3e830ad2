"""The N→4N gate and summary of scripts/scaling.py, checked against the
frozen 292-round record of the 32-core host (BENCH/scaling_evidence.json,
local[4]→local[16]).  Pure Python: no Spark session."""

import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "scripts"))

import scaling  # noqa: E402


@pytest.fixture(scope="module")
def evidence():
    with open(ROOT / "BENCH" / "scaling_evidence.json") as f:
        return json.load(f)


def test_gate_reproduces_every_recorded_round(evidence):
    n = evidence["n_cores"]
    rounds = evidence["rounds"]
    assert len(rounds) == 292
    for r in rounds:
        fails = scaling.gate_failures(r, n)
        assert fails == r["gate_failures"], r["started_utc"]
        assert (not fails) == r["gated"], r["started_utc"]
        assert round(scaling.measures(r)[3], 3) == r["raw_efficiency"]


def test_summary_reproduces_recorded_headline(evidence):
    s = scaling.summarize(evidence["rounds"])
    assert s["rounds_run"] == 292
    assert s["n_gated"] == evidence["n_gated"] == 58
    assert s["median_eff_gated"] == evidence["median_eff_gated"] == 0.695
    assert s["median_eff_all"] == evidence["median_eff_all"] == 0.654
    assert s["meets_target"] is False
    assert s["work_invariance_median_gated"] == 1.127
    assert s["work_invariance_median_gated"] == evidence["work_invariance"]["median_gated"]
    hc = evidence["host_ceiling"]
    assert s["host_eff_gated"] == hc["median_host_probe_eff_gated"] == 0.797
    assert s["eng_ge_host_gated"] == "%d/%d" % (hc["n_gated_engine_ge_host"], hc["n_gated"])
    assert s["eng_ge_host_gated"] == "9/58"
