"""BENCHMARK.json names exactly the metrics and workloads the harness
reports, within the limits of the benchmark file format."""

import json
import pathlib
import re

from perfbench.spec import END_TO_END, PER_LAYER, better
from perfbench.workloads import MIN_CYCLES, WARMUP_CYCLES, WORKLOADS

ROOT = pathlib.Path(__file__).resolve().parents[2]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_benchmark_json_matches_the_harness():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert set(WARMUP_CYCLES) == set(MIN_CYCLES) == set(WORKLOADS)
    for key, spec in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        got = {m["name"]: (m["unit"], m["better"]) for m in b[key]}
        assert got == {k: (u, better(k, u)) for k, u in spec.items()}


def test_benchmark_json_within_format_limits():
    b = _bench()
    assert len(json.dumps(b)) <= 64 * 1024
    assert 1 <= b["run_seconds"] <= 60 and isinstance(b["run_seconds"], int)
    assert b["command"][0] == "python3" and len(b["command"]) <= 32
    for p in b["paths"]:
        assert (ROOT / p).is_dir() and not p.startswith("/") and ".." not in p
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        assert "\n" not in w["why"]
    assert 1 <= len(b["end_to_end"]) <= 16 and 1 <= len(b["per_layer"]) <= 128
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("higher", "lower")
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert END_TO_END["setup_s"] == "s" and better("setup_s", "s") == "lower"
    assert better("ok_ops_frac", "ratio") == "higher"
    assert better("kernels.hll.add_many_keys_per_s", "keys/s") == "higher"
