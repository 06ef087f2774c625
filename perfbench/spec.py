"""Metric names and units the benchmark reports. BENCHMARK.json lists
the same names (checked by perfbench/tests)."""

from __future__ import annotations

from perfbench.measure import LEDGER_KEYS
from perfbench.workloads import CURATION, PHASES

# every workload reports every metric: these are defined per cycle of
# the workload's fixed call list (see README.md)
END_TO_END = {
    "setup_s": "s",
    "cycle_cpu_s": "s",
    "peak_rss_mb": "MB",
    "ok_ops_frac": "ratio",
}


def _per_layer() -> dict:
    spec = {"session.start_s": "s", "sources.gen_s": "s"}
    for ph in PHASES:
        for k in LEDGER_KEYS:
            if k == "agg_build_s" and ph != "ops":
                continue  # only the curation queries build hash aggregates
            if ph == "stream" and k.startswith(("shuffle", "fetch")):
                continue  # stream updates exchange nothing
            spec[f"{ph}.{k}"] = ("count" if k in ("jobs", "stages", "tasks")
                                 else "bytes" if k.endswith("bytes") else "s")
        spec[f"{ph}.spark_s"] = "s"
        spec[f"{ph}.driver_s"] = "s"
    for k in ("cuckoo", "hll", "cms", "kll"):
        spec[f"build.{k}_s"] = "s"
    for k in ("broadcast", "sharded", "jvm"):
        spec[f"probe.{k}_s"] = "s"
    for k in ("hll", "cms", "kll"):
        spec[f"stream.update_{k}_s"] = "s"
    spec["stream.load_s"] = "s"
    for q in CURATION:
        spec[f"ops.{q}_s"] = "s"
    spec["kernels.cuckoo.add_many_keys_per_s"] = "keys/s"
    spec["kernels.cuckoo.contains_many_keys_per_s"] = "keys/s"
    for k in ("hll", "cms", "kll"):
        spec[f"kernels.{k}.add_many_keys_per_s"] = "keys/s"
        for op in ("merge", "to_bytes", "from_bytes"):
            spec[f"kernels.{k}.{op}_s"] = "s"
    spec.update({
        "cf.bits_per_item": "bits",
        "cf.load_factor": "ratio",
        "hll.rel_err": "ratio",
        "cms.overcount_over_bound": "ratio",
        "kll.rank_err": "ratio",
        "probe.fpr": "ratio",
        "probe.fpr_over_bound": "ratio",
        "probe.filter_bytes": "bytes",
        "stream.state_bytes": "bytes",
        "jvm.peak_rss_mb": "MB",
        "trace.cycle_s": "s",
        "trace.cycle_cpu_s": "s",
    })
    return spec


PER_LAYER = _per_layer()


def better(name: str, unit: str) -> str:
    """Direction in which a metric improves."""
    higher = unit.endswith("/s") or name in ("ok_ops_frac", "cf.load_factor")
    return "higher" if higher else "lower"
