"""ShardedFilter — the one sharded container — and the one broadcast
probe helper (``membership._blob_method_col`` + ``_cached_probe``)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuckoofilter_spark.kernels.crate import CrateFilter
from cuckoofilter_spark.kernels.cuckoo import CuckooFilter
from cuckoofilter_spark.kernels.hashing import simple_mix_split
from cuckoofilter_spark.kernels.shingle import ShingleFilter
from cuckoofilter_spark.kernels.tail import TailFilter
from cuckoofilter_spark.kernels.xor import XorFilter
from cuckoofilter_spark.sketch import membership as mem
from cuckoofilter_spark.sketch.membership import ShardedFilter

KEYS = np.arange(1, 200, dtype=np.uint64)


def _kernels(seed: int) -> dict:
    """One small kernel per sharded kind, built the way the sharded
    builds build a shard (tail/crate take pre-mixed keys)."""
    h = simple_mix_split(KEYS, seed)
    c = CuckooFilter.create(256, bits=12, seed=seed)
    c.add_many(KEYS)
    s = ShingleFilter.create(256, slot_bits=12, seed=seed)
    s.add_many(KEYS)
    t = TailFilter(lgm=5, epsilon=2.0 ** -12, seed=seed)
    t.add_many(h)
    r = CrateFilter(add_count=256, seed=seed)
    r.add_many(h)
    x = XorFilter.build(KEYS, fp_bits=8, seed=seed)
    return {"cuckoo": c, "shingle": s, "tail": t, "crate": r, "xor": x}


def test_premixed_blob_seed_refused():
    """Tail/crate shards hold pre-hashed content: wrapping them under a
    different seed would probe another hash domain, so the container
    refuses and names both seeds."""
    kernels = _kernels(11)
    for kind in ("tail", "crate"):
        cls, blob = type(kernels[kind]), kernels[kind].to_bytes()
        with pytest.raises(ValueError, match=r"seed 11.*seed 12"):
            ShardedFilter(cls, [blob], 12)
        assert ShardedFilter(cls, [blob], 11).num_items() == KEYS.size


def test_store_ids_unchanged_for_existing_kinds(tmp_path):
    """Manifest kind names (and so store ids) of the five pre-existing
    sharded kinds are pinned: stores written before the container merge
    must keep opening under the same content id."""
    from cuckoofilter_spark.sketch.store import ShardBlobStore

    golden = {
        "cuckoo": "dcd1b458f6ac6290a4209c28f7a7b24d75a23439855cc36e300bcb3f472c033d",
        "shingle": "3a7e4cb0f27dd19181e254ee475f0200eb5b5cc734774add11b34f2e8ae1700d",
        "tail": "3d31e07f70c3b35624fee01d033575c830814d89eab66001572f071c6b4c6f32",
        "crate": "6836d46d4f6ed412f31f0d3efa3ffef88a52792a4f244bfc7928d7c849cbcf88",
        "xor": "ffe6a3d5b5cd880c0830987fab57f2674cf66a0d3fa210d97d6a792af9d86ffa",
    }
    for kind, k in _kernels(7).items():
        filt = ShardedFilter(type(k), [k.to_bytes()], 7)
        assert filt.kind == kind
        st = ShardBlobStore.write(filt, str(tmp_path / kind))
        assert st.store_id == golden[kind], kind
        assert ShardBlobStore.open(str(tmp_path / kind)).kind == kind


def test_delete_refused_without_kernel_delete():
    for kind in ("tail", "crate", "xor"):
        k = _kernels(7)[kind]
        filt = ShardedFilter(type(k), [k.to_bytes()], 7)
        with pytest.raises(TypeError, match="do not support delete"):
            filt.delete_u64(KEYS[:3])


class _FakeBroadcast:
    def __init__(self, value, path=None):
        self.value = value
        if path is not None:
            self._path = path


def test_cached_probe_builds_once_per_broadcast_path(monkeypatch):
    monkeypatch.setattr(mem, "_PROBE_CACHE", {})
    builds = []

    def build(v):
        builds.append(v)
        return object()

    bc = _FakeBroadcast("blob-a", path="/bc/a")
    got = {id(mem._cached_probe(bc, build)) for _ in range(5)}
    assert len(got) == 1 and builds == ["blob-a"]

    # no _path (e.g. encrypted broadcasts): no safe key, build every call
    bare = _FakeBroadcast("blob-b")
    for _ in range(3):
        mem._cached_probe(bare, build)
    assert builds == ["blob-a"] + ["blob-b"] * 3


def test_cached_probe_evicts_at_cap(monkeypatch):
    monkeypatch.setattr(mem, "_PROBE_CACHE", {})
    builds = []

    def build(v):
        builds.append(v)
        return v

    cap = mem._PROBE_CACHE_MAX
    for i in range(cap):
        mem._cached_probe(_FakeBroadcast(i, path=f"/bc/{i}"), build)
    assert len(mem._PROBE_CACHE) == cap
    mem._cached_probe(_FakeBroadcast(cap, path=f"/bc/{cap}"), build)
    assert len(mem._PROBE_CACHE) == cap  # oldest entry evicted
    assert "/bc/0" not in mem._PROBE_CACHE
    mem._cached_probe(_FakeBroadcast(0, path="/bc/0"), build)  # rebuilt
    assert builds == list(range(cap + 1)) + [0]


def test_gcs_probe_goes_through_the_cached_helper(spark, monkeypatch):
    """GCS used to deserialize its blob on every task; it now takes the
    one broadcast helper (worker cache included) like every family."""
    from cuckoofilter_spark.kernels.gcs import GcsFilter
    from cuckoofilter_spark.sketch.api import contains_col

    seen = []
    helper = mem._blob_method_col

    def spy(spark_, obj, col, *a, **kw):
        seen.append(type(obj).__name__)
        return helper(spark_, obj, col, *a, **kw)

    monkeypatch.setattr(mem, "_blob_method_col", spy)
    filt = GcsFilter.build(KEYS, seed=7)
    df = spark.range(1, 400).select(F.col("id").alias("k"))
    hits = {r["k"] for r in df.where(contains_col(spark, filt, "k")).collect()}
    assert seen == ["GcsFilter"]
    assert set(range(1, 200)) <= hits


def test_cuckoo_jvm_delete_refreshes_every_probe(spark):
    """delete_u64 drops every structure derived from the blobs at once:
    after a delete, the JVM semi-join, the JVM flag and the broadcast
    probe all agree with contains_u64 — even when the JVM mirror tables
    were memoized before the delete."""
    from cuckoofilter_spark.sketch.api import contains_col
    from cuckoofilter_spark.sketch.membership import (
        cuckoo_jvm_build, cuckoo_jvm_filter, cuckoo_jvm_flag)

    keys = spark.range(0, 2000).select(F.col("id").alias("k"))
    filt = cuckoo_jvm_build(keys, "k", capacity=2000, bits=16, seed=7,
                            num_shards=4)
    probe = spark.range(0, 3000).select(F.col("id").alias("k"))
    assert cuckoo_jvm_filter(spark, filt, probe, "k").count() >= 2000

    gone = np.arange(0, 500, dtype=np.uint64)
    assert filt.delete_u64(gone).all()
    ids = np.arange(0, 3000, dtype=np.int64)
    want = {int(k) for k in ids[filt.contains_u64(ids.view(np.uint64))]}
    assert not want & set(range(500))

    semi = {r["k"] for r in cuckoo_jvm_filter(spark, filt, probe, "k").collect()}
    flag = {r["k"] for r in cuckoo_jvm_flag(spark, filt, probe, "k")
            .where("is_member").collect()}
    bcast = {r["k"] for r in probe.where(contains_col(spark, filt, "k")).collect()}
    assert semi == flag == bcast == want
