"""Regression tests for the round-3 self-review findings: trailing
empty-doc reduceat truncation (minhash/simhash), tail-filter spurious
upsize + epsilon/seed round-trip, crate re-add no-op + seed identity,
shingle kick-overflow spill (no stored item ever dropped)."""
import numpy as np
import pytest

from cuckoofilter_spark.kernels.crate import CrateFilter
from cuckoofilter_spark.kernels.tail import TailFilter


def _hashes(n, lo=0):
    from cuckoofilter_spark.kernels.hashing import splitmix64

    return np.unique(splitmix64(np.arange(lo, lo + n, dtype=np.uint64)))


# -- signature UDFs: trailing empty doc must not truncate its neighbor --

def test_minhash_signature_unaffected_by_trailing_empty_doc(spark):
    from cuckoofilter_spark.ops.dedup import minhash_signatures

    text = "alpha beta gamma delta epsilon zeta"
    both = spark.createDataFrame(
        [("a", text), ("b", "x")], "doc string, text string").coalesce(1)
    alone = spark.createDataFrame([("a", text)], "doc string, text string")
    sig_both = {r["doc"]: r["sig"]
                for r in minhash_signatures(both, "doc", "text").collect()}
    sig_alone = minhash_signatures(alone, "doc", "text").collect()[0]["sig"]
    # doc b is shorter than the shingle window -> zero shingles; its
    # presence at the end of the Arrow batch must not change doc a
    assert sig_both["a"] == sig_alone


def test_simhash_signature_unaffected_by_trailing_empty_doc(spark):
    from cuckoofilter_spark.ops.dedup import simhash_signatures

    text = "the quick brown fox jumps over the lazy dog again and again"
    both = spark.createDataFrame(
        [("a", text), ("b", "")], "doc string, text string").coalesce(1)
    alone = spark.createDataFrame([("a", text)], "doc string, text string")
    sim_both = {r["doc"]: r["simhash"]
                for r in simhash_signatures(both, "doc", "text").collect()}
    sim_alone = simhash_signatures(alone, "doc", "text").collect()[0]["simhash"]
    assert sim_both["a"] == sim_alone


# -- tail filter ------------------------------------------------------------

def test_tail_duplicate_adds_do_not_upsize():
    f = TailFilter(lgm=5, epsilon=1e-3)
    keys = _hashes(64)
    assert keys.size == 64
    f.add_many(keys)
    ndv0, epoch0 = f.ndv, f.epoch
    for _ in range(5):  # ndv sits exactly on a power of two
        assert f.add_many(keys) == 0
    assert (f.ndv, f.epoch) == (ndv0, epoch0)
    assert f.contains_many(keys).all()


def test_tail_epsilon_and_seed_survive_roundtrip():
    f = TailFilter(lgm=6, epsilon=1e-3, seed=0xABCD)
    f.add_many(_hashes(500))
    g = TailFilter.from_bytes(f.to_bytes())
    assert g.epsilon == 1e-3          # v1 round-trip loosened to 2^-tb
    assert g.seed == 0xABCD
    assert TailFilter.peek_seed(f.to_bytes()) == 0xABCD
    assert np.array_equal(g.pairs, f.pairs)


def test_tail_v1_blob_still_deserializes():
    import struct

    from cuckoofilter_spark.kernels import tail as tail_mod

    f = TailFilter(lgm=6, epsilon=2.0 ** -9, seed=0)
    f.add_many(_hashes(300))
    blob = f.to_bytes()
    fields = struct.unpack_from(tail_mod._FMT, blob)
    v1_hdr = struct.pack(tail_mod._FMT_V1, fields[0], 1, *fields[2:9])
    v1_blob = v1_hdr + blob[tail_mod._HDR_SIZE:]
    g = TailFilter.from_bytes(v1_blob)
    assert np.array_equal(g.pairs, f.pairs)
    assert g.seed == 0 and g.epsilon == 2.0 ** -9


def test_tail_merge_rejects_seed_mismatch():
    a = TailFilter(lgm=5, epsilon=1e-3, seed=1)
    b = TailFilter(lgm=5, epsilon=1e-3, seed=2)
    a.add_many(_hashes(10))
    b.add_many(_hashes(10, lo=100))
    with pytest.raises(ValueError, match="incompatible"):
        TailFilter.merge(a, b)


# -- crate filter -----------------------------------------------------------

def test_crate_readd_is_noop():
    keys = _hashes(10_000)
    f = CrateFilter(add_count=keys.size, seed=7)
    f.add_many(keys)
    ndv0, nt0, ns0 = f.ndv, f.triples.size, f.spare.size
    assert f.add_many(keys) == 0
    assert (f.ndv, f.triples.size, f.spare.size) == (ndv0, nt0, ns0)
    assert f.contains_many(keys).all()
    assert f.ndv == keys.size


def test_crate_seed_roundtrip_and_merge_guard():
    keys = _hashes(5_000)
    a = CrateFilter(add_count=keys.size, seed=11)
    a.add_many(keys)
    g = CrateFilter.from_bytes(a.to_bytes())
    assert g.seed == 11
    assert CrateFilter.peek_seed(a.to_bytes()) == 11
    assert np.array_equal(g.triples, a.triples)
    b = CrateFilter(add_count=keys.size, seed=12)
    b.add_many(_hashes(5_000, lo=10_000))
    with pytest.raises(ValueError, match="incompatible"):
        CrateFilter.merge(a, b)


def test_crate_v1_blob_still_deserializes():
    import struct

    from cuckoofilter_spark.kernels import crate as crate_mod

    keys = _hashes(3_000)
    f = CrateFilter(add_count=keys.size, seed=0)
    f.add_many(keys)
    blob = f.to_bytes()
    fields = struct.unpack_from(crate_mod._FMT, blob)
    v1_hdr = struct.pack(crate_mod._FMT_V1, fields[0], 1, *fields[2:7])
    v1_blob = v1_hdr + blob[crate_mod._HDR_SIZE:]
    g = CrateFilter.from_bytes(v1_blob)
    assert np.array_equal(g.triples, f.triples)
    assert g.seed == 0


# -- shingle kick-overflow spill -------------------------------------------

def test_shingle_kick_overflow_spills_not_drops(monkeypatch):
    from cuckoofilter_spark.kernels import shingle as shingle_mod
    from cuckoofilter_spark.kernels.shingle import MAX_LOAD, ShingleFilter

    monkeypatch.setattr(shingle_mod, "MAX_KICKS", 2)
    f = ShingleFilter(10, 12, 0x5EED)  # m=1024
    cap = int(MAX_LOAD * 2 * f.m)
    keys = _hashes(3 * cap)[:cap]
    n = f.add_many(keys, raise_on_full=False)
    assert n == keys.size
    assert f.spill.size > 0, "tiny kick cap must force spills"
    # the old code dropped evicted victims here -> false negatives
    assert f.contains_many(keys).all()
    # spill survives serialization and the merge rebuild
    g = ShingleFilter.from_bytes(f.to_bytes())
    assert np.array_equal(g.spill, f.spill)
    assert g.contains_many(keys).all()
    monkeypatch.setattr(shingle_mod, "MAX_KICKS", 5000)
    empty = ShingleFilter(10, 12, 0x5EED)
    m = ShingleFilter.merge(f, empty)
    assert m.contains_many(keys).all()
    # deleting a spilled item works and removes exactly one entry
    idx, fp = f._index_fp(keys)
    enc = (idx.astype(np.uint64) << np.uint64(16)) | fp.astype(np.uint64)
    spilled = keys[np.isin(enc, f.spill)]
    if spilled.size:
        before = f.spill.size
        assert f.delete_many(spilled[:1]).all()
        assert f.spill.size == before - 1


def test_shingle_sharded_probe_sees_spill(spark, monkeypatch):
    from cuckoofilter_spark.kernels import shingle as shingle_mod
    from cuckoofilter_spark.sketch.api import contains_col
    from cuckoofilter_spark.sketch.membership import ShardedFilter

    monkeypatch.setattr(shingle_mod, "MAX_KICKS", 2)
    from cuckoofilter_spark.kernels.shingle import MAX_LOAD, ShingleFilter

    f = ShingleFilter(10, 12, 0x5EED)
    cap = int(MAX_LOAD * 2 * f.m)
    # ShardedFilter(num_shards=1) routes every key to shard 0
    keys = _hashes(3 * cap)[:cap]
    f.add_many(keys, raise_on_full=False)
    assert f.spill.size > 0
    sharded = ShardedFilter(ShingleFilter, [f.to_bytes()], 0x5EED)
    df = spark.createDataFrame(
        [(int(k),) for k in keys.view(np.int64)[:200]], "k long")
    hits = df.where(contains_col(spark, sharded, "k")).count()
    assert hits == 200

def test_shingle_spill_multiset_delete():
    """Two spilled copies of one item: delete removes ONE copy per call
    (the spill is a multiset, matching the table's duplicate storage)."""
    from cuckoofilter_spark.kernels.shingle import ShingleFilter

    f = ShingleFilter(8, 12, 1)
    k = np.array([12345], dtype=np.uint64)
    idx, fp = f._index_fp(k)
    enc = (idx.astype(np.uint64) << np.uint64(16)) | fp.astype(np.uint64)
    f.spill = np.sort(np.repeat(enc, 2))
    assert f.contains_many(k).all()
    assert f.delete_many(k).all()
    assert f.spill.size == 1 and f.contains_many(k).all()
    assert f.delete_many(k).all()
    assert f.spill.size == 0 and not f.contains_many(k).any()
    # round-trip keeps duplicate spill copies
    f.spill = np.sort(np.repeat(enc, 3))
    g = ShingleFilter.from_bytes(f.to_bytes())
    assert np.array_equal(g.spill, f.spill)


def test_shingle_v1_blob_still_deserializes():
    import struct

    from cuckoofilter_spark.kernels import shingle as shingle_mod
    from cuckoofilter_spark.kernels.shingle import ShingleFilter

    keys = _hashes(5_000)
    f = ShingleFilter.create(keys.size, seed=0x5EED)
    f.add_many(keys)
    assert f.spill.size == 0
    blob = f.to_bytes()
    fields = struct.unpack_from(shingle_mod._FMT, blob)
    v1 = struct.pack(shingle_mod._FMT, fields[0], 1, *fields[2:]) \
        + blob[shingle_mod._HDR_SIZE:]
    g = ShingleFilter.from_bytes(v1)
    assert np.array_equal(g.tables, f.tables) and g.filled == f.filled
