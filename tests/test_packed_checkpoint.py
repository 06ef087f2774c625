"""Semi-sorted PackedTable codec, semisort filter mode, checkpoint/resume."""

import shutil

import numpy as np
import pytest

from cuckoofilter_spark.kernels.cuckoo import CuckooFilter
from cuckoofilter_spark.kernels.packed import (
    DEC_TABLE, ENC_TABLE, N_ENTS, pack_buckets_13, sort_tags, unpack_buckets_13)


def test_perm_tables_roundtrip():
    # every codeword decodes to a non-decreasing tuple that encodes back
    assert DEC_TABLE.shape == (N_ENTS, 4)
    nib = DEC_TABLE.astype(np.uint32)
    assert (np.diff(nib, axis=1) >= 0).all()
    packed = nib[:, 0] | (nib[:, 1] << 4) | (nib[:, 2] << 8) | (nib[:, 3] << 12)
    assert np.array_equal(ENC_TABLE[packed], np.arange(N_ENTS, dtype=np.uint16))


def test_pack_unpack_13_roundtrip():
    rng = np.random.default_rng(7)
    table = rng.integers(0, 1 << 13, size=(1024, 4), dtype=np.uint16)
    # simulate empty slots
    table[rng.random(size=table.shape) < 0.3] = 0
    buf = pack_buckets_13(table)
    assert len(buf) == 1024 * 6
    out = unpack_buckets_13(buf, 1024)
    # canonical order: multiset per bucket preserved
    assert np.array_equal(np.sort(out, axis=1), np.sort(table, axis=1))
    # output is in nibble-sorted canonical order (packedtable.h SortTags)
    assert np.array_equal(out, sort_tags(out))
    # idempotent: packing the canonical form is stable
    assert pack_buckets_13(out) == buf


def test_semisort_filter_end_to_end():
    rng = np.random.default_rng(3)
    keys = np.unique(rng.integers(0, 1 << 60, 20000, dtype=np.uint64))
    f = CuckooFilter.create(24000, bits=13, seed=11, mode="semisort")
    f.add_many(keys)
    assert f.contains_many(keys).all()  # no false negatives
    blob = f.to_bytes()
    g = CuckooFilter.from_bytes(blob)
    assert g.mode == "semisort"
    assert g.contains_many(keys).all()
    # round-trip through the codec preserves answers on negatives too
    neg = rng.integers(0, 1 << 60, 50000, dtype=np.uint64)
    assert np.array_equal(f.contains_many(neg), g.contains_many(neg))
    # space: 6-byte buckets -> 12.x bits/item at this load, < unpacked 16
    assert g.size_in_bytes() == g.num_buckets * 6
    packed_bpi = 8.0 * g.size_in_bytes() / g.num_items
    # unpacked 13-bit tags would occupy 16-bit slots (ntags * 2 bytes, the
    # same layout bits=16 uses); bits=13 single-mode is rejected outright
    unpacked = CuckooFilter.create(24000, bits=16, seed=11)
    assert packed_bpi < 8.0 * unpacked.size_in_bytes() / max(1, g.num_items)
    with pytest.raises(ValueError):
        CuckooFilter.create(24000, bits=13, seed=11)  # needs semisort


def test_semisort_merge_associative():
    rng = np.random.default_rng(5)
    ks = [np.unique(rng.integers(0, 1 << 60, 3000, dtype=np.uint64)) for _ in range(3)]
    fs = []
    for k in ks:
        f = CuckooFilter(4096, 13, 99, 12000, mode="semisort")
        f.add_many(k)
        fs.append(f)
    m1 = CuckooFilter.merge(CuckooFilter.merge(fs[0], fs[1]), fs[2])
    m2 = CuckooFilter.merge(fs[0], CuckooFilter.merge(fs[1], fs[2]))
    assert m1.to_bytes() == m2.to_bytes()
    for k in ks:
        assert m1.contains_many(k).all()


def test_semisort_requires_13_bits():
    with pytest.raises(ValueError):
        CuckooFilter(1024, 12, 1, 100, mode="semisort")


@pytest.fixture
def ckpt_dir(tmp_path):
    d = str(tmp_path / "ckpt")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_checkpoint_build_and_resume(spark, ckpt_dir):
    from pyspark.sql import functions as F

    from cuckoofilter_spark.plans.checkpoint import (
        cuckoo_build_checkpointed, lineage_metrics)

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    cf1 = cuckoo_build_checkpointed(
        spark, li, "l_partkey", ckpt_dir, capacity=1000, bits=12, seed=7,
        num_shards=8)
    pos = li.select(F.col("l_partkey").alias("k")).distinct()
    from cuckoofilter_spark.sketch.api import contains_col
    assert pos.where(~contains_col(spark, cf1, "k")).count() == 0

    # resume: stage 1 must be skipped (source df is WRONG on purpose —
    # the checkpoint, not the source, must feed the rebuild)
    empty = li.where("l_partkey IS NULL")
    cf2 = cuckoo_build_checkpointed(
        spark, empty, "l_partkey", ckpt_dir, capacity=1000, bits=12, seed=7,
        num_shards=8)
    assert cf2.blobs == cf1.blobs  # bit-identical resume

    # parameter drift is refused (qf_merge seed-check semantics)
    with pytest.raises(ValueError, match="different parameters"):
        cuckoo_build_checkpointed(
            spark, li, "l_partkey", ckpt_dir, capacity=1000, bits=12, seed=8,
            num_shards=8)

    # lineage metrics exist per input partition
    lm = lineage_metrics(spark, ckpt_dir).collect()
    assert len(lm) >= 1
    assert all(r["payload_bytes"] > 0 for r in lm)
