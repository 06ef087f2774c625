"""Distributed sharded-filter builds and membership probes.

The cuckoo filter is not loss-free under arbitrary merges (unlike
Bloom), so the distributed build does NOT use the generic partial-merge
protocol. Instead it uses the distribution insight the reference lacks
(it is single-threaded, SURVEY.md §3.4): **shard by key**.

- ``shard_of(key) = xxhash64(key) & (num_shards - 1)`` is a pure key
  function (bit-exact between numpy and Spark's ``F.xxhash64``, so the
  route can be computed JVM-side), so both candidate buckets of a key
  live in the same shard's private table and kick chains never cross
  shards.
- Build = ONE shuffle: ``groupBy(shard).applyInPandas`` where each task
  np.unique-dedupes its keys (global dedup is free because sharding is
  by key) and bulk-inserts into a private numpy table sized
  ``capacity / num_shards``. Output: one ``(shard, blob)`` row each.
- The assembled ``ShardedFilter`` holds the blobs — one container for
  every sharded family (cuckoo, cuckoo_jvm, shingle, tail, crate, xor);
  probes broadcast it once per executor and answer Arrow batches with
  pure numpy gathers (the reference's batched ``Contain64``
  (cuckoo-batch-prefetch.h:109-139) is subsumed by Arrow batching).

At 10^12 keys: num_shards ~ a few thousand keeps each shard's keys and
table inside one task's memory; the single shuffle is the same volume a
``distinct()`` would pay, and no driver collect ever carries row data —
only num_shards blobs.

Semi/anti joins: ``approx_semi_join`` filters a fact table by an
approximate member set — the classic Bloom-join pre-filter; exactness
(no false positives) can be restored by chaining a real join on the
survivors, which is then cheap because the filter already dropped the
bulk (the reference's Contain is exactly this primitive, SURVEY §2.6).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from ..kernels.cuckoo import CuckooFilter
from ..kernels.hashing import U64, simple_mix_split, xxhash64_long
from .udaf import keys_to_u64

_CHUNK = 1 << 18  # all kernels chunked: sandbox DRAM bandwidth saturates fast


def shard_of(keys_u64: np.ndarray, num_shards: int) -> np.ndarray:
    """Shard route of a key — XXH64 low bits, BIT-EXACT to the JVM
    expression ``shard_col`` below (round 4: was splitmix64, which only
    Python could evaluate; xxhash64 lets the shard-partitioned probe
    compute routing in whole-stage codegen). Decorrelated from the
    fingerprint domain (simple_mix_split) by construction."""
    return (xxhash64_long(keys_u64) & U64(num_shards - 1)).astype(np.int64)


def shard_col(col, num_shards: int) -> Column:
    """JVM-side twin of ``shard_of``: F.xxhash64 over the long key,
    masked to the shard count — whole-stage codegen, no Python.
    Bit-exactness is pinned by tests/test_round4.py."""
    c = F.col(col) if isinstance(col, str) else col
    # NULL routes like key 0: keys_to_u64 normalizes NULL to 0 when a
    # nullable-int batch reaches it (and refuses float64 batches), so
    # every delivery must agree on the NULL shard — without this a
    # NULL row would hash-exchange to xxhash64(seed-only)'s shard and
    # be probed against the wrong blob
    return (F.xxhash64(F.coalesce(c.cast("long"), F.lit(0).cast("long")))
            .bitwiseAND(F.lit(num_shards - 1)).cast("int"))


def shard_groups(keys: np.ndarray, num_shards: int):
    """Yield ``(shard, row indices)`` for each shard present in
    ``keys``: ONE stable argsort routes a whole batch (a boolean mask
    per shard would rescan it num_shards times), and rows keep their
    input order within a shard."""
    sh = shard_of(keys, num_shards)
    order = np.argsort(sh, kind="stable")
    bounds = np.searchsorted(sh[order], np.arange(num_shards + 1))
    for s in np.flatnonzero(bounds[1:] > bounds[:-1]):
        yield int(s), order[bounds[s]:bounds[s + 1]]


def _shard_kinds() -> dict:
    """Kernel class per sharded-filter kind — the name a blob store's
    manifest records and the cogroup probe ships. Fixed strings:
    stores written under them must keep opening."""
    from ..kernels.crate import CrateFilter
    from ..kernels.cuckoo import JvmCuckooFilter
    from ..kernels.shingle import ShingleFilter
    from ..kernels.tail import TailFilter
    from ..kernels.xor import XorFilter

    return {"cuckoo": CuckooFilter, "cuckoo_jvm": JvmCuckooFilter,
            "shingle": ShingleFilter, "tail": TailFilter,
            "crate": CrateFilter, "xor": XorFilter}


def _kernel_keys(kernel_cls, keys: np.ndarray, seed: int) -> np.ndarray:
    """Keys as ``kernel_cls`` takes them: ``simple_mix_split(key,
    seed)`` for kernels over pre-hashed input (``PREMIX_KEYS``: tail,
    crate), the raw keys otherwise. Every build and probe path goes
    through here; sharding always stays on the raw key."""
    return simple_mix_split(keys, seed) if kernel_cls.PREMIX_KEYS else keys


def _check_blob_seeds(kernel_cls, blobs: list[bytes], seed: int) -> None:
    """Shard blobs must agree with the wrapper's probe seed — the blobs
    hold PRE-HASHED content, so a mismatched seed probes a different
    hash domain and silently returns garbage. Header-peek only (no
    decode); seed 0 = unrecorded legacy blob, accepted."""
    for b in blobs:
        s = kernel_cls.peek_seed(b)
        if s and s != seed:
            raise ValueError(
                f"shard blob hashed under seed {s}, probe seed {seed}")


class _FlatProbe:
    """One-pass probe across all shards of a sharded cuckoo filter.

    The shard tables are concatenated into one array with per-shard row
    offsets, so a probe batch costs ONE hash pass + two gathers total —
    not two gathers *per shard* behind boolean masks (the round-1 path
    paid 32 masked sub-batches per Arrow batch and ran 4.5x slower than
    an unsharded probe). This is the distributed analogue of the
    reference's batched Contain64 (cuckoo-batch-prefetch.h:109-139):
    amortize per-call overhead by keeping the whole batch in flight.
    """

    def __init__(self, blobs: list[bytes], kernel_cls=CuckooFilter):
        filters = [kernel_cls.from_bytes(b) for b in blobs]
        f0 = filters[0]
        if any(f._params()[1:] != f0._params()[1:] for f in filters):
            raise ValueError("shards disagree on (bits, seed, mode, stable)")
        self.kernel_cls = kernel_cls
        self.bits, self.seed = f0.bits, f0.seed
        self.stable = f0.stable
        self.num_shards = len(filters)
        self.nb = np.array([f.num_buckets for f in filters], dtype=np.uint64)
        self.offsets = np.zeros(self.num_shards, dtype=np.int64)
        np.cumsum([f.num_buckets for f in filters[:-1]], out=self.offsets[1:])
        self.table = np.vstack([f.table for f in filters])
        self.vict_used = np.array([f.victim_used for f in filters], dtype=bool)
        self.vict_index = np.array([f.victim_index for f in filters], dtype=np.int64)
        self.vict_tag = np.array([f.victim_tag for f in filters],
                                 dtype=self.table.dtype)
        self.any_victim = bool(self.vict_used.any())
        self.tag_mask = U64((1 << self.bits) - 1)

    def _contains_chunk(self, keys: np.ndarray) -> np.ndarray:
        from ..kernels.cuckoo import KICK_CONST

        sh = shard_of(keys, self.num_shards)
        nb = self.nb[sh]
        h = self.kernel_cls.key_hash64(keys, self.seed)
        if self.stable:
            # cuckoofilter_stable.h:48-102 with per-key bucket counts
            i1 = ((h & U64(0xFFFFFFFF)) * nb) >> U64(32)
            tag = (h >> U64(32)) & self.tag_mask
            tag += (tag == 0)
            th = tag * U64(0xC4CEB9FE1A85EC53)
            r = ((((th & U64(0xFFFFFFFF)) * (nb >> U64(1))) >> U64(32))
                 << U64(1)) + U64(1)
            i2 = (nb - i1 - r).view(np.int64)
            neg = i2 < 0
            i2[neg] += nb[neg].view(np.int64)
            i1 = i1.view(np.int64)
        else:
            i1 = ((h >> U64(32)) & (nb - U64(1))).astype(np.int64)
            tag = h & self.tag_mask
            tag += (tag == 0)
            i2 = ((i1.view(np.uint64) ^ (tag * KICK_CONST))
                  & (nb - U64(1))).astype(np.int64)
        t = tag.astype(self.table.dtype)[:, None]
        off = self.offsets[sh]
        found = ((self.table[off + i1] == t).any(axis=1)
                 | (self.table[off + i2] == t).any(axis=1))
        if self.any_victim:
            vu = self.vict_used[sh]
            found |= (vu & (t[:, 0] == self.vict_tag[sh])
                      & ((i1 == self.vict_index[sh]) | (i2 == self.vict_index[sh])))
        return found

    def contains_u64(self, keys: np.ndarray) -> np.ndarray:
        if keys.size <= _CHUNK:
            return self._contains_chunk(keys)
        out = np.empty(keys.size, dtype=bool)
        for lo in range(0, keys.size, _CHUNK):
            out[lo:lo + _CHUNK] = self._contains_chunk(keys[lo:lo + _CHUNK])
        return out


class _ShingleFlatProbe(_FlatProbe):
    """One-pass probe across shingle shards: per-shard A|B tables are
    concatenated into one flat array with per-shard offsets (same trick
    as _FlatProbe), so an Arrow batch costs one hash pass + four
    gathers."""

    def __init__(self, blobs: list[bytes], kernel_cls):
        from ..kernels.shingle import _PAD

        filters = [kernel_cls.from_bytes(b) for b in blobs]
        f0 = filters[0]
        if any(f._params()[1:] != f0._params()[1:] for f in filters):
            raise ValueError("shards disagree on (slot_bits, seed)")
        self.num_shards = len(filters)
        self.fp_bits = f0.fp_bits
        self.seed = f0.seed
        self.fp_hash = f0.fp_hash
        self.m = np.array([f.m for f in filters], dtype=np.uint64)
        span = np.array([2 * (f.m + _PAD) for f in filters], dtype=np.int64)
        self.half = np.array([f.m + _PAD for f in filters], dtype=np.int64)
        self.offsets = np.zeros(self.num_shards, dtype=np.int64)
        np.cumsum(span[:-1], out=self.offsets[1:])
        self.flat = np.concatenate([f.tables.reshape(-1) for f in filters])
        # per-shard kick-overflow spill lists (kernel side list; rare)
        self.spills = [f.spill for f in filters]
        self.any_spill = any(s.size for s in self.spills)

    def _contains_chunk(self, keys: np.ndarray) -> np.ndarray:
        sh = shard_of(keys, self.num_shards)
        m = self.m[sh]
        h = simple_mix_split(keys, self.seed)
        idx = ((h >> U64(self.fp_bits)) & (m - U64(1))).astype(np.int64)
        fp = (h & U64((1 << self.fp_bits) - 1)).astype(np.uint16)
        fp = fp + (fp == 0)
        idx2 = ((idx.astype(np.uint64)
                 ^ ((self.fp_hash * fp.astype(np.uint64)) >> U64(self.fp_bits)))
                & (m - U64(1))).astype(np.int64)
        a = self.offsets[sh] + idx
        b = self.offsets[sh] + self.half[sh] + idx2
        v0 = (fp.astype(np.uint16) << 1)
        v1 = v0 | 1
        res = ((self.flat[a] == v0) | (self.flat[a + 1] == v1)
               | (self.flat[b] == v0) | (self.flat[b + 1] == v1))
        if self.any_spill:
            from ..kernels.hashing import sorted_member

            enc = (idx.astype(np.uint64) << U64(16)) | fp.astype(np.uint64)
            for s, sp in enumerate(self.spills):
                if not sp.size:
                    continue
                where = np.flatnonzero(sh == s)
                hit = sorted_member(sp, enc[where])
                res[where[hit]] = True
        return res


def _flat_probe_cls(kernel_cls):
    """The one-pass flat probe for kernel classes that have one —
    cuckoo and shingle, where it measured 4.5x faster than per-shard
    sub-batches. None: route batches with ``shard_groups``."""
    from ..kernels.shingle import ShingleFilter

    if issubclass(kernel_cls, CuckooFilter):
        return _FlatProbe
    if issubclass(kernel_cls, ShingleFilter):
        return _ShingleFlatProbe
    return None


class ShardedFilter:
    """num_shards independent ``kernel_cls`` filters addressed by
    ``shard_of(key)`` — the one container behind every sharded family.

    Sharding is by key, so all of a key's candidate slots live in one
    shard and per-shard work (kick chains, xor peels, tail upsizes)
    never crosses shards. The kernel class supplies everything
    family-specific: ``from_bytes``/``contains_many`` per shard, the
    ``num_items`` and ``expected_fpp()`` statistics, and
    ``PREMIX_KEYS`` — whether keys enter it as ``simple_mix_split(key,
    seed)`` (then every blob must record ``seed``) or raw.

    Pickles as its constructor arguments (``__reduce__``): a broadcast
    carries the blobs plus the kernel class by NAME, never derived
    caches or a class pickled by value (cloudpickle trap, CLAUDE.md).
    """

    def __init__(self, kernel_cls, blobs: list[bytes], seed: int):
        self.num_shards = len(blobs)
        if self.num_shards & (self.num_shards - 1):
            raise ValueError("num_shards must be a power of two")
        if kernel_cls.PREMIX_KEYS:
            _check_blob_seeds(kernel_cls, blobs, seed)
        self.kernel_cls = kernel_cls
        self.blobs = blobs
        self.seed = seed
        self._filters: list | None = None
        # derived from the blobs; delete_u64 drops them all together
        self._flat = self._auto_store = self._jvm_dfs = None

    def __reduce__(self):
        return ShardedFilter, (self.kernel_cls, self.blobs, self.seed)

    @property
    def kind(self) -> str:
        for kind, cls in _shard_kinds().items():
            if cls is self.kernel_cls:
                return kind
        raise TypeError(f"no sharded kind for kernel {self.kernel_cls.__name__}")

    def _load(self) -> list:
        if self._filters is None:
            self._filters = [self.kernel_cls.from_bytes(b) for b in self.blobs]
        return self._filters

    def contains_u64(self, keys: np.ndarray) -> np.ndarray:
        flat = _flat_probe_cls(self.kernel_cls)
        if flat is not None:
            if self._flat is None:
                self._flat = flat(self.blobs, self.kernel_cls)
            return self._flat.contains_u64(keys)
        filters = self._load()
        pk = _kernel_keys(self.kernel_cls, keys, self.seed)
        out = np.zeros(keys.size, dtype=bool)
        for s, idx in shard_groups(keys, self.num_shards):
            out[idx] = filters[s].contains_many(pk[idx])
        return out

    contains_many = contains_u64  # the kernel surface the probe helper calls

    def delete_u64(self, keys: np.ndarray) -> np.ndarray:
        """Bulk Delete (cuckoofilter.h:206-238, shingle.h:201-207)
        across shards.

        Caller must guarantee presence (reference README.md:21) —
        deleting a never-added key can erase a colliding fingerprint.
        Returns a bool array (True where an entry was removed) and
        refreshes the serialized blobs so later probes see the deletion
        (anti-join maintenance, SURVEY §2.1 #6)."""
        if not hasattr(self.kernel_cls, "delete_many"):
            raise TypeError(f"{self.kind} filters do not support delete "
                            f"({self.kernel_cls.__name__} has no delete_many)")
        filters = self._load()
        pk = _kernel_keys(self.kernel_cls, keys, self.seed)
        out = np.zeros(keys.size, dtype=bool)
        for s, idx in shard_groups(keys, self.num_shards):
            out[idx] = filters[s].delete_many(pk[idx])
            self.blobs[s] = filters[s].to_bytes()
        self._flat = self._auto_store = self._jvm_dfs = None
        return out

    def num_items(self) -> int:
        return sum(f.num_items for f in self._load())

    def size_in_bytes(self) -> int:
        return sum(len(b) for b in self.blobs)

    def bits_per_item(self) -> float:
        return 8.0 * self.size_in_bytes() / max(1, self.num_items())

    def load_factor(self) -> float:
        """Items over slots; kernels with a fixed slot count only."""
        tags = sum(f.size_in_tags() for f in self._load())
        return self.num_items() / max(1, tags)

    def expected_fpp(self) -> float:
        fs = self._load()
        return sum(f.expected_fpp() for f in fs) / max(1, len(fs))

    def info(self) -> dict:
        out = {
            "num_shards": self.num_shards,
            "num_items": self.num_items(),
            "size_in_bytes": self.size_in_bytes(),
            "bits_per_item": self.bits_per_item(),
        }
        if hasattr(self.kernel_cls, "size_in_tags"):
            out["load_factor"] = self.load_factor()
        out["expected_fpp"] = self.expected_fpp()
        return out


def _pack_shards(keys: np.ndarray, num_shards: int, transform=None):
    """Split a sorted-unique key array by shard: (shard_ids, packed_bytes)
    — the shared map-side packing stage of every sharded build/dedupe.
    ``transform(seg)`` maps each shard's raw keys to the shipped payload
    (e.g. simple_mix_split for pre-hashed filter domains); sharding is
    always on the RAW key so probes shard the same way."""
    shards, blobs = [], []
    for s, idx in shard_groups(keys, num_shards):
        seg = keys[idx]
        shards.append(s)
        blobs.append((transform(seg) if transform is not None
                      else seg).tobytes())
    return shards, blobs


def _sharded_build(df: DataFrame, col: str, num_shards: int, kernel_cls,
                   seed: int, make_shard, dedupe: bool = True
                   ) -> ShardedFilter:
    """The scaffold shared by every sharded filter build: per input
    partition, flatten token arrays, np.unique-dedupe, split by shard,
    and emit ONE binary row of packed uint64 payloads per (partition,
    shard) — the shuffle moves P x num_shards small blobs instead of
    per-key rows, and no Python UDF sits in the exchange. Then one
    groupBy(shard) builds each shard's kernel (``make_shard(keys) ->
    kernel``); absent shards get ``make_shard`` of no keys.

    Payloads are ``_kernel_keys(kernel_cls, keys, seed)`` (sharding
    stays on raw keys so probes agree); raw-key kernels re-dedupe
    reduce-side (cross-partition duplicates), pre-hashed ones keep the
    kernel's own duplicate handling.
    """
    from .udaf import require_key_col, tokens_to_u64

    is_array = require_key_col(df, col)
    base = df.select(F.col(col).alias("k")).where(F.col(col).isNotNull())

    def partial_shards(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [tokens_to_u64(pdf["k"]) if is_array else keys_to_u64(pdf["k"])
                 for pdf in batches]
        keys = (np.concatenate(parts) if parts else np.empty(0, dtype=np.uint64))
        if dedupe:
            keys = np.unique(keys)
        shards, blobs = _pack_shards(
            keys, num_shards, lambda seg: _kernel_keys(kernel_cls, seg, seed))
        yield pd.DataFrame({"shard": pd.Series(shards, dtype="int32"),
                            "keys": blobs})

    packed = base.mapInPandas(partial_shards, schema="shard int, keys binary")
    rededupe = dedupe and not kernel_cls.PREMIX_KEYS

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = np.concatenate(
            [np.frombuffer(b, dtype=np.uint64) for b in pdf["keys"]])
        if rededupe:
            keys = np.unique(keys)
        filt = make_shard(keys)
        return pd.DataFrame({"shard": [int(pdf["shard"].iloc[0])],
                             "blob": [filt.to_bytes()]})

    rows = (packed.groupBy("shard")
            .applyInPandas(build_shard, "shard int, blob binary")
            .collect())
    blob_by_shard = {r["shard"]: bytes(r["blob"]) for r in rows}
    empty = make_shard(np.empty(0, dtype=np.uint64)).to_bytes()
    return ShardedFilter(
        kernel_cls, [blob_by_shard.get(s, empty) for s in range(num_shards)],
        seed)


def _sized_build(df: DataFrame, col: str, capacity: int | None,
                num_shards: int, kernel_cls, seed: int, create,
                dedupe: bool = True) -> ShardedFilter:
    """``_sharded_build`` for kernels sized up front: ``create(n)`` makes
    an empty shard for n >= capacity / num_shards keys. ``capacity``
    defaults to an approx-distinct pre-pass (one extra aggregate job) —
    callers at scale should pass the known/estimated cardinality."""
    from .udaf import approx_distinct_capacity

    if capacity is None:
        capacity = approx_distinct_capacity(df, col)
    shard_cap = max(64, int(capacity) // num_shards)

    def make_shard(keys: np.ndarray):
        filt = create(max(shard_cap, keys.size))
        filt.add_many(keys)
        return filt

    return _sharded_build(df, col, num_shards, kernel_cls, seed, make_shard,
                          dedupe=dedupe)


def cuckoo_build(
    df: DataFrame,
    col: str,
    capacity: int | None = None,
    bits: int = 12,
    seed: int = 0x5EED,
    num_shards: int = 32,
    dedupe: bool = True,
    mode: str = "single",
    stable: bool = False,
) -> ShardedFilter:
    """Build a sharded cuckoo filter over an integer key column.

    One shuffle (groupBy shard): the map-side combine ships one
    packed-key blob per (partition, shard) — at 10^12 tokens the
    exchange is bounded by P x vocab x 8 bytes, with no Python UDF in
    the exchange.
    """
    return _sized_build(
        df, col, capacity, num_shards, CuckooFilter, seed,
        lambda n: CuckooFilter.create(n, bits=bits, seed=seed, mode=mode,
                                      stable=stable),
        dedupe=dedupe)


def shingle_build(
    df: DataFrame,
    col: str,
    capacity: int | None = None,
    slot_bits: int = 12,
    seed: int = 0x5EED,
    num_shards: int = 8,
    dedupe: bool = True,
) -> ShardedFilter:
    """Build a sharded shingle filter over an integer key column — one
    groupBy(shard) shuffle of packed key blobs, the cuckoo_build plan
    shape applied to the overlapping-bucket structure (both of a key's
    overlapping buckets live in one shard's private tables)."""
    from ..kernels.shingle import ShingleFilter

    return _sized_build(
        df, col, capacity, num_shards, ShingleFilter, seed,
        lambda n: ShingleFilter.create(n, slot_bits=slot_bits, seed=seed),
        dedupe=dedupe)


def crate_build(
    df: DataFrame,
    col: str,
    capacity: int | None = None,
    seed: int = 0x5EED,
    num_shards: int = 8,
) -> ShardedFilter:
    """Build sharded pocket-dictionary filters over an integer key
    column — one groupBy(shard) shuffle of packed hash blobs
    (crate.h:429-436 sizing: buckets = capacity/44, spare ~1.3%); each
    shard's spare dict stays private to its bucket range."""
    from ..kernels.crate import CrateFilter
    from .udaf import approx_distinct_capacity

    if capacity is None:
        # no headroom/slack (unlike cuckoo/shingle): the reference sizes
        # buckets at the exact add_count for its 44/51 fill target
        # (crate.h:429-436), an ACD under-estimate is absorbed by the
        # per-shard max() in _sized_build, and an over-estimate would
        # lower fill and inflate bits/item past the published point
        capacity = approx_distinct_capacity(df, col, headroom=1.0, slack=0)
    return _sized_build(df, col, capacity, num_shards, CrateFilter, seed,
                        lambda n: CrateFilter(add_count=n, seed=seed))


def tail_build(
    df: DataFrame,
    col: str,
    epsilon: float = 2.0 ** -16,
    lgm: int = 10,
    seed: int = 0x5EED,
    num_shards: int = 8,
) -> ShardedFilter:
    """Build a sharded tail filter over an integer key column — the one
    build in the suite with no capacity parameter: shards grow
    adaptively and independently (tail-filter.hpp:88-124), so the plan
    is a single groupBy(shard) shuffle of packed hash blobs with no
    approx_count_distinct pre-pass."""
    from ..kernels.tail import TailFilter

    def make_shard(hashes: np.ndarray):
        filt = TailFilter(lgm=lgm, epsilon=epsilon, seed=seed)
        filt.add_many(hashes)
        return filt

    return _sharded_build(df, col, num_shards, TailFilter, seed, make_shard)


def xor_build_sharded(df: DataFrame, col: str, fp_bits: int = 8,
                      seed: int = 0x5EED,
                      num_shards: int = 32) -> ShardedFilter:
    """Task-local xor peel per key shard — no driver-side key set.

    The scale form of the static xor build: the peel
    (xorfilter.h:122-279) is sequential *per filter*, but sharding by
    key gives each shard an independent peel INSIDE its groupBy(shard)
    task, so the driver collects num_shards fingerprint blobs — never
    keys (the ``xor_build`` driver peel collects every distinct key; at
    10^10+ distinct grams neither survives). Space is unchanged (1.23n
    cells per shard sums to 1.23n). Per-shard peels retry independently
    (seed + attempt recorded in each blob header); a probe always uses
    the blob's own recorded hasher.
    """
    from ..kernels.xor import XorFilter

    return _sharded_build(
        df, col, num_shards, XorFilter, seed,
        lambda keys: XorFilter.build(keys, fp_bits=fp_bits, seed=seed))


# Worker-process cache of deserialized probe structures, keyed by the
# broadcast id: Python workers are reused across tasks, so the flat
# table is built once per (worker, filter) instead of once per task.
_PROBE_CACHE: dict[int, object] = {}
_PROBE_CACHE_MAX = 8


def _cached_probe(bc, build):
    # executor-side Broadcast carries its spill path — a stable identity.
    # Without it (e.g. spark.io.encryption delivers broadcasts over a
    # socket) there is no safe cheap key: id() is reused after GC and
    # could silently serve another filter's table, so skip caching.
    key = getattr(bc, "_path", None)
    if key is None:
        return build(bc.value)
    obj = _PROBE_CACHE.get(key)
    if obj is None:
        obj = build(bc.value)
        if len(_PROBE_CACHE) >= _PROBE_CACHE_MAX:
            _PROBE_CACHE.pop(next(iter(_PROBE_CACHE)))
        _PROBE_CACHE[key] = obj
    return obj


def _blob_method_col(spark: SparkSession, obj, col,
                     method: str = "contains_many",
                     rettype=None) -> Column:
    """Column applying ``obj.<method>`` to each Arrow key batch — the
    ONE broadcast probe (membership booleans via ``api.contains_col``,
    CMS/CQF counts). The filter is broadcast once and rebuilt once per
    worker (``_cached_probe``), never per task: a kernel ships as its
    blob and is rebuilt with ``from_bytes``; a ``ShardedFilter`` ships
    as itself (see its ``__reduce__``) and builds its probe lazily —
    the flat table for cuckoo/shingle, the shard router otherwise."""
    sharded = isinstance(obj, ShardedFilter)
    bc = spark.sparkContext.broadcast(obj if sharded else obj.to_bytes())
    cls = type(obj)
    rettype = T.BooleanType() if rettype is None else rettype

    @F.pandas_udf(rettype)
    def probe(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        local = _cached_probe(bc, lambda v: v if sharded else cls.from_bytes(v))
        fn = getattr(local, method)
        for s in it:
            yield pd.Series(fn(keys_to_u64(s)))

    return probe(F.col(col).cast("long") if isinstance(col, str) else col)


def approx_semi_join(
    spark: SparkSession, fact: DataFrame, fact_col: str, filt
) -> DataFrame:
    """``fact`` rows whose key is (approximately) in the filter.

    No false negatives; false positives at the filter's epsilon. The
    distributed analogue of ``df.filter(cf_contains(key))`` — a
    build-once broadcast pre-filter that replaces a full shuffle join.
    """
    from .api import contains_col

    return fact.where(contains_col(spark, filt, fact_col))


def approx_anti_join(
    spark: SparkSession, fact: DataFrame, fact_col: str, filt
) -> DataFrame:
    """``fact`` rows whose key is definitely NOT in the filter.

    Complement caveat: drops epsilon false positives (rows wrongly
    believed present) — standard Bloom-anti-join semantics.
    """
    from .api import contains_col

    return fact.where(~contains_col(spark, filt, fact_col))


def cuckoo_delete(filt: ShardedFilter, df: DataFrame, col: str) -> int:
    """Delete a DataFrame's distinct keys from a sharded filter.

    The key set is deduped distributively (packed per-partition uniques)
    and the per-shard tag removal runs driver-side on the blobs — the
    filter is driver-held state, exactly like the build's collect step.
    Returns the number of tags removed.
    """
    keys = distinct_keys_u64(df, col)
    return int(filt.delete_u64(keys).sum())


def distinct_keys_u64(df: DataFrame, col: str, num_shards: int = 64) -> np.ndarray:
    """Distributed distinct of an integer or array<int> column -> driver.

    Two stages so driver memory is bounded by the KEY UNIVERSE (vocab),
    not partitions x vocab: (1) per-partition flatten + np.unique inside
    the Arrow pass, split by key shard, one packed binary row per
    (partition, shard); (2) groupBy(shard) dedupes each shard to one
    packed row. Shards are disjoint by construction, so the driver
    receives exactly the distinct key set — the same contract as a
    broadcast-join build side. Returned sorted.
    """
    from .udaf import require_key_col, tokens_to_u64

    is_array = require_key_col(df, col)
    base = df.select(F.col(col).alias("k")).where(F.col(col).isNotNull())

    def part_shards(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [tokens_to_u64(pdf["k"]) if is_array else keys_to_u64(pdf["k"])
                 for pdf in batches]
        keys = (np.unique(np.concatenate(parts)) if parts
                else np.empty(0, dtype=np.uint64))
        shards, blobs = _pack_shards(keys, num_shards)
        yield pd.DataFrame({"shard": pd.Series(shards, dtype="int32"),
                            "keys": blobs})

    def uniq_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        uniq = np.unique(np.concatenate(
            [np.frombuffer(b, dtype=np.uint64) for b in pdf["keys"]]))
        return pd.DataFrame({"keys": [uniq.tobytes()]})

    rows = (base.mapInPandas(part_shards, schema="shard int, keys binary")
            .groupBy("shard").applyInPandas(uniq_shard, "keys binary")
            .collect())
    if not rows:
        return np.empty(0, dtype=np.uint64)
    return np.sort(np.concatenate(
        [np.frombuffer(bytes(r["keys"]), dtype=np.uint64) for r in rows]))


def xor_build(df: DataFrame, col: str, fp_bits: int = 8, seed: int = 0x5EED):
    """Distributed-dedupe + driver-peel static xor filter build.

    The peel (xorfilter.h:122-279) is inherently sequential, so it runs
    driver-side over the distinct key set — executor->driver control
    crosses exactly once, by design (SURVEY §3.3). Returns a XorFilter.
    fp_bits 8/16 are the xorfilter.h configs; 10/14 the XorFilter2
    storage-generic ones (xorfilter_2.h).
    """
    from ..kernels.xor import XorFilter

    return XorFilter.build(distinct_keys_u64(df, col), fp_bits=fp_bits, seed=seed)


def xorplus_build(df: DataFrame, col: str, fp_bits: int = 8, seed: int = 0x5EED):
    """XorFilterPlus build (xorfilter_plus.h): same distributed dedupe +
    driver peel as ``xor_build``, with the rank9-compressed third block
    — the space-optimal static AMQ of the reference family."""
    from ..kernels.xorplus import XorFilterPlus

    return XorFilterPlus.build(distinct_keys_u64(df, col), fp_bits=fp_bits,
                               seed=seed)


# -- shard-partitioned probe (no whole-filter broadcast) ---------------------
#
# The broadcast probe ships EVERY shard's table to EVERY executor —
# correct whenever the filter fits the broadcast budget, but at 12.6
# bits/key a 10^10-key filter is ~15 GB per executor. The
# shard-partitioned probe is the scale-safe complement: repartition
# probe rows by shard_of(key) and have each task deserialize ONLY its
# shard's blob, delivered through a blob store or as a DataFrame row
# through the same exchange (a cogroup — the build-side-partitioned
# join). Per-task memory = one shard's table + that shard's probe rows;
# both shrink as num_shards grows. This is the distributed answer to
# the reference's batched probe (cuckoo-batch-prefetch.h:109-139): the
# batch there hides DRAM latency, the shard route here hides the
# broadcast ceiling.

def contains_sharded(df: DataFrame, col: str, filt: ShardedFilter,
                     out_col: str = "member",
                     store: str | None = None,
                     max_cached_shards: int | None = None,
                     colocate: bool = False) -> DataFrame:
    """``df`` + boolean ``out_col``: membership of ``col``, probed
    shard-partitioned — NO whole-filter broadcast anywhere.

    Two deliveries, picked by what the executors can read:

    - **store** (default in local mode, or whenever ``store`` names a
      path all executors can read): the filter is persisted once as
      one blob file per shard (``sketch.store.ShardBlobStore``) and the
      probe is a plain iterator pandas_udf that lazily loads + LRU
      caches only the shards its batches touch. Broadcast-speed
      (measured 1.4 s vs 0.9-1.8 s broadcast at 20M probes), zero
      exchanges; ``max_cached_shards`` bounds per-worker filter memory
      and ``colocate=True`` repartitions probe rows by shard route so
      each task touches O(1) shards — the form for filters that fit no
      single machine.
    - **cogroup** (fallback when there is no shared filesystem): blobs
      travel as DataFrame rows through a cogroup on the shard id; each
      task deserializes exactly its shard's blob. Correct on any
      cluster, but pays the FlatMapCoGroupsInPandas machinery
      (measured ~17 s at the same 20M probes).

    Any ``ShardedFilter`` works; answers are bit-identical across
    broadcast/store/cogroup paths.
    """
    spark = df.sparkSession
    is_local = spark.sparkContext.master.startswith("local")
    if store is not None or is_local:
        from .store import ShardBlobStore, contains_store

        st = filt._auto_store
        if store is not None:
            st = ShardBlobStore.write(filt, store)
        elif st is None:
            # mutation paths invalidate _auto_store (delete_u64), so a
            # cached store is trusted — re-hashing every blob per probe
            # call would cost seconds on the multi-GB filters this
            # path exists for
            st = ShardBlobStore.write(filt)  # fresh temp-dir store
            filt._auto_store = st
        return contains_store(df, col, st, out_col=out_col,
                              max_cached_shards=max_cached_shards,
                              colocate=colocate)
    if max_cached_shards is not None or colocate:
        raise ValueError(
            "max_cached_shards/colocate bound per-worker memory only on "
            "the store delivery; pass store=<shared-FS path> (the "
            "cogroup fallback ignores both knobs)")
    return _contains_sharded_cogroup(df, col, filt, out_col)


def _contains_sharded_cogroup(df: DataFrame, col: str, filt: ShardedFilter,
                              out_col: str = "member") -> DataFrame:
    """Cogroup delivery: one hash exchange on the JVM-computed shard id
    joins each probe group with exactly its shard's blob row; the task
    deserializes that ONE blob and answers its rows. No broadcast, no
    shared-FS requirement — the universal (slower) sharded probe."""
    kind, seed, num_shards = filt.kind, filt.seed, filt.num_shards
    if "_shard" in df.columns:
        raise ValueError("df already has a _shard column")
    spark = df.sparkSession
    blob_df = spark.createDataFrame(
        [(s, bytearray(b)) for s, b in enumerate(filt.blobs)],
        "shard int, blob binary")

    # shard id is pure JVM arithmetic (shard_col == shard_of bit-exact),
    # so the only Python crossing in the whole plan is the cogroup probe
    keyed = df.withColumn("_shard", shard_col(col, num_shards))
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.BooleanType())])
    colname = col

    def probe_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        out = left.drop(columns=["_shard"])
        hit = np.zeros(len(out), dtype=bool)
        if len(left) and len(right):
            # the kernel class rides as its kind NAME (cloudpickle trap)
            kernel_cls = _shard_kinds()[kind]
            keys = _kernel_keys(kernel_cls, keys_to_u64(left[colname]), seed)
            hit = kernel_cls.from_bytes(
                bytes(right["blob"].iloc[0])).contains_many(keys)
        out[out_col] = pd.Series(hit, index=out.index, dtype=bool)
        return out

    return (keyed.groupBy("_shard")
            .cogroup(blob_df.groupBy("shard"))
            .applyInPandas(probe_group, out_schema))


# -- JVM-native blocked-Bloom probe (zero Python in the probe path) ---------
#
# The Arrow pipe floor bounds EVERY Python-side probe: at local[32] a
# constant-true pandas_udf filter over 40M longs costs ~0.82 s (~49 M
# rows/s), and a mapInArrow pass-through measures the same — the cost is
# the JVM<->Python Arrow crossing plus scheduling, not pandas (measured
# round 5, BASELINE.md). JvmBlockedBloomFilter steps around the floor:
# its hash is Spark's own xxhash64 (kernels/hashing.xxhash64_long is the
# bit-exact numpy twin — the shard_of/shard_col contract), so Contain
# (simd-block.h:197-206) compiles to whole-stage-codegen integer
# arithmetic plus ONE broadcast hash join against the bucket table AS
# DATA. The probe plan has no Python stage at all; at 100 TB it is a
# map-side broadcast join running at JVM scan speed, and the broadcast
# payload is the filter itself (the family's existing contract — the
# blob broadcast the pandas probes ship is the same bytes).
#
# ANSI-safe MakeMask (simd-block.h:158-172): the reference's per-lane
# 32-bit wrapping multiply (h32 * salt) mod 2^32 cannot be written as a
# single BIGINT multiply under ANSI (h32, salt < 2^32 makes the product
# overflow signed int64), so it is decomposed into 16-bit limbs — every
# intermediate stays under 2^49:
#   h32 = a + b*2^16  (a, b < 2^16)
#   (h32*s) mod 2^32 = (a*s + ((b*s mod 2^16) << 16)) mod 2^32

_BB_JVM_COLS = ("_bb_bucket", "_bb_h",
                "_bb_n0", "_bb_n1", "_bb_n2", "_bb_n3",
                "_bb_w0", "_bb_w1", "_bb_w2", "_bb_w3")


def blocked_bloom_jvm_bucket_df(spark: SparkSession, filt) -> DataFrame:
    """The filter's bucket directory as a DataFrame: one row per
    256-bit bucket, the 8 uint32 lanes packed pairwise into four
    64-bit words (lane 2j = low half, LE). This is the broadcast side
    of the JVM probe join — same bytes the pandas probe ships as a
    blob, reshaped into a relation Catalyst can join.

    Memoized per (session, n_added): the driver-side pandas->Spark
    conversion costs ~0.5 s at 32k buckets, which would otherwise be
    paid on every probe call (measured 27 -> 83 M probes/s)."""
    cached = getattr(filt, "_jvm_bucket_df", None)
    if cached is not None and cached[0] is spark and cached[1] == filt.n_added:
        return cached[2]
    nb = filt.num_buckets
    words = (filt.buckets.reshape(-1).view(np.uint64)
             .reshape(nb, 4).view(np.int64))
    pdf = pd.DataFrame({"_bb_bucket": np.arange(nb, dtype=np.int64)})
    for j in range(4):
        pdf[f"_bb_w{j}"] = words[:, j]
    bdf = spark.createDataFrame(pdf)
    filt._jvm_bucket_df = (spark, filt.n_added, bdf)
    return bdf


def _bb_jvm_project(filt, df: DataFrame, col: str) -> DataFrame:
    """Probe-side projection: bucket id + the four 64-bit *need* words
    (the per-key MakeMask, lane pairs packed like the bucket words).
    Chained selects keep ``_bb_h`` a materialized column: CollapseProject
    refuses to inline a non-cheap alias referenced 16x, so xxhash64 runs
    ONCE per row (the md5-inlining trap from the gram pipelines applies
    to any helper that re-references its argument expression)."""
    from ..kernels.blocked_bloom import _SALTS

    key = F.col(col).cast("long")
    seed = filt.seed if filt.seed < 1 << 63 else filt.seed - (1 << 64)
    # NULL keys route to bucket 0 so the inner join keeps the row; the
    # predicate's isNotNull() term forces their flag to false
    h = F.xxhash64(F.coalesce(key, F.lit(0).cast("long"))
                   .bitwiseXOR(F.lit(seed)))
    out = df.select("*", h.alias("_bb_h"))
    hh = F.col("_bb_h")
    a = hh.bitwiseAND(F.lit(0xFFFF))
    b = F.shiftrightunsigned(hh, 16).bitwiseAND(F.lit(0xFFFF))

    def bit(s: int) -> Column:
        # ANSI-safe 16-bit-limb form of (h32 * s) mod 2^32, then >> 27
        lo16 = (b * F.lit(s)).bitwiseAND(F.lit(0xFFFF))
        prod = ((a * F.lit(s) + F.shiftleft(lo16, 16))
                .bitwiseAND(F.lit(0xFFFFFFFF)))
        return F.shiftright(prod, 27)

    one = F.lit(1).cast("long")
    needs = [
        (F.call_function("shiftleft", one, bit(int(_SALTS[2 * j])))
         .bitwiseOR(F.call_function(
             "shiftleft", one, bit(int(_SALTS[2 * j + 1])) + F.lit(32))))
        .alias(f"_bb_n{j}")
        for j in range(4)
    ]
    bucket = (F.shiftrightunsigned(hh, 32)
              .bitwiseAND(F.lit(filt.num_buckets - 1)).alias("_bb_bucket"))
    return out.select("*", bucket, *needs)


def _bb_jvm_join(spark: SparkSession, filt, df: DataFrame,
                 col: str) -> tuple[DataFrame, Column]:
    from ..kernels.blocked_bloom import JvmBlockedBloomFilter

    if not isinstance(filt, JvmBlockedBloomFilter):
        raise TypeError(
            "JVM probe requires JvmBlockedBloomFilter (its hash is the "
            "Spark-expressible one); got " + type(filt).__name__)
    from .udaf import require_key_col

    if require_key_col(df, col):  # eager driver-side refusal, not a
        raise TypeError(          # mid-job executor CAST error
            f"column {col!r} is an array; the JVM probe takes scalar keys")
    have = {c.lower() for c in df.columns}
    clash = [c for c in _BB_JVM_COLS if c in have]
    if clash:  # Spark resolution is case-insensitive (CLAUDE.md trap)
        raise ValueError(f"input columns collide with probe internals: {clash}")
    bdf = blocked_bloom_jvm_bucket_df(spark, filt)
    joined = _bb_jvm_project(filt, df, col).join(F.broadcast(bdf), "_bb_bucket")
    pred = F.col(col).isNotNull()
    for j in range(4):
        n = F.col(f"_bb_n{j}")
        pred = pred & (F.col(f"_bb_w{j}").bitwiseAND(n) == n)
    return joined, pred


def blocked_bloom_jvm_filter(spark: SparkSession, filt, df: DataFrame,
                             col: str) -> DataFrame:
    """``df`` rows whose ``col`` is a (probable) member — the Bloom
    semi-join, entirely JVM-side (NULL keys never match). Plan shape:
    one BroadcastHashJoin + codegen filter; no Python stage, no shuffle
    (pinned by tests/test_round5.py)."""
    joined, pred = _bb_jvm_join(spark, filt, df, col)
    return joined.where(pred).drop(*_BB_JVM_COLS)


def blocked_bloom_jvm_flag(spark: SparkSession, filt, df: DataFrame,
                           col: str, flag: str = "is_member") -> DataFrame:
    """``df`` plus a boolean membership flag column (false for NULL
    keys), entirely JVM-side."""
    have = {c.lower() for c in df.columns}
    if flag.lower() in have:
        raise ValueError(f"flag column {flag!r} already present")
    joined, pred = _bb_jvm_join(spark, filt, df, col)
    return joined.withColumn(flag, pred).drop(*_BB_JVM_COLS)


# -- JVM-native cuckoo probe (zero Python in the probe path) ----------------
#
# Same motivation as the blocked-Bloom JVM probe above, for the flagship
# family: JvmCuckooFilter's hash is Spark's xxhash64, so Contain
# (cuckoofilter.h:184-204) compiles to codegen arithmetic — tag =
# TagHash(h) with the 0-remap, i1 from the high word — plus ONE
# broadcast LEFT SEMI join against a MIRROR table: every stored tag t
# at bucket b is listed under BOTH b and AltIndex(b, t) (the involution
# makes ``t in table[i2]`` equivalent to a mirror entry at i1, so the
# probe never computes i2), and the victim entry becomes two ordinary
# mirror rows. The mirror key packs (shard, bucket) into one long —
# a composite key would force Spark's generic UnsafeHashedRelation
# (measured 3.3 s vs 0.74 s for 40M lookups against 524k entries);
# the single-long key gets LongHashedRelation. Tags are nonzero by the
# 0-remap, so zero-padding in the packed words can never match.

_CF_JVM_COLS = ("_cf_shard", "_cf_h", "_cf_tag", "_cf_i1", "_cf_sb",
                "_cf_mask", "_cf_w")


def cuckoo_jvm_build(
    df: DataFrame,
    col: str,
    capacity: int | None = None,
    bits: int = 12,
    seed: int = 0x5EED,
    num_shards: int = 32,
    dedupe: bool = True,
) -> ShardedFilter:
    """``cuckoo_build`` with the JVM-probeable kernel (single-table,
    non-stable — the probe arithmetic the JVM path compiles; same
    one-shuffle sharded build scaffold)."""
    from ..kernels.cuckoo import JvmCuckooFilter

    if bits > 16:
        raise ValueError("JVM probe packs tags into 64-bit words; "
                         "bits must be <= 16")
    return _sized_build(
        df, col, capacity, num_shards, JvmCuckooFilter, seed,
        lambda n: JvmCuckooFilter.create(n, bits=bits, seed=seed),
        dedupe=dedupe)


def _cf_bits(filt: ShardedFilter) -> int:
    return filt._load()[0].bits


def _cf_jvm_tables(spark: SparkSession, filt: ShardedFilter):
    """(meta_df, mirror_df) for the JVM probe, memoized per session.

    meta: one row per shard — the bucket mask (shards may round to
    different power-of-two sizes). mirror: rows (_cf_sb, _cf_w) where
    _cf_sb = shard<<32 | bucket and _cf_w packs up to 63//bits stored
    tags LSB-first; cells with more entries span extra rows (the semi
    join makes row multiplicity harmless). Driver cost is the same
    bytes the pandas probe broadcasts."""
    from ..kernels.cuckoo import JvmCuckooFilter

    cached = filt._jvm_dfs
    if cached is not None and cached[0] is spark:
        return cached[1], cached[2]
    if filt.kernel_cls is not JvmCuckooFilter:
        raise TypeError(
            "JVM probe requires a cuckoo_jvm_build filter (xxhash64 key "
            "hash); got kernel " + filt.kernel_cls.__name__)
    bits = _cf_bits(filt)
    slots = 63 // bits

    def _pack_shard(sb: np.ndarray, ts: np.ndarray):
        """Pack a shard's sorted (sb, tag) pairs into <=slots-tag words
        (one (sb, word) row per run chunk)."""
        starts = np.empty(sb.size, dtype=bool)
        starts[0] = True
        np.not_equal(sb[1:], sb[:-1], out=starts[1:])
        run_id = np.cumsum(starts) - 1
        first = np.flatnonzero(starts)
        rank = np.arange(sb.size) - first[run_id]
        word_of = rank // slots
        slot_of = (rank % slots).astype(np.uint64)
        vals = ts << (np.uint64(bits) * slot_of)
        wstart = np.empty(sb.size, dtype=bool)
        wstart[0] = True
        np.logical_or(starts[1:], word_of[1:] != word_of[:-1],
                      out=wstart[1:])
        ws = np.flatnonzero(wstart)
        return sb[ws], np.bitwise_or.reduceat(vals, ws)

    # packed PER SHARD (shards own disjoint sb ranges, so per-shard
    # sorted outputs concatenate into a valid global table): peak
    # driver memory = one shard's entry arrays + the packed outputs,
    # not 2x the whole mirror (measured ~2 GB -> ~0.6 GB at 10M keys)
    metas, row_parts, word_parts = [], [], []
    for s, f in enumerate(filt._load()):
        if f.stable or f.mode != "single" or f.bits > 16:
            raise ValueError("JVM probe supports single-table, "
                             "non-stable shards with bits <= 16")
        metas.append((s, f.num_buckets - 1))
        bi, sl = np.nonzero(f.table)
        tags = f.table[bi, sl]
        if f.victim_used:
            bi = np.append(bi, f.victim_index)
            tags = np.append(tags, f.table.dtype.type(f.victim_tag))
        if not bi.size:
            continue
        alt = f.alt_index(bi, tags)
        cells = np.concatenate([bi, alt]).astype(np.int64)
        ts = np.concatenate([tags, tags]).astype(np.uint64)
        sb = (np.int64(s) << np.int64(32)) | cells
        # dedupe (cell, tag) pairs (self-loop alts, duplicate tags in a
        # bucket) — fewer rows, same answer set; unique also sorts
        pair = (sb.astype(np.uint64) << np.uint64(16)) | ts
        pair = np.unique(pair)
        rows, words = _pack_shard((pair >> np.uint64(16)).view(np.int64),
                                  pair & np.uint64(0xFFFF))
        row_parts.append(rows)
        word_parts.append(words)
    meta_df = spark.createDataFrame(
        pd.DataFrame(metas, columns=["_cf_shard", "_cf_mask"]))
    # pyarrow Table, not pandas: no full-copy of the mirror arrays
    import pyarrow as pa

    word_rows = (np.concatenate(row_parts) if row_parts
                 else np.empty(0, dtype=np.int64))
    words = (np.concatenate(word_parts) if word_parts
             else np.empty(0, dtype=np.uint64))
    mirror_df = spark.createDataFrame(pa.table({
        "_cf_sb": word_rows, "_cf_w": words.view(np.int64)}))
    filt._jvm_dfs = (spark, meta_df, mirror_df)
    return meta_df, mirror_df


def _cf_jvm_probe_side(spark: SparkSession, filt: ShardedFilter,
                       df: DataFrame, col: str) -> DataFrame:
    """Probe-side projection + tiny meta join: shard, materialized h,
    TagHash, i1, and the packed long join key _cf_sb."""
    from .udaf import require_key_col

    if require_key_col(df, col):
        raise TypeError(f"column {col!r} is an array; the JVM probe "
                        "takes scalar keys")
    have = {c.lower() for c in df.columns}
    clash = [c for c in _CF_JVM_COLS if c in have]
    if clash:  # Spark resolution is case-insensitive (CLAUDE.md trap)
        raise ValueError(f"input columns collide with probe internals: {clash}")
    meta_df, _ = _cf_jvm_tables(spark, filt)
    key = F.col(col).cast("long")
    seed_c = filt.kernel_cls.seed_xor_const(filt.seed)
    seed_c = seed_c if seed_c < 1 << 63 else seed_c - (1 << 64)
    h = F.xxhash64(F.coalesce(key, F.lit(0).cast("long"))
                   .bitwiseXOR(F.lit(seed_c)))
    tag_mask = (1 << _cf_bits(filt)) - 1
    # chained selects: aliases are referenced repeatedly below and
    # CollapseProject would otherwise inline the xxhash64 subtree into
    # every use (the md5-inlining trap)
    out = (df
           .select("*", shard_col(col, filt.num_shards).alias("_cf_shard"),
                   h.alias("_cf_h"))
           .join(F.broadcast(meta_df), "_cf_shard"))
    t_raw = F.col("_cf_h").bitwiseAND(F.lit(tag_mask))
    tag = F.when(t_raw == 0, F.lit(1)).otherwise(t_raw)  # TagHash 0-remap
    out = out.select(
        "*", tag.alias("_cf_tag"),
        (F.shiftrightunsigned(F.col("_cf_h"), 32)
         .bitwiseAND(F.col("_cf_mask"))).alias("_cf_i1"))
    sb = (F.shiftleft(F.col("_cf_shard").cast("long"), 32)
          .bitwiseOR(F.col("_cf_i1")))
    return out.select("*", sb.alias("_cf_sb"))


def _cf_jvm_match_cond(filt) -> Column:
    """Semi-join condition: key equality + tag among the word's slots."""
    bits = _cf_bits(filt)
    tag_mask = (1 << bits) - 1
    cond = F.col("_cf_sb") == F.col("_cf_msb")
    hit = F.lit(False)
    for j in range(63 // bits):
        slot = (F.shiftrightunsigned(F.col("_cf_w"), bits * j)
                .bitwiseAND(F.lit(tag_mask)))
        hit = hit | (slot == F.col("_cf_tag"))
    return cond & hit


def _cf_jvm_mirror(spark, filt) -> DataFrame:
    _, mirror_df = _cf_jvm_tables(spark, filt)
    return mirror_df.select(F.col("_cf_sb").alias("_cf_msb"),
                            F.col("_cf_w"))


def cuckoo_jvm_filter(spark: SparkSession, filt: ShardedFilter,
                      df: DataFrame, col: str) -> DataFrame:
    """``df`` rows whose ``col`` is a (probable) member — the cuckoo
    semi-join, entirely JVM-side (NULL keys never match). Plan: one
    tiny broadcast meta join + ONE broadcast LEFT SEMI join against the
    mirror table (LongHashedRelation key), codegen everywhere, no
    Python stage, no shuffle (pinned in tests/test_round5.py)."""
    probe = (_cf_jvm_probe_side(spark, filt, df, col)
             .where(F.col(col).isNotNull()))
    out = probe.join(F.broadcast(_cf_jvm_mirror(spark, filt)),
                     _cf_jvm_match_cond(filt), "left_semi")
    return out.drop(*_CF_JVM_COLS)


def cuckoo_jvm_flag(spark: SparkSession, filt: ShardedFilter,
                    df: DataFrame, col: str,
                    flag: str = "is_member") -> DataFrame:
    """``df`` plus a boolean membership flag (false for NULL keys),
    entirely JVM-side: semi-join rows flag true, anti-join rows and
    NULL keys flag false."""
    have = {c.lower() for c in df.columns}
    if flag.lower() in have:
        raise ValueError(f"flag column {flag!r} already present")
    probe = _cf_jvm_probe_side(spark, filt, df, col)
    nn = probe.where(F.col(col).isNotNull())
    mirror = F.broadcast(_cf_jvm_mirror(spark, filt))
    cond = _cf_jvm_match_cond(filt)
    yes = (nn.join(mirror, cond, "left_semi")
           .drop(*_CF_JVM_COLS).withColumn(flag, F.lit(True)))
    no = (nn.join(mirror, cond, "left_anti")
          .drop(*_CF_JVM_COLS).withColumn(flag, F.lit(False)))
    nulls = (probe.where(F.col(col).isNull())
             .drop(*_CF_JVM_COLS).withColumn(flag, F.lit(False)))
    return yes.unionAll(no).unionAll(nulls)
