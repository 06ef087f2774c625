"""Crate / pocket-dictionary filter kernel — crate.h re-expressed
(SURVEY §2.3 #30, arXiv:1911.05060 "Fully-Dynamic Space-Efficient
Dictionaries and Filters with Constant Number of Memory Accesses").

The reference GenericCrate (crate.h:397-527) hashes a key to

- ``bucket`` = Lemire reduce of the low 32 bits over ``n/44`` buckets
  (crate.h:434-436),
- ``quot``   = ``((key >> 40) * 50) >> 24``   in [0, 50),
- ``rem``    = ``(key >> 32) & 0xFF``         (crate.h:462-463),

and stores (quot, rem) in the bucket's *pocket dictionary*: one 512-bit
AVX-512 block holding a 101-bit Elias-Fano header (50 quotient
terminators + <= 51 fingerprint slots) followed by up to 51 sorted
8-bit remainders (pd_add_50, crate.h:331-394; pd_find_50,
crate.h:66-89). A full bucket spills the key into an exact
linear-probing side dict (``spare_``, sized 1.3% of n, crate.h:404).

Re-expression, not a translation: membership in a PD is exactly
membership of the (bucket, quot, rem) triple in a bounded multiset, so
the kernel keeps ONE sorted uint64 array of encoded triples probed by
searchsorted — the numpy batch form of the AVX-512 compare mask — and
a sorted uint64 array of spilled keys in place of the probing dict
(the SURVEY §2.3 #31 equivalence). The SERIALIZED form, however, packs
each bucket into the reference's exact 64-byte PD block (13 header
bytes + 51 remainder bytes, same bit layout, built vectorized with one
packbits over all buckets) so the space cost is the reference's
11.6+spare bits/key, decodable by crate.h's own pd_find_50.

Documented divergences:

- the build is canonical (keys sorted by triple before placement), so
  *which* keys spill from an over-full bucket is deterministic rather
  than insertion-ordered; membership is identical either way;
- lookups always consult the spare (the reference gates it on
  ``pd_full``, crate.h:445-448, purely to skip a probe) — required for
  merge correctness, see below, and free in a batched searchsorted;
- ``merge`` (the reference has none) unions triples and spares;
  buckets pushed past 51 triples keep the overflow in a side triple
  list serialized after the PD blocks, preserving membership without
  breaking the 64-byte block invariant.
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import U64, sorted_member

_MAGIC = b"CRT1"
_FMT_V1 = "<4sHQQQQQ"
_FMT = "<4sHQQQQQQ"
_HDR_SIZE_V1 = struct.calcsize(_FMT_V1)
_HDR_SIZE = struct.calcsize(_FMT)
# magic ver bucket_count ndv n_pd_triples n_overflow n_spare seed(v2)
_CHUNK = 1 << 18
_QUOTS = 50          # quotients per pocket dictionary (crate.h:66)
_SLOTS = 51          # max fingerprints per PD (crate.h:10, 352)
_HDR_BITS = _QUOTS + _SLOTS            # 101-bit EF header
_HDR_BYTES = (_HDR_BITS + 7) // 8      # 13 (crate.h:341)
_PD_BYTES = 64                         # one __m512i block
_TRIPLE_SPAN = _QUOTS * 256


class CrateFilter:
    """Pocket-dictionary filter over pre-hashed uint64 keys.

    ``seed`` records the hash-domain identity of the caller's
    pre-hashing (the kernel never hashes itself); it rides the blob
    header and is checked on merge so shards hashed under different
    seeds cannot silently union into garbage (repo convention: hash
    seeds are filter identity).
    """

    PREMIX_KEYS = True  # takes simple_mix_split(key, seed), see sketch.membership

    def __init__(self, add_count: int, seed: int = 0):
        # crate.h:430: bucket_count = add_count / 44 (fill target 44/51)
        self.bucket_count = max(1, int(add_count) // 44)
        self.seed = int(seed) & 0xFFFFFFFFFFFFFFFF
        self.ndv = 0
        self.triples = np.empty(0, dtype=np.uint64)  # sorted, dups kept
        self.spare = np.empty(0, dtype=np.uint64)    # sorted spilled keys
        self._off: np.ndarray | None = None          # probe-time index

    # -- hashing ----------------------------------------------------------
    def _parts(self, keys: np.ndarray):
        """(bucket, quot, rem) per crate.h:434-436,462-463."""
        bucket = ((keys & U64(0xFFFFFFFF)) * U64(self.bucket_count)) >> U64(32)
        quot = ((keys >> U64(40)) * U64(_QUOTS)) >> U64(24)
        rem = (keys >> U64(32)) & U64(0xFF)
        return bucket, quot, rem

    def _encode(self, keys: np.ndarray) -> np.ndarray:
        b, q, r = self._parts(keys)
        return b * U64(_TRIPLE_SPAN) + q * U64(256) + r

    # -- build ------------------------------------------------------------
    def add_many(self, keys) -> int:
        """Canonical bulk Add: first _SLOTS triples per bucket go to the
        PD, the rest spill their full keys to the spare (pd_add_50's
        false return -> spare_.Insert, crate.h:437-442).

        Re-adding already-covered keys is a no-op (key in spare, or its
        exact triple already stored): without the gate, overlapping
        incremental adds double-counted ndv and accumulated duplicate
        triples into phantom overflow slots. Returns the number of keys
        newly stored."""
        keys = np.unique(np.ascontiguousarray(keys, dtype=np.uint64))
        if self.spare.size:
            keys = keys[~sorted_member(self.spare, keys)]
        enc = self._encode(keys)
        if self.triples.size:
            fresh = ~sorted_member(self.triples, enc)
            keys, enc = keys[fresh], enc[fresh]
        if not keys.size:
            return 0
        order = np.argsort(enc, kind="stable")
        enc, keys = enc[order], keys[order]
        bucket = (enc // U64(_TRIPLE_SPAN)).astype(np.int64)
        rank = _rank_within(bucket)
        if self.triples.size:
            # old triples KEEP their slots (the reference rejects only
            # the NEW key when a PD is full, crate.h:437-442); new ones
            # fill whatever room their bucket has left
            old_b = (self.triples // U64(_TRIPLE_SPAN)).astype(np.int64)
            room = _SLOTS - np.bincount(old_b, minlength=self.bucket_count)
            keep = rank < np.maximum(room, 0)[bucket]
        else:
            keep = rank < _SLOTS
        self.triples = np.sort(
            np.concatenate([self.triples, enc[keep]]), kind="stable")
        if (~keep).any():
            self.spare = np.union1d(self.spare, keys[~keep])
        self.ndv += int(keys.size)
        self._off = None
        return int(keys.size)

    # -- lookup -----------------------------------------------------------
    def contains_many(self, keys) -> np.ndarray:
        """Bucket-windowed probe: the per-bucket offset index narrows a
        query to its PD's <=51-slot run, then a fixed 6-step bounded
        binary search finds the triple — ~8 gathers/probe, the batch
        analogue of the reference's one-block pd_find (a plain
        searchsorted over all triples costs ~20 random gathers)."""
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        if self._off is None:
            b = (self.triples // U64(_TRIPLE_SPAN)).astype(np.int64)
            counts = np.bincount(b, minlength=self.bucket_count)
            self._off = np.zeros(self.bucket_count + 1, dtype=np.int64)
            np.cumsum(counts, out=self._off[1:])
        out = np.empty(keys.size, dtype=bool)
        maxw = int(np.diff(self._off).max()) if self.triples.size else 0
        steps = max(1, maxw).bit_length()
        for lo in range(0, max(keys.size, 1), _CHUNK):
            c = keys[lo:lo + _CHUNK]
            enc = self._encode(c)
            bkt = (enc // U64(_TRIPLE_SPAN)).astype(np.int64)
            left = self._off[bkt]
            right = self._off[bkt + 1]
            if self.triples.size:
                last = self.triples.size - 1
                for _ in range(steps):   # vectorized lower_bound
                    active = left < right
                    mid = (left + right) >> 1
                    go = active & (self.triples[np.minimum(mid, last)] < enc)
                    new_left = np.where(go, mid + 1, left)
                    right = np.where(active & ~go, mid, right)
                    left = new_left
                hit = (left < self._off[bkt + 1]) & \
                    (self.triples[np.minimum(left, last)] == enc)
            else:
                hit = np.zeros(c.size, dtype=bool)
            hit |= sorted_member(self.spare, c)
            out[lo:lo + _CHUNK] = hit
        return out[:keys.size]

    # -- merge ------------------------------------------------------------
    def _params(self) -> tuple:
        return (self.bucket_count, self.seed)

    @classmethod
    def merge(cls, a: "CrateFilter", b: "CrateFilter") -> "CrateFilter":
        """Content-canonical union (multiset of triples, set of spare
        keys); associative and commutative. Raises on mismatched
        (bucket_count, seed) — triple encodings or hash domains would
        disagree."""
        if a._params() != b._params():
            raise ValueError(
                f"incompatible crates: {a._params()} vs {b._params()}")
        out = cls.__new__(cls)
        out.bucket_count = a.bucket_count
        out.seed = a.seed
        out.ndv = a.ndv + b.ndv
        merged = np.sort(np.concatenate([a.triples, b.triples]), kind="stable")
        out.triples = merged
        out.spare = np.union1d(a.spare, b.spare)
        out._off = None
        return out

    # -- stats ------------------------------------------------------------
    @property
    def num_items(self) -> int:
        return self.ndv

    def size_in_bytes(self) -> int:
        over = max(0, self.triples.size - self._fills().sum())
        return (_HDR_SIZE + self.bucket_count * _PD_BYTES
                + int(over) * 8 + self.spare.size * 8)

    def bits_per_item(self) -> float:
        return 8.0 * self.size_in_bytes() / max(1, self.ndv)

    def expected_fpp(self) -> float:
        # mean PD fill over the 50*256 (quot, rem) space per bucket
        fill = self.triples.size / max(1, self.bucket_count)
        return fill / _TRIPLE_SPAN

    def _fills(self) -> np.ndarray:
        bucket = (self.triples // U64(_TRIPLE_SPAN)).astype(np.int64)
        fills = np.bincount(bucket, minlength=self.bucket_count)
        return np.minimum(fills, _SLOTS)

    def pd_blocks(self):
        """(blocks, overflow): the (bucket_count, 64) uint8 PD blocks in
        crate.h's exact __m512i bit layout plus the overflow triples
        (merge artifacts past 51/bucket) that don't fit a block."""
        bucket = (self.triples // U64(_TRIPLE_SPAN)).astype(np.int64)
        rank = _rank_within(bucket)
        in_pd = rank < _SLOTS
        pd_t, pd_b, pd_rank = (self.triples[in_pd], bucket[in_pd],
                               rank[in_pd])
        over = self.triples[~in_pd]
        quot = ((pd_t // U64(256)) % U64(_QUOTS)).astype(np.int64)
        rem = (pd_t & U64(0xFF)).astype(np.uint8)
        nb = self.bucket_count
        counts = np.bincount(pd_b * _QUOTS + quot,
                             minlength=nb * _QUOTS).reshape(nb, _QUOTS)
        ones_pos = np.cumsum(counts, axis=1) + np.arange(_QUOTS)
        bits = np.zeros((nb, _HDR_BYTES * 8), dtype=np.uint8)
        bits[np.repeat(np.arange(nb), _QUOTS), ones_pos.reshape(-1)] = 1
        hdr_bytes = np.packbits(bits, axis=1, bitorder="little")
        rems = np.zeros((nb, _SLOTS), dtype=np.uint8)
        rems[pd_b, pd_rank] = rem
        return np.concatenate([hdr_bytes, rems], axis=1), over

    def contains_many_pd(self, keys, variant: str = "select") -> np.ndarray:
        """Membership probed DIRECTLY against the packed 64-byte PD
        blocks — the batch analogue of the reference's one-block
        ``pd_find_50`` (crate.h:66-89), independent of the
        searchsorted-over-triples path in ``contains_many``.

        ``variant`` picks the begin/end computation, mirroring the
        reference's alternate probes asserted pairwise-equal in
        check_pd (crate.h:380-387):

        - ``"select"``: begin/end both from select-the-jth-set-bit over
          the 101-bit header (pd_find_50's select128 form);
        - ``"tzcnt"``: begin from select, end = first set bit at or
          after position begin+quot (pd_find_50_alt2..alt5's
          ``begin + tzcnt(header >> (begin + quot))`` form).

        The remainder test is the reference's cmpeq-mask-window —
        ``(v & ((1 << end) - 1)) >> begin`` — as a masked any() over
        the 51 remainder lanes. Overflow triples (merge artifacts) and
        spare keys are consulted the same way ``contains_many`` does.
        """
        if variant not in ("select", "tzcnt"):
            raise ValueError(f"unknown pd_find variant {variant!r}")
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        blocks, over = self.pd_blocks()
        hdr_bits = np.unpackbits(blocks[:, :_HDR_BYTES], axis=1,
                                 bitorder="little")[:, :_HDR_BITS]
        rems = blocks[:, _HDR_BYTES:]
        cols = np.arange(_HDR_BITS)
        slot_cols = np.arange(_SLOTS)
        out = np.empty(keys.size, dtype=bool)
        for lo in range(0, max(keys.size, 1), _CHUNK):
            c = keys[lo:lo + _CHUNK]
            bkt, quot, rem = self._parts(c)
            bkt = bkt.astype(np.int64)
            q = quot.astype(np.int64)
            bits = hdr_bits[bkt]                       # (n, 101)
            ones_cum = np.cumsum(bits, axis=1)         # rank+1 at each one
            is_one = bits.astype(bool)
            # select(header, q-1): position of the q-th one (1-indexed)
            sel_prev = np.argmax(is_one & (ones_cum == q[:, None]), axis=1)
            begin = np.where(q > 0, sel_prev + 1 - q, 0)
            if variant == "select":
                sel_q = np.argmax(is_one & (ones_cum == q[:, None] + 1),
                                  axis=1)
                end = sel_q - q
            else:
                # first one at or after bit (begin + q) — the shifted
                # tzcnt of alt2..alt5 (a one always exists there: the
                # q-th terminator is at or after that position)
                after = is_one & (cols >= (begin + q)[:, None])
                end = np.argmax(after, axis=1) - q
            v = rems[bkt] == rem.astype(np.uint8)[:, None]   # cmpeq mask
            window = ((slot_cols >= begin[:, None])
                      & (slot_cols < end[:, None]))
            hit = (v & window).any(axis=1)
            enc = self._encode(c)
            if over.size:
                hit |= sorted_member(over, enc)
            hit |= sorted_member(self.spare, c)
            out[lo:lo + _CHUNK] = hit
        return out[:keys.size]

    # -- io ---------------------------------------------------------------
    def to_bytes(self) -> bytes:
        """PD blocks bit-compatible with crate.h's __m512i layout: 13
        header bytes (101-bit EF: the q-th one terminates quotient q's
        zero-run of fingerprints) + 51 remainder bytes, then overflow
        triples (merge artifacts) and spare keys."""
        blocks, over = self.pd_blocks()
        n_pd = self.triples.size - over.size
        hdr = struct.pack(_FMT, _MAGIC, 2, self.bucket_count, self.ndv,
                          n_pd, over.size, self.spare.size, self.seed)
        return (hdr + blocks.tobytes() + over.astype("<u8").tobytes()
                + self.spare.astype("<u8").tobytes())

    @classmethod
    def peek_seed(cls, blob: bytes) -> int:
        """Hash-domain seed from the header without decoding the blob
        (0 = unrecorded v1 blob)."""
        magic, ver = struct.unpack_from("<4sH", blob)
        if magic != _MAGIC:
            raise ValueError("bad crate blob header")
        return struct.unpack_from(_FMT, blob)[7] if ver >= 2 else 0

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CrateFilter":
        magic, ver = struct.unpack_from("<4sH", blob)
        if magic != _MAGIC or ver not in (1, 2):
            raise ValueError("bad crate blob header")
        if ver == 1:  # pre-seed layout: hash domain unrecorded (seed 0)
            _, _, nb, ndv, n_pd, n_over, n_spare = \
                struct.unpack_from(_FMT_V1, blob)
            seed, hdr_size = 0, _HDR_SIZE_V1
        else:
            _, _, nb, ndv, n_pd, n_over, n_spare, seed = \
                struct.unpack_from(_FMT, blob)
            hdr_size = _HDR_SIZE
        f = cls.__new__(cls)
        f.bucket_count, f.ndv, f.seed = nb, ndv, seed
        blocks = np.frombuffer(blob, dtype=np.uint8, offset=hdr_size,
                               count=nb * _PD_BYTES).reshape(nb, _PD_BYTES)
        bits = np.unpackbits(blocks[:, :_HDR_BYTES], axis=1,
                             bitorder="little")[:, :_HDR_BITS]
        ones_pos = np.nonzero(bits)[1].reshape(nb, _QUOTS)
        counts = np.diff(ones_pos, axis=1, prepend=-1) - 1
        fills = counts.sum(axis=1)
        quots = np.repeat(np.tile(np.arange(_QUOTS), nb), counts.reshape(-1))
        buckets = np.repeat(np.arange(nb), fills)
        cols = np.arange(quots.size) - np.repeat(
            np.cumsum(fills) - fills, fills)
        rems = blocks[buckets, _HDR_BYTES + cols].astype(np.uint64)
        pd_t = (buckets.astype(np.uint64) * U64(_TRIPLE_SPAN)
                + quots.astype(np.uint64) * U64(256) + rems)
        off = hdr_size + nb * _PD_BYTES
        over = np.frombuffer(blob, dtype="<u8", offset=off,
                             count=n_over).astype(np.uint64)
        off += n_over * 8
        f.spare = np.frombuffer(blob, dtype="<u8", offset=off,
                                count=n_spare).astype(np.uint64)
        f.triples = np.sort(np.concatenate([pd_t, over]), kind="stable")
        f._off = None
        return f



def _rank_within(sorted_groups: np.ndarray) -> np.ndarray:
    """0-based rank of each element within its group; input sorted by
    group (first-of-run trick, no np.ufunc.at scatter)."""
    n = sorted_groups.size
    if not n:
        return np.zeros(0, dtype=np.int64)
    idx = np.arange(n)
    newgrp = np.concatenate(([True], sorted_groups[1:] != sorted_groups[:-1]))
    starts = np.maximum.accumulate(np.where(newgrp, idx, 0))
    return idx - starts
