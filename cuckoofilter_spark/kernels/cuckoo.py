"""Vectorized cuckoo filter kernel (pure numpy, no Spark).

Re-expresses ``cuckoofilter.h`` + ``singletable.h`` of
GerHobbelt/cuckoofilter as a batch-oriented numpy structure:

- partial-key cuckoo hashing, 4-slot buckets (singletable.h:25),
  ``bits_per_item`` in {4, 8, 12, 16, 32} fingerprints;
- sizing ``num_buckets = upperpower2(max(1, n/4))``, doubled when the
  load fraction would exceed 0.94 (cuckoofilter.h:91-100);
- tag hash with 0 remapped to 1 (cuckoofilter.h:59-64), index from the
  high 32 hash bits (cuckoofilter.h:66-73), alt index
  ``i ^ (tag * 0x5bd1e995)`` (cuckoofilter.h:75-81, self-inverse);
- insert with a kick chain capped at 500 displacements
  (cuckoofilter.h:23,156-181), spilling the final evictee to a 1-entry
  victim cache (cuckoofilter.h:42-48,177-180);
- Contain / Delete / Size / LoadFactor / BitsPerItem / Info
  (cuckoofilter.h:135-255);
- serialize to a little-endian bit-packed blob (cuckoofilter.h:104-119,
  singletable.h:67-78) with an explicit header carrying the hash seed
  (the reference's hasher is seeded from std::random_device and is not
  reproducible; we make the seed part of the filter identity).

Divergences from the reference (deliberate, documented):

- **Batch-vectorized insert.** The reference inserts one key at a time
  (cuckoofilter.h:143-181). We insert whole key arrays per round:
  each round places at most one pending key per bucket (first-empty
  slot, singletable.h:214-221 semantics) and resolves the collision
  residue with seeded evictions. The multiset of stored (bucket, tag)
  pairs satisfies the same invariants (no false negatives, both-bucket
  membership); the physical slot layout differs from a serial C++ run.
- **Deterministic eviction.** The reference evicts ``rand() % 4``
  (singletable.h:222-226) — unreproducible. We use a splitmix64 stream
  keyed on (filter seed, round) so builds are pure functions of
  (params, key order): required for checkpoint/resume and for
  bit-exact canonical merges (``evict_slots`` / ``evict_slot1``).
- **Canonical merge.** The reference has no cuckoo merge (only the CQF
  does, gqf.c:2428-2475, by iterate-and-reinsert). ``merge`` follows
  that pattern: extract all stored tags with their *canonical* index
  ``min(i, AltIndex(i, tag))``, take the sorted union multiset, and
  rebuild deterministically. merge(a, merge(b, c)) == merge(merge(a, b), c)
  bit-exact, because the result depends only on the content multiset.
  Like qf_merge, merging filters with different seed/size/bits raises.
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import U64, simple_mix_split, upperpower2

KICK_CONST = U64(0x5BD1E995)  # cuckoofilter.h:78
MAX_KICKS = 500  # kMaxCuckooCount, cuckoofilter.h:23
ASSOC = 4  # kTagsPerBucket, singletable.h:25

_U64_MASK = 0xFFFFFFFFFFFFFFFF
# round-stream spacing constant: consecutive rounds get bases one odd
# 64-bit increment apart, so per-round arange windows (<= one chunk,
# 2^16) can never overlap between rounds
_EVICT_STEP = 0xD1B54A32D192ED03


def evict_slots(seed: int, rnd: int, n: int) -> np.ndarray:
    """Seeded eviction slot choices for one kick round.

    The reference evicts ``rand() & (kTagsPerBucket - 1)``
    (singletable.h:222-226) — unreproducible. This is a splitmix64
    stream keyed on (filter seed, round): deterministic, vectorizable
    over all in-flight chains, and O(1) per kick in the sequential
    fallback (a per-kick ``Generator(Philox)`` construction measured
    ~12 us and dominated saturating fill-to-failure builds).
    """
    from .hashing import splitmix64
    base = U64((seed + rnd * _EVICT_STEP) & _U64_MASK)
    return (splitmix64(base + np.arange(n, dtype=np.uint64))
            & U64(ASSOC - 1)).astype(np.int64)


def evict_slot1(seed: int, rnd: int) -> int:
    """Scalar twin of ``evict_slots(seed, rnd, 1)[0]`` in pure ints
    (the sequential AddImpl fallback runs one kick at a time)."""
    z = ((seed + rnd * _EVICT_STEP) + 0x9E3779B97F4A7C15) & _U64_MASK
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _U64_MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _U64_MASK
    return (z ^ (z >> 31)) & (ASSOC - 1)

_MAGIC = b"CKF1"
# v2 header stores num_buckets directly (the stable variant uses non-2^n
# bucket counts, cuckoofilter_stable.h:112-118); plain fmt string because
# struct.Struct instances are not cloudpickle-able
_FMT = "<4sHBBQQQQBxxxQI"
_HDR_SIZE = struct.calcsize(_FMT)  # magic ver bits mode nb seed nitems cap vused pad vindex vtag


class CuckooFullError(RuntimeError):
    """NotEnoughSpace (cuckoofilter.h:18): table + victim cache full."""


def _dtype_for(bits: int):
    if bits <= 8:
        return np.uint8
    if bits <= 16:
        return np.uint16
    return np.uint32


def pack_tags(tags: np.ndarray, bits: int) -> bytes:
    """Bit-pack a flat tag array little-endian. Widths as singletable.h:90-146."""
    n = tags.size
    if bits == 8:
        return tags.astype(np.uint8).tobytes()
    if bits == 16:
        return tags.astype("<u2").tobytes()
    if bits == 32:
        return tags.astype("<u4").tobytes()
    if bits == 4:
        t = tags.astype(np.uint8).reshape(-1, 2)
        return (t[:, 0] | (t[:, 1] << 4)).tobytes()
    if bits == 12:
        # 2 tags -> 3 bytes (the reference's byte-pair layout, singletable.h:102-104)
        t = tags.astype(np.uint16).reshape(-1, 2)
        b = np.empty((t.shape[0], 3), dtype=np.uint8)
        b[:, 0] = t[:, 0] & 0xFF
        b[:, 1] = ((t[:, 0] >> 8) & 0x0F) | ((t[:, 1] & 0x0F) << 4)
        b[:, 2] = t[:, 1] >> 4
        return b.tobytes()
    raise ValueError(f"unsupported bits_per_item: {bits}")


def unpack_tags(buf: bytes, bits: int, n: int) -> np.ndarray:
    if bits == 8:
        return np.frombuffer(buf, dtype=np.uint8, count=n).copy()
    if bits == 16:
        return np.frombuffer(buf, dtype="<u2", count=n).astype(np.uint16)
    if bits == 32:
        return np.frombuffer(buf, dtype="<u4", count=n).astype(np.uint32)
    if bits == 4:
        raw = np.frombuffer(buf, dtype=np.uint8, count=n // 2)
        out = np.empty(n, dtype=np.uint8)
        out[0::2] = raw & 0x0F
        out[1::2] = raw >> 4
        return out
    if bits == 12:
        raw = np.frombuffer(buf, dtype=np.uint8, count=(n // 2) * 3).reshape(-1, 3)
        out = np.empty(n, dtype=np.uint16)
        out[0::2] = raw[:, 0].astype(np.uint16) | ((raw[:, 1].astype(np.uint16) & 0x0F) << 8)
        out[1::2] = (raw[:, 1].astype(np.uint16) >> 4) | (raw[:, 2].astype(np.uint16) << 4)
        return out
    raise ValueError(f"unsupported bits_per_item: {bits}")


class CuckooFilter:
    """Numpy cuckoo filter over uint64 keys.

    Parameters mirror ``CuckooFilter<uint64_t, bits, SingleTable>``;
    ``seed`` replaces the reference's random_device-seeded hasher.
    """

    _BLOB_MAGIC = _MAGIC
    PREMIX_KEYS = False  # hashes raw keys itself (see sketch.membership)

    @classmethod
    def key_hash64(cls, keys, seed: int) -> "np.ndarray":
        """64-bit key hash — the filter-identity function (subclasses
        trade hash families; JvmCuckooFilter picks the one Spark can
        evaluate in codegen)."""
        return simple_mix_split(keys, seed)

    def __init__(self, num_buckets: int, bits: int, seed: int, capacity: int,
                 mode: str = "single", stable: bool = False):
        if stable:
            if num_buckets % 2:
                raise ValueError("stable variant needs an even bucket count "
                                 "(cuckoofilter_stable.h:113)")
        elif num_buckets & (num_buckets - 1):
            raise ValueError("num_buckets must be a power of two")
        if mode not in ("single", "semisort"):
            raise ValueError(f"unknown mode {mode!r}")
        self.stable = bool(stable)
        if mode == "semisort":
            from .packed import SEMISORT_WIDTHS
            if bits not in SEMISORT_WIDTHS:
                # the reference enumerates direct-bit layouts for exactly
                # these tag widths (packedtable.h:128-191); 13 is the
                # shipped/tested config (example/test1.cc:38)
                raise ValueError(
                    f"semisort mode supports bits in {SEMISORT_WIDTHS}")
        elif bits not in (4, 8, 12, 16, 32):
            # reject at construction, not at to_bytes: single-table packing
            # has layouts only for the singletable.h widths
            from .packed import SEMISORT_WIDTHS
            raise ValueError(
                f"bits={bits}: single mode supports bits in (4, 8, 12, "
                f"16, 32); semisort (PackedTable) supports "
                f"{SEMISORT_WIDTHS}")
        self.mode = mode
        self.num_buckets = int(num_buckets)
        self.bits = int(bits)
        self.seed = int(seed) & 0xFFFFFFFFFFFFFFFF
        self.capacity = int(capacity)
        self.table = np.zeros((self.num_buckets, ASSOC), dtype=_dtype_for(bits))
        self.num_items = 0
        self.victim_used = False
        self.victim_index = 0
        self.victim_tag = 0
        self._round = 0  # eviction-rng round counter (part of determinism story)

    # -- construction -----------------------------------------------------
    @classmethod
    def create(cls, max_num_keys: int, bits: int = 12, seed: int = 0x5EED,
               mode: str = "single", stable: bool = False) -> "CuckooFilter":
        """Sizing: cuckoofilter.h:91-100 (pow2) or the stable rule
        ``(10 + n/0.94/4) / 2 * 2`` (cuckoofilter_stable.h:112-118),
        which lands every build at ~0.94 max load instead of wasting up
        to 2x space on power-of-two rounding."""
        if stable:
            nb = int((10 + max_num_keys / 0.94 / ASSOC) // 2 * 2)
            return cls(nb, bits, seed, max_num_keys, mode=mode, stable=True)
        nb = upperpower2(max(1, max_num_keys // ASSOC))
        frac = max_num_keys / nb / ASSOC
        if frac > 0.94:
            nb <<= 1
        return cls(nb, bits, seed, max_num_keys, mode=mode)

    # -- hashing ----------------------------------------------------------
    def _index_tag(self, keys) -> tuple[np.ndarray, np.ndarray]:
        """GenerateIndexTagHash (cuckoofilter.h:66-73; stable variant
        cuckoofilter_stable.h:48-65: Lemire reduce of the low word,
        tag from the high word)."""
        h = type(self).key_hash64(keys, self.seed)
        if self.stable:
            from .hashing import lemire_reduce
            index = lemire_reduce(h & U64(0xFFFFFFFF),
                                  self.num_buckets).astype(np.int64)
            tag = ((h >> U64(32)) & U64((1 << self.bits) - 1)).astype(np.uint32)
        else:
            index = ((h >> U64(32)) & U64(self.num_buckets - 1)).astype(np.int64)
            tag = (h & U64((1 << self.bits) - 1)).astype(np.uint32)
        tag = tag + (tag == 0)  # TagHash 0-remap, cuckoofilter.h:59-64
        return index, tag.astype(self.table.dtype)

    def alt_index(self, index: np.ndarray, tag: np.ndarray) -> np.ndarray:
        """AltIndex (cuckoofilter.h:75-81); involution by construction.

        Stable variant (cuckoofilter_stable.h:67-102): with even
        bucketCount and odd r derived from the tag,
        ``b2 = (bucketCount - index - r) mod bucketCount`` — running it
        twice returns the original bucket and b2 != index always."""
        i = np.asarray(index).astype(np.uint64)
        t = np.asarray(tag).astype(np.uint64)
        if self.stable:
            from .hashing import lemire_reduce
            h = t * U64(0xC4CEB9FE1A85EC53)
            r = (lemire_reduce(h & U64(0xFFFFFFFF), self.num_buckets >> 1)
                 << U64(1)) + U64(1)
            b2 = (U64(self.num_buckets) - i - r).view(np.int64)
            b2 = np.where(b2 < 0, b2 + self.num_buckets, b2)
            return b2.astype(np.int64)
        return ((i ^ (t * KICK_CONST)) & U64(self.num_buckets - 1)).astype(np.int64)

    # -- insert -----------------------------------------------------------
    def add_many(self, keys, raise_on_full: bool = True) -> int:
        """Bulk Add (cuckoofilter.h:143-181, vectorized rounds).

        Returns the number of keys stored. On overflow: raises
        CuckooFullError if ``raise_on_full`` else stops and returns the
        count stored so far (remaining keys are NOT inserted —
        NotEnoughSpace semantics, cuckoofilter.h:148-150).
        """
        keys = np.asarray(keys)
        # chunked: bounds the pending-set working memory of the kick loop
        # (cache-resident rounds) — layout is still deterministic because
        # the chunking policy is fixed
        total = 0
        for lo in range(0, keys.size, 1 << 16):
            idx, tag = self._index_tag(keys[lo:lo + (1 << 16)])
            total += self._add_tags(idx, tag, raise_on_full)
        return total

    def _add_tags(self, idx: np.ndarray, tag: np.ndarray, raise_on_full: bool = True) -> int:
        """Vectorized-rounds bulk insert with a transactional fallback.

        The parallel kick loop keeps MANY chains in flight; when a
        SECOND chain overflows (victim already taken) their in-flight
        displaced tags would have nowhere to land — abandoning them
        would create false negatives for acknowledged keys (the
        reference never loses items: its single in-flight tag always
        reaches the victim slot, cuckoofilter.h:177-180). So every
        table write is undo-logged; on second overflow the whole call
        rolls back and re-runs SEQUENTIALLY (`_add_tags_seq`) with the
        reference's exact one-chain-at-a-time semantics. Only the
        saturating chunk of a fill ever pays the sequential pass —
        every later call returns at the victim_used gate.
        """
        if self.victim_used:
            if raise_on_full:
                raise CuckooFullError("victim cache occupied (cuckoofilter.h:148-150)")
            return 0
        cur_idx = idx.astype(np.int64).copy()
        cur_tag = tag.astype(self.table.dtype).copy()
        kicks = np.zeros(cur_idx.size, dtype=np.int32)
        # attempt 0: primary bucket, no eviction; attempt 1: alt bucket,
        # no eviction; attempt >=2: evict (AddImpl kickout = count>0).
        attempt = np.zeros(cur_idx.size, dtype=np.int8)
        inserted = 0
        order = np.arange(cur_idx.size)  # stable priority: earlier keys first
        undo: list = []  # (buckets, slots, old_tags) per write batch
        n0, round0 = self.num_items, self._round

        def rollback():
            for b, s, o in reversed(undo):
                self.table[b, s] = o
            self.num_items = n0
            self.victim_used = False
            self._round = round0
            return self._add_tags_seq(idx, tag, raise_on_full)

        while cur_idx.size:
            self._round += 1
            # one pending key per bucket per round (earliest in key order wins)
            uniq, first = np.unique(cur_idx, return_index=True)
            first.sort()
            sel_idx = cur_idx[first]
            sel_tag = cur_tag[first]
            rows = self.table[sel_idx]
            empty = rows == 0
            has_empty = empty.any(axis=1)

            # place into first empty slot (singletable.h:214-221)
            place = np.flatnonzero(has_empty)
            if place.size:
                slots = empty[place].argmax(axis=1)
                undo.append((sel_idx[place], slots,
                             np.zeros(place.size, dtype=self.table.dtype)))
                self.table[sel_idx[place], slots] = sel_tag[place]
                inserted += place.size
                self.num_items += place.size

            # full buckets: advance state machine
            fullm = np.flatnonzero(~has_empty)
            new_idx_parts, new_tag_parts, new_kick_parts, new_att_parts, new_ord_parts = [], [], [], [], []
            if fullm.size:
                f_pos = first[fullm]  # positions in pending arrays
                att = attempt[f_pos]
                # attempt 0 -> retry at alt bucket
                retry = f_pos[att == 0]
                if retry.size:
                    new_idx_parts.append(self.alt_index(cur_idx[retry], cur_tag[retry]))
                    new_tag_parts.append(cur_tag[retry])
                    new_kick_parts.append(kicks[retry])
                    new_att_parts.append(np.ones(retry.size, dtype=np.int8))
                    new_ord_parts.append(order[retry])
                # attempt >=1 -> evict a seeded-random slot, re-route evictee
                evict = f_pos[att >= 1]
                if evict.size:
                    slots = evict_slots(self.seed, self._round, evict.size)
                    e_idx = cur_idx[evict]
                    old = self.table[e_idx, slots].copy()
                    undo.append((e_idx, slots, old))
                    self.table[e_idx, slots] = cur_tag[evict]
                    nk = kicks[evict] + 1
                    over = nk > MAX_KICKS
                    if over.any():
                        # spill ONE evictee to the victim cache
                        # (cuckoofilter.h:177-180); any further overflow
                        # is NotEnoughSpace.
                        ov = np.flatnonzero(over)
                        for j in ov:
                            if not self.victim_used:
                                self.victim_used = True
                                self.victim_index = int(self.alt_index(
                                    np.array([e_idx[j]]), np.array([old[j]]))[0])
                                self.victim_tag = int(old[j])
                                self.num_items += 1
                                inserted += 1
                            else:
                                # SECOND overflow: other chains' in-flight
                                # displaced tags have nowhere to land —
                                # roll the whole call back and re-run with
                                # the reference's sequential semantics
                                return rollback()
                        keep = ~over
                    else:
                        keep = np.ones(evict.size, dtype=bool)
                    kk = np.flatnonzero(keep)
                    if kk.size:
                        new_idx_parts.append(self.alt_index(e_idx[kk], old[kk]))
                        new_tag_parts.append(old[kk])
                        new_kick_parts.append(nk[kk])
                        new_att_parts.append(np.ones(kk.size, dtype=np.int8))
                        new_ord_parts.append(order[evict][kk])

            # rebuild pending = (not selected this round) + re-routed
            mask = np.ones(cur_idx.size, dtype=bool)
            mask[first] = False
            new_idx_parts.insert(0, cur_idx[mask])
            new_tag_parts.insert(0, cur_tag[mask])
            new_kick_parts.insert(0, kicks[mask])
            new_att_parts.insert(0, attempt[mask])
            new_ord_parts.insert(0, order[mask])
            cur_idx = np.concatenate(new_idx_parts)
            cur_tag = np.concatenate(new_tag_parts)
            kicks = np.concatenate(new_kick_parts)
            attempt = np.concatenate(new_att_parts)
            order = np.concatenate(new_ord_parts)
            # deterministic processing order: by original key order
            if cur_idx.size:
                srt = np.argsort(order, kind="stable")
                cur_idx, cur_tag, kicks, attempt, order = (
                    cur_idx[srt], cur_tag[srt], kicks[srt], attempt[srt], order[srt])
        return inserted

    def _add_tags_seq(self, idx: np.ndarray, tag: np.ndarray,
                      raise_on_full: bool = True) -> int:
        """Reference AddImpl, one chain at a time (cuckoofilter.h:
        143-181): at most ONE displaced tag is ever in flight, so an
        exhausted kick chain always parks it in the victim cache and
        no acknowledged key can be lost. Used as the transactional
        fallback for the saturating chunk (see ``_add_tags``)."""
        inserted = 0
        idx = idx.astype(np.int64)
        tag = tag.astype(self.table.dtype)
        table = self.table
        seed = self.seed
        # pure-int chain step (a saturating chunk runs ~10^5-10^6 kicks;
        # per-kick numpy scalar ops made this loop the fill-to-failure
        # wall-clock — conext-table3 protocol)
        nb = self.num_buckets
        nb_mask = nb - 1
        kick_const = int(KICK_CONST)
        stable = self.stable
        half = nb >> 1
        for j in range(idx.size):
            if self.victim_used:
                if raise_on_full:
                    raise CuckooFullError(
                        "victim cache occupied (cuckoofilter.h:148-150)")
                return inserted
            i, t = int(idx[j]), int(tag[j])
            placed = False
            for count in range(MAX_KICKS):
                r0, r1, r2, r3 = table[i].tolist()
                if r0 == 0:
                    table[i, 0] = t; placed = True; break
                if r1 == 0:
                    table[i, 1] = t; placed = True; break
                if r2 == 0:
                    table[i, 2] = t; placed = True; break
                if r3 == 0:
                    table[i, 3] = t; placed = True; break
                if count > 0:  # kickout from the current bucket
                    self._round += 1
                    s = evict_slot1(seed, self._round)
                    old = (r0, r1, r2, r3)[s]
                    table[i, s] = t
                    t = old
                # AltIndex, scalar form (cuckoofilter.h:75-81 /
                # cuckoofilter_stable.h:67-102) — pinned against the
                # vectorized alt_index by a parity test
                if stable:
                    h = (t * 0xC4CEB9FE1A85EC53) & _U64_MASK
                    r = (((h & 0xFFFFFFFF) * half) >> 32) * 2 + 1
                    i = (nb - i - r) % nb
                else:
                    i = (i ^ ((t * kick_const) & _U64_MASK)) & nb_mask
            if not placed:
                # park the in-flight tag (cuckoofilter.h:177-180); Ok
                self.victim_used = True
                self.victim_index = i
                self.victim_tag = int(t)
            self.num_items += 1
            inserted += 1
        return inserted

    # -- lookup -----------------------------------------------------------
    def contains_many(self, keys) -> np.ndarray:
        """Bulk Contain (cuckoofilter.h:184-204): victim + both buckets."""
        idx1, tag = self._index_tag(np.asarray(keys))
        idx2 = self.alt_index(idx1, tag)
        t = tag[:, None]
        found = (self.table[idx1] == t).any(axis=1) | (self.table[idx2] == t).any(axis=1)
        if self.victim_used:
            vt = self.table.dtype.type(self.victim_tag)
            found |= (tag == vt) & ((idx1 == self.victim_index) | (idx2 == self.victim_index))
        return found

    # -- delete -----------------------------------------------------------
    def delete_many(self, keys) -> np.ndarray:
        """Bulk Delete (cuckoofilter.h:206-238): removes ONE occurrence per
        requested key; caller guarantees presence (reference README.md:21).
        Returns a bool array: True where a tag was removed.
        """
        idx1, tag = self._index_tag(np.asarray(keys))
        out = np.zeros(idx1.size, dtype=bool)
        # serial-per-bucket semantics via rounds (duplicate keys in one
        # batch each remove one copy, as repeated C++ Delete calls would)
        pending = np.arange(idx1.size)
        while pending.size:
            uniq, first = np.unique(idx1[pending], return_index=True)
            sel = pending[np.sort(first)]
            for which in (0, 1):
                bi = idx1[sel] if which == 0 else self.alt_index(idx1[sel], tag[sel])
                rows = self.table[bi]
                match = rows == tag[sel][:, None]
                hit = match.any(axis=1) & ~out[sel]
                hpos = np.flatnonzero(hit)
                if hpos.size:
                    slots = match[hpos].argmax(axis=1)
                    self.table[bi[hpos], slots] = 0
                    out[sel[hpos]] = True
            mask = np.ones(pending.size, dtype=bool)
            mask[np.sort(first)] = False
            pending = pending[mask]
        removed = int(out.sum())  # table removals only
        self.num_items -= removed
        # keys not found in either bucket may BE the victim entry
        # (cuckoofilter.h:212-216: Delete matches victim_.tag at either
        # index); clear it for at most one such key
        if self.victim_used and not out.all():
            vt = self.table.dtype.type(self.victim_tag)
            vm = np.flatnonzero(
                ~out & (tag == vt)
                & ((idx1 == self.victim_index)
                   | (self.alt_index(idx1, tag) == self.victim_index)))
            if vm.size:
                self.victim_used = False
                self.num_items -= 1
                out[vm[0]] = True
        if removed and self.victim_used:
            # TryEliminateVictim (cuckoofilter.h:225-235): re-insert victim
            self.victim_used = False
            self.num_items -= 1
            vi, vt = self.victim_index, self.victim_tag
            self._add_tags(np.array([vi], dtype=np.int64),
                           np.array([vt], dtype=self.table.dtype), raise_on_full=False)
        return out

    # -- stats ------------------------------------------------------------
    def size(self) -> int:
        return self.num_items  # cuckoofilter.h:135

    def size_in_tags(self) -> int:
        return self.num_buckets * ASSOC

    def size_in_bytes(self) -> int:
        """Bit-packed table bytes (singletable.h:59-61; packedtable.h
        semi-sort saves 1 bit/tag -> 6-byte buckets at bits=13)."""
        ntags = self.size_in_tags()
        if self.mode == "semisort":
            from .packed import packed_table_bytes
            return packed_table_bytes(self.num_buckets, self.bits)
        return {4: ntags // 2, 8: ntags, 12: ntags * 3 // 2,
                16: ntags * 2, 32: ntags * 4}[self.bits]

    def load_factor(self) -> float:
        return self.num_items / self.size_in_tags()  # cuckoofilter.h:86

    def bits_per_item(self) -> float:
        return 8.0 * self.size_in_bytes() / max(1, self.num_items)  # cuckoofilter.h:88

    def expected_fpp(self) -> float:
        """Analytic bound ~ 2*assoc / 2^bits (partial-key cuckoo, 2 buckets)."""
        return 2.0 * ASSOC / (1 << self.bits)

    def info(self) -> dict:
        """Info() (cuckoofilter.h:240-255) as a dict."""
        return {
            "mode": self.mode,
            "stable": self.stable,
            "bits_per_item_config": self.bits,
            "num_buckets": self.num_buckets,
            "num_items": self.num_items,
            "load_factor": self.load_factor(),
            "bits_per_item": self.bits_per_item(),
            "size_in_bytes": self.size_in_bytes(),
            "victim_used": self.victim_used,
            "expected_fpp": self.expected_fpp(),
        }

    # -- serialization ----------------------------------------------------
    def to_bytes(self) -> bytes:
        """Little-endian blob: header + bit-packed table (cuckoofilter.h:104-119).

        mode=semisort packs buckets through the PermEncoding codec
        (packedtable.h) — 6 bytes/bucket at bits=13 instead of 8."""
        mode_byte = (1 if self.mode == "semisort" else 0) | (2 if self.stable else 0)
        hdr = struct.pack(_FMT,
            self._BLOB_MAGIC, 2, self.bits, mode_byte,
            self.num_buckets,
            self.seed, self.num_items, self.capacity,
            int(self.victim_used), self.victim_index, self.victim_tag,
        )
        if self.mode == "semisort":
            from .packed import pack_buckets
            return hdr + pack_buckets(self.table, self.bits)
        return hdr + pack_tags(self.table.reshape(-1), self.bits)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CuckooFilter":
        magic, ver, bits, mode, nb, seed, nitems, cap, vused, vindex, vtag = struct.unpack_from(_FMT, blob)
        if magic != cls._BLOB_MAGIC or ver != 2:
            raise ValueError("bad cuckoo blob header")
        f = cls(nb, bits, seed, cap,
                mode="semisort" if (mode & 1) else "single",
                stable=bool(mode & 2))
        f.num_items = nitems
        f.victim_used = bool(vused)
        f.victim_index = vindex
        f.victim_tag = vtag
        if f.mode == "semisort":
            from .packed import unpack_buckets
            f.table = unpack_buckets(blob[_HDR_SIZE:], f.num_buckets, bits)
        else:
            f.table = unpack_tags(blob[_HDR_SIZE:], bits, f.size_in_tags()).reshape(
                f.num_buckets, ASSOC)
        return f

    # -- merge ------------------------------------------------------------
    def extract_items(self) -> tuple[np.ndarray, np.ndarray]:
        """All stored tags with canonical index min(i, AltIndex(i, tag))."""
        bi, _sl = np.nonzero(self.table)
        tags = self.table[self.table != 0]
        if self.victim_used:
            bi = np.append(bi, self.victim_index)
            tags = np.append(tags, self.table.dtype.type(self.victim_tag))
        alt = self.alt_index(bi, tags)
        canon = np.minimum(bi, alt)
        return canon.astype(np.int64), tags

    def _params(self) -> tuple:
        # class name LAST: _FlatProbe compares _params()[1:] to allow
        # per-shard num_buckets variance while refusing cross-class mixes
        return (self.num_buckets, self.bits, self.seed, self.mode,
                self.stable, type(self).__name__)

    @classmethod
    def merge(cls, a: "CuckooFilter", b: "CuckooFilter") -> "CuckooFilter":
        """Content-canonical merge (qf_merge pattern, gqf.c:2428-2475).

        Requires identical (num_buckets, bits, seed) — mirrors gqf.c's
        refusal to merge mismatched filters (gqf.c:2434-2440). Result is
        a pure function of the union multiset of stored items, so the
        operation is associative and commutative bit-exactly. Raises
        CuckooFullError if the union does not fit.
        """
        if a._params() != b._params():
            raise ValueError(f"incompatible filters: {a._params()} vs {b._params()}")
        ia, ta = a.extract_items()
        ib, tb = b.extract_items()
        ci = np.concatenate([ia, ib])
        ct = np.concatenate([ta, tb])
        srt = np.lexsort((ct, ci))
        out = cls(a.num_buckets, a.bits, a.seed, max(a.capacity, b.capacity),
                  mode=a.mode, stable=a.stable)
        out._add_tags(ci[srt], ct[srt].astype(out.table.dtype), raise_on_full=True)
        return out

    def canonicalize(self) -> "CuckooFilter":
        """Rebuild into canonical layout (same function ``merge`` applies)."""
        ci, ct = self.extract_items()
        srt = np.lexsort((ct, ci))
        out = type(self)(self.num_buckets, self.bits, self.seed, self.capacity,
                         mode=self.mode, stable=self.stable)
        out._add_tags(ci[srt], ct[srt].astype(out.table.dtype), raise_on_full=True)
        return out


_JVM_SEED_GOLDEN = 0x9E3779B97F4A7C15


class JvmCuckooFilter(CuckooFilter):
    """Cuckoo filter whose key hash is Spark's built-in ``xxhash64``
    over a seed-mixed key — the ONLY change vs CuckooFilter (same
    GenerateIndexTagHash split, TagHash 0-remap, AltIndex involution;
    cuckoofilter.h:59-81).

    The hash swap makes Contain (cuckoofilter.h:184-204) expressible in
    whole-stage-codegen JVM arithmetic: tag/index extraction is masking
    and shifts, AltIndex's ``i ^ (tag * 0x5bd1e995)`` stays under 2^48
    (ANSI-safe as a single BIGINT multiply), and the two bucket reads
    become broadcast hash joins against the bucket table AS DATA — see
    ``sketch/membership.cuckoo_jvm_filter``. Same motivation as
    JvmBlockedBloomFilter: the ~49 M/s Arrow pipe floor bounds every
    Python-side probe; this variant's probe plan has no Python at all.

    The xor constant is ``(seed * golden) | 1`` — never zero, so the
    filter hash ``xxhash64(key ^ c)`` stays decorrelated from the shard
    route ``xxhash64(key)`` (with c=0 the tag's low bits would repeat
    the shard id inside every shard, inflating per-shard fpp by the
    shard count). ``xxhash64_long`` (kernels/hashing.py) is the proven
    bit-exact numpy twin of ``F.xxhash64(long_col)``.
    """

    _BLOB_MAGIC = b"CKFV"

    @classmethod
    def seed_xor_const(cls, seed: int) -> int:
        return ((seed * _JVM_SEED_GOLDEN) | 1) & 0xFFFFFFFFFFFFFFFF

    @classmethod
    def key_hash64(cls, keys, seed: int) -> "np.ndarray":
        from .hashing import xxhash64_long

        v = np.asarray(keys).astype(np.uint64, copy=False)
        return xxhash64_long(v ^ U64(cls.seed_xor_const(seed)), 42)
