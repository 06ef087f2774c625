"""Shingle filter kernel — shingle.h re-expressed (SURVEY §2.3 #28).

The reference's Shingle (shingle.h:15-208) is a cuckoo filter with
OVERLAPPING buckets — Lehman & Panigrahy's "3.5-way cuckoo hashing for
the price of 2-and-a-bit" (ESA 2009): two interleaved arrays A and B;
a key's bucket in A is the slot pair (idx, idx+1) and in B the pair
(idx2, idx2+1) with ``idx2 = idx ^ ((fp_hash * fp) >> fp_bits)``
(shingle.h:77-79), so adjacent buckets share a slot and the structure
reaches ~12/12.75 load (94.1%) with 12-bit slots — the highest-load
deletable AMQ in the reference suite.

Slot encoding (shingle.h:26-37): ``(fingerprint << 1) | offset`` where
the offset bit says the entry sits one past its home index; value 0 is
the empty slot and fingerprint 0 remaps to 1 (shingle.h:176-177).
Contain checks the four candidate slots for the exact encoded value
(shingle.h:182-199); Delete clears the first match (shingle.h:201-207).

Re-expression, not a translation:

- bulk ``add_many`` uses the same vectorized round-based insertion as
  kernels/cuckoo.py (one numpy pass per round, conflict-free writes by
  first-wins slot dedup) instead of the reference's per-key recursion;
- eviction is seeded (Philox counter keyed on (seed, round)) instead
  of ``std::rand()`` (shingle.h:131), so builds are deterministic and
  two cluster runs produce identical blobs;
- a pending key tries its B bucket before evicting — the BFS-flavored
  search the reference leaves as a TODO (shingle.h:132); placements
  stay within each key's four candidate slots, so Contain semantics
  are identical;
- the robin-hood local push (shingle.h:113-128) is an insertion-order
  heuristic, not a semantic requirement — round-based eviction reaches
  the same load bound, which ``add_many`` enforces up front
  (shingle.h:172-174's 12/12.75 refusal);
- ``slot_bits`` generalizes the hard-coded 12-bit slot (11-bit
  fingerprint) the same way XorFilter2 generalizes storage width; the
  default stays 12 for reference parity.
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import U64, simple_mix_split, sorted_member, splitmix64, \
    upperpower2

_MAGIC = b"SHG1"
_FMT = "<4sHBBQQQ"
_HDR_SIZE = struct.calcsize(_FMT)
# magic ver slot_bits log2m seed filled n_spill
# (ver 2 appends n_spill uint64 spill entries after the packed tables;
#  ver-1 blobs wrote 0 in that field and carry no spill section)
_PAD = 3          # trailing slots so idx+1 writes never wrap (shingle.h:162-164)
# The reference recurses UNBOUNDED on kicks (shingle.h:135 — only the
# load refusal stops it); we bound the walk but generously, because the
# last insertions at the 12/12.75 bound legitimately walk long chains
# (measured: a 500-kick cap terminates the final ~15 chains of a 123k
# build). A chain hitting the cap moves its current victim to the exact
# spill side list — never dropped, so stored items stay queryable.
MAX_KICKS = 5000
MAX_LOAD = 12.0 / 12.75  # shingle.h:172


class ShingleFullError(RuntimeError):
    pass


class ShingleFilter:
    """Overlapping-bucket cuckoo filter over uint64 keys."""

    PREMIX_KEYS = False  # hashes raw keys itself (see sketch.membership)

    def __init__(self, log2m: int, slot_bits: int = 12, seed: int = 0x5EED):
        if not 4 <= slot_bits <= 16:
            raise ValueError("slot_bits must be in [4, 16]")
        self.log2m = int(log2m)              # each array has m = 2^log2m slots
        self.m = 1 << self.log2m
        self.slot_bits = int(slot_bits)
        self.fp_bits = slot_bits - 1
        self.seed = int(seed) & 0xFFFFFFFFFFFFFFFF
        # delta-universal fingerprint hash for the B index (shingle.h:48-49,
        # 157-161) — derived from the seed, not random_device, so two runs
        # and two cluster sizes build identical filters
        self.fp_hash = U64(splitmix64(
            np.array([self.seed ^ 0xA24BAED4963EE407], dtype=np.uint64))[0])
        self.tables = np.zeros((2, self.m + _PAD), dtype=np.uint16)  # A, B
        self.filled = 0
        self._round = 0
        # exact side list terminating over-long kick chains: encoded
        # (A-home << 16) | fp, sorted MULTISET (duplicate copies of one
        # item may both spill; delete removes one copy at a time) — the
        # batch analogue of the cuckoo victim cache (victimCache_,
        # cuckoofilter.h:42-46); a stored item is NEVER dropped, so
        # membership cannot lie
        self.spill = np.empty(0, dtype=np.uint64)

    # -- sizing -----------------------------------------------------------
    @classmethod
    def create(cls, max_num_keys: int, slot_bits: int = 12,
               seed: int = 0x5EED) -> "ShingleFilter":
        """Smallest pow2 arrays whose 2m slots hold max_num_keys at the
        12/12.75 load bound."""
        need = int(max_num_keys / MAX_LOAD) + 1
        m = upperpower2(max(2, (need + 1) // 2))
        return cls(int(m).bit_length() - 1, slot_bits, seed)

    # -- hashing ----------------------------------------------------------
    def _index_fp(self, keys) -> tuple[np.ndarray, np.ndarray]:
        """(home index in A, fingerprint) — shingle.h:175-177."""
        h = simple_mix_split(np.asarray(keys, dtype=np.uint64), self.seed)
        idx = ((h >> U64(self.fp_bits)) & U64(self.m - 1)).astype(np.int64)
        fp = (h & U64((1 << self.fp_bits) - 1)).astype(np.uint16)
        fp = fp + (fp == 0)  # 0 marks empty slots (shingle.h:36-37)
        return idx, fp

    def reindex(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        """B index from A index (shingle.h:77-79); XOR -> involution."""
        prod = np.asarray(idx).astype(np.uint64) ^ (
            (self.fp_hash * np.asarray(fp).astype(np.uint64))
            >> U64(self.fp_bits))
        return (prod & U64(self.m - 1)).astype(np.int64)

    # -- insert -----------------------------------------------------------
    def add_many(self, keys, raise_on_full: bool = True) -> int:
        keys = np.asarray(keys)
        total = 0
        for lo in range(0, keys.size, 1 << 16):
            idx, fp = self._index_fp(keys[lo:lo + (1 << 16)])
            total += self._add_pairs(idx, fp, raise_on_full)
        return total

    def _add_pairs(self, idx: np.ndarray, fp: np.ndarray,
                   raise_on_full: bool = True) -> int:
        """Place (A-home, fingerprint) pairs. attempt 0: try the home
        bucket then reroute to the other array; attempt 1: evict."""
        budget = int(MAX_LOAD * 2 * self.m) - self.filled
        if idx.size > budget:  # shingle.h:172-174 load refusal
            if raise_on_full:
                raise ShingleFullError(
                    f"load bound 12/12.75 reached ({self.filled}/{2 * self.m})")
            idx, fp = idx[:max(0, budget)], fp[:max(0, budget)]
        cur_idx = idx.astype(np.int64).copy()
        cur_fp = fp.astype(np.uint16).copy()
        arr = np.zeros(cur_idx.size, dtype=np.int8)      # 0 = A, 1 = B
        attempt = np.zeros(cur_idx.size, dtype=np.int8)
        kicks = np.zeros(cur_idx.size, dtype=np.int32)
        order = np.arange(cur_idx.size)
        inserted = 0

        while cur_idx.size:
            self._round += 1
            flat = self.tables.reshape(-1)
            base = arr.astype(np.int64) * (self.m + _PAD) + cur_idx
            v0 = flat[base]
            v1 = flat[base + 1]
            off = np.where(v0 == 0, 0, np.where(v1 == 0, 1, -1)).astype(np.int8)
            can_place = off >= 0
            need_evict = (~can_place) & (attempt >= 1)
            reroute = (~can_place) & (attempt == 0)

            # eviction slot choice: PREFER the pushable occupant — the
            # slot-1 entry whose offset bit is 0 lives at its own home and
            # can slide into the next overlap slot (the robin-hood push of
            # shingle.h:113-128, which is what reaches the 12/12.75 load);
            # otherwise a seeded coin (round-keyed, like cuckoo.py's
            # seeded eviction stream)
            ev = np.flatnonzero(need_evict)
            ev_off = np.zeros(0, dtype=np.int64)
            if ev.size:
                rng = np.random.Generator(np.random.Philox(
                    key=[self.seed & 0xFFFFFFFFFFFFFFFF, self._round]))
                ev_off = rng.integers(0, 2, size=ev.size)
                pushable = (v1[ev] & 1) == 0
                ev_off[pushable] = 1

            # intended writes this round: (slot, value); first in key
            # order wins each slot — overlapping buckets mean adjacent
            # homes share slots, so dedup is on the exact target slot
            pl = np.flatnonzero(can_place)
            w_slot = np.concatenate([base[pl] + off[pl],
                                     base[ev] + ev_off]).astype(np.int64)
            w_val = np.concatenate([
                (cur_fp[pl].astype(np.uint16) << 1) | off[pl].astype(np.uint16),
                (cur_fp[ev].astype(np.uint16) << 1) | ev_off.astype(np.uint16)])
            w_who = np.concatenate([pl, ev])
            w_order = order[w_who]
            srt = np.argsort(w_order, kind="stable")
            w_slot, w_val, w_who = w_slot[srt], w_val[srt], w_who[srt]
            uniq_slot, first = np.unique(w_slot, return_index=True)
            win = np.zeros(w_slot.size, dtype=bool)
            win[first] = True
            old_vals = flat[w_slot[win]]
            flat[w_slot[win]] = w_val[win]

            winners = w_who[win]
            placed = winners[can_place[winners]]
            inserted += placed.size
            self.filled += placed.size

            # evict winners: re-enqueue their victims at their own home
            # bucket in the SAME array first (attempt 0) — retrying the
            # home bucket reaches the adjacent overlap slot, which is the
            # vectorized form of the robin-hood local push
            # (shingle.h:113-128) and is what lets the structure fill to
            # the 12/12.75 bound; if the home bucket is full the normal
            # state machine reroutes the victim across arrays
            # (shingle.h:83-94 Swap + :135 AddHelp<!ISA>(ReIndex(...)))
            evw_mask = need_evict[winners]
            evw = winners[evw_mask]
            parts_idx, parts_fp, parts_arr, parts_att, parts_k, parts_o = \
                [], [], [], [], [], []
            if evw.size:
                old = old_vals[evw_mask]
                v_off = (old & 1).astype(np.int64)
                v_fp = (old >> 1).astype(np.uint16)
                # victim home in its own array = written slot - its offset
                w_evslot = w_slot[win][evw_mask]
                v_home = (w_evslot - arr[evw].astype(np.int64) * (self.m + _PAD)
                          - v_off)
                nk = kicks[evw] + 1
                over = nk > MAX_KICKS
                if over.any():
                    # terminate the chain: the victim (an item stored by
                    # an EARLIER add) goes to the exact spill list, never
                    # dropped — dropping it would be a false negative,
                    # and raising here would lose it too (its slot is
                    # already overwritten). Net effect of the chain: the
                    # new key is in the table (its evictor took this
                    # slot), one item moved table -> spill, so the chain
                    # counts as inserted and table occupancy is flat.
                    ov = np.flatnonzero(over)
                    s_home = v_home[ov].copy()
                    s_fp = v_fp[ov]
                    in_b = arr[evw][ov] == 1
                    if in_b.any():
                        s_home[in_b] = self.reindex(s_home[in_b],
                                                    s_fp[in_b])
                    self.spill = np.sort(np.concatenate([
                        self.spill,
                        (s_home.astype(np.uint64) << U64(16))
                        | s_fp.astype(np.uint64)]))
                    inserted += ov.size
                kk = np.flatnonzero(~over)
                if kk.size:
                    parts_idx.append(v_home[kk])
                    parts_fp.append(v_fp[kk])
                    parts_arr.append(arr[evw][kk])
                    parts_att.append(np.zeros(kk.size, dtype=np.int8))
                    parts_k.append(nk[kk])
                    parts_o.append(order[evw][kk])

            # reroute (home bucket full, first try): same key, other array
            rr = np.flatnonzero(reroute)
            if rr.size:
                parts_idx.append(self.reindex(cur_idx[rr], cur_fp[rr]))
                parts_fp.append(cur_fp[rr])
                parts_arr.append(1 - arr[rr])
                parts_att.append(np.ones(rr.size, dtype=np.int8))
                parts_k.append(kicks[rr])
                parts_o.append(order[rr])

            # losers (slot conflict this round): retry unchanged
            lose = np.zeros(cur_idx.size, dtype=bool)
            lose[w_who[~win]] = True
            lo = np.flatnonzero(lose)
            if lo.size:
                parts_idx.append(cur_idx[lo])
                parts_fp.append(cur_fp[lo])
                parts_arr.append(arr[lo])
                parts_att.append(attempt[lo])
                parts_k.append(kicks[lo])
                parts_o.append(order[lo])

            if not parts_idx:
                break
            cur_idx = np.concatenate(parts_idx)
            cur_fp = np.concatenate(parts_fp)
            arr = np.concatenate(parts_arr).astype(np.int8)
            attempt = np.concatenate(parts_att).astype(np.int8)
            kicks = np.concatenate(parts_k)
            order = np.concatenate(parts_o)
            srt = np.argsort(order, kind="stable")
            cur_idx, cur_fp, arr, attempt, kicks, order = (
                cur_idx[srt], cur_fp[srt], arr[srt], attempt[srt],
                kicks[srt], order[srt])
        return inserted

    # -- lookup -----------------------------------------------------------
    def contains_many(self, keys) -> np.ndarray:
        """Four-slot probe (shingle.h:182-199) + the spill side list."""
        idx, fp = self._index_fp(np.asarray(keys, dtype=np.uint64))
        idx2 = self.reindex(idx, fp)
        a, b = self.tables[0], self.tables[1]
        v0 = (fp.astype(np.uint16) << 1)
        v1 = v0 | 1
        res = ((a[idx] == v0) | (a[idx + 1] == v1)
               | (b[idx2] == v0) | (b[idx2 + 1] == v1))
        if self.spill.size:
            enc = (idx.astype(np.uint64) << U64(16)) | fp.astype(np.uint64)
            res |= sorted_member(self.spill, enc)
        return res

    # -- delete -----------------------------------------------------------
    def delete_many(self, keys) -> np.ndarray:
        """Clear the first matching candidate slot (shingle.h:201-207).
        Caller guarantees presence; one removal per requested key."""
        idx, fp = self._index_fp(np.asarray(keys, dtype=np.uint64))
        idx2 = self.reindex(idx, fp)
        out = np.zeros(idx.size, dtype=bool)
        pending = np.arange(idx.size)
        while pending.size:
            # One key per A-home index per round. This also rules out two
            # same-round keys matching the SAME slot: a shared slot needs an
            # equal encoded value (hence equal fp), and with equal fp every
            # candidate position (idx, idx+1, idx2, idx2+1) coincides iff the
            # A-home idx does (reindex is an fp-keyed XOR), which this dedup
            # serializes — so each vectorized clear hits distinct slots.
            _, first = np.unique(idx[pending], return_index=True)
            sel = pending[np.sort(first)]
            v0 = (fp[sel].astype(np.uint16) << 1)
            v1 = v0 | 1
            cands = ((self.tables[0], idx[sel], v0),
                     (self.tables[0], idx[sel] + 1, v1),
                     (self.tables[1], idx2[sel], v0),
                     (self.tables[1], idx2[sel] + 1, v1))
            for tab, pos, val in cands:
                hit = (tab[pos] == val) & ~out[sel]
                h = np.flatnonzero(hit)
                if h.size:
                    tab[pos[h]] = 0
                    out[sel[h]] = True
            mask = np.ones(pending.size, dtype=bool)
            mask[np.sort(first)] = False
            pending = pending[mask]
        self.filled -= int(out.sum())
        if self.spill.size and not out.all():
            # keys not found in any candidate slot may live in the spill
            # (a MULTISET: remove one stored copy per requesting key)
            rem = np.flatnonzero(~out)
            enc = (idx[rem].astype(np.uint64) << U64(16)) \
                | fp[rem].astype(np.uint64)
            order = np.argsort(enc, kind="stable")
            uq, first, req = np.unique(enc[order], return_index=True,
                                       return_counts=True)
            lo_pos = np.searchsorted(self.spill, uq)
            hi_pos = np.searchsorted(self.spill, uq, side="right")
            take = np.minimum(req, hi_pos - lo_pos)
            nz = np.flatnonzero(take)
            if nz.size:
                cnt = take[nz]
                offs = np.arange(int(cnt.sum())) \
                    - np.repeat(np.cumsum(cnt) - cnt, cnt)
                keep = np.ones(self.spill.size, dtype=bool)
                keep[np.repeat(lo_pos[nz], cnt) + offs] = False
                self.spill = self.spill[keep]
                # mark take[i] of enc i's requesters as deleted
                sel = np.repeat(first[nz], cnt) + offs
                out[rem[order[sel]]] = True
        return out

    # -- merge ------------------------------------------------------------
    def extract_items(self) -> tuple[np.ndarray, np.ndarray]:
        """All stored fingerprints with their canonical A-home index
        (reindex is an involution, so B entries map back exactly)."""
        homes, fps = [], []
        for which in (0, 1):
            s = np.flatnonzero(self.tables[which])
            v = self.tables[which][s]
            home = s - (v & 1).astype(np.int64)
            f = (v >> 1).astype(np.uint16)
            if which == 1:
                home = self.reindex(home, f)
            homes.append(home)
            fps.append(f)
        return np.concatenate(homes), np.concatenate(fps)

    def _params(self) -> tuple:
        return (self.log2m, self.slot_bits, self.seed)

    @classmethod
    def merge(cls, a: "ShingleFilter", b: "ShingleFilter") -> "ShingleFilter":
        """Content-canonical merge (same convention as CuckooFilter.merge):
        pure function of the union multiset of stored items — bit-exact
        associative and commutative. Raises on mismatched params."""
        if a._params() != b._params():
            raise ValueError(f"incompatible filters: {a._params()} vs {b._params()}")
        ha, fa = a.extract_items()
        hb, fb = b.extract_items()
        spills = np.sort(np.concatenate([a.spill, b.spill]))
        hi = np.concatenate([ha, hb, (spills >> U64(16)).astype(np.int64)])
        hf = np.concatenate([fa, fb,
                             (spills & U64(0xFFFF)).astype(np.uint16)])
        srt = np.lexsort((hf, hi))
        out = cls(a.log2m, a.slot_bits, a.seed)
        out._add_pairs(hi[srt], hf[srt], raise_on_full=True)
        return out

    # -- stats ------------------------------------------------------------
    def size_in_bytes(self) -> int:
        # packed footprint: slot_bits per slot (shingle.h:169's 3-byte
        # cell = two 12-bit slots) + the exact spill entries
        return ((2 * (self.m + _PAD) * self.slot_bits + 7) // 8
                + 8 * self.spill.size)

    def bits_per_item(self) -> float:
        return 8.0 * self.size_in_bytes() / max(
            1, self.filled + self.spill.size)

    @property
    def num_items(self) -> int:
        return self.filled

    def load_factor(self) -> float:
        return self.filled / (2 * self.m)

    def expected_fpp(self) -> float:
        # four candidate slots, each matching one exact slot_bits value
        return 4.0 / (1 << self.slot_bits)

    # -- io ---------------------------------------------------------------
    def to_bytes(self) -> bytes:
        from .xor import pack_nbits

        hdr = struct.pack(_FMT, _MAGIC, 2, self.slot_bits, self.log2m,
                          self.seed, self.filled, self.spill.size)
        return (hdr + pack_nbits(
            self.tables.reshape(-1).astype(np.uint32), self.slot_bits)
            + self.spill.astype("<u8").tobytes())

    @classmethod
    def from_bytes(cls, blob: bytes) -> "ShingleFilter":
        from .xor import unpack_nbits

        magic, ver, slot_bits, log2m, seed, filled, n_spill = \
            struct.unpack_from(_FMT, blob)
        if magic != _MAGIC or ver not in (1, 2):
            raise ValueError("bad shingle blob header")
        # same layout both versions: ver-1 writers put 0 in the (then
        # reserved) n_spill field and never emitted a spill section
        f = cls(log2m, slot_bits, seed)
        n = 2 * (f.m + _PAD)
        nbytes = (n * slot_bits + 7) // 8
        f.tables = unpack_nbits(blob[_HDR_SIZE:_HDR_SIZE + nbytes],
                                slot_bits, n).astype(
            np.uint16).reshape(2, f.m + _PAD)
        f.filled = filled
        f.spill = np.frombuffer(blob, dtype="<u8",
                                offset=_HDR_SIZE + nbytes,
                                count=n_spill).astype(np.uint64)
        return f
