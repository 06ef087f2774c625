"""Static xor filter kernel (pure numpy) — xorfilter.h re-expressed.

The reference's XorFilter (xorfilter.h:55-295, Graf & Lemire) is a
*static* AMQ built in one shot from the full key set:

- 3 candidate cells per key, one in each third of an array of length
  ~1.23n + 32 (xorfilter.h:74-75, ``getHashFromHash`` 37-53);
- build = hypergraph peeling: repeatedly expose cells containing exactly
  one key, stack them, remove the key; on success assign fingerprints in
  reverse so that ``fp[h0] ^ fp[h1] ^ fp[h2] == fingerprint(key)``
  (xorfilter.h:120-279);
- lookup = 3 gathers + xor (xorfilter.h:281-295);
- peel failure (p < 2^-something for 1.23 factor) -> retry with a fresh
  seed (xorfilter.h:246-251).

Vectorization note: the reference peels one cell at a time via an
explicit queue (xorfilter.h:173-204). We peel in *rounds*: every
count==1 cell of the lowest block that has any is exposed
simultaneously, keys are removed in bulk, and assignment replays rounds
in reverse. Within one round no exposed cell can contain another
same-round key (a cell with count 1 holds only its own key), and a
stacked key's other cells are always assigned in a LATER round (if an
earlier-round single cell contained this key, the key would have been
exposed then), so reverse-round batch assignment reproduces the
sequential stack semantics exactly. The lowest-block-first priority
mirrors the alone[0..2] stack order of xorfilter_plus.h:288-307; it
also makes each round scan one block instead of three (~4x faster
peel, measured).

Merging: xor filters are NOT mergeable (static by construction); the
distributed story is "dedupe keys in parallel, build once, broadcast"
— the build-side-of-a-broadcast-join pattern (SURVEY §3.3).
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import (U64, lemire_reduce, rotl64, simple_mix_split,
                      splitmix64, upperpower2)

_MAGIC = b"XOR1"
# v2 header: trailing flags byte (bit0 = pow2 block length, xorfilter_2n.h)
_FMT = "<4sHBBIQQB"
_HDR_SIZE = struct.calcsize(_FMT)  # magic ver fpbits attempt blocklen seed size flags

_MAX_ATTEMPTS = 32


_NBIT_CHUNK = 1 << 18  # values per pass: the (chunk, bits) bit matrix
# stays a few MB instead of 32-128x the packed output for a full array


def pack_nbits(vals: np.ndarray, bits: int) -> bytes:
    """Little-endian n-bit packing for arbitrary widths <= 32
    (nbit_array.h:85-124 capability: the reference's XorFilter2 stores
    10- and 14-bit fingerprints through an NBitArray). Chunked so the
    intermediate bit matrix stays cache-resident; chunk size is a
    multiple of 8 values, so every chunk's bit count is byte-aligned
    and chunks concatenate exactly."""
    shifts = np.arange(bits, dtype=np.uint32)
    parts = []
    for lo in range(0, vals.size, _NBIT_CHUNK):
        v = vals[lo:lo + _NBIT_CHUNK]
        lsb = ((v[:, None].astype(np.uint32) >> shifts) & 1).astype(np.uint8)
        parts.append(np.packbits(lsb.reshape(-1), bitorder="little"))
    return b"".join(p.tobytes() for p in parts)


def _unpack_words(buf: bytes, bits: int, n: int) -> np.ndarray:
    """LE n-bit unpack via an 8-byte windowed gather: each value's bit
    range starts at most 7 bits into its first byte, so one uint64 word
    read at that byte plus a shift+mask recovers any width <= 57; widths
    58..64 borrow their remainder from a 9th byte. ~3 linear passes over
    8n bytes instead of the (n, bits) bit-matrix + per-row sum the
    unpackbits formulation needs (measured 25-40x on the tail/gcs blob
    decode that dominates worker probe-cache misses)."""
    nbytes = (n * bits + 7) // 8
    raw = np.frombuffer(buf, dtype=np.uint8, count=nbytes)
    pad = np.empty(nbytes + 9, dtype=np.uint8)
    pad[:nbytes] = raw
    pad[nbytes:] = 0
    win = np.lib.stride_tricks.sliding_window_view(pad[:nbytes + 8], 8)
    mask = np.uint64((1 << bits) - 1) if bits < 64 else np.uint64(2**64 - 1)
    out = np.empty(n, dtype=np.uint64)
    for lo in range(0, n, _NBIT_CHUNK):
        hi = min(lo + _NBIT_CHUNK, n)
        bit_pos = np.arange(lo, hi, dtype=np.int64) * bits
        byte_idx = bit_pos >> 3
        s = (bit_pos & 7).astype(np.uint64)
        words = np.ascontiguousarray(win[byte_idx]).view("<u8")[:, 0] >> s
        if bits > 57:
            # bits above the first word's reach come from the 9th byte
            b9 = pad[byte_idx + 8].astype(np.uint64)
            sh = np.where(s > 0, np.uint64(64) - s, np.uint64(0))
            words |= np.where(s > 0, b9 << sh, np.uint64(0))
        out[lo:hi] = words & mask
    return out


def unpack_nbits(buf: bytes, bits: int, n: int) -> np.ndarray:
    return _unpack_words(buf, bits, n).astype(np.uint32)


def pack_nbits64(vals: np.ndarray, bits: int) -> bytes:
    """pack_nbits for widths <= 64 (uint64 values — tail-filter pairs
    carry key+tail encodings past 32 bits once the filter upsizes).

    Widths <= 57: every 8 consecutive values span exactly ``bits``
    output bytes starting on a byte boundary, and the k-th value of
    each group lands at a FIXED (byte, bit) offset — so each group row
    is built by 8 static-offset OR-slices of shifted uint64 LE bytes
    (value bits stay inside one word because shift <= 7 and
    7 + 57 <= 64). No bit matrix, no scatter; the dual of
    _unpack_words. Wider fields take the bit-matrix path."""
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    if bits > 57:
        shifts = np.arange(bits, dtype=np.uint64)
        parts = []
        for lo in range(0, vals.size, _NBIT_CHUNK):
            v = vals[lo:lo + _NBIT_CHUNK]
            lsb = ((v[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
            parts.append(np.packbits(lsb.reshape(-1), bitorder="little"))
        return b"".join(p.tobytes() for p in parts)
    n = vals.size
    total = (n * bits + 7) // 8
    mask = np.uint64((1 << bits) - 1)
    parts = []
    for lo in range(0, max(n, 1), _NBIT_CHUNK):  # chunk % 8 == 0
        c = vals[lo:lo + _NBIT_CHUNK] & mask
        n8 = (c.size + 7) // 8
        v = np.zeros(n8 * 8, dtype=np.uint64)
        v[:c.size] = c
        grp = np.zeros((n8, bits + 8), dtype=np.uint8)
        for k in range(8):
            off = (k * bits) >> 3
            s = np.uint64((k * bits) & 7)
            w = (v[k::8] << s).astype("<u8").view(np.uint8).reshape(n8, 8)
            grp[:, off:off + 8] |= w
        parts.append(grp[:, :bits].tobytes())
    return b"".join(parts)[:total]


def unpack_nbits64(buf: bytes, bits: int, n: int) -> np.ndarray:
    return _unpack_words(buf, bits, n)


def _fp_dtype(bits: int):
    if bits <= 8:
        return np.uint8
    if bits <= 16:
        return np.uint16
    return np.uint32


def _cells(h: np.ndarray, block_length: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """getHashFromHash (xorfilter.h:37-53): rotate, reduce per third."""
    bl = int(block_length)
    r0 = lemire_reduce(h & U64(0xFFFFFFFF), bl)
    r1 = lemire_reduce(rotl64(h, 21) & U64(0xFFFFFFFF), bl) + U64(bl)
    r2 = lemire_reduce(rotl64(h, 42) & U64(0xFFFFFFFF), bl) + U64(2 * bl)
    return r0.astype(np.int64), r1.astype(np.int64), r2.astype(np.int64)


class XorFilter:
    """Static xor filter over uint64 keys.

    fp_bits 8/16 are the xorfilter.h configs; other widths in [4, 32]
    (notably 10 and 14) are the XorFilter2 storage-generic configs
    (xorfilter_2.h:58-310) — held unpacked in memory, bit-packed in the
    serialized blob (nbit_array.h:85-124), with size_in_bytes reporting
    the packed footprint like the reference does."""

    PREMIX_KEYS = False  # hashes raw keys itself (see sketch.membership)

    def __init__(self, block_length: int, fp_bits: int, seed: int,
                 pow2_blocks: bool = False):
        if not 4 <= fp_bits <= 32:
            raise ValueError("fp_bits must be in [4, 32]")
        if pow2_blocks and block_length & (block_length - 1):
            raise ValueError("pow2_blocks needs a power-of-two block length")
        self.block_length = int(block_length)
        self.fp_bits = int(fp_bits)
        self.pow2_blocks = bool(pow2_blocks)
        self.seed = int(seed) & 0xFFFFFFFFFFFFFFFF
        self.fingerprints = np.zeros(3 * self.block_length,
                                     dtype=_fp_dtype(fp_bits))
        self.size = 0

    def _cells_of(self, h: np.ndarray):
        """Cell mapping: Lemire reduce per third (xorfilter.h:37-53) or,
        in the 2n variant, mask-based (xorfilter_2n.h:119-121 — the
        rounding to a power of two buys a mask instead of a multiply at
        ~2x space rounding worst case)."""
        if not self.pow2_blocks:
            return _cells(h, self.block_length)
        bl = self.block_length
        mask = U64(bl - 1)
        c0 = (h & mask).astype(np.int64)
        c1 = (rotl64(h, 21) & mask).astype(np.int64) + bl
        c2 = (rotl64(h, 42) & mask).astype(np.int64) + 2 * bl
        return c0, c1, c2

    # -- build ------------------------------------------------------------
    @classmethod
    def build(cls, keys: np.ndarray, fp_bits: int = 8, seed: int = 0x5EED,
              pow2_blocks: bool = False) -> "XorFilter":
        """AddAll (xorfilter.h:120-279): peel + reverse assignment.

        ``keys`` must be duplicate-free (the reference requires the same,
        xorfilter.h docs); np.unique them if unsure. ``pow2_blocks``
        selects the XorFilter2n sizing (xorfilter_2n.h:70-78).
        """
        keys = np.asarray(keys, dtype=np.uint64)
        n = keys.size
        block_length = max(4, int(32 + 1.23 * n) // 3)
        if pow2_blocks:
            block_length = upperpower2(block_length)
        for attempt in range(_MAX_ATTEMPTS):
            s = int(splitmix64(np.array([seed + attempt], dtype=np.uint64))[0])
            f = cls(block_length, fp_bits, seed, pow2_blocks=pow2_blocks)
            if f._try_build(keys, s, attempt):
                return f
        raise RuntimeError(f"xor filter peel failed after {_MAX_ATTEMPTS} attempts")

    def _try_build(self, keys: np.ndarray, mix_seed: int, attempt: int) -> bool:
        self._mix_seed = mix_seed
        self._attempt = attempt
        n = keys.size
        if n == 0:
            self.size = 0
            return True
        h = simple_mix_split(keys, mix_seed)
        if np.unique(h).size != n:  # hash collision: retry with new seed
            return False
        c0, c1, c2 = self._cells_of(h)
        m = 3 * self.block_length
        cells = np.concatenate([c0, c1, c2])
        owners = np.concatenate([h, h, h])
        count = np.bincount(cells, minlength=m).astype(np.int64)
        # xorsum per cell: sort (cell, ownerhash) then reduceat-xor
        order = np.argsort(cells, kind="stable")
        sc, so = cells[order], owners[order]
        starts = np.flatnonzero(np.concatenate(([True], sc[1:] != sc[:-1])))
        xorsum = np.zeros(m, dtype=np.uint64)
        xorsum[sc[starts]] = np.bitwise_xor.reduceat(so, starts)

        rounds_cells: list[np.ndarray] = []
        rounds_hashes: list[np.ndarray] = []
        bl = self.block_length
        remaining = n
        while remaining:
            # per round, peel only the LOWEST block with any singles — the
            # vectorized form of the reference's alone[0..2] stack priority
            # (xorfilter_plus.h:288-307): keys prefer a change cell in an
            # earlier block, which keeps block 3 sparse (what XorFilterPlus
            # compresses) and scans one block instead of three per round.
            single_cells = None
            for b in range(3):
                s = np.flatnonzero(count[b * bl:(b + 1) * bl] == 1)
                if s.size:
                    single_cells = s + b * bl
                    break
            if single_cells is None:
                return False  # peel stuck -> retry
            exposed_h = xorsum[single_cells]
            # one key may be exposed via several cells this round: keep the
            # first cell per key (stable), matching one stack entry per key
            uh, first = np.unique(exposed_h, return_index=True)
            first.sort()
            sel_cells = single_cells[first]
            sel_h = xorsum[sel_cells]
            rounds_cells.append(sel_cells)
            rounds_hashes.append(sel_h)
            # remove those keys from all their cells
            k0, k1, k2 = self._cells_of(sel_h)
            for kc in (k0, k1, k2):
                if sel_h.size * 64 < m:
                    # tail rounds are tiny: scalar scatter beats an
                    # m-length bincount allocation per round
                    np.subtract.at(count, kc, 1)
                    np.bitwise_xor.at(xorsum, kc, sel_h)
                else:
                    count -= np.bincount(kc, minlength=m)
                    # xor out: sort+reduceat (kc may repeat cells)
                    o = np.argsort(kc, kind="stable")
                    skc, sh = kc[o], sel_h[o]
                    st = np.flatnonzero(np.concatenate(([True], skc[1:] != skc[:-1])))
                    xorsum[skc[st]] ^= np.bitwise_xor.reduceat(sh, st)
            remaining -= sel_h.size

        # reverse assignment (xorfilter.h:254-274), round-batched
        fp_mask = np.uint64((1 << self.fp_bits) - 1)
        for sel_cells, sel_h in zip(reversed(rounds_cells), reversed(rounds_hashes)):
            k0, k1, k2 = self._cells_of(sel_h)
            fp = (simple_mix_split(sel_h, 0xF00D) & fp_mask).astype(self.fingerprints.dtype)
            val = (fp
                   ^ self.fingerprints[k0] ^ self.fingerprints[k1]
                   ^ self.fingerprints[k2])
            # own cell currently holds 0, so xoring all three then storing
            # into the own cell gives fp ^ other two — the invariant below
            self.fingerprints[sel_cells] = val
        self.size = n
        return True

    # -- lookup -----------------------------------------------------------
    def contains_many(self, keys) -> np.ndarray:
        keys = np.asarray(keys, dtype=np.uint64)
        h = simple_mix_split(keys, self._mix_seed)
        c0, c1, c2 = self._cells_of(h)
        fp_mask = np.uint64((1 << self.fp_bits) - 1)
        fp = (simple_mix_split(h, 0xF00D) & fp_mask).astype(self.fingerprints.dtype)
        return (self.fingerprints[c0] ^ self.fingerprints[c1]
                ^ self.fingerprints[c2]) == fp

    # -- stats ------------------------------------------------------------
    def size_in_bytes(self) -> int:
        # packed footprint (what a serialized filter occupies)
        return (self.fingerprints.size * self.fp_bits + 7) // 8

    @property
    def num_items(self) -> int:
        return self.size

    def bits_per_item(self) -> float:
        return 8.0 * self.size_in_bytes() / max(1, self.size)

    def expected_fpp(self) -> float:
        return 1.0 / (1 << self.fp_bits)

    # -- serialization ----------------------------------------------------
    def to_bytes(self) -> bytes:
        hdr = struct.pack(_FMT, _MAGIC, 2, self.fp_bits, self._attempt,
                          self.block_length, self.seed, self.size,
                          1 if self.pow2_blocks else 0)
        if self.fp_bits in (8, 16, 32):
            return hdr + self.fingerprints.astype(
                f"<u{self.fp_bits // 8}").tobytes()
        return hdr + pack_nbits(self.fingerprints, self.fp_bits)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "XorFilter":
        magic, ver = struct.unpack_from("<4sH", blob)
        if magic != _MAGIC or ver not in (1, 2):
            raise ValueError("bad xor blob header")
        if ver == 1:  # pre-pow2_blocks layout: no flags byte, never pow2
            fp_bits, attempt, bl, seed, size = \
                struct.unpack_from("<BBIQQ", blob, 6)
            flags = 0
            blob = blob[struct.calcsize("<4sHBBIQQ"):]
            blob = struct.pack(_FMT, _MAGIC, 2, fp_bits, attempt, bl,
                               seed, size, flags) + blob
        magic, ver, fp_bits, attempt, bl, seed, size, flags = \
            struct.unpack_from(_FMT, blob)
        f = cls(bl, fp_bits, seed, pow2_blocks=bool(flags & 1))
        f._attempt = attempt
        f._mix_seed = int(splitmix64(np.array([seed + attempt], dtype=np.uint64))[0])
        f.size = size
        if fp_bits in (8, 16, 32):
            f.fingerprints = np.frombuffer(
                blob, dtype=f"<u{fp_bits // 8}", offset=_HDR_SIZE,
                count=3 * bl).astype(_fp_dtype(fp_bits))
        else:
            f.fingerprints = unpack_nbits(blob[_HDR_SIZE:], fp_bits,
                                          3 * bl).astype(_fp_dtype(fp_bits))
        return f
