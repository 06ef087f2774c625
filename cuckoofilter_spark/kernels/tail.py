"""Tail filter kernel — tail-filter.hpp re-expressed (SURVEY §2.3 #29).

The reference TailFilter (tail-filter.hpp:7-134) is an *adaptive* AMQ:
it needs no capacity up front and keeps its false-positive rate near a
fixed epsilon as the set grows. A key's hash splits into

- ``key``  = top ``lgm + epoch`` bits (tail-filter.hpp:125), and
- ``tail`` = the next ``tb = ilogb(1/eps)`` bits with a sentinel 1-bit
  appended below (``2*value + 1``, tail-filter.hpp:126-129).

Every time the distinct-insert count crosses a power of two above
``2^lgm`` the filter *upsizes* (tail-filter.hpp:88-117,119-124): each
stored pair donates the top bit of its tail to its key (the sentinel
slides up one position), and a pair whose sentinel reaches the top —
tail fully consumed — graduates into a plain bitset indexed by its
key. Lookup (tail-filter.hpp:68-86) hits if the bitset has the query's
top bits, or if any stored tail under the query's key matches the
query tail on the bits above the stored sentinel.

Re-expression, not a translation: the reference keeps pairs in a
QuotientDysect (quotient-dysect.hpp:8-397 — a d-ary growing quotient
multimap of w-bit slot arrays) so single inserts are O(1) in place.
This engine is batch-build + merge oriented, so pairs live in ONE
sorted uint64 array encoding ``(key << (tb+1)) | tail`` navigated by
searchsorted — the same multiset, the same lookup semantics, none of
the slot/pointer machinery (the same swap kernels/cqf.py makes for
gqf.c's rank/select). Documented divergences:

- ``add_many`` dedupes a batch by encoded pair and drops keys already
  covered by a *pre-batch* lookup; the reference's per-insert Lookup
  gate would also skip a key covered by a tail shortened mid-batch.
  Both directions only store redundant tails (never lose one), so
  membership and the FPR bound are identical; ndv may count slightly
  high, making upsizes at most earlier.
- ``merge`` (absent in the reference — qf_merge is the model,
  gqf.h:305-310) replays upsize on the lower-epoch side, unions the
  pair multisets, and ORs the bitsets: a pure function of content,
  bit-exact associative and commutative like every other kernel here.
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import U64

_MAGIC = b"TLF1"
_FMT_V1 = "<4sHBBHQQQQ"
_FMT = "<4sHBBHQQQQdQ"
_HDR_SIZE_V1 = struct.calcsize(_FMT_V1)
_HDR_SIZE = struct.calcsize(_FMT)
# magic ver lgm tb epoch ndv n_pairs bitset_cap flags(fmt | width<<8)
# + epsilon seed (v2: the exact design bound and the hash-domain
#   identity; a v1 round-trip loosened epsilon to 2^-tb, up to ~2x)
_CHUNK = 1 << 18
_SUPER = 64  # keys per absolute offset anchor in the quotiented blob


class TailFilter:
    """Adaptive-epsilon growing AMQ over pre-hashed uint64 keys.

    ``lgm`` is the log2 of the initial slot budget (clamped to >= 5,
    tail-filter.hpp:55); ``epsilon`` the target false-positive rate
    (tb = floor(log2(1/eps)) stored tail bits, tail-filter.hpp:56).
    Like the reference, inputs must already be uniform 64-bit hashes —
    the Spark layer hashes raw keys with simple_mix_split(seed) first.
    """

    PREMIX_KEYS = True  # takes simple_mix_split(key, seed), see sketch.membership

    def __init__(self, lgm: int = 5, epsilon: float = 1e-3, seed: int = 0):
        if not 0.0 < epsilon < 1.0:
            raise ValueError("epsilon must be in (0, 1)")
        if not 0 < lgm < 64:
            raise ValueError("lgm out of range")
        self.lgm = max(int(lgm), 5)
        self.tb = max(1, int(np.floor(np.log2(1.0 / epsilon))))
        self.epsilon = float(epsilon)
        # _split reads key+tail bits from the TOP of a 64-bit hash and
        # pairs pack into uint64 — a combination past 64 bits would wrap
        # the numpy shift (undefined for >= 64) and silently corrupt
        # every key/tail. upsize() guards growth; guard construction too.
        if self.lgm + self.tb + 1 > 64:
            raise ValueError(
                f"lgm + tail bits + 1 = {self.lgm + self.tb + 1} exceeds "
                f"the 64-bit pair encoding (lgm={self.lgm}, eps gives "
                f"tb={self.tb}); raise epsilon or lower lgm")
        # hash-domain identity of the caller's pre-hashing (kernel never
        # hashes itself); serialized and checked on merge
        self.seed = int(seed) & 0xFFFFFFFFFFFFFFFF
        self.epoch = 0
        self.ndv = 0
        self.pairs = np.empty(0, dtype=np.uint64)  # sorted (key<<(tb+1))|tail
        self.bitset: np.ndarray | None = None      # uint8[2^(lgm+epoch-1)]

    # -- geometry ---------------------------------------------------------
    @property
    def key_bits(self) -> int:
        return self.lgm + self.epoch

    @property
    def pair_bits(self) -> int:
        return self.key_bits + self.tb + 1

    def _split(self, hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(key, query tail) from hashes — tail-filter.hpp:75-78,125-128."""
        kw = self.key_bits
        key = hashes >> U64(64 - kw)
        value = (hashes >> U64(64 - kw - self.tb)) & U64((1 << self.tb) - 1)
        return key, (value << U64(1)) | U64(1)

    # -- lookup -----------------------------------------------------------
    def contains_many(self, hashes) -> np.ndarray:
        hashes = np.ascontiguousarray(hashes, dtype=np.uint64)
        out = np.empty(hashes.size, dtype=bool)
        for lo in range(0, max(hashes.size, 1), _CHUNK):
            c = hashes[lo:lo + _CHUNK]
            out[lo:lo + _CHUNK] = self._contains_chunk(c)
        return out[:hashes.size]

    def _contains_chunk(self, hashes: np.ndarray) -> np.ndarray:
        res = np.zeros(hashes.size, dtype=bool)
        if self.bitset is not None and self.bitset.size:
            c = int(self.bitset.size).bit_length() - 1
            res |= self.bitset[(hashes >> U64(64 - c)).astype(np.int64)] == 1
        if not self.pairs.size:
            return res
        key, qt = self._split(hashes)
        w = U64(self.tb + 1)
        lo = np.searchsorted(self.pairs, key << w)
        # upper bound via side="right" on the max tail — (key+1)<<w would
        # wrap for the all-ones key once pair_bits reaches 64
        hi = np.searchsorted(
            self.pairs, (key << w) | U64((1 << (self.tb + 1)) - 1),
            side="right")
        reps = hi - lo
        total = int(reps.sum())
        if not total:
            return res
        qidx = np.repeat(np.arange(hashes.size), reps)
        starts = np.repeat(lo, reps)
        offs = np.arange(total) - np.repeat(np.cumsum(reps) - reps, reps)
        t = self.pairs[starts + offs] & U64((1 << (self.tb + 1)) - 1)
        # 1 + count_trailing_zeros(tail): the sentinel position + 1 —
        # exact via float log2 on the isolated low bit (tail < 2^21)
        lowbit = t & (~t + U64(1))
        tz1 = np.log2(lowbit.astype(np.float64)).astype(np.uint64) + U64(1)
        hit = (t >> tz1) == (qt[qidx] >> tz1)   # tail-filter.hpp:80-83
        res[qidx[hit]] = True
        return res

    # -- insert -----------------------------------------------------------
    def add_many(self, hashes) -> int:
        """Bulk Insert (tail-filter.hpp:119-133): dedupe, skip covered
        keys, then insert in segments between upsize boundaries so each
        segment's key/tail split uses one fixed epoch."""
        hashes = np.unique(np.ascontiguousarray(hashes, dtype=np.uint64))
        added = 0
        for lo in range(0, hashes.size, _CHUNK):
            h = hashes[lo:lo + _CHUNK]
            i = 0
            while i < h.size:
                nxt = max(1 << (self.lgm + 1),
                          1 << max(1, int(self.ndv).bit_length()))
                if nxt <= self.ndv:       # ndv is itself a power of two
                    nxt *= 2
                seg = h[i:i + (nxt - self.ndv)]
                i += seg.size
                # the reference's per-insert Lookup gate
                # (tail-filter.hpp:120) runs BEFORE the upsize decision:
                # a fully-covered segment must not trigger growth (the
                # sequential algorithm only upsizes on an actual new
                # insert — duplicate-heavy batches used to bump epoch
                # once per call with ndv pinned at a power of two)
                seg = seg[~self.contains_many(seg)]
                if not seg.size:
                    continue
                if (self.ndv > (1 << self.lgm)
                        and self.ndv & (self.ndv - 1) == 0):
                    self.upsize()
                    # the triggering key's sequential insert is
                    # unconditional once past its gate (it bumps ndv off
                    # the power of two, so the crossing upsizes exactly
                    # once); the rest of the segment re-gates against
                    # the post-upsize shortened tails
                    first, rest = seg[:1], seg[1:]
                    seg = np.concatenate(
                        [first, rest[~self.contains_many(rest)]])
                key, qt = self._split(seg)
                enc = np.unique((key << U64(self.tb + 1)) | qt)
                self.pairs = np.union1d(self.pairs, enc)
                self.ndv += int(enc.size)
                added += int(enc.size)
        return added

    def upsize(self) -> None:
        """Halve every stored tail's remaining precision
        (tail-filter.hpp:88-117): double the bitset with bit
        duplication, graduate fully-consumed tails into it, then move
        each surviving tail's top bit into its key."""
        if self.pair_bits + 1 > 64:
            raise OverflowError("upsize would exceed 64-bit pair encoding")
        w = U64(self.tb + 1)
        t = self.pairs & U64((1 << (self.tb + 1)) - 1)
        key = self.pairs >> w
        if self.bitset is not None:
            self.bitset = np.repeat(self.bitset, 2)
        grad = t == U64(1 << self.tb)
        if grad.any():
            if self.bitset is None:
                self.bitset = np.zeros(1 << self.key_bits, dtype=np.uint8)
            self.bitset[key[grad].astype(np.int64)] = 1
        kept = ~grad
        new_key = (key[kept] << U64(1)) | ((t[kept] >> U64(self.tb)) & U64(1))
        new_t = (t[kept] << U64(1)) & U64((1 << (self.tb + 1)) - 1)
        self.pairs = np.unique((new_key << w) | new_t)
        self.epoch += 1

    # -- merge ------------------------------------------------------------
    def _params(self) -> tuple:
        return (self.lgm, self.tb, self.seed)

    @classmethod
    def merge(cls, a: "TailFilter", b: "TailFilter") -> "TailFilter":
        """Content-canonical union; raises on mismatched
        (lgm, tb, seed)."""
        if a._params() != b._params():
            raise ValueError(
                f"incompatible filters: {a._params()} vs {b._params()}")
        hi, lo = (a, b) if a.epoch >= b.epoch else (b, a)
        if lo.epoch < hi.epoch:     # replay growth on the younger side
            lo = cls.from_bytes(lo.to_bytes())
            while lo.epoch < hi.epoch:
                lo.upsize()
        out = cls(a.lgm, a.epsilon, seed=a.seed)
        out.tb = a.tb
        out.epoch = hi.epoch
        out.ndv = a.ndv + b.ndv     # upper bound: only times future upsizes
        out.pairs = np.union1d(hi.pairs, lo.pairs)
        if hi.bitset is not None or lo.bitset is not None:
            cap = 1 << max(out.key_bits - 1, 0)
            out.bitset = np.zeros(cap, dtype=np.uint8)
            for f in (hi, lo):
                if f.bitset is not None:
                    out.bitset |= f.bitset
        return out

    # -- stats ------------------------------------------------------------
    def size_in_bytes(self) -> int:
        return len(self.to_bytes())

    def bits_per_item(self) -> float:
        return 8.0 * self.size_in_bytes() / max(1, self.ndv)

    def expected_fpp(self) -> float:
        """Structure-derived bound: sum over stored pairs of
        2^-(key_bits + significant tail bits) plus the graduated-key
        mass — exact for the stored content, unlike the design
        ``epsilon`` (FPR grows one ~2^-(tb+1) term per upsize past
        2^lgm)."""
        total = 0.0
        if self.pairs.size:
            t = self.pairs & U64((1 << (self.tb + 1)) - 1)
            lb = t & (~t + U64(1))
            sig = self.tb - np.log2(lb.astype(np.float64))
            total += float((2.0 ** -(self.key_bits + sig)).sum())
        if self.bitset is not None and self.bitset.size:
            total += float(self.bitset.sum()) / self.bitset.size
        return total

    @property
    def num_items(self) -> int:
        return self.ndv

    # -- io ---------------------------------------------------------------
    def to_bytes(self) -> bytes:
        """Two layouts behind one header. ``fmt=2`` (dense key space,
        the steady state — upsizing keeps 2^key_bits within ~2x of
        ndv): keys are QUOTIENTED AWAY — tails pack at tb+1 bits and
        keys are implied by a monotone per-key offset list (anchor
        every _SUPER keys + narrow residuals), the serialized analogue
        of the QuotientDysect deriving keys from slot positions
        (quotient-dysect.hpp:263-267 GetOriginal) and the same
        structure as kernels/gcs.py's succinct bucket offsets.
        ``fmt=1`` (sparse: fresh filter with a large lgm): plain packed
        (key,tail) pairs, since 2^key_bits offset slots would dwarf the
        pair payload."""
        from .xor import pack_nbits64

        w = self.tb + 1
        nb = 1 << self.key_bits
        bits = (b"" if self.bitset is None
                else np.packbits(self.bitset, bitorder="little").tobytes())
        bcap = 0 if self.bitset is None else self.bitset.size
        if self.pairs.size and nb <= 4 * self.pairs.size:
            key = (self.pairs >> U64(w)).astype(np.int64)
            tails = self.pairs & U64((1 << w) - 1)
            counts = np.bincount(key, minlength=nb)
            offsets = np.zeros(nb + 1, dtype=np.int64)
            np.cumsum(counts, out=offsets[1:])
            anchors = offsets[::_SUPER]
            intra = offsets - np.repeat(anchors, _SUPER)[:offsets.size]
            rw = max(1, int(intra.max()).bit_length())
            hdr = struct.pack(_FMT, _MAGIC, 2, self.lgm, self.tb, self.epoch,
                              self.ndv, self.pairs.size, bcap,
                              2 | (rw << 8), self.epsilon, self.seed)
            return (hdr + anchors.astype("<i8").tobytes()
                    + pack_nbits64(intra.astype(np.uint64), rw)
                    + pack_nbits64(tails, w) + bits)
        hdr = struct.pack(_FMT, _MAGIC, 2, self.lgm, self.tb, self.epoch,
                          self.ndv, self.pairs.size, bcap, 1,
                          self.epsilon, self.seed)
        return hdr + pack_nbits64(self.pairs, self.pair_bits) + bits

    @classmethod
    def peek_seed(cls, blob: bytes) -> int:
        """Hash-domain seed from the header without decoding the blob
        (0 = unrecorded v1 blob)."""
        magic, ver = struct.unpack_from("<4sH", blob)
        if magic != _MAGIC:
            raise ValueError("bad tail blob header")
        return struct.unpack_from(_FMT, blob)[10] if ver >= 2 else 0

    @classmethod
    def from_bytes(cls, blob: bytes) -> "TailFilter":
        from .xor import unpack_nbits64

        magic, ver = struct.unpack_from("<4sH", blob)
        if magic != _MAGIC or ver not in (1, 2):
            raise ValueError("bad tail blob header")
        if ver == 1:  # pre-v2: epsilon approximated from tb, seed unknown
            magic, _, lgm, tb, epoch, ndv, n_pairs, bcap, flags = \
                struct.unpack_from(_FMT_V1, blob)
            epsilon, seed, hdr_size = 2.0 ** -tb, 0, _HDR_SIZE_V1
        else:
            (magic, _, lgm, tb, epoch, ndv, n_pairs, bcap, flags,
             epsilon, seed) = struct.unpack_from(_FMT, blob)
            hdr_size = _HDR_SIZE
        f = cls.__new__(cls)
        f.lgm, f.tb, f.epoch, f.ndv = lgm, tb, epoch, ndv
        f.epsilon, f.seed = epsilon, seed
        w = tb + 1
        off = hdr_size
        fmt = flags & 0xFF
        if fmt == 2:
            rw = (flags >> 8) & 0xFF
            nb = 1 << (lgm + epoch)
            n_anchor = (nb + _SUPER) // _SUPER
            anchors = np.frombuffer(blob, dtype="<i8", offset=off,
                                    count=n_anchor).astype(np.int64)
            off += n_anchor * 8
            nbytes = ((nb + 1) * rw + 7) // 8
            intra = unpack_nbits64(blob[off:off + nbytes], rw, nb + 1)
            off += nbytes
            offsets = (np.repeat(anchors, _SUPER)[:nb + 1]
                       + intra.astype(np.int64))
            nbytes = (n_pairs * w + 7) // 8
            tails = unpack_nbits64(blob[off:off + nbytes], w, n_pairs)
            off += nbytes
            counts = np.diff(offsets)
            keys = np.repeat(np.arange(nb, dtype=np.uint64),
                             counts.astype(np.int64))
            f.pairs = (keys << U64(w)) | tails
        else:
            pw = lgm + epoch + tb + 1
            nbytes = (n_pairs * pw + 7) // 8
            f.pairs = unpack_nbits64(blob[off:off + nbytes], pw, n_pairs)
            off += nbytes
        if bcap:
            f.bitset = np.unpackbits(
                np.frombuffer(blob, dtype=np.uint8, offset=off,
                              count=(bcap + 7) // 8),
                bitorder="little")[:bcap].astype(np.uint8)
        else:
            f.bitset = None
        return f
