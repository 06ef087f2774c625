"""cuckoofilter_spark — a from-scratch PySpark-native sketch/AMQ library.

Re-expresses the query and data-processing capabilities of the
GerHobbelt/cuckoofilter reference (a C++ header library of approximate-
membership structures + a benchmark dataflow harness) as:

- pure-numpy sketch kernels (``kernels``): cuckoo filter, Bloom, HLL,
  count-min, KLL — each a serializable, mergeable state blob;
- Spark DataFrame operators (``sketch``): distributed sketch builds via
  Arrow-vectorized ``applyInPandas`` partial aggregation + associative
  blob merges, and broadcast-blob probe column functions;
- dataflow/query operators (``ops``): the reference benchmark harness's
  relational surface (intersection size, distinct count, sampling
  mix-in) plus training-data pipeline operators (dedup families,
  similarity search, text analysis) over Spark built-ins;
- deterministic synthetic sources (``sources``) matching
  BASELINE.json's input_hint (doc_id, tokens, n_tok, source).

Design notes: SURVEY.md. Scale notes: every build shuffles at most once
(hash-partition by key-derived shard), probes broadcast small blobs,
and merges are tree-shaped — no driver-side per-row loops anywhere.
"""

__version__ = "0.2.0"

# first: every UDF unpickles through this package, which is how each
# Python worker gets the once-per-process fix (see _worker_env)
from . import _worker_env  # noqa: F401
from .kernels.blocked_bloom import BlockedBloomFilter, GrowBlockedBloomFilter
from .kernels.bloom import BloomFilter
from .kernels.cms import CountMinSketch
from .kernels.cqf import CountingQuotientFilter
from .kernels.crate import CrateFilter
from .kernels.cuckoo import CuckooFilter, CuckooFullError
from .kernels.dysect import QuotientMultimap
from .kernels.gcs import GcsFilter
from .kernels.hll import HyperLogLog
from .kernels.shingle import ShingleFilter
from .kernels.tail import TailFilter
from .kernels.kll import KLLSketch
from .kernels.mg import MisraGries
from .kernels.tdigest import TDigest
from .kernels.xor import XorFilter
from .kernels.xorplus import Rank9, XorFilterPlus
from .kernels.hashing import SimpleTabulation

__all__ = [
    "BlockedBloomFilter",
    "BloomFilter",
    "CountMinSketch",
    "CountingQuotientFilter",
    "CrateFilter",
    "CuckooFilter",
    "CuckooFullError",
    "GcsFilter",
    "GrowBlockedBloomFilter",
    "HyperLogLog",
    "ShingleFilter",
    "TailFilter",
    "KLLSketch",
    "MisraGries",
    "TDigest",
    "XorFilter",
    "XorFilterPlus",
    "QuotientMultimap",
    "Rank9",
    "SimpleTabulation",
]
