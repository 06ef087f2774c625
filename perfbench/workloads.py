"""The two workloads and the sizes every run uses.

Each workload is a fixed cycle of public-API calls over inputs made in
set-up, repeated for ``--seconds`` and at least ``MIN_CYCLES`` times
after warming up:

- ``sketch``: one cycle builds the four north-rule sketches over a
  6k-doc token table (~2M tokens, 50k vocabulary: the cuckoo filter is
  ~84 KB and stays in cache), probes a prebuilt 250k-key filter
  (~0.4 MB per copy, one copy per Python worker) with 500k keys
  through the broadcast, store-backed sharded and JVM mirror paths,
  and applies one 2k-doc micro-batch to HLL, CMS and KLL streaming
  states, reading each state back.
- ``curation``: one cycle runs a fixed subset of the driver-contract
  queries over a small generated table; per-query fixed costs (jobs,
  stages, plan compilation) dominate.

See README.md for why the workloads are cut this way.
"""

from __future__ import annotations

WORKLOADS = ("sketch", "curation")
# operation-name prefixes; a traced run tags each call's Spark jobs with
# its full name, ``<phase>.<op>``
PHASES = ("build", "probe", "stream", "ops")

SEED = 0x5EED            # sketch hash seed; input seeds come from --seed
VOCAB = 50_000
BUILD_DOCS = 6_000       # ~2M tokens per build table
PROBE_KEYS = 250_000
PROBE_ROWS = 500_000     # half present, half absent
STREAM_BATCH_DOCS = 2_000
STREAM_BATCHES = 8       # micro-batches generated; one per cycle
FILE_SPLIT = 8           # parquet files per generated table
# warm-up and measured cycles per run (the measured ones at the least).
# A curation pass is short, and its repeats keep getting faster for
# several passes as the JVM compiles the queries' code, so it warms up
# five times before measuring four.
WARMUP_CYCLES = {"sketch": 1, "curation": 5}
MIN_CYCLES = {"sketch": 2, "curation": 4}

# cuckoo 12-bit, 32 shards, stable; HLL p=14; CMS eps/delta; KLL k
CF_BITS, CF_SHARDS = 12, 32
HLL_P = 14
CMS_EPS, CMS_DELTA = 5e-4, 0.01
KLL_K = 200

# two of the eight one-per-ops-module queries the benchmark was asked
# for: on the 4-vCPU host a query's first (cold) run costs 4-13 s, and
# the cold, warm-up and measured passes of all eight would take ~3x the
# time a run may (see README.md)
CURATION = (
    "temperature_mix",  # ops.packing
    "jaccard_pairs",    # ops.dedup
)
