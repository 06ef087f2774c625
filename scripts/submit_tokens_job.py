#!/usr/bin/env python
"""The canonical ``spark-submit --py-files`` job: 4-sketch suite over the
pre-tokenized sequence table, with the north-rule invariants asserted.

This is the literal deployment path the library targets (reference
analogue: the ``bulk-insert-and-query`` driver binary): executors get
``cuckoofilter_spark`` ONLY from the ``--py-files`` zip — the job never
touches the repo checkout — so running it proves the packaged artifact
is self-contained:

    python scripts/make_pyfiles_zip.py /tmp/cuckoofilter_spark.zip
    spark-submit --master local[8] \\
        --py-files /tmp/cuckoofilter_spark.zip \\
        --conf spark.sql.shuffle.partitions=32 \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.execution.arrow.pyspark.enabled=true \\
        scripts/submit_tokens_job.py

On a real cluster only ``--master`` changes; the job's shuffle topology
(one packed blob per (partition, shard), tree merge) is identical.
Prints one JSON line; exit code 0 iff every invariant holds.

Env knobs: SUBMIT_JOB_DOCS (default 20000), SUBMIT_JOB_SEED (42).
"""
import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# Library imports happen INSIDE main(), after the session exists, so a
# missing --py-files zip fails executor-side the way a cluster would.


def main() -> int:
    num_docs = int(os.environ.get("SUBMIT_JOB_DOCS", "20000"))
    seed = int(os.environ.get("SUBMIT_JOB_SEED", "42"))
    spark = SparkSession.builder.appName("cuckoofilter-tokens-job").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from cuckoofilter_spark.sketch.aggregates import (
        cms_sketch, hll_sketch, kll_sketch)
    from cuckoofilter_spark.sketch.api import contains_col
    from cuckoofilter_spark.sketch.membership import cuckoo_build
    from cuckoofilter_spark.sources.tokens import tokens_table

    vocab = 50_000
    toks = tokens_table(spark, num_docs, seed=seed, vocab_size=vocab).persist()
    total_tokens = toks.agg(F.sum("n_tok")).first()[0]

    t0 = time.time()
    cf = cuckoo_build(toks, "tokens", capacity=vocab, bits=12,
                      seed=0x5EED, num_shards=8, stable=True)
    hll = hll_sketch(toks, "tokens", p=14, seed=0x5EED)
    cms = cms_sketch(toks, "tokens", eps=0.0005, delta=0.01, seed=0x5EED)
    kll = kll_sketch(toks, "n_tok", k=200, seed=0x5EED)
    build_sec = time.time() - t0

    checks: dict[str, bool] = {}

    # no false negatives: every distinct token must probe positive
    distinct = toks.select(F.explode("tokens").alias("t")).distinct().persist()
    n_distinct = distinct.count()
    n_hit = distinct.where(contains_col(spark, cf, "t")).count()
    checks["no_false_negatives"] = n_hit == n_distinct

    # FPR at or below the 12-bit bound on a disjoint probe range
    probes_n = 2_000_000
    neg = spark.range(vocab, vocab + probes_n)
    fp = neg.where(contains_col(spark, cf, "id")).count()
    fpp_bound = cf.expected_fpp()
    checks["fpr_within_bound"] = fp / probes_n <= fpp_bound

    # HLL within the published error (3 sigma of 1.04/sqrt(2^p))
    err = abs(hll.estimate() - n_distinct) / n_distinct
    checks["hll_within_bound"] = err <= 3 * 1.04 / (2 ** 14) ** 0.5

    # CMS point estimates overcount-only within eps*N at delta confidence
    import numpy as np
    sample = np.arange(100, dtype=np.int64)
    exact = {r["t"]: r["c"] for r in
             toks.select(F.explode("tokens").alias("t")).where(F.col("t") < 100)
             .groupBy("t").agg(F.count("*").alias("c")).collect()}
    est = cms.query_many(sample)
    lo_ok = all(est[i] >= exact.get(i, 0) for i in range(100))
    hi_ok = (sum(est[i] - exact.get(i, 0) > 0.0005 * total_tokens
                 for i in range(100)) <= 1)
    checks["cms_within_bound"] = bool(lo_ok and hi_ok)

    # KLL median of n_tok within rank tolerance of the exact median
    exact_med = toks.approxQuantile("n_tok", [0.5], 0.0)[0]
    checks["kll_median_close"] = bool(
        abs(float(kll.quantile(0.5)[0]) - exact_med)
        <= max(2.0, 0.02 * exact_med))

    ok = all(checks.values())
    print(json.dumps({
        "num_docs": num_docs, "total_tokens": int(total_tokens),
        "build_sec": round(build_sec, 3),
        "tokens_per_sec_4sketch": round(4 * total_tokens / build_sec, 1),
        "distinct_tokens": n_distinct, "observed_fpp": fp / probes_n,
        "fpp_bound": fpp_bound, "hll_rel_err": round(err, 5),
        "checks": checks, "ok": ok}))
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
