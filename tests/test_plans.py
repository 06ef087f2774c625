"""Physical-plan assertions: the plans we designed are the plans Spark
actually runs. Each check pins a scale property the engine depends on
(pushdown/pruning at the scan, broadcast joins for small sides,
TakeOrderedAndProject instead of global sorts, id-only quadratic
exchanges) so a regression shows up as a plan diff, not a 100x
slowdown at the next scale tier."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as e

    return e


def test_build_scan_pushdown_and_pruning(spark):
    """The sketch-build scan shape: predicate reaches the parquet reader
    and only the key column is read (cuckoo_build projects before its
    mapInPandas, so Catalyst prunes through it)."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    base = (li.where(F.col("l_partkey") < 1000)
            .select(F.col("l_partkey").alias("k")))

    def noop(it):
        for pdf in it:
            yield pd.DataFrame({"n": [len(pdf)]})

    staged = base.mapInPandas(noop, "n long")
    plan = _plan(staged)
    assert "PushedFilters" in plan and "LessThan(l_partkey,1000)" in plan, plan
    # column pruning: the scan reads ONLY l_partkey
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_partkey" in read
    for other in ("l_orderkey", "l_quantity", "l_comment"):
        assert other not in read, read


def test_prefilter_join_broadcasts_exact_side(spark, entry):
    """cf_prefilter_join restores exactness with a broadcast join — the
    dim side must not trigger a shuffle join."""
    plan = _plan(entry.queries()["cf_prefilter_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_topk_uses_take_ordered(spark, entry):
    """Top-k compiles to TakeOrderedAndProject (per-partition top-k +
    driver merge), never a single-partition global sort/window."""
    for q in ("cms_topk_freq", "cqf_topk_freq"):
        plan = _plan(entry.queries()[q](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, (q, plan)


def test_embedding_neardup_exchanges_are_id_only(spark, entry):
    """The quadratic candidate exchange carries ids, not vectors: no
    aggregate drags embedding arrays through the pair dedup (round 1
    shuffled full arrays via dropDuplicates + first(ea))."""
    plan = _plan(entry.queries()["embedding_neardup"](spark, SF_DIR))
    assert "first(ea" not in plan and "first(eb" not in plan, plan


def test_text_stats_is_whole_stage_codegen(spark, entry):
    """Text analysis stays JVM-side: the feature projection participates
    in whole-stage codegen with no Python evaluation nodes."""
    plan = _plan(entry.queries()["text_stats"](spark, SF_DIR))
    assert "codegen id" in plan  # formatted mode's codegen marker
    for py_node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert py_node not in plan, (py_node, plan)


def test_exact_dedup_single_shuffle(spark, entry):
    """Exact dedup = one hash-aggregate shuffle on the fingerprint (a
    partial_ aggregate before the exchange proves map-side combine)."""
    plan = _plan(entry.queries()["exact_dedup"](spark, SF_DIR))
    assert plan.count("hashpartitioning") == 1, plan
    assert "partial_" in plan  # map-side combine before the exchange


def test_probe_filter_stays_in_scan_pipeline(spark):
    """A membership probe is a filter column over the scan — no exchange
    is introduced by probing (the filter blobs ride a broadcast, not a
    join)."""
    from cuckoofilter_spark.sketch.api import contains_col
    from cuckoofilter_spark.sketch.membership import cuckoo_build

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").where(
        F.col("l_partkey") < 1000)
    filt = cuckoo_build(li, "l_partkey", capacity=1000, bits=12, seed=7,
                        num_shards=8)
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    probed = part.where(contains_col(spark, filt, "p_partkey"))
    plan = _plan(probed)
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan  # the vectorized probe UDF

def test_winnow_single_exchange(spark, entry):
    """winnow_fingerprints runs on ONE exchange: the k-gram lead()
    windows, the sliding-min window, and the final (doc_id, fp)
    distinct all reuse the hashpartitioning(doc_id) of the exploded
    words (a doc_id partitioning satisfies the (doc_id, fp) grouping
    distribution), so the operator shuffles the words exactly once."""
    df = entry.queries()["winnow_fingerprint"](spark, SF_DIR)
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("Exchange") == 1, executed


def test_mg_summary_join_broadcasts(spark, entry):
    """The MG bracket audit joins the tiny summary via broadcast —
    never a shuffle join against the exact aggregate."""
    plan = _plan(entry.queries()["mg_topk_freq"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_stratified_sample_is_exchange_free(spark, entry):
    """stratified_sample is a pure filter: the sampling itself must add
    NO exchange before the final tiny per-lang aggregate (one shuffle
    for the groupBy, nothing for the sampling)."""
    from cuckoofilter_spark.ops.packing import stratified_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(stratified_sample(docs, "doc_id", "lang", {"en": 50}))
    assert "Exchange" not in plan, plan


def test_pack_chunks_hierarchical_scan(spark):
    """sequence_pack's prefix sum must be the hierarchical form: the
    doc-side window is PARTITIONED by the id-range bucket (never the
    one-task global window) and the bucket offsets come back via a
    broadcast join."""
    from cuckoofilter_spark.ops.packing import pack_chunks

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(pack_chunks(docs, "doc_id", F.col("n_chars"),
                             chunk_size=256, bucket_docs=64))
    assert "BroadcastHashJoin" in plan, plan
    # both windows exist; the doc-side one carries the bucket key
    assert "windowspecdefinition(_b" in plan, plan


def test_vocab_coverage_broadcasts_vocab(spark, entry):
    """The top-V vocab is tiny and must broadcast onto the exploded
    token stream (no second wide shuffle keyed by word), and the top-V
    itself must be TakeOrderedAndProject, not a global sort."""
    plan = _plan(entry.queries()["vocab_coverage"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_temperature_resample_corpus_never_shuffles(spark):
    """The mix filter's corpus path: per-stratum thresholds arrive via
    BroadcastExchange + BroadcastHashJoin and the kept-rows filter runs
    in the scan pipeline — corpus rows shuffle ZERO times (the only
    shuffles live under the tiny per-stratum count aggregate)."""
    from cuckoofilter_spark.ops.packing import temperature_resample

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (temperature_resample(d, "doc_id", "lang")
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("BroadcastExchange") == 2, plan  # totals + rates
    assert "CartesianProduct" not in plan
    # no shuffle between the corpus scan and the probe join: every
    # hash-exchange in the plan sits under an aggregate, none under
    # the streamed (corpus) side of the join
    streamed = plan.split("BroadcastHashJoin")[-1]
    scan_side = streamed.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in scan_side, scan_side


def test_group_minhash_pair_join_is_signature_sized(spark):
    """The similarity matrix's inequality self-join runs as a
    BroadcastNestedLoopJoin of the |groups|-row signature table — never
    a CartesianProduct of anything corpus-sized; the token stream is
    aggregated exactly once per branch (cached gw upstream)."""
    from cuckoofilter_spark.ops.dedup import group_minhash_similarity

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (group_minhash_similarity(d, "source", "text", num_hashes=8)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") == 1, plan
