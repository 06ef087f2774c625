"""One benchmark run: set up, repeat the workload's cycle under a time
box, check every output outside the timed calls, and collect metrics.

Only the package's public surface is called: ``session.get_spark``,
``sources.tokens``, ``sketch.api``, ``sketch.aggregates``,
``sketch.membership.cuckoo_jvm_filter``,
``streaming.sketch_stream.StreamingSketchState``,
``__spark_entry__.queries()``/``oracle_sql()`` and the ``kernels``
classes. Each call is a named operation ``<phase>.<op>`` (phases:
``build``, ``probe``, ``stream``, ``ops``): it is timed, recorded as a
span and, in a traced run, tagged as the Spark job group so the event
log can be split per phase.
"""

from __future__ import annotations

import hashlib
import math
import os
import pathlib
import sys
import threading
import time

import numpy as np

from perfbench import host, inputs
from perfbench import workloads as W
from perfbench.measure import (
    LEDGER_KEYS, Spans, job_group_ledger, percentile, phase_totals,
    summarize, union_length)
from perfbench.spec import END_TO_END, PER_LAYER

FPR_BOUND = 2.0 * 4 / 2 ** W.CF_BITS  # 2b/2^f, b=4 slots per bucket
ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def _norm_cell(v) -> str:
    """Engine-neutral cell text (the driver-contract comparison rule)."""
    if isinstance(v, np.generic):
        v = v.item()
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "b:" + str(v).lower()
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v:.6g}"
    if isinstance(v, int):
        return f"i:{v}"
    return "s:" + str(v)


def _rows_digest(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _kll_rank_err(kll, exact_sorted: np.ndarray) -> float:
    """Largest distance from q to the rank interval of the estimated
    q-quantile, over a grid of q."""
    qs = np.linspace(0.05, 0.95, 19)
    est = kll.quantile(qs)
    n = exact_sorted.size
    lo = np.searchsorted(exact_sorted, est, side="left") / n
    hi = np.searchsorted(exact_sorted, est, side="right") / n
    return float(np.max(np.maximum(0.0, np.maximum(lo - qs, qs - hi))))


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, tmp: pathlib.Path, root: pathlib.Path):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.tmp, self.root = trace, tmp, root
        self.spans = Spans()
        self.counts: dict[str, int] = {}     # runs of each operation
        self.failures: dict[str, str] = {}   # failing op instance -> why
        self.cycles: list[dict] = []         # per measured cycle: op -> s
        self.facts: dict[str, float] = {}

    # -- plumbing ---------------------------------------------------------
    def _environment(self) -> None:
        """Keep every file Spark, the JVM and Python write inside the run's
        work directory, and size the session for this host."""
        import tempfile

        py_tmp = self.tmp / "py"
        py_tmp.mkdir()
        os.environ["TMPDIR"] = str(py_tmp)
        tempfile.tempdir = str(py_tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.tmp)
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={py_tmp}")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # the session factory defaults to 32g, far beyond a 15 GB host
        os.environ.setdefault("SPARK_DRIVER_MEM", "4g")

    def op(self, name: str, fn, cycle: dict | None = None):
        """Run one named operation; with ``cycle`` its time is recorded
        there as a measured call."""
        self.counts[name] = self.counts.get(name, 0) + 1
        if self.trace:
            self.sc.setJobGroup(name, name)
        with self.spans.span(name):
            out = fn()
        if self.trace:  # jobs between calls (checks) belong to no phase
            self.sc.setJobGroup("untimed", "untimed")
        r = self.spans.records[-1]
        if cycle is not None:
            cycle[name] = r["end"] - r["start"]
        return out

    def check(self, ok: bool, what: str, op: str) -> None:
        """Record whether the latest run of operation ``op`` was right."""
        if not ok:
            self.failures.setdefault(f"{op}#{self.counts.get(op, 0)}", what)
            _log(f"CHECK FAILED: {what}")

    # -- set-up -----------------------------------------------------------
    def _start_session(self) -> None:
        from cuckoofilter_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.tmp),
            "spark.sql.warehouse.dir": str(self.tmp / "warehouse"),
        }
        if self.trace:
            from cuckoofilter_spark.plans.metrics import event_log_conf

            conf.update(event_log_conf(str(self.tmp / "events")))
        with self.spans.span("setup.session"):
            self.spark = get_spark(f"perfbench-{self.workload}",
                                   cores=host.nproc(), extra_conf=conf)
            self.sc = self.spark.sparkContext
            self.sc.setLogLevel("ERROR")

    def _setup(self) -> None:
        """Session start beside input generation (numpy, pyarrow and
        DuckDB only, so it can run in a thread)."""
        import __spark_entry__  # noqa: F401 — its import edits os.environ

        gen = getattr(self, f"_inputs_{self.workload}")
        errors = []

        def run_gen():
            try:
                with self.spans.span("setup.gen"):
                    gen()
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                errors.append(exc)

        with self.spans.span("setup.overlap"):
            t = threading.Thread(target=run_gen, name="perfbench-gen")
            t.start()
            try:
                self._start_session()
            finally:
                t.join()
        if errors:
            raise errors[0]

    def _inputs_sketch(self) -> None:
        self.build_path = self.tmp / "build_tokens"
        self.stream_path = self.tmp / "stream_tokens"
        inputs.write_token_table(self.build_path, W.BUILD_DOCS, self.seed,
                                 W.VOCAB, W.FILE_SPLIT)
        inputs.write_token_table(
            self.stream_path, W.STREAM_BATCHES * W.STREAM_BATCH_DOCS,
            self.seed + 7919, W.VOCAB, W.FILE_SPLIT,
            batch_docs=W.STREAM_BATCH_DOCS)
        self.probe_in = inputs.write_probe_inputs(
            self.tmp / "probe", W.PROBE_KEYS, W.PROBE_ROWS, self.seed,
            W.FILE_SPLIT)
        with self.spans.span("setup.exact"):
            self._exact_stats()

    def _exact_stats(self) -> None:
        """Ground truth for the sketch checks, computed by DuckDB straight
        from the parquet files (independent of Spark and the package)."""
        import duckdb

        con = duckdb.connect()
        src = f"read_parquet('{self.build_path}/*.parquet')"
        self.exact_total = con.execute(
            f"SELECT sum(n_tok) FROM {src}").fetchone()[0]
        self.exact_distinct = con.execute(
            f"SELECT DISTINCT unnest(tokens) AS t FROM {src}"
        ).fetchnumpy()["t"].astype(np.uint64)
        self.exact_ntok = np.sort(con.execute(
            f"SELECT n_tok FROM {src}").fetchnumpy()["n_tok"])
        rng = np.random.default_rng(self.seed)
        sample = rng.choice(self.exact_distinct, size=100, replace=False)
        rows = con.execute(
            f"SELECT t, count(*) FROM (SELECT unnest(tokens) AS t FROM {src}) "
            f"WHERE t IN ({','.join(str(int(x)) for x in sample)}) GROUP BY t"
        ).fetchall()
        self.exact_freq = {int(t): int(c) for t, c in rows}
        con.close()

    def _inputs_curation(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        self.cur_dir = inputs.write_curation_tables(self.tmp / "curation",
                                                    self.seed)
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"'{self.cur_dir}/documents.parquet'")
        self.expect = {}
        for q in W.CURATION:
            odf = con.execute(oracles[q]).df()
            self.expect[q] = _rows_digest(
                list(odf.columns),
                [tuple(r) for r in odf.itertuples(index=False, name=None)])
        con.close()

    # -- the sketch cycle -------------------------------------------------
    def _build(self, prefix: str, cycle=None) -> None:
        from cuckoofilter_spark.sketch.aggregates import (
            cms_sketch, hll_sketch, kll_sketch)
        from cuckoofilter_spark.sketch.api import build_filter

        df = self.spark.read.parquet(str(self.build_path))
        cap = int(self.exact_distinct.size)
        out = (
            self.op(f"{prefix}.cuckoo", lambda: build_filter(
                df, "tokens", kind="cuckoo", capacity=cap, seed=W.SEED,
                bits=W.CF_BITS, num_shards=W.CF_SHARDS, stable=True), cycle),
            self.op(f"{prefix}.hll", lambda: hll_sketch(
                df, "tokens", p=W.HLL_P, seed=W.SEED), cycle),
            self.op(f"{prefix}.cms", lambda: cms_sketch(
                df, "tokens", eps=W.CMS_EPS, delta=W.CMS_DELTA, seed=W.SEED),
                cycle),
            self.op(f"{prefix}.kll", lambda: kll_sketch(
                df, "n_tok", k=W.KLL_K, seed=W.SEED), cycle),
        )
        self._check_build(prefix, *out)

    def _check_build(self, prefix: str, cf, hll, cms, kll) -> None:
        fn = int((~cf.contains_u64(self.exact_distinct)).sum())
        self.check(fn == 0, f"cuckoo: {fn} false negatives over the vocabulary",
                   f"{prefix}.cuckoo")
        n = self.exact_distinct.size
        rel = abs(hll.estimate() - n) / n
        bound = 3 * 1.04 / math.sqrt(2 ** W.HLL_P)
        self.check(rel <= bound, f"hll: rel err {rel:.4g} > {bound:.4g}",
                   f"{prefix}.hll")
        keys = np.array(sorted(self.exact_freq), dtype=np.uint64)
        over = (cms.query_many(keys).astype(np.int64)
                - np.array([self.exact_freq[int(k)] for k in keys]))
        allowed = cms.eps * self.exact_total
        self.check(bool((over >= 0).all()), "cms: undercount", f"{prefix}.cms")
        self.check(bool((over <= allowed).all()),
                   f"cms: overcount {over.max()} > eps*N {allowed:.0f}",
                   f"{prefix}.cms")
        rank_err = _kll_rank_err(kll, self.exact_ntok)
        self.check(rank_err <= kll.eps,
                   f"kll: rank err {rank_err:.4g} > {kll.eps:.4g}", f"{prefix}.kll")
        info = cf.info()
        self.facts.update({
            "cf.bits_per_item": info["bits_per_item"],
            "cf.load_factor": info["load_factor"],
            "hll.rel_err": rel,
            "cms.overcount_over_bound": float(over.max()) / allowed,
            "kll.rank_err": rank_err,
        })

    def _probe(self, prefix: str, which: str, cycle=None) -> None:
        from pyspark.sql import functions as F

        from cuckoofilter_spark.sketch.api import contains_col, contains_sharded
        from cuckoofilter_spark.sketch.membership import cuckoo_jvm_filter

        path, n_p, n_a = self.probe_in[which]
        probes = self.spark.read.parquet(path)

        def split(df):  # hits among present / absent probe keys
            rows = df.groupBy("present").agg(
                F.sum(F.col("hit").cast("long")).alias("h")).collect()
            got = {bool(r["present"]): int(r["h"] or 0) for r in rows}
            return got.get(True, 0), got.get(False, 0)

        # 8-byte probe rows: 64k-row Arrow batches keep per-batch overhead
        # off the probe (the session default suits ~1 kB token rows)
        self.spark.conf.set(ARROW_BATCH, "65536")
        try:
            res = {
                "broadcast": self.op(f"{prefix}.broadcast", lambda: split(
                    probes.withColumn("hit", contains_col(
                        self.spark, self.cf_probe, "k"))), cycle),
                "sharded": self.op(f"{prefix}.sharded", lambda: split(
                    contains_sharded(probes, "k", self.cf_probe, out_col="hit",
                                     store=str(self.tmp / "store"))), cycle),
                "jvm": self.op(f"{prefix}.jvm", lambda: split(
                    cuckoo_jvm_filter(self.spark, self.cf_jvm, probes, "k")
                    .withColumn("hit", F.lit(True))), cycle),
            }
        finally:
            self.spark.conf.set(ARROW_BATCH, "8192")
        for name, (hp, ha) in res.items():
            op = f"{prefix}.{name}"
            self.check(hp == n_p, f"probe {name}: {n_p - hp} false negatives", op)
            # the bound is on the expected rate: allow 3 sigma of the
            # binomial sampling noise in the observed count
            limit = FPR_BOUND * n_a + 3 * math.sqrt(FPR_BOUND * n_a)
            self.check(ha <= limit, f"probe {name}: {ha} false positives in "
                       f"{n_a} absent keys > {limit:.0f}", op)
        self.check(res["broadcast"] == res["sharded"],
                   f"probe: broadcast {res['broadcast']} != sharded "
                   f"{res['sharded']}", f"{prefix}.sharded")
        fpr = res["broadcast"][1] / n_a
        self.facts.update({"probe.fpr": fpr, "probe.fpr_over_bound": fpr / FPR_BOUND})

    def _stream(self, prefix: str, b: int, cycle=None) -> None:
        from pyspark.sql import functions as F

        batch = self.spark.read.parquet(str(self.stream_path)).where(
            F.col("batch") == b)
        for k, st in self.states.items():
            self.op(f"{prefix}.update_{k}", lambda: st.update(batch, b), cycle)
            self.op(f"{prefix}.load_{k}", st.load, cycle)

    def _check_stream(self, last: int) -> None:
        """The final states equal a one-shot build over the same batches
        (HLL and CMS byte for byte; KLL within its rank error)."""
        import duckdb
        from pyspark.sql import functions as F

        from cuckoofilter_spark.sketch.aggregates import cms_sketch, hll_sketch

        union = self.spark.read.parquet(str(self.stream_path)).where(
            F.col("batch") <= last)
        one = {"hll": hll_sketch(union, "tokens", **self.stream_params["hll"][1]),
               "cms": cms_sketch(union, "tokens", **self.stream_params["cms"][1])}
        for k, sk in one.items():
            self.check(self.states[k].load().to_bytes() == sk.to_bytes(),
                       f"stream {k}: state differs from a one-shot build",
                       f"stream.update_{k}")
        ntok = np.sort(duckdb.sql(
            f"SELECT n_tok FROM read_parquet('{self.stream_path}/*/*.parquet', "
            f"hive_partitioning=true) WHERE batch <= {last}"
        ).fetchnumpy()["n_tok"])
        kll = self.states["kll"].load()
        err = _kll_rank_err(kll, ntok)
        self.check(err <= kll.eps, f"stream kll: rank err {err:.4g} > {kll.eps:.4g}",
                   "stream.update_kll")
        self.facts["stream.state_bytes"] = sum(
            p.stat().st_size for p in (self.tmp / "state").rglob("*") if p.is_file())

    def workload_sketch(self) -> None:
        from cuckoofilter_spark.sketch.api import build_filter
        from cuckoofilter_spark.streaming.sketch_stream import StreamingSketchState

        self.stream_params = {
            "hll": ("tokens", {"p": W.HLL_P, "seed": W.SEED}),
            "cms": ("tokens", {"eps": W.CMS_EPS, "delta": W.CMS_DELTA, "seed": W.SEED}),
            "kll": ("n_tok", {"k": W.KLL_K, "seed": W.SEED}),
        }
        self.states = {
            k: StreamingSketchState(str(self.tmp / "state" / k), k, col, **p)
            for k, (col, p) in self.stream_params.items()}
        keys = self.spark.read.parquet(self.probe_in["keys"])
        n = self.probe_in["n_keys"]
        self.cf_probe = self.op("warmup.probe.build_cuckoo", lambda: build_filter(
            keys, "k", kind="cuckoo", capacity=n, seed=W.SEED, bits=W.CF_BITS,
            num_shards=W.CF_SHARDS, stable=True))
        self.cf_jvm = self.op("warmup.probe.build_cuckoo_jvm", lambda: build_filter(
            keys, "k", kind="cuckoo_jvm", capacity=n, seed=W.SEED,
            bits=W.CF_BITS, num_shards=W.CF_SHARDS))
        self.facts["probe.filter_bytes"] = self.cf_probe.size_in_bytes()
        b = 0
        for _ in range(W.WARMUP_CYCLES["sketch"]):
            self._build("warmup.build")
            self._probe("warmup.probe", "probes_warm")
            self._stream("warmup.stream", b)
            b += 1

        def cycle(out: dict) -> bool:
            nonlocal b
            self._build("build", out)
            self._probe("probe", "probes", out)
            self._stream("stream", b, out)
            b += 1
            return b < W.STREAM_BATCHES

        self._measure(cycle)
        self._check_stream(b - 1)

    # -- the curation cycle -----------------------------------------------
    def _curation_pass(self, prefix: str, cycle=None) -> None:
        import __spark_entry__ as entry

        queries = entry.queries()
        for q in W.CURATION:
            def go(q=q):
                df = queries[q](self.spark, self.cur_dir)
                return list(df.columns), [tuple(r) for r in df.collect()]
            name = f"{prefix}.{q}"
            cols, rows = self.op(name, go, cycle)
            self.check(_rows_digest(cols, rows) == self.expect[q],
                       f"curation {q}: output differs from the DuckDB oracle", name)
        # queries that persist() must redo their work on every pass
        self.spark.catalog.clearCache()

    def workload_curation(self) -> None:
        for _ in range(W.WARMUP_CYCLES["curation"]):
            self._curation_pass("warmup.ops")

        def cycle(out: dict) -> bool:
            self._curation_pass("ops", out)
            return True

        self._measure(cycle)

    def _measure(self, cycle) -> None:
        """Repeat ``cycle`` (which records its calls into the dict it is
        given, and returns False when it can run no more) for
        ``--seconds`` and at least ``MIN_CYCLES`` times; CPU time and
        resident memory of the whole process tree are taken over the
        loop."""
        end = time.perf_counter() + self.seconds
        cpu0 = host.tree_cpu_s()
        more = True
        with host.PeakRss() as rss:
            while more and (len(self.cycles) < W.MIN_CYCLES[self.workload]
                            or time.perf_counter() < end):
                out: dict = {}
                more = cycle(out)
                self.cycles.append(out)
        self.cpu_s = host.tree_cpu_s() - cpu0
        self.facts["python.peak_rss_mb"] = rss.python_mb
        self.facts["jvm.peak_rss_mb"] = rss.jvm_mb

    # -- kernels (traced runs only) ---------------------------------------
    def kernel_microbench(self) -> dict:
        """Driver-side kernel throughput at task-sized batches: one
        cuckoo shard's worth of keys, a 64k-key probe batch, and 1M keys
        for the aggregate sketches."""
        from cuckoofilter_spark.kernels.cms import CountMinSketch
        from cuckoofilter_spark.kernels.cuckoo import CuckooFilter
        from cuckoofilter_spark.kernels.hll import HyperLogLog
        from cuckoofilter_spark.kernels.kll import KLLSketch

        rng = np.random.default_rng(self.seed)
        batch = rng.integers(0, W.VOCAB, size=1 << 20).astype(np.uint64)
        shard = np.unique(rng.integers(0, 1 << 62, size=W.PROBE_KEYS // W.CF_SHARDS,
                                       dtype=np.int64)).astype(np.uint64)
        probe = rng.integers(0, 1 << 62, size=65536).astype(np.uint64)

        def med(fn, reps):
            ts = []
            for _ in range(reps):
                t = time.perf_counter()
                fn()
                ts.append(time.perf_counter() - t)
            return percentile(ts, 50.0)

        def new_cf():
            return CuckooFilter.create(shard.size, bits=W.CF_BITS, seed=W.SEED,
                                       stable=True)

        out = {}
        fresh = [new_cf() for _ in range(5)]
        out["kernels.cuckoo.add_many_keys_per_s"] = shard.size / med(
            lambda: fresh.pop().add_many(shard), 5)
        cf = new_cf()
        cf.add_many(shard)
        out["kernels.cuckoo.contains_many_keys_per_s"] = probe.size / med(
            lambda: cf.contains_many(probe), 7)
        makers = {
            "hll": (lambda: HyperLogLog(p=W.HLL_P, seed=W.SEED), batch, HyperLogLog),
            "cms": (lambda: CountMinSketch.create(eps=W.CMS_EPS, delta=W.CMS_DELTA,
                                                  seed=W.SEED), batch, CountMinSketch),
            "kll": (lambda: KLLSketch(k=W.KLL_K, seed=W.SEED),
                    batch.astype(np.float64), KLLSketch),
        }
        for k, (make, data, cls) in makers.items():
            fresh = [make() for _ in range(3)]
            out[f"kernels.{k}.add_many_keys_per_s"] = data.size / med(
                lambda: fresh.pop().add_many(data), 3)
            a, b = make(), make()
            a.add_many(data[: data.size // 2])
            b.add_many(data[data.size // 2:])
            blob = a.to_bytes()
            out[f"kernels.{k}.merge_s"] = med(lambda: cls.merge(a, b), 21)
            out[f"kernels.{k}.to_bytes_s"] = med(a.to_bytes, 21)
            out[f"kernels.{k}.from_bytes_s"] = med(lambda: cls.from_bytes(blob), 21)
        return out

    # -- the run ----------------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        self._environment()
        health_before = host.health_probe()
        self.t_start = time.time()
        try:
            self._setup()
            getattr(self, f"workload_{self.workload}")()
            kernels = self.kernel_microbench() if self.trace else {}
        finally:
            with self.spans.span("teardown"):
                self._stop()
        wall_s = time.time() - self.t_start
        health_after = host.health_probe()

        failed = len(self.failures)
        attempted = sum(self.counts.values())
        if self.trace:
            metrics = self._per_layer(kernels)
        else:
            metrics = self._end_to_end(attempted, failed)
        result = {"correct": failed == 0, "attempted": attempted,
                  "failed": failed, "metrics": metrics}
        record = {
            "workload": self.workload, "seed": self.seed,
            "trace": int(self.trace), "seconds": self.seconds,
            "time": time.strftime("%Y-%m-%dT%H:%M:%S"),
            "host": {**host.source_id(self.root), "nproc": host.nproc(),
                     "before": health_before, "after": health_after},
            "wall_s": wall_s, "cycle_s": [sum(c.values()) for c in self.cycles],
            "failures": self.failures, "facts": self.facts,
            "timings": {k: summarize([c[k] for c in self.cycles])
                        for k in self.cycles[0]},
            "spans": self.spans.records,
            "result": result,
        }
        return result, record

    def _stop(self) -> None:
        """Stop the session and the JVM behind it, and wait for both."""
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is not None:
            spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — must not leave it running
                proc.kill()
                proc.wait()

    # -- metrics ----------------------------------------------------------
    def _setup_s(self) -> float:
        """Wall time from the run's start to its first measured call:
        session start, inputs, prebuilt filters and the warm-up cycle."""
        first = min(r["start"] for r in self.spans.records
                    if r["name"].split(".", 1)[0] in W.PHASES)
        return first - self.t_start

    def _end_to_end(self, attempted, failed) -> dict:
        vals = {
            "setup_s": self._setup_s(),
            "cycle_cpu_s": self.cpu_s / len(self.cycles),
            "peak_rss_mb": self.facts["python.peak_rss_mb"],
            "ok_ops_frac": (attempted - failed) / attempted,
        }
        return {k: {"value": vals[k], "unit": END_TO_END[k]} for k in END_TO_END}

    def _per_layer(self, kernels: dict) -> dict:
        ledger, intervals = job_group_ledger(str(self.tmp / "events"))
        n = len(self.cycles)
        names = {r["name"]: r for r in self.spans.records}
        m: dict[str, float] = {}

        def dur(name):
            r = names.get(name)
            return r["end"] - r["start"] if r else 0.0

        m["session.start_s"] = dur("setup.session")
        m["sources.gen_s"] = dur("setup.gen")
        for ph in W.PHASES:
            tot = phase_totals(ledger, ph)
            for k in LEDGER_KEYS:
                m[f"{ph}.{k}"] = tot[k] / n
            # driver time: a call's wall time minus the union of the
            # intervals of the Spark jobs its job group launched
            spark_s = drv_s = 0.0
            for r in self.spans.matching(f"{ph}."):
                busy = union_length(intervals.get(r["name"], []),
                                    r["start"], r["end"])
                spark_s += busy
                drv_s += (r["end"] - r["start"]) - busy
            m[f"{ph}.spark_s"] = spark_s / n
            m[f"{ph}.driver_s"] = drv_s / n
        for c in self.cycles:
            for k, v in c.items():
                name = "stream.load" if ".load_" in k else k
                m[f"{name}_s"] = m.get(f"{name}_s", 0.0) + v / n
        m.update(kernels)
        m.update(self.facts)
        m["trace.cycle_s"] = percentile([sum(c.values()) for c in self.cycles], 50.0)
        m["trace.cycle_cpu_s"] = self.cpu_s / n
        # every per-layer metric in every workload: a call or structure
        # the workload does not have reads 0
        return {k: {"value": m.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
