"""The benchmark's own metric code: the percentile rule, the job-interval
union behind ``*.driver_s``, and the event-log ledger grouped by job
group (over a small event log captured from Spark 4.1 and trimmed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import pathlib
import threading

import numpy as np
import pytest

from perfbench.measure import (
    Spans, job_group_ledger, percentile, phase_totals, summarize,
    tail_percentile, union_length)

FIXTURE = pathlib.Path(__file__).parent / "fixtures" / "eventlog"


@pytest.mark.parametrize("n, expected", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
    (9999, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_percentile_matches_numpy_linear_rule():
    rng = np.random.default_rng(7)
    xs = list(rng.exponential(size=37))
    for p in (0, 12.5, 50, 75, 90, 100):
        assert percentile(xs, p) == pytest.approx(np.percentile(xs, p))
    with pytest.raises(ValueError):
        percentile([], 50)


def test_summarize_reports_count_median_and_supported_tail():
    s = summarize(list(range(40)))
    assert s == {"n": 40, "p50": 19.5, "tail_pct": 75.0,
                 "tail": pytest.approx(np.percentile(range(40), 75))}
    assert "tail" not in summarize([1.0, 2.0, 3.0])


@pytest.mark.parametrize("intervals, lo, hi, expected", [
    ([], None, None, 0.0),
    ([(0, 1), (2, 3)], None, None, 2.0),          # disjoint
    ([(0, 2), (1, 3)], None, None, 3.0),          # overlapping
    ([(0, 10), (2, 3), (4, 5)], None, None, 10.0),  # nested
    ([(2, 3), (0, 1)], None, None, 2.0),          # unsorted
    ([(0, 1), (1, 2)], None, None, 2.0),          # touching
    ([(0, 10)], 2, 5, 3.0),                       # clipped to the span
    ([(0, 1), (6, 9)], 2, 5, 0.0),                # outside the span
    ([(1, 4), (3, 8)], 2, 6, 4.0),                # overlap, then clip
])
def test_union_length(intervals, lo, hi, expected):
    assert union_length(intervals, lo, hi) == pytest.approx(expected)


def test_spans_nest_per_thread():
    spans = Spans()
    with spans.span("outer"):
        with spans.span("inner"):
            pass

        def other():
            with spans.span("other"):
                pass

        t = threading.Thread(target=other)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    parents = {r["name"]: r["parent"] for r in spans.records}
    assert parents == {"inner": "outer", "other": None, "outer": None}
    assert all(r["end"] >= r["start"] for r in spans.records)


def test_event_log_ledger_groups_by_job_group():
    ledger, intervals = job_group_ledger(str(FIXTURE))
    assert set(ledger) == {"fx.hll", "fx.shuffle"}

    hll = ledger["fx.hll"]  # one pandas-UDF aggregate job, two tasks
    assert (hll["jobs"], hll["stages"], hll["tasks"]) == (1, 1, 2)
    assert hll["py_sent_bytes"] == 2016 + 263752  # two Python exec nodes
    assert hll["py_returned_bytes"] == 262176 + 33312
    assert hll["py_start_s"] == pytest.approx(2.690)
    assert hll["py_init_s"] == pytest.approx(3.685)
    assert hll["py_run_s"] == pytest.approx(6.669)
    assert hll["exec_run_s"] == pytest.approx(5.642)
    assert hll["exec_cpu_s"] == pytest.approx(0.80717698)
    assert hll["gc_s"] == pytest.approx(0.040)
    assert hll["shuffle_write_bytes"] == 0

    # two jobs: the map stage, then the reduce job whose map stage is
    # skipped (listed in its job, never completed) -- counted once
    sh = ledger["fx.shuffle"]
    assert (sh["jobs"], sh["stages"], sh["tasks"]) == (2, 2, 3)
    assert sh["shuffle_write_bytes"] == 364
    assert sh["shuffle_write_s"] == pytest.approx(0.036016185)
    assert sh["agg_build_s"] == pytest.approx(0.019)
    assert sh["fetch_wait_s"] == 0
    assert sh["py_sent_bytes"] == 0

    assert intervals["fx.hll"] == [(1792206605.796, 1792206609.054)]
    assert len(intervals["fx.shuffle"]) == 2


def test_phase_totals_sums_groups_sharing_a_prefix():
    ledger, _ = job_group_ledger(str(FIXTURE))
    fx = phase_totals(ledger, "fx")
    assert fx["jobs"] == 3 and fx["tasks"] == 5
    assert phase_totals(ledger, "none")["jobs"] == 0
