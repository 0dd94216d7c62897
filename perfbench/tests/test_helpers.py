"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math

import pytest

from perfbench import curation, datagen, harness, stream, workloads


# ------------------------------------------------------------ percentiles
def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert harness.percentile(xs, 50) == 3.0
    assert harness.percentile(xs, 0) == 1.0
    assert harness.percentile(xs, 100) == 5.0
    assert harness.percentile(xs, 90) == pytest.approx(4.6)
    assert harness.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        harness.percentile([], 50)


@pytest.mark.parametrize("n, tail", [
    (10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
])
def test_supported_tail_needs_ten_samples_beyond(n, tail):
    assert harness.supported_tail(n) == tail


# ----------------------------------------------------------- open loop
def test_schedule_is_fixed_by_rate_not_by_progress():
    assert harness.schedule(100.0, 4.0, 5) == [100.0, 100.25, 100.5, 100.75, 101.0]


def test_lateness_counts_only_delay_after_due_time():
    due = harness.schedule(0.0, 2.0, 4)  # 0, .5, 1, 1.5
    actual = [0.0, 0.7, 0.9, 2.5]
    assert harness.lateness(due, actual) == pytest.approx([0.0, 0.2, 0.0, 1.0])
    with pytest.raises(ValueError):
        harness.lateness(due, actual[:2])


def test_file_lag_maps_files_to_the_batch_that_covers_them():
    def report(batch_id, start_s, rows, ms):
        ts = f"1970-01-01T00:00:{start_s:02d}.000Z"
        return {"batchId": batch_id, "timestamp": ts, "numInputRows": rows,
                "durationMs": {"triggerExecution": ms}}

    rows = [10, 20, 5, 7]
    created = [0.0, 1.0, 2.0, 9.0]
    reports = [report(1, 3, 25, 500), report(0, 1, 10, 1000), report(2, 4, 0, 100),
               report(3, 5, 5, 2000)]
    lags = stream.lags(rows, created, reports)
    # batch 0 ends at 2.0 and covers file 0; batch 1 ends at 3.5 and covers
    # files 1 and 2; batch 3 ends at 7.0; file 3 is never consumed
    assert lags[:3] == pytest.approx([2.0, 2.5, 1.5])
    assert lags[3] is None


def test_processing_rate_sums_the_batches_that_consumed_the_files():
    def report(batch_id, rows, ms):
        return {"batchId": batch_id, "timestamp": "1970-01-01T00:00:00.000Z",
                "numInputRows": rows, "durationMs": {"triggerExecution": ms}}

    rows = [10, 20, 5, 40, 40]
    reports = [report(0, 10, 1000), report(1, 25, 500), report(2, 0, 100), report(3, 80, 1500)]
    # files 2..4 were consumed by batches 1 and 3: 105 rows in 2.0 s
    assert stream.processing_rate(rows, reports, range(2, 5)) == pytest.approx(52.5)
    assert stream.processing_rate(rows, reports, range(0, 1)) == pytest.approx(10.0)
    assert math.isnan(stream.processing_rate(rows + [9], reports, range(5, 6)))


def test_backlog_counts_earlier_files_not_yet_consumed():
    created = [1.0, 2.0, 3.0, 4.0]
    per_file = [2.5, 1.2, 0.5, None]  # consumed at 3.5, 3.2, 3.5, never
    assert stream.backlog(created, per_file) == [0, 1, 2, 0]


# -------------------------------------------------------------- tracing
def _span(name, start, end, parent=-1):
    return harness.Span(name, start, end, parent)


def test_self_time_subtracts_children_once():
    spans = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 4.0, 0),
        _span("b", 3.0, 6.0, 0),  # overlaps a: covered interval is 1..6
        _span("a.child", 1.5, 2.0, 1),
        _span("c", 8.0, 12.0, 0),  # runs past its parent: clipped at 10
    ]
    assert harness.self_times(spans) == pytest.approx([3.0, 2.5, 3.0, 0.5, 4.0])


def test_tracer_records_parents_and_ops():
    tr = harness.Tracer()
    tr.op = 7
    with tr.span("root"):
        with tr.span("child"):
            pass
    with tr.span("next"):
        pass
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [
        ("root", -1, 7), ("child", 0, 7), ("next", -1, 7)]
    assert all(s.end >= s.start for s in tr.spans)
    null = harness.NullTracer()
    with null.span("ignored"):
        pass


# ------------------------------------------------------------- inputs
def test_one_seed_generates_identical_inputs_twice():
    a, b = datagen.star_tables(5), datagen.star_tables(5)
    assert all(a[t].equals(b[t]) for t in a)
    assert datagen.documents(5).equals(datagen.documents(5))
    assert datagen.embeddings(5).equals(datagen.embeddings(5))
    s1, s2 = datagen.EventSource(5), datagen.EventSource(5)
    for i in range(3):
        assert s1.batch(i, 400).equals(s2.batch(i, 400))
    assert not datagen.documents(5).equals(datagen.documents(6))


def test_events_stay_within_the_watermark_and_repeat_some_rows():
    src = datagen.EventSource(1)
    newest, seen = None, set()
    for i in range(4):
        tbl = src.batch(i, 400).to_pydict()
        if newest is not None:
            # never behind the newest earlier event by the 2-minute watermark
            assert (newest - min(tbl["ts"])).total_seconds() < 120
            assert seen & set(tbl["event_id"])  # repeats of earlier events
        newest = max(tbl["ts"]) if newest is None else max(newest, max(tbl["ts"]))
        seen |= set(tbl["event_id"])


def test_union_find_labels_are_component_minimums():
    labels = curation._min_labels([1, 2, 3, 4, 5, 6], [(5, 3), (3, 1), (6, 4)])
    assert labels == {1: 1, 2: 2, 3: 1, 4: 4, 5: 1, 6: 4}


# ------------------------------------------------------------- results
def test_result_reports_every_metric_by_name():
    res = workloads.Result(attempted=4, failed=1)
    res.e2e = {n: 1.0 for n in workloads.E2E}
    assert set(res.e2e_metrics()) == set(workloads.E2E)
    layer = res.layer_metrics()
    assert set(layer) == set(workloads.LAYER) and all(v["value"] == 0.0 for v in layer.values())
    assert set(workloads.MOVES) == set(workloads.LAYER)
    assert res.report()["metrics"]["error_rate"] == 0.25


def test_no_samples_reads_nan_instead_of_raising():
    res = workloads.Result()
    workloads.latency_metrics(res, [], "jobs")
    assert math.isnan(res.e2e["latency_p50_s"]) and res.samples["jobs"] == 0
    workloads.latency_metrics(res, [2.0, 1.0, 3.0], "jobs")
    assert res.e2e["latency_p50_s"] == 2.0
    assert res.samples["jobs_tail"] == {"max_s": 3.0}


def test_runner_offers_exactly_the_declared_workloads():
    from perfbench import run

    assert set(run.WORKLOADS) == {w["name"] for w in workloads._SPEC["workloads"]}
