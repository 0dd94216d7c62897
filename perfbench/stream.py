"""stream_ingest: an open-loop generator lands seeded event files on a
fixed schedule while one streaming query
(``streaming.core``: ``events_stream`` -> watermarked ``dedup_stream``
-> tumbling-window counts) runs on a processing-time trigger into a
memory sink.

The schedule never waits for the system: file ``i`` is due at
``start + i / FILES_PER_S``. The offered rate climbs a fixed ladder; the
first step is the base rate at which ingest lag is reported. A file's lag
runs from its due time to the end of the micro-batch that consumed it
(the query's progress events give each batch's input row count and end
time; files are consumed in creation order). The delivered rate is the
ladder's events over the time from the first file's due time to the end
of the batch that consumed the last one: it falls when the query falls
behind the schedule. The report adds the processing rate (input rows per second of micro-batch time, which
follows the machine's speed run to run) and the highest rung whose lag
p90 and backlog stay bounded.
A sentinel file after the ladder, far ahead in event time, closes every
window, and the sink's final contents are checked against DuckDB
over the same generated events; a traced run also checks the number of
distinct events ``run_available_now`` replays, then runs the curation
job (``curation``) for its per-layer metrics.

Setup (the median of ``SETUP_REPS``) is a fresh session; the query's
start, in the measured phase, is in the report line (``stream_start_s``)."""

from __future__ import annotations

import datetime as _dt
import json
import math
import os
import shutil
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import curation, datagen, harness
from perfbench.workloads import Result, latency_metrics

ALIASES = {"latency_p50_s": "event_lag_p50_s", "throughput_per_s": "delivered_events_per_s"}
# a setup is short next to its noise (about 0.5 s), so its median takes
# more of them than the interactive workload's
SETUP_REPS = 5
FILES_PER_S = 4
BASE_RATE = 2000  # events/s
# (events/s, share of the measured time); the base rate spans several
# triggers, so its lag median does not rest on one micro-batch's time
LADDER = [(BASE_RATE, 0.8), (16000, 0.1), (64000, 0.1)]
LAG_LIMIT_S = 5.0
# about three quiet micro-batches long: at the base rate lag is trigger
# alignment plus one batch, never a queue of back-to-back batches, even
# when a slow phase of the machine doubles the batch time
TRIGGER_S = 3
# a file waits for the running batch and the next one: up to two
# triggers' files are queued in steady state, more means falling behind
BACKLOG_LIMIT = 3 * TRIGGER_S * FILES_PER_S
WATERMARK = "2 minutes"
WINDOW = "5 minutes"
SINK = "perfbench_counts"
DRAIN_TIMEOUT_S = 60
# untimed batches of base-rate size before the ladder: the query starts
# in this run's JVM, and its first data batches still compile and JIT
WARMUP_BATCHES = 2


class Progress:
    """StreamingQueryListener that keeps every progress report."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.reports: list[dict] = []
        self.lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with outer.lock:
                    outer.reports.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def snapshot(self) -> list[dict]:
        with self.lock:
            return list(self.reports)


def _end_time(report: dict) -> float:
    start = _dt.datetime.strptime(report["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=_dt.timezone.utc).timestamp()
    return start + report["durationMs"].get("triggerExecution", 0) / 1000.0


class Stream:
    """One running query, in the current session, over a fresh landing
    directory."""

    def __init__(self, ctx, source: datagen.EventSource):
        from pyspark.sql import functions as F

        from ddf_flink_spark.streaming.core import dedup_stream, events_stream

        spark = ctx.spark
        self.ctx = ctx
        self.root = ctx.path("stream")
        shutil.rmtree(self.root, ignore_errors=True)
        self.landing = os.path.join(self.root, "events.parquet")
        self.staging = os.path.join(self.root, "staging")
        os.makedirs(self.landing)
        os.makedirs(self.staging)
        self.rows: list[int] = []  # rows per landed file, in landing order
        self.created: list[float] = []
        self.batches: list[pa.Table] = []
        self.land(source.batch(0, 8))
        self.progress = Progress()
        spark.streams.addListener(self.progress.listener)
        # tumbling_counts' aggregation over dedup_stream's output; calling
        # tumbling_counts itself would define a second watermark, which
        # Spark rejects once the stream already carries one
        counts = (
            dedup_stream(events_stream(spark, self.root), ["event_id"], watermark=WATERMARK)
            .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
        )
        self.query = (
            counts.writeStream.format("memory").queryName(SINK).outputMode("append")
            .option("checkpointLocation", os.path.join(self.root, "checkpoint"))
            .trigger(processingTime=f"{TRIGGER_S} seconds").start()
        )
        self.wait_rows(sum(self.rows), DRAIN_TIMEOUT_S)

    def land(self, tbl: pa.Table) -> float:
        """Write one file atomically into the landing directory; returns
        its creation stamp."""
        i = len(self.rows)
        stamp = time.time()
        tbl = tbl.append_column("created_us", pa.array([int(stamp * 1e6)] * tbl.num_rows, pa.int64()))
        tmp = os.path.join(self.staging, f"part-{i:06d}.parquet")
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(self.landing, f"part-{i:06d}.parquet"))
        self.rows.append(tbl.num_rows)
        self.created.append(stamp)
        self.batches.append(tbl)
        return stamp

    def consumed_rows(self) -> int:
        return sum(r["numInputRows"] for r in self.progress.snapshot())

    def wait_rows(self, n: int, timeout: float) -> bool:
        end = time.time() + timeout
        while time.time() < end:
            if self.consumed_rows() >= n:
                return True
            time.sleep(0.05)
        return False

    def stop(self) -> None:
        self.query.stop()
        self.ctx.spark.streams.removeListener(self.progress.listener)


def consumers(rows: list[int], reports: list[dict]) -> tuple[list[dict], list[int | None]]:
    """The progress reports that carried input, in batch order, and for
    each file the index of the first of them whose cumulative input
    covers it (None: never consumed)."""
    data = [r for r in sorted(reports, key=lambda r: r["batchId"]) if r["numInputRows"]]
    cum, total = [], 0
    for r in data:
        total += r["numInputRows"]
        cum.append(total)
    out, k, covered = [], 0, 0
    for n in rows:
        covered += n
        while k < len(cum) and cum[k] < covered:
            k += 1
        out.append(k if k < len(cum) else None)
    return data, out


def lags(rows: list[int], stamps: list[float], reports: list[dict]) -> list[float | None]:
    """Per-file lag: end of the first micro-batch whose cumulative input
    covers the file, minus the file's stamp, its due time or creation
    (None: never consumed)."""
    data, by = consumers(rows, reports)
    return [_end_time(data[k]) - c if k is not None else None for c, k in zip(stamps, by)]


def processing_rate(rows: list[int], reports: list[dict], files: range) -> float:
    """Input rows per second of micro-batch time (triggerExecution) over
    the micro-batches that consumed ``files``: the rate the query could
    keep up with if it were never idle."""
    data, by = consumers(rows, reports)
    ks = {by[f] for f in files if by[f] is not None}
    n = sum(data[k]["numInputRows"] for k in ks)
    secs = sum(data[k]["durationMs"].get("triggerExecution", 0) for k in ks) / 1000.0
    return n / secs if secs else math.nan


def _replay_distinct(ctx) -> int:
    """The landed files deduplicated once more through the library's
    own run-to-completion harness (``run_available_now``)."""
    from ddf_flink_spark.streaming.core import dedup_stream, events_stream, run_available_now

    events = events_stream(ctx.spark, ctx.path("stream"))
    return run_available_now(
        dedup_stream(events, ["event_id"], watermark=WATERMARK), output_mode="append").count()


def expected_counts(batches: list[pa.Table]) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    con.register("ev", pa.concat_tables(batches))
    rows = con.execute(f"""
        SELECT time_bucket(INTERVAL '{WINDOW}', ts) AS w, event_type, count(*), round(sum(value), 4)
        FROM (SELECT DISTINCT ON (event_id) * FROM ev WHERE event_type != 'flush')
        GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
    con.close()
    return rows


def _same(got: list[tuple], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        g[:3] == w[:3] and abs(g[3] - w[3]) <= 1e-6 for g, w in zip(got, want))


def run(ctx) -> Result:
    res = Result()
    setup_s = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        ctx.start_session()
        setup_s.append(time.perf_counter() - t0)
    res.e2e["setup_s"] = harness.median(setup_s)
    measure(ctx, res)
    if ctx.traced:
        curation.measure(ctx, res)
    return res


def measure(ctx, res: Result) -> None:
    """The measured phase, in the current session: start the query, run
    the ladder, drain it, end the measurement and check the sink."""
    t0 = time.perf_counter()
    source = datagen.EventSource(ctx.seed)
    stream = Stream(ctx, source)
    res.samples["stream_start_s"] = time.perf_counter() - t0

    for _ in range(WARMUP_BATCHES):
        stream.land(source.batch(len(stream.rows), BASE_RATE * TRIGGER_S))
        stream.wait_rows(sum(stream.rows), DRAIN_TIMEOUT_S)

    # the whole schedule and every file's content are fixed before the clock starts
    first = len(stream.rows)  # the setup and warm-up files come before the ladder
    plan: list[int] = []  # ladder step of each file
    for step, (_rate, share) in enumerate(LADDER):
        plan += [step] * max(1, round(ctx.seconds * share * FILES_PER_S))
    contents = [source.batch(first + i, LADDER[step][0] // FILES_PER_S) for i, step in enumerate(plan)]
    # after the ladder, on schedule, a sentinel far ahead in event time
    # moves the watermark past every window, so all of them reach the sink
    contents.append(pa.table({
        "event_id": pa.array([-1], pa.int64()),
        "ts": pa.array([datagen.EPOCH + _dt.timedelta(days=365)], pa.timestamp("us")),
        "user_id": pa.array([0], pa.int64()), "event_type": ["flush"],
        "value": [0.0], "props": ["{}"]}))

    # Spark fires processing-time triggers on multiples of the interval;
    # starting just after one fixes where the files fall in the trigger
    # period from run to run (they still cover it evenly)
    start = (math.floor(time.time() / TRIGGER_S) + 1) * TRIGGER_S + 0.1
    due = harness.schedule(start, FILES_PER_S, len(contents))
    actual = []
    for d, tbl in zip(due, contents):
        delay = d - time.time()
        if delay > 0:
            time.sleep(delay)
        with ctx.tracer.span("bench.generate"):
            actual.append(stream.land(tbl))
    late = harness.lateness(due, actual)
    # memory is sampled until the query has consumed the whole ladder
    drained = stream.wait_rows(sum(stream.rows), DRAIN_TIMEOUT_S)
    ctx.end_measurement()

    want = expected_counts(stream.batches)
    got: list[tuple] = []
    deadline = time.time() + DRAIN_TIMEOUT_S
    while drained and time.time() < deadline:
        got = [tuple(r) for r in ctx.spark.sql(
            f"SELECT window_start, event_type, n_events, sum_value FROM {SINK} "
            "WHERE event_type != 'flush' ORDER BY 1, 2").collect()]
        if len(got) >= len(want):
            break
        time.sleep(0.2)
    reports = stream.progress.snapshot()
    stream.stop()
    # the replay checks run_available_now, not the measured query, and
    # leaves the checkpoint dir that streaming.tmp_bytes_left records:
    # traced runs only, which keeps untraced runs short
    n_distinct = _replay_distinct(ctx) if ctx.traced else None

    # before ``first``: the setup and warm-up files; after the ladder: the flush
    ladder = range(first, first + len(plan))
    # a scheduled file's lag runs from its due time, so a late generator
    # does not hide a stall (bench.generator_late_s says how late it ran)
    all_lags = lags(stream.rows, stream.created[:first] + due, reports)
    per_file = [all_lags[f] for f in ladder]
    res.attempted += len(plan) + 1 + int(ctx.traced)  # every file, the final windows, the replay
    for i, lag in enumerate(per_file):
        if lag is None:
            res.fail(f"file {first + i} never consumed")
    if not _same([(w, e, int(n), float(s)) for w, e, n, s in got],
                 [(w, e, int(n), float(s)) for w, e, n, s in want]):
        res.fail(f"final window counts differ from DuckDB ({len(got)} vs {len(want)} rows)")
    if n_distinct is not None:
        want_distinct = len(set(pa.concat_tables(stream.batches).column("event_id").to_pylist()))
        if n_distinct != want_distinct:
            res.fail(f"replayed dedup kept {n_distinct} events, DuckDB {want_distinct}")

    latency_metrics(res, [x for x, s in zip(per_file, plan) if s == 0 and x is not None],
                    "base_rate_files")
    # delivered rate: the ladder's events over the time from the first
    # file's due time to the end of the batch that consumed the last file
    end = due[len(plan) - 1] + per_file[-1] if per_file[-1] is not None else math.nan
    res.e2e["throughput_per_s"] = sum(stream.rows[f] for f in ladder) / (end - due[0])
    res.samples["processing_events_per_s"] = processing_rate(stream.rows, reports, ladder)
    # the rung the query sustains: the ladder climbs while a rung's lag
    # p90 stays under the limit and its backlog under three triggers' files
    queued = backlog(due[:len(plan)], per_file)
    rungs = []  # (rate, lag p90, backlog max) per rung
    for step, (rate, _share) in enumerate(LADDER):
        lag = [x if x is not None else math.inf for x, s in zip(per_file, plan) if s == step]
        q = [b for b, s in zip(queued, plan) if s == step]
        rungs.append((rate, harness.percentile(lag, 90) if lag else math.inf, max(q, default=0)))
    sustained = 0
    for rate, lag_p90, queue in rungs:
        if lag_p90 > LAG_LIMIT_S or queue > BACKLOG_LIMIT:
            break
        sustained = rate
    res.samples["sustained_rung_events_per_s"] = sustained
    res.samples["ladder_lag_p90_s"] = {rate: lag for rate, lag, _q in rungs}
    res.samples["ladder_backlog_max"] = {rate: q for rate, _lag, q in rungs}

    # layer timings of the batches that consumed ladder files
    data, by = consumers(stream.rows, reports)
    data = [data[k] for k in sorted({by[f] for f in ladder if by[f] is not None})]
    for key, metric in (("triggerExecution", "streaming.trigger_p50_s"),
                        ("addBatch", "streaming.add_batch_p50_s"),
                        ("queryPlanning", "streaming.planning_p50_s"),
                        ("walCommit", "streaming.wal_p50_s")):
        if data:
            res.layer[metric] = harness.median([r["durationMs"].get(key, 0) / 1000.0 for r in data])
    res.layer.update({
        "streaming.state_rows": float(max(
            sum(op.get("numRowsTotal", 0) for op in r.get("stateOperators", [])) for r in reports)),
        "streaming.backlog_files_max": float(max(queued)),
        "bench.generator_late_s": max(late),
    })


def backlog(due: list[float], per_file: list[float | None]) -> list[int]:
    """For each file, how many earlier files were still unconsumed when
    it was due (``per_file``: lags from the due times)."""
    consumed = [d + lag if lag is not None else math.inf for d, lag in zip(due, per_file)]
    return [sum(1 for j in range(i) if consumed[j] > t) for i, t in enumerate(due)]
