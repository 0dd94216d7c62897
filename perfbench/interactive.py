"""interactive_sql: one client in a closed loop over a catalog of named
tables. Statements go through ``DDFManager.sql`` and the ``DDF``
facades, plus batches of 64 ANN queries against a persisted IVFADC
index. Even-slot statements come from a fixed dashboard pool (repeats),
odd-slot ones carry fresh seeded parameters; the slot parity flips every
cycle so each statement kind is half repeat, half ad hoc. The report
line gives the median of each half, so a cache that helps only repeats
shows.

The index is built and persisted once per run, an offline step before
the service starts (``index_build_s`` in the report). A setup is what a
restarted service does: a fresh session, every table registered and the
persisted index loaded."""

from __future__ import annotations

import datetime as _dt
import math
import time

import numpy as np

from perfbench import datagen, harness
from perfbench.workloads import Result, latency_metrics, layer_report

ALIASES = {"latency_p50_s": "stmt_p50_s", "throughput_per_s": "stmts_per_s"}
TABLES = ["customer", "orders", "lineitem", "embeddings"]
SLOTS = [
    "sql_filter", "ann", "sql_group", "ddf_aggregate", "sql_join", "ddf_top",
    "sql_topk", "sql_point", "ddf_join", "ddf_five_num", "ddf_summary",
]
ANN_BATCH = 64
ANN_TOPK = 5
ANN_NPROBE = 3
POOL_SIZE = 2
MIN_CYCLES = 4  # a run measures at least this many whole cycles
SETUP_REPS = 3  # setup_s is the median of this many setups in one run
WARMUP_PASSES = 2


def _day(rng: np.random.Generator) -> str:
    return (datagen.EPOCH + _dt.timedelta(days=int(rng.integers(60, 1000)))).strftime("%Y-%m-%d")


def draw_params(kind: str, rng: np.random.Generator) -> tuple:
    if kind == "sql_filter":
        a = int(rng.integers(1, 40))
        return (a, a + int(rng.integers(1, 10)), int(rng.integers(0, 11)) / 100)
    if kind == "sql_group":
        return (_day(rng),)
    if kind == "sql_join":
        return (datagen.SEGMENTS[int(rng.integers(0, 5))], _day(rng))
    if kind == "sql_topk":
        return (_day(rng), int(rng.integers(5, 21)))
    if kind == "sql_point":
        return (int(rng.integers(1, datagen.TABLE_ROWS["orders"] + 1)),)
    if kind in ("ddf_aggregate", "ddf_join"):
        return (int(rng.integers(0, 450_000)),)
    if kind == "ddf_top":
        return (int(rng.integers(1, datagen.TABLE_ROWS["supplier"] + 1)),)
    if kind == "ddf_five_num":
        return (datagen.PRIORITIES[int(rng.integers(0, 5))],)
    if kind == "ddf_summary":
        return (int(rng.integers(0, 25)),)
    if kind == "ann":
        return tuple(sorted(int(x) for x in rng.choice(datagen.N_VECS, ANN_BATCH, replace=False)))
    raise ValueError(kind)


SQL = {
    "sql_filter": "SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS revenue FROM lineitem "
                  "WHERE l_quantity BETWEEN {0} AND {1} AND l_discount = {2}",
    "sql_group": "SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS qty, "
                 "round(avg(l_discount), 6) AS disc FROM lineitem WHERE l_shipdate < TIMESTAMP '{0}' "
                 "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "sql_join": "SELECT o.o_orderpriority, count(*) AS n FROM orders o JOIN customer c "
                "ON o.o_custkey = c.c_custkey WHERE c.c_mktsegment = '{0}' "
                "AND o.o_orderdate >= TIMESTAMP '{1}' GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority",
    "sql_topk": "SELECT o_custkey, round(sum(o_totalprice), 2) AS spend FROM orders "
                "WHERE o_orderdate < TIMESTAMP '{0}' GROUP BY o_custkey ORDER BY spend DESC, o_custkey LIMIT {1}",
    "sql_point": "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
                 "FROM orders WHERE o_orderkey = {0}",
}


def build_index(ctx) -> float:
    """The offline step before the service starts, once per run: build
    the IVFADC index over the embeddings and persist it. Returns the
    build time (the session start before it not included)."""
    from ddf_flink_spark import DDFManager
    from ddf_flink_spark.functions.index_store import persist_index

    m = DDFManager(ctx.start_session())
    m.load_table(ctx.path("data"), "embeddings")
    t0 = time.perf_counter()
    with ctx.tracer.span("functions.index_build"):
        index, coarse, books = m.get_ddf("embeddings").ivfadc_index_build(
            n_lists=8, m=2, k=4, iters=1)
        persist_index(index.df, coarse, books, ctx.path("index"))
        m.release_storage()
    return time.perf_counter() - t0


class Catalog:
    """What one setup leaves ready: a fresh session, the manager with
    every table registered and the persisted ANN index loaded."""

    def __init__(self, ctx):
        from ddf_flink_spark import DDFManager
        from ddf_flink_spark.functions.index_store import load_index

        spark = ctx.start_session()
        self.m = DDFManager(spark)
        with ctx.tracer.span("manager.load"):
            for t in TABLES:
                self.m.load_table(ctx.path("data"), t)
            self.codes, self.coarse, self.books = load_index(spark, ctx.path("index"))


def _fmt(rows) -> list[str]:
    return ["\t".join("null" if v is None else str(v) for v in r) for r in rows]


def execute(cat: Catalog, kind: str, p: tuple, tr, traced: bool):
    m = cat.m
    if kind in SQL:
        stmt = SQL[kind].format(*p)
        if not traced:
            return m.sql(stmt)[1]
        from ddf_flink_spark.sql.preparser import parse_statement

        with tr.span("sql.parse"):
            parse_statement(stmt)
        with tr.span("manager.sql2ddf"):
            d = m.sql2ddf(stmt)
        with tr.span("manager.fetch"):
            return _fmt(d.df.limit(1000).collect())
    if kind == "ddf_aggregate":
        with tr.span("ddf.facade"):
            d = m.get_ddf("orders").subset(f"o_totalprice > {p[0]}")
        with tr.span("operators.relational"):
            return d.aggregate("o_orderpriority, sum(o_totalprice)")
    if kind == "ddf_top":
        with tr.span("ddf.facade"):
            d = m.get_ddf("lineitem").subset(f"l_suppkey = {p[0]}").top(10, "l_extendedprice")
        with tr.span("operators.relational"):
            return [r["l_extendedprice"] for r in d.df.collect()]
    if kind == "ddf_join":
        with tr.span("ddf.facade"):
            d = m.get_ddf("orders").subset(f"o_totalprice > {p[0]}").join(
                m.get_ddf("customer"), by_left_columns=["o_custkey"], by_right_columns=["c_custkey"])
        with tr.span("operators.relational"):
            return d.num_rows()
    if kind == "ddf_five_num":
        with tr.span("ddf.facade"):
            d = m.get_ddf("orders").subset(f"o_orderpriority = '{p[0]}'")
        with tr.span("operators.stats"):
            return d.five_num_summary(["o_totalprice"])["o_totalprice"]
    if kind == "ddf_summary":
        with tr.span("ddf.facade"):
            d = m.get_ddf("customer").subset(f"c_nationkey = {p[0]}")
        with tr.span("operators.stats"):
            return d.summary()
    if kind == "ann":
        ids = ", ".join(str(i) for i in p)
        with tr.span("ddf.facade"):
            d = m.get_ddf("embeddings").subset(f"vec_id IN ({ids})").ivfadc_index_search(
                cat.codes, cat.coarse, cat.books, nprobe=ANN_NPROBE, topk=ANN_TOPK)
        with tr.span("functions.ann_search"):
            return [(r["query_id"], r["neighbor_id"], r["pq_dist2"]) for r in d.df.collect()]
    raise ValueError(kind)


# ---------------------------------------------------------------- checks
def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))


def _same_rows(got: list[str], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        fields = g.split("\t")
        if len(fields) != len(w):
            return False
        for f, v in zip(fields, w):
            if isinstance(v, float):
                if f == "null" or not _close(float(f), v):
                    return False
            elif f != ("null" if v is None else str(v)):
                return False
    return True


class Checker:
    """DuckDB over the same parquet files, plus a numpy replay of the
    IVFADC search from the persisted index."""

    def __init__(self, data_dir: str, index_dir: str, cat: Catalog):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        self.codes = self.con.execute(
            f"SELECT * FROM read_parquet('{index_dir}/codes/*/*.parquet', "
            "hive_partitioning = true)").fetchnumpy()
        self.coarse = np.array(cat.coarse, dtype=np.float64)
        self.books = np.array(cat.books, dtype=np.float64)
        emb = self.con.execute("SELECT embedding FROM embeddings ORDER BY vec_id").fetchall()
        self.emb = np.array([e[0] for e in emb], dtype=np.float32).astype(np.float64)
        self.cache: dict = {}

    def q(self, sql: str):
        return self.con.execute(sql).fetchall()

    def ok(self, kind: str, p: tuple, out) -> bool:
        key = (kind, p)
        if key not in self.cache:
            self.cache[key] = self._expected(kind, p)
        return self._matches(kind, out, self.cache[key])

    def _expected(self, kind: str, p: tuple):
        if kind in SQL:
            return self.q(SQL[kind].format(*p))
        if kind == "ddf_aggregate":
            return {r[0]: r[1] for r in self.q(
                f"SELECT o_orderpriority, sum(o_totalprice) FROM orders WHERE o_totalprice > {p[0]} GROUP BY 1")}
        if kind == "ddf_top":
            return [r[0] for r in self.q(
                f"SELECT l_extendedprice FROM lineitem WHERE l_suppkey = {p[0]} "
                "ORDER BY l_extendedprice DESC LIMIT 10")]
        if kind == "ddf_join":
            return self.q(f"SELECT count(*) FROM orders JOIN customer ON o_custkey = c_custkey "
                          f"WHERE o_totalprice > {p[0]}")[0][0]
        if kind == "ddf_five_num":
            return [r[0] for r in self.q(
                f"SELECT o_totalprice FROM orders WHERE o_orderpriority = '{p[0]}' ORDER BY 1")]
        if kind == "ddf_summary":
            cols = ["c_custkey", "c_nationkey", "c_acctbal"]
            aggs = ", ".join(f"avg({c}), stddev_samp({c}), count({c}), min({c}), max({c})" for c in cols)
            row = self.q(f"SELECT {aggs} FROM customer WHERE c_nationkey = {p[0]}")[0]
            return {c: row[5 * i:5 * i + 5] for i, c in enumerate(cols)}
        if kind == "ann":
            return self._ann_replay(p)
        raise ValueError(kind)

    def _matches(self, kind: str, out, want) -> bool:
        if kind in SQL:
            return _same_rows(out, want)
        if kind == "ddf_aggregate":
            return set(out) == set(want) and all(_close(out[k][0], want[k]) for k in want)
        if kind == "ddf_top":
            return len(out) == len(want) and all(_close(a, b) for a, b in zip(out, want))
        if kind == "ddf_join":
            return out == want
        if kind == "ddf_five_num":
            xs, n, eps = np.array(want), len(want), 0.001
            if out["min"] != xs[0] or out["max"] != xs[-1]:
                return False
            for q, name in ((0.25, "q1"), (0.5, "median"), (0.75, "q3")):
                v = out[name]
                lo, hi = np.searchsorted(xs, v, "left"), np.searchsorted(xs, v, "right")
                if lo > q * n + eps * n + 1 or hi < q * n - eps * n - 1:
                    return False
            return True
        if kind == "ddf_summary":
            for c, (mean, sd, cnt, lo, hi) in want.items():
                s = out[c]
                if s["count"] != cnt or s["min"] != lo or s["max"] != hi:
                    return False
                if not (_close(s["mean"], mean) and _close(s["stdev"], sd)):
                    return False
            return True
        if kind == "ann":
            return self._ann_match(out, want)
        raise ValueError(kind)

    def _ann_replay(self, ids: tuple) -> dict[int, list[tuple[float, int]]]:
        c = self.codes
        m, k = self.books.shape[0], self.books.shape[1]
        out = {}
        for qid in ids:
            qv = self.emb[qid]
            neg = np.round(-(self.coarse @ qv), 6)
            probe = sorted(range(len(self.coarse)), key=lambda i: (neg[i], i))[:ANN_NPROBE]
            cands: list[tuple[float, int]] = []
            for cell in probe:
                res = np.round(qv - self.coarse[cell], 6)
                w = len(res) // m
                lut = np.array([[np.round((res[j * w:(j + 1) * w] - self.books[j][code]) ** 2, 9).sum()
                                 for code in range(k)] for j in range(m)])
                sel = (c["list_id"] == cell) & (c["id"] != qid)
                dist = sum(lut[j][c[f"code{j}"][sel]] for j in range(m))
                cands.extend(zip(np.round(dist, 6).tolist(), c["id"][sel].tolist()))
            out[qid] = sorted(cands)
        return out

    @staticmethod
    def _ann_match(out, want) -> bool:
        got: dict[int, list[tuple[float, int]]] = {}
        for qid, nid, d in out:
            got.setdefault(qid, []).append((d, nid))
        if set(got) != set(want):
            return False
        for qid, cands in want.items():
            top = cands[:ANN_TOPK]
            rows = sorted(got[qid])
            if len(rows) != len(top):
                return False
            exact = dict((i, d) for d, i in cands)
            for (d, nid), (wd, _wid) in zip(rows, top):
                if nid not in exact or abs(exact[nid] - d) > 1e-5 or abs(d - wd) > 1e-5:
                    return False
        return True


SPAN_METRICS = [
    ("manager.sql2ddf", "manager.sql2ddf_p50_s"),
    ("manager.fetch", "manager.fetch_p50_s"),
    ("sql.parse", "sql.parse_p50_s"),
    ("ddf.facade", "ddf.facade_p50_s"),
    ("operators.relational", "operators.relational_p50_s"),
    ("operators.stats", "operators.stats_p50_s"),
    ("functions.ann_search", "functions.ann_search_p50_s"),
    ("manager.load", "manager.load_s"),
    ("functions.index_build", "functions.index_build_s"),
]


# ------------------------------------------------------------------ run
def _cycle(ctx, cat, res, c, fresh, pool, tr, jobs) -> list[tuple]:
    """Cycle ``c`` of the statement mix, one statement per slot; ``tr`` a
    ``harness.Tracer`` runs it traced, each statement under its own Spark
    job group. Returns (kind, params, repeat, result, seconds) per
    statement that completed."""
    traced = isinstance(tr, harness.Tracer)
    done = []
    for slot, kind in enumerate(SLOTS):
        i = c * len(SLOTS) + slot
        repeat = (slot + c) % 2 == 0
        p = pool[kind][(c // 2) % POOL_SIZE] if repeat else draw_params(kind, fresh)
        tr.op = i
        group = jobs.begin(i) if traced else None
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("bench.op"):
                out = execute(cat, kind, p, tr, traced)
        except Exception as exc:  # an op failure is a result, not a crash
            res.fail(f"{kind}{p[:3]}: {type(exc).__name__}: {str(exc)[:200]}")
            continue
        finally:
            if group:
                jobs.end(group)
        done.append((kind, p, repeat, out, time.perf_counter() - t0))
    return done


def _split_p50(res: Result, records: list[tuple]) -> None:
    """Report line: median latency per statement kind, and of dashboard
    repeats against fresh-parameter statements, with their counts."""
    by_kind: dict[str, list[float]] = {}
    split: dict[str, list[float]] = {"repeat": [], "fresh": []}
    for kind, _p, repeat, _out, t in records:
        by_kind.setdefault(kind, []).append(t)
        split["repeat" if repeat else "fresh"].append(t)
    res.samples["kind_p50_s"] = {k: round(harness.median(v), 4) for k, v in by_kind.items()}
    for name, ts in split.items():
        res.samples[f"{name}_statements"] = len(ts)
        res.samples[f"{name}_p50_s"] = harness.median(ts) if ts else None


def run(ctx) -> Result:
    res = Result()
    tables = {**datagen.star_tables(ctx.seed), "embeddings": datagen.embeddings(ctx.seed)}
    datagen.write_parquet_tables({t: tables[t] for t in TABLES}, ctx.path("data"))
    res.samples["index_build_s"] = build_index(ctx)
    setup_s = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        cat = Catalog(ctx)
        setup_s.append(time.perf_counter() - t0)
    res.e2e["setup_s"] = harness.median(setup_s)

    rng_pool = np.random.default_rng([ctx.seed, 10])
    pool = {k: [draw_params(k, rng_pool) for _ in range(POOL_SIZE)] for k in dict.fromkeys(SLOTS)}
    fresh = np.random.default_rng([ctx.seed, 11])
    warm = np.random.default_rng([ctx.seed, 12])
    null = harness.NullTracer()
    # untimed warm-up: the first pass compiles each statement's plan, and
    # the JIT is still compiling during the second (a first measured cycle
    # ran about 40% slower than the later ones with one pass)
    for _ in range(WARMUP_PASSES):
        for kind in dict.fromkeys(SLOTS):
            execute(cat, kind, draw_params(kind, warm), null, False)

    # whole cycles only, at least MIN_CYCLES and at least --seconds: a run
    # that is a little slower must not measure one cycle fewer, which would
    # change the mix's weighting. A traced run alternates untraced and
    # traced cycles in ABBA blocks, so a session that keeps warming up
    # favours neither side of the tracing-overhead ratio.
    jobs = harness.JobCounter(cat.m.spark) if ctx.traced else None
    order = [null, ctx.tracer, ctx.tracer, null] if ctx.traced else [null]
    cycles: list[tuple[bool, list[tuple]]] = []
    end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < end or len(cycles) % len(order) or len(cycles) < MIN_CYCLES:
        tr = order[len(cycles) % len(order)]
        cycles.append((tr is not null, _cycle(ctx, cat, res, len(cycles), fresh, pool, tr, jobs)))
    ctx.end_measurement()
    untraced = [r for traced, rs in cycles if not traced for r in rs]
    traced = [r for traced, rs in cycles if traced for r in rs]
    timed = traced if ctx.traced else untraced
    lat = [r[-1] for r in timed]
    if ctx.traced:
        layer_report(ctx, res, [r[-1] for r in untraced], lat, jobs, SPAN_METRICS)
    latency_metrics(res, lat, "statements")
    res.e2e["throughput_per_s"] = len(lat) / sum(lat) if lat else math.nan
    _split_p50(res, timed)

    checker = Checker(ctx.path("data"), ctx.path("index"), cat)
    for kind, p, _repeat, out, _t in untraced + traced:
        if not checker.ok(kind, p, out):
            res.fail(f"wrong result: {kind}{p[:3]}")
    return res
