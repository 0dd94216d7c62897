"""The training-data curation job, run by traced ``stream_ingest`` runs
after the ingest phase for its per-layer metrics. It has no end-to-end
metric: its first job in a run pays that run's code generation, about
20 s here, and took 20-31 s across runs as the host's CPU steal varied.

Each job reads the corpus from JSONL shards, removes near-duplicates
(MinHash LSH -> Jaccard verify -> connected components), applies the
quality gate, decontaminates against the held-out ``doc_id % 41 == 0``
documents, shards the survivors and writes them as parquet; beside it,
semantic dedup over the embeddings (k-means cells) writes the kept
vector ids. The document output is checked against a DuckDB replay of
the same pipeline (the semantics of the engine registry's q234 oracle),
the vector keep-set against a DuckDB replay of the deterministic Lloyd
k-means and cosine-edge closure."""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa

from perfbench import datagen, harness
from perfbench.workloads import Result, layer_report

DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"
IN_SHARDS = 8
OUT_SHARDS = 4
SHARD_SALT = 234  # the registry oracle's shard salt
KMEANS_K = 8
SEM_TAU = 0.9
KMEANS_ITERS = 1
SPAN_METRICS = [
    ("sources.read_jsonl", "sources.read_jsonl_s"),
    ("functions.near_dup", "functions.near_dup_s"),
    ("ml.kmeans", "ml.kmeans_s"),
    ("functions.decontaminate", "functions.decontaminate_s"),
    ("functions.shard_write", "functions.shard_write_s"),
    ("storage.release", "storage.release_s"),
]


def write_inputs(ctx, docs, vecs) -> None:
    """The job's inputs on disk: JSONL corpus shards and the embeddings."""
    for d in ("corpus", "vectors"):
        shutil.rmtree(ctx.path(d), ignore_errors=True)
    datagen.write_jsonl_shards(docs, ctx.path("corpus"), IN_SHARDS)
    datagen.write_parquet_tables({"embeddings": vecs}, ctx.path("vectors"))


def job(ctx, m, out: str, tr, staged: bool) -> int:
    """One curation job; returns the number of storage blocks released.
    ``staged`` (traced runs) materializes each stage so its span holds
    its own work; otherwise the stages fuse into the final writes."""
    from pyspark.sql import functions as F

    from ddf_flink_spark.functions.dedup import connected_components, jaccard_verify_pairs
    from ddf_flink_spark.sources.jsonl import read_jsonl

    def boundary(ddf):
        return m.new_ddf(ddf.df.localCheckpoint()) if staged else ddf

    with tr.span("sources.read_jsonl"):
        docs = boundary(m.new_ddf(read_jsonl(m.spark, ctx.path("corpus"), schema=DOC_SCHEMA)))
    with tr.span("functions.near_dup"):
        pairs = docs.near_duplicates("minhash", num_hashes=16, bands=4, hash_family="md5")
        verified = jaccard_verify_pairs(docs.df, pairs.df, threshold=0.6, n=3)
        clusters = connected_components(
            verified.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
            docs.df.select(F.col("doc_id").alias("id")),
        )
        canon = clusters.filter(F.col("id") == F.col("cluster")).select(F.col("id").alias("doc_id"))
        kept = boundary(m.new_ddf(docs.df.join(canon, "doc_id", "left_semi")))
    with tr.span("functions.decontaminate"):
        held_out = docs.subset("doc_id % 41 = 0")
        clean = boundary(
            kept.subset("n_chars >= 100 AND size(split(lower(text), ' ')) >= 20 AND doc_id % 41 != 0")
            .decontaminate(held_out, n=5)
        )
    with tr.span("ml.kmeans"):
        vec_keep = boundary(
            m.load_parquet(ctx.path("vectors", "embeddings.parquet"))
            .semantic_dedup(k=KMEANS_K, tau=SEM_TAU, iters=KMEANS_ITERS)
        )
    with tr.span("functions.shard_write"):
        clean.shard(OUT_SHARDS, seed=SHARD_SALT).df.select("shard", "doc_id", "n_chars") \
            .write.parquet(os.path.join(out, "docs"))
        vec_keep.df.select("vec_id").write.parquet(os.path.join(out, "vectors"))
    with tr.span("storage.release"):
        return m.release_storage()


def _min_labels(ids, edges) -> dict[int, int]:
    """Connected components by union-find; label = smallest member id."""
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def _gram_sql(n: int, where: str = "") -> str:
    grams = " || ' ' || ".join(f"ts[i + {k}]" for k in range(n))
    return (f"SELECT DISTINCT doc_id, {grams} AS g FROM tok, "
            f"LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - {n - 1})) AS i) s "
            f"WHERE LEN(ts) >= {n} {where}")


def expected_docs(con) -> list:
    """The pipeline replayed in DuckDB stage by stage (the registry's q234
    oracle semantics: md5 MinHash 16x4 banding, Jaccard >= 0.6 verify,
    transitive closure, quality gate, 5-gram decontamination, md5
    sharding); the closure is a union-find over the verified edges."""
    q = con.execute
    q("CREATE TEMP TABLE tok AS SELECT doc_id, n_chars, STRING_SPLIT(LOWER(text), ' ') AS ts FROM documents")
    q(f"CREATE TEMP TABLE sh AS {_gram_sql(3)}")
    q("""CREATE TEMP TABLE band AS
         SELECT doc_id, i // 4 AS band, STRING_AGG(CAST(h AS VARCHAR), ',' ORDER BY i) AS bucket FROM (
           SELECT doc_id, i, MIN(((((2*i + 1) * 2654435761) % 2147483647)
                  * (CAST(('0x' || SUBSTRING(md5(g), 1, 15)) AS BIGINT) % 2147483647)
                  + (i * 1013904223) % 2147483647) % 2147483647) AS h
           FROM sh, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 15)) AS i) hh GROUP BY doc_id, i)
         GROUP BY doc_id, i // 4""")
    edges = q("""
        WITH cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM band a JOIN band b
                      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
             gs AS (SELECT doc_id, LIST(g) AS gs FROM sh GROUP BY doc_id),
             j AS (SELECT c.id_a, c.id_b, LEN(LIST_INTERSECT(a.gs, b.gs)) AS n, LEN(a.gs) AS na, LEN(b.gs) AS nb
                   FROM cand c JOIN gs a ON a.doc_id = c.id_a JOIN gs b ON b.doc_id = c.id_b)
        SELECT id_a, id_b FROM j WHERE ROUND(n / (na + nb - n), 4) >= 0.6""").fetchall()
    ids = [r[0] for r in q("SELECT doc_id FROM documents").fetchall()]
    labels = _min_labels(ids, edges)
    con.register("canon", pa.table({"doc_id": [i for i in ids if labels[i] == i]}))
    q(f"CREATE TEMP TABLE bench AS SELECT DISTINCT g FROM ({_gram_sql(5, 'AND doc_id % 41 = 0')})")
    return q(f"""
        WITH pre AS (SELECT t.doc_id, t.n_chars, t.ts FROM tok t JOIN canon USING (doc_id)
                     WHERE t.n_chars >= 100 AND LEN(t.ts) >= 20 AND t.doc_id % 41 != 0),
             dirty AS (SELECT DISTINCT doc_id FROM ({_gram_sql(5)}) JOIN bench USING (g)),
             final AS (SELECT doc_id, n_chars FROM pre WHERE doc_id NOT IN (SELECT doc_id FROM dirty))
        SELECT CAST(CAST(('0x' || SUBSTRING(md5('{SHARD_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % {OUT_SHARDS} AS INT) AS shard,
               COUNT(*), CAST(SUM(n_chars) AS BIGINT), CAST(SUM(doc_id) AS BIGINT)
        FROM final GROUP BY 1 ORDER BY 1""").fetchall()


def expected_vectors(con, iters: int) -> list[int]:
    """Semantic dedup replayed in DuckDB: deterministic Lloyd (lowest-id
    init, round-6 distance ranking with cluster tie-break, round-4
    means), within-cell cosine edges at round-6 >= tau; closure by
    union-find, each component keeping its smallest id."""
    q = con.execute
    q("CREATE TEMP TABLE emb AS SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings")
    q(f"""CREATE TEMP TABLE c0 AS SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
          list_transform(v, x -> ROUND(x, 4)) AS c FROM (SELECT id, v FROM emb ORDER BY id LIMIT {KMEANS_K})""")
    assign = """SELECT id, v, cluster FROM (
        SELECT e.id, e.v, c.cluster, ROW_NUMBER() OVER (
          PARTITION BY e.id ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster) AS rn
        FROM emb e CROSS JOIN c{i} c) WHERE rn = 1"""
    for i in range(iters):
        q(f"""CREATE TEMP TABLE c{i + 1} AS
              WITH a AS ({assign.format(i=i)}),
                   m AS (SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx FROM a,
                         LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
                         GROUP BY cluster, u.i),
                   n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m GROUP BY cluster)
              SELECT p.cluster, COALESCE(n.c, p.c) AS c FROM c{i} p LEFT JOIN n USING (cluster)""")
    edges = q(f"""WITH cells AS ({assign.format(i=iters)})
        SELECT a.id, b.id FROM cells a JOIN cells b ON a.cluster = b.cluster AND a.id < b.id
        WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= {SEM_TAU}""").fetchall()
    ids = [r[0] for r in q("SELECT id FROM emb").fetchall()]
    labels = _min_labels(ids, edges)
    return sorted(i for i in ids if labels[i] == i)


def expected(docs, vecs) -> tuple[list, list]:
    """(document manifest, kept vector ids) for the job's inputs."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.register("documents", docs)
    con.register("embeddings", vecs)
    try:
        return expected_docs(con), expected_vectors(con, KMEANS_ITERS)
    finally:
        con.close()


def written(out: str) -> tuple[list, list]:
    import duckdb

    con = duckdb.connect()
    manifest = con.execute(
        f"SELECT shard, count(*), CAST(sum(n_chars) AS BIGINT), CAST(sum(doc_id) AS BIGINT) "
        f"FROM read_parquet('{out}/docs/*.parquet') GROUP BY shard ORDER BY shard").fetchall()
    keep = [r[0] for r in con.execute(
        f"SELECT vec_id FROM read_parquet('{out}/vectors/*.parquet') ORDER BY vec_id").fetchall()]
    con.close()
    return manifest, keep


def _run_jobs(ctx, m, res, tracers, jobs) -> list[tuple]:
    """One job per entry of ``tracers``, back to back: a ``harness.Tracer``
    runs its job traced and staged, under its own Spark job group; a
    ``NullTracer`` runs it untraced and fused. Returns (job number,
    traced, seconds, output dir, storage blocks released) per job that
    completed."""
    done = []
    for j, tr in enumerate(tracers):
        out = ctx.path("out", f"job{j}")
        traced = isinstance(tr, harness.Tracer)
        tr.op = j
        group = jobs.begin(j) if traced else None
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("bench.op"):
                released = job(ctx, m, out, tr, staged=traced)
        except Exception as exc:  # a failed job is a result, not a crash
            res.fail(f"job {j}: {type(exc).__name__}: {str(exc)[:200]}")
            continue
        finally:
            if group:
                jobs.end(group)
        done.append((j, traced, time.perf_counter() - t0, out, released))
    return done


def measure(ctx, res: Result) -> None:
    """The curation job's per-layer metrics, in the running session of a
    traced run: after one untimed warm-up job (the first job pays its
    plans' code generation), one untraced and one traced job. Every job's
    output is checked."""
    from ddf_flink_spark import DDFManager

    docs, vecs = datagen.documents(ctx.seed), datagen.embeddings(ctx.seed)
    write_inputs(ctx, docs, vecs)
    null = harness.NullTracer()
    jobs = harness.JobCounter(ctx.spark)
    done = _run_jobs(ctx, DDFManager(ctx.spark), res, [null, null, ctx.tracer], jobs)
    timed = [d for d in done if d[0] > 0]
    untraced = [t for _j, traced, t, _o, _r in timed if not traced]
    lat = [t for _j, traced, t, _o, _r in timed if traced]
    layer_report(ctx, res, untraced, lat, jobs, SPAN_METRICS)
    res.samples["job_s"] = {"untraced": untraced, "traced": lat}
    released = [r for _j, traced, _t, _o, r in timed if traced]
    if released:
        res.layer["storage.blocks_released"] = harness.median(released)
    want = expected(docs, vecs)
    for _j, _tr, _t, out, _r in done:
        if written(out) != want:
            res.fail(f"wrong result: {os.path.basename(out)}")
