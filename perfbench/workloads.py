"""The two workloads: seeded inputs, the op list each pass runs, and the
output checks run after the timed region.

``ingest_features`` is the JVM-only path: game events demuxed in batch and
streamed, written to Derby, then registered feature queries read through
the catalog. ``dedup_graph`` is the Python/Arrow and loop path:
near-duplicates, top-k search and iterative graph operators. Each is
built from two parts that share one session and one warm-up.

A workload is made in two steps. ``generate`` draws the inputs from the
seed and writes them under a work directory; it touches no Spark, so a
run can repeat it and time the median. ``bind`` builds the ops over the
generated inputs in a running session; it runs no Spark action, so all
first-use cost lands in the warm-up pass.

An op is one call into an engine module's public function, materialized
when the call is lazy: a ``noop`` write, or an eager ``localCheckpoint``
when the check needs the result afterwards. ``Op.run`` returns the
streaming query it drained, if any, so the harness can read its
per-trigger progress and claim its jobs by run id.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen

#: Inputs per workload and size. ``tiny`` is the smoke size of the tests.
SIZES = {
    "ingest_features": {
        "full": {"events": 24_000, "files": 3, "jdbc_files": 1, "scale": 0.002},
        "tiny": {"events": 2_000, "files": 3, "jdbc_files": 1, "scale": 0.001},
    },
    "dedup_graph": {
        "full": {"docs": 2_000, "vectors": 3_000, "queries": 30, "nodes": 2_000, "edges": 8_000},
        "tiny": {"docs": 300, "vectors": 400, "queries": 10, "nodes": 300, "edges": 1_000},
    },
}

#: Registered feature and relational queries run by ``ingest_features``; the
#: seed fixes their order.
FEATURE_QUERIES = (
    "feature_daily_user",
    "asof_backward_purchase_click",
    "window_lag_lead",
    "agg_pivot",
    "ts_ohlc_hourly",
    "ingest_dwd",
    "tpch_q1_pricing",
    "tpch_q3_shipping",
)

LSH_MAX_DIST = 0.4
LSH_RECALL_FLOOR = 0.9
SRP_RECALL_FLOOR = 0.5
TOPK = 10
PAGERANK_ITERS, HITS_ITERS, KCORE_K = 3, 2, 3


@dataclass
class Op:
    module: str
    function: str
    run: Callable[[], object]


@dataclass
class Workload:
    name: str
    ops: list[Op]
    check: Callable[[], list[str]]
    dims: dict
    inputs: dict[str, str]
    extra: dict = field(default_factory=dict)


@dataclass
class Spec:
    #: ``(rng, work_dir, size) -> generated``, the inputs ``bind`` needs.
    generate: Callable[[np.random.Generator, str, dict], dict]
    #: ``(spark, generated, size, out_dir) -> Workload``; outputs go
    #: under ``out_dir``.
    bind: Callable[[object, dict, dict, str], Workload]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- ingest_features: demux to parquet, streamed, and into Derby ----------------


DERBY = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def gen_ingest(rng: np.random.Generator, work: str, size: dict) -> dict:
    src = os.path.join(work, "events")
    return {"dims": gen.game_events(rng, src, size["events"], size["files"]), "inputs": {"events": src}}


def bind_ingest(spark, g: dict, size: dict, out: str) -> Workload:
    from featurestore_for_joycastle_java_spark.operators.ingest import (
        demux_tables,
        demux_write,
        ingest_pipeline,
    )
    from featurestore_for_joycastle_java_spark.sources import jdbc_batched_sink, read_any
    from featurestore_for_joycastle_java_spark.streaming import demux_stream_sink

    src = g["inputs"]["events"]
    files = sorted(os.path.join(src, f) for f in os.listdir(src))
    jdbc_files = files[: size["jdbc_files"]]
    slice_rows = sum(g["dims"]["complete_rows_per_file"][: size["jdbc_files"]])
    out_batch = os.path.join(out, "dwd_batch")
    out_stream = os.path.join(out, "dwd_stream")
    ckpt = os.path.join(out, "ckpt")
    url = f"jdbc:derby:memory:perfbench_{os.getpid()};create=true"
    tables: dict = {}

    def batch():
        demux_write(ingest_pipeline(read_any(spark, src, fmt="text")), out_batch)

    def stream():
        for d in (out_stream, ckpt):
            shutil.rmtree(d, ignore_errors=True)
        raw = (
            spark.readStream.schema("value string")
            .option("maxFilesPerTrigger", "1")
            .text(src)
        )
        q = demux_stream_sink(ingest_pipeline(raw), out_stream, key_col="EventType", checkpoint_dir=ckpt)
        q.awaitTermination()
        return q

    def jdbc():
        if not tables:
            # the parsed slice is checkpointed by the first call, in the
            # warm-up; a checkpoint outlives the feature queries' clearCache
            sliced = ingest_pipeline(spark.read.text(jdbc_files)).localCheckpoint(eager=True)
            tables.update(demux_tables(sliced, keys=gen.EVENT_TYPES))
        for t, df in tables.items():
            jdbc_batched_sink(
                df, url, f"dwd_{t}", mode="overwrite", batchsize=1000, num_partitions=4, **DERBY
            )

    def check() -> list[str]:
        import duckdb
        from pyspark.sql import functions as F

        bad = []
        cols = ", ".join(f"'{c}': 'VARCHAR'" for c in gen.EVENT_FIELDS)
        extract = ", ".join(f"'{t}'" for t in gen.EXTRACT_TYPES)

        def oracle(paths: list[str]) -> dict:
            lst = ", ".join(f"'{p}'" for p in paths)
            rows = duckdb.connect().execute(
                f"""
                WITH ev AS (
                  SELECT *, regexp_extract(EventDetails, '(\\d+\\.\\d+|\\d+)', 1) AS x
                  FROM read_json([{lst}], format='newline_delimited', columns={{{cols}}})
                  WHERE {' AND '.join(f'{c} IS NOT NULL' for c in gen.EVENT_FIELDS)})
                SELECT EventType, count(*),
                  sum(CASE WHEN EventType IN ({extract}) AND x <> ''
                      THEN CAST(x AS DECIMAL(38,6)) END)
                FROM ev GROUP BY EventType"""
            ).fetchall()
            return {t: (n, s) for t, n, s in rows}

        def spark_side(df) -> dict:
            rows = df.groupBy("EventType").agg(
                F.count(F.lit(1)), F.sum(F.col("EventValue").cast("decimal(38,6)"))
            ).collect()
            return {r[0]: (r[1], r[2]) for r in rows}

        def norm(d: dict) -> dict:
            return {t: (n, Decimal(s or 0).normalize()) for t, (n, s) in d.items()}

        want = norm(oracle(files))
        for label, path in (("batch", out_batch), ("stream", out_stream)):
            got = norm(spark_side(spark.read.parquet(path)))
            if got != want:
                bad.append(f"{label} demux {got} != oracle {want}")
        want_slice = {t: n for t, (n, _) in oracle(jdbc_files).items()}
        if sum(want_slice.values()) != slice_rows:
            bad.append(f"jdbc slice has {sum(want_slice.values())} complete rows, generator says {slice_rows}")
        for t in gen.EVENT_TYPES:
            n = spark.read.jdbc(url, f"dwd_{t}", properties=DERBY).count()
            if n != want_slice.get(t, 0):
                bad.append(f"derby dwd_{t} rows {n} != oracle {want_slice.get(t, 0)}")
        return bad

    return Workload(
        "ingest",
        [
            Op("operators.ingest", "demux_write", batch),
            Op("streaming", "demux_stream_sink", stream),
            Op("sources", "jdbc_batched_sink", jdbc),
        ],
        check,
        g["dims"],
        g["inputs"],
        extra={"events": size["events"], "jdbc_rows": slice_rows},
    )


# --- ingest_features: registered feature queries ------------------------------


def gen_features(rng: np.random.Generator, work: str, size: dict) -> dict:
    sf_dir = os.path.join(work, "sf")
    dims = gen.fixture_tables(rng, sf_dir, size["scale"])
    dims["query_order"] = [FEATURE_QUERIES[i] for i in rng.permutation(len(FEATURE_QUERIES))]
    inputs = {t[: -len(".parquet")]: os.path.join(sf_dir, t) for t in sorted(os.listdir(sf_dir))}
    return {"dims": dims, "inputs": inputs, "sf_dir": sf_dir}


def bind_features(spark, g: dict, size: dict, out: str) -> Workload:
    from featurestore_for_joycastle_java_spark.registry import ORACLES, QUERIES, load_catalog

    load_catalog()
    sf_dir = g["sf_dir"]
    order = g["dims"]["query_order"]

    def op(name: str) -> Callable[[], None]:
        def run():
            _noop(QUERIES[name](spark, sf_dir))
            spark.catalog.clearCache()

        return run

    def check() -> list[str]:
        from tests.oracle import compare

        bad = []
        for name in order:
            try:
                compare(QUERIES[name](spark, sf_dir), ORACLES[name], sf_dir)
            except AssertionError as e:
                bad.append(f"{name}: {str(e)[:300]}")
            spark.catalog.clearCache()
        return bad

    return Workload(
        "features",
        [Op("catalog", name, op(name)) for name in order],
        check,
        g["dims"],
        g["inputs"],
    )


# --- dedup_graph: near-duplicates and top-k ----------------------------------


def shingle_set(text: str, k: int = 3) -> frozenset[str]:
    """The engine's k-token shingles (``operators.text.shingles``)."""
    tk = [t for t in text.lower().split(" ") if t]
    return frozenset(" ".join(tk[i : i + k]) for i in range(len(tk) - k + 1))


def jaccard_dist(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return 1.0 - inter / (len(a) + len(b) - inter)


def cosine_fold(q: np.ndarray, c: np.ndarray) -> np.ndarray:
    """cos(q_i, c_j) for all pairs, folding dims left to right in float64
    as the engine's cosine does (no pairwise summation)."""
    q, c = q.astype(np.float64), c.astype(np.float64)
    dot = np.zeros((len(q), len(c)))
    qn = np.zeros(len(q))
    cn = np.zeros(len(c))
    for d in range(q.shape[1]):
        dot += np.outer(q[:, d], c[:, d])
        qn += q[:, d] * q[:, d]
        cn += c[:, d] * c[:, d]
    return dot / np.outer(np.sqrt(qn), np.sqrt(cn))


def union_find_components(nodes, pairs) -> dict[int, int]:
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def gen_dedup(rng: np.random.Generator, work: str, size: dict) -> dict:
    texts, clusters, dims = gen.near_dup_corpus(rng, size["docs"])
    vecs, _, dims["embeddings"] = gen.clustered_embeddings(rng, size["vectors"] + size["queries"])
    corpus_v, query_v = vecs[: size["vectors"]], vecs[size["vectors"] :]
    paths = {
        "documents": os.path.join(work, "documents.parquet"),
        "embeddings": os.path.join(work, "embeddings.parquet"),
        "queries": os.path.join(work, "queries.parquet"),
    }
    pq.write_table(pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}), paths["documents"])
    for key, idc, v in (("embeddings", "vec_id", corpus_v), ("queries", "query_id", query_v)):
        pq.write_table(
            pa.table({idc: pa.array(range(len(v)), pa.int64()), "embedding": pa.array(list(v), pa.list_(pa.float32()))}),
            paths[key],
        )
    return {
        "dims": dims,
        "inputs": paths,
        "texts": texts,
        "clusters": clusters,
        "corpus_v": corpus_v,
        "query_v": query_v,
    }


def bind_dedup(spark, g: dict, size: dict, out: str) -> Workload:
    from pyspark.sql import Window, functions as F

    from featurestore_for_joycastle_java_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        brute_force_topk_arrow,
        srp_topk,
    )

    texts, clusters, dims, paths = g["texts"], g["clusters"], g["dims"], g["inputs"]
    corpus_v, query_v = g["corpus_v"], g["query_v"]
    docs = spark.read.parquet(paths["documents"])
    corpus = spark.read.parquet(paths["embeddings"])
    queries = spark.read.parquet(paths["queries"])
    res: dict = {}

    def lsh():
        res["pairs"] = minhash_lsh_pairs(docs, "doc_id", "text", max_jaccard_distance=LSH_MAX_DIST).localCheckpoint(eager=True)

    def cc():
        comps = connected_components(docs.select("doc_id"), res["pairs"], id_col="doc_id")
        w = Window.partitionBy("component").orderBy("doc_id")
        res["survivors"] = (
            comps.withColumn("rn", F.row_number().over(w)).filter("rn = 1").select("doc_id").localCheckpoint(eager=True)
        )

    def srp():
        res["srp"] = srp_topk(corpus, queries, k=TOPK).localCheckpoint(eager=True)

    def brute():
        res["brute"] = brute_force_topk_arrow(corpus, queries, k=TOPK).localCheckpoint(eager=True)

    def check() -> list[str]:
        bad = []
        sh = [shingle_set(t) for t in texts]
        got = {(r.id_a, r.id_b): r.jaccard_dist for r in res["pairs"].collect()}
        for (a, b), d in got.items():
            exact = jaccard_dist(sh[a], sh[b])
            if exact > LSH_MAX_DIST or abs(exact - d) > 1e-6:
                bad.append(f"lsh pair ({a},{b}) reported {d}, exact {exact}")
                break
        planted = {
            (a, b)
            for c in clusters
            for i, a in enumerate(c)
            for b in c[i + 1 :]
            if jaccard_dist(sh[a], sh[b]) <= LSH_MAX_DIST
        }
        recall = len(planted & got.keys()) / max(1, len(planted))
        if recall < LSH_RECALL_FLOOR:
            bad.append(f"lsh planted-pair recall {recall:.3f} < {LSH_RECALL_FLOOR}")
        comp = union_find_components(range(len(texts)), got)
        survivors = {r.doc_id for r in res["survivors"].collect()}
        if survivors != set(comp.values()):
            bad.append("cc survivors differ from union-find over the reported pairs")
        cos = cosine_fold(query_v, corpus_v)
        best = defaultdict(list)
        for r in res["brute"].collect():
            best[r.query_id].append((r.rnk, r.vec_id, r.cos_sim))
        for qi in range(len(query_v)):
            kth = np.sort(cos[qi])[::-1][TOPK - 1]
            rows = sorted(best[qi])
            if len(rows) != TOPK or any(
                abs(cos[qi, v] - s) > 1e-6 or cos[qi, v] < kth - 1e-6 for _, v, s in rows
            ):
                bad.append(f"brute-force top-{TOPK} of query {qi} differs from NumPy")
                break
        srp_rows = res["srp"].collect()
        hits = 0
        for r in srp_rows:
            if abs(cos[r.query_id, r.vec_id] - r.cos_sim) > 1e-6:
                bad.append(f"srp score ({r.query_id},{r.vec_id}) {r.cos_sim} != {cos[r.query_id, r.vec_id]}")
                break
            hits += cos[r.query_id, r.vec_id] >= np.sort(cos[r.query_id])[::-1][TOPK - 1] - 1e-6
        srp_recall = hits / (TOPK * len(query_v))
        if srp_recall < SRP_RECALL_FLOOR:
            bad.append(f"srp recall@{TOPK} {srp_recall:.3f} < {SRP_RECALL_FLOOR}")
        dims["recall"] = {
            "lsh_planted": round(recall, 4),
            "planted_pairs": len(planted),
            "reported_pairs": len(got),
            "srp_at_k": round(srp_recall, 4),
        }
        return bad

    return Workload(
        "dedup",
        [
            Op("operators.dedup", "minhash_lsh_pairs", lsh),
            Op("operators.dedup", "connected_components", cc),
            Op("operators.similarity", "srp_topk", srp),
            Op("operators.similarity", "brute_force_topk_arrow", brute),
        ],
        check,
        dims,
        paths,
        extra={"docs": size["docs"]},
    )


# --- dedup_graph: iterative graph operators -----------------------------------


def pagerank_replay(edges: np.ndarray, iterations: int, damping_pct: int = 85, scale: int = 1_000_000) -> dict:
    nodes = set(edges.ravel().tolist())
    deg = Counter(edges[:, 0].tolist())
    r = {n: scale for n in nodes}
    floor = scale * (100 - damping_pct) // 100
    for _ in range(iterations):
        insum = defaultdict(int)
        for u, v in edges.tolist():
            insum[v] += r[u] // deg[u]
        r = {n: floor + damping_pct * insum.get(n, 0) // 100 for n in nodes}
    return r


def hits_replay(edges: np.ndarray, iterations: int, scale: int = 1_000_000) -> dict:
    el = edges.tolist()
    h = {u: scale for u, _ in el}
    a: dict = {}
    for _ in range(iterations):
        raw = defaultdict(int)
        for u, v in el:
            if u in h:
                raw[v] += h[u]
        m = max(raw.values())
        a = {v: x * scale // m for v, x in raw.items()}
        raw = defaultdict(int)
        for u, v in el:
            if v in a:
                raw[u] += a[v]
        m = max(raw.values())
        h = {u: x * scale // m for u, x in raw.items()}
    return {**{(n, "hub"): s for n, s in h.items()}, **{(n, "authority"): s for n, s in a.items()}}


def kcore_replay(und: set, k: int) -> set:
    e = set(und)
    while True:
        deg = Counter(x for uv in e for x in uv)
        dead = {x for x, d in deg.items() if d < k}
        if not dead:
            return e
        e = {(u, v) for u, v in e if u not in dead and v not in dead}


def gen_graph(rng: np.random.Generator, work: str, size: dict) -> dict:
    edges_np, dims = gen.skewed_edges(rng, size["nodes"], size["edges"])
    path = os.path.join(work, "edges.parquet")
    pq.write_table(pa.table({"src": edges_np[:, 0], "dst": edges_np[:, 1]}), path)
    return {"dims": dims, "inputs": {"edges": path}, "edges": edges_np}


def bind_graph(spark, g: dict, size: dict, out: str) -> Workload:
    from pyspark.sql import functions as F

    from featurestore_for_joycastle_java_spark.operators.graph import (
        hits_int,
        pagerank_int,
    )
    from featurestore_for_joycastle_java_spark.operators.graphs import kcore_edges

    edges_np, path = g["edges"], g["inputs"]["edges"]
    edges = spark.read.parquet(path)
    und = edges.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")).distinct()
    res: dict = {}

    def keep(key: str, df) -> None:
        res[key] = df.localCheckpoint(eager=True)

    ops = [
        Op("operators.graph", "pagerank_int", lambda: keep("pr", pagerank_int(edges, iterations=PAGERANK_ITERS))),
        Op("operators.graph", "hits_int", lambda: keep("hits", hits_int(edges, iterations=HITS_ITERS))),
        Op("operators.graphs", "kcore_edges", lambda: keep("kcore", kcore_edges(und, KCORE_K))),
    ]

    def check() -> list[str]:
        bad = []
        if {r.node: r.rank_micro for r in res["pr"].collect()} != pagerank_replay(edges_np, PAGERANK_ITERS):
            bad.append("pagerank_int differs from the integer replay")
        if {(r.node, r.side): r.score_micro for r in res["hits"].collect()} != hits_replay(edges_np, HITS_ITERS):
            bad.append("hits_int differs from the integer replay")
        und_set = {(min(u, v), max(u, v)) for u, v in edges_np.tolist()}
        if {(r.u, r.v) for r in res["kcore"].collect()} != kcore_replay(und_set, KCORE_K):
            bad.append("kcore_edges differs from the peel replay")
        return bad

    return Workload(
        "graph",
        ops,
        check,
        g["dims"],
        g["inputs"],
        extra={"edges": int(len(edges_np)), "rounds": PAGERANK_ITERS + HITS_ITERS},
    )


def _merged(name: str, parts: dict[str, Workload]) -> Workload:
    """One workload running the ops of ``parts`` in order, checking each
    part's outputs; dims and inputs are keyed by part."""
    return Workload(
        name,
        [op for w in parts.values() for op in w.ops],
        lambda: [f for w in parts.values() for f in w.check()],
        {k: w.dims for k, w in parts.items()},
        {f"{k}.{n}": p for k, w in parts.items() for n, p in w.inputs.items()},
        extra={k: v for w in parts.values() for k, v in w.extra.items()},
    )


def gen_ingest_features(rng: np.random.Generator, work: str, size: dict) -> dict:
    return {"ingest": gen_ingest(rng, work, size), "features": gen_features(rng, work, size)}


def bind_ingest_features(spark, g: dict, size: dict, out: str) -> Workload:
    """The reference's ingest path, then the registered feature queries:
    one workload, so both share a run's warm-up."""
    return _merged(
        "ingest_features",
        {
            "ingest": bind_ingest(spark, g["ingest"], size, out),
            "features": bind_features(spark, g["features"], size, out),
        },
    )


def gen_dedup_graph(rng: np.random.Generator, work: str, size: dict) -> dict:
    return {"dedup": gen_dedup(rng, work, size), "graph": gen_graph(rng, work, size)}


def bind_dedup_graph(spark, g: dict, size: dict, out: str) -> Workload:
    """Near-duplicate detection and top-k search, then the iterative graph
    operators: one workload, so both share a run's warm-up."""
    return _merged(
        "dedup_graph",
        {
            "corpus": bind_dedup(spark, g["dedup"], size, out),
            "graph": bind_graph(spark, g["graph"], size, out),
        },
    )


WORKLOADS = {
    "ingest_features": Spec(gen_ingest_features, bind_ingest_features),
    "dedup_graph": Spec(gen_dedup_graph, bind_dedup_graph),
}
