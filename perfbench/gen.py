"""Seeded input generators, one per workload.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and a size, writes its inputs under a work directory, and
returns the traffic dimensions it drew (recorded in the run artifact).
The same seed and size give byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- ingest_demux: the reference's game_events topic (FIXTURES.md §A) -------

#: Event types by Zipf rank; the first two are the extraction set.
EVENT_TYPES = (
    "InAppPurchase",
    "SessionEnd",
    "SessionStart",
    "LevelUp",
    "AdView",
    "Achievement",
    "Chat",
    "Tutorial",
)
EXTRACT_TYPES = EVENT_TYPES[:2]
EVENT_FIELDS = (
    "EventID",
    "PlayerID",
    "EventTimestamp",
    "EventType",
    "EventDetails",
    "DeviceType",
    "Location",
)
DETAIL_FORMATS = ("decimal", "integer", "both", "no_digits")
DETAIL_MIX = (0.35, 0.35, 0.15, 0.15)
ZIPF_S = 1.1
MISSING_SHARE = 0.01
NULL_SHARE = 0.01
_DEVICES = ("iOS", "Android", "PC", "Console")
_LOCATIONS = ("US", "DE", "JP", "BR", "IN", "FR", "KR", "GB", "CN", "MX")
_WORDS = ("great", "run", "quest", "boss", "gold", "guild", "shop", "map")


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _details(fmt: int, a: int, b: int, c: int) -> str:
    if fmt == 0:
        return f"{a}.{c:02d} USD"
    if fmt == 1:
        return f"level {a}"
    if fmt == 2:
        return f"{b} items {a}.{c:02d}"
    return f"{_WORDS[a % len(_WORDS)]} {_WORDS[b % len(_WORDS)]}"


def game_events(rng: np.random.Generator, out_dir: str, n_events: int, n_files: int) -> dict:
    """Newline-delimited JSON game events split over ``n_files`` files.

    Each field is independently absent (``MISSING_SHARE``) or JSON null
    (``NULL_SHARE``); both make the row incomplete."""
    os.makedirs(out_dir, exist_ok=True)
    types = rng.choice(len(EVENT_TYPES), n_events, p=zipf_weights(len(EVENT_TYPES), ZIPF_S))
    fmts = rng.choice(len(DETAIL_FORMATS), n_events, p=DETAIL_MIX)
    nums = rng.integers(0, 100, size=(n_events, 3))
    players = rng.zipf(1.5, n_events) % 5000
    secs = np.sort(rng.integers(0, 30 * 86400, n_events))
    devices = rng.integers(0, len(_DEVICES), n_events)
    locations = rng.integers(0, len(_LOCATIONS), n_events)
    holes = rng.random((n_events, len(EVENT_FIELDS)))
    ts = [
        f"2024-01-{1 + s // 86400:02d}T{s % 86400 // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}Z"
        for s in secs.tolist()
    ]
    values = (
        [f"e{i}" for i in range(n_events)],
        [f"p{p}" for p in players.tolist()],
        ts,
        [EVENT_TYPES[t] for t in types.tolist()],
        [_details(*row) for row in np.column_stack([fmts, nums]).tolist()],
        [_DEVICES[d] for d in devices.tolist()],
        [_LOCATIONS[x] for x in locations.tolist()],
    )
    cells = [
        [f'"{name}": "{v}"' for v in col] for name, col in zip(EVENT_FIELDS, values)
    ]
    for j, name in enumerate(EVENT_FIELDS):
        for i in np.flatnonzero(holes[:, j] < MISSING_SHARE + NULL_SHARE).tolist():
            cells[j][i] = "" if holes[i, j] < MISSING_SHARE else f'"{name}": null'
    per_file = -(-n_events // n_files)
    for f in range(n_files):
        lo, hi = f * per_file, min(n_events, (f + 1) * per_file)
        with open(os.path.join(out_dir, f"events-{f:05d}.json"), "w") as fh:
            for i in range(lo, hi):
                fh.write("{" + ", ".join(c[i] for c in cells if c[i]) + "}\n")
    incomplete = (holes < MISSING_SHARE + NULL_SHARE).any(axis=1)
    complete = [
        int((~incomplete[f * per_file : (f + 1) * per_file]).sum()) for f in range(n_files)
    ]
    return {
        "events": n_events,
        "files": n_files,
        "event_type_zipf_s": ZIPF_S,
        "event_type_share": {
            t: round(float((types == i).mean()), 4) for i, t in enumerate(EVENT_TYPES)
        },
        "extract_types": list(EXTRACT_TYPES),
        "outside_extract_share": round(float((types >= len(EXTRACT_TYPES)).mean()), 4),
        "field_missing_share": MISSING_SHARE,
        "field_null_share": NULL_SHARE,
        "incomplete_row_share": round(float(incomplete.mean()), 4),
        "complete_rows_per_file": complete,
        "details_mix": {
            name: round(float((fmts == i).mean()), 4) for i, name in enumerate(DETAIL_FORMATS)
        },
    }


# --- feature_jobs: the fixture tables (FIXTURES.md §B) -----------------------

#: Rows per table at scale 1.0 (the fixtures scale linearly from sf0.001).
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 500_000,
    "embeddings": 500_000,
}
_EVENT_KINDS = ("click", "purchase", "error", "signup", "view")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_VOCAB = (
    "the a fast slow big small key order sort table scan merge part window hash "
    "join batch stream spark data row column filter group query line value agg "
    "vector customer dup"
).split()
_LANGS = ("en", "fr", "es", "zh", "de")
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000
_EPOCH_2024_US = 1_704_067_200_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray, unit: str = "us") -> pa.Array:
    return pa.array(values_us, pa.int64()).cast(pa.timestamp("us")).cast(pa.timestamp(unit))


def fixture_tables(rng: np.random.Generator, sf_dir: str, scale: float) -> dict:
    """All ten fixture tables, one parquet each, in the fixture schemas."""
    os.makedirs(sf_dir, exist_ok=True)
    n = {t: max(10, int(r * scale)) for t, r in _BASE_ROWS.items()}
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(_SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    adjectives = np.array(["cold", "small", "red", "shiny", "big"])
    nouns = np.array(["widget", "gadget", "bolt", "gear"])
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": np.char.add(
                np.char.add(rng.choice(adjectives, npart), " "), rng.choice(nouns, npart)
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
            "p_type": rng.choice(_PTYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 200) * 0.1, 2),
        }
    )
    no = n["orders"]
    order_day = rng.integers(0, 2405, no)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), no),
            "o_totalprice": _money(rng, 1000.0, 400000.0, no),
            "o_orderdate": _ts(_EPOCH_1995_US + order_day * _DAY_US, "ms"),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    l_order = np.sort(rng.integers(0, no, nl))
    linenumber = np.ones(nl, dtype=np.int64)
    for i in range(1, nl):
        if l_order[i] == l_order[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    qty = rng.integers(1, 51, nl).astype(float)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), nl),
            "l_linestatus": rng.choice(np.array(["F", "O"]), nl),
            "l_shipdate": _ts(
                _EPOCH_1995_US + (order_day[l_order] + rng.integers(1, 122, nl)) * _DAY_US,
                "ms",
            ),
        }
    )
    ne = n["events"]
    users = max(15, ne // 60)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(_EPOCH_2024_US + np.sort(rng.integers(0, 30 * _DAY_US, ne))),
            "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
            "event_type": rng.choice(_EVENT_KINDS, ne),
            "value": _money(rng, 0.01, 330.0, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    lens = rng.integers(5, 80, nd)
    words = rng.choice(np.array(_VOCAB), int(lens.sum()))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(nd)]
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, nd),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=2.0, size=(nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
    return {"scale": scale, "rows": {t: tables[t].num_rows for t in tables}, "users": users}


# --- dedup_sim: near-duplicate corpus + clustered embeddings ----------------

DUP_SHARE = 0.3
CLUSTER_SIZES = (2, 5)
DOC_TOKENS = (40, 80)
EDITS_PER_COPY = 2


def near_dup_corpus(rng: np.random.Generator, n_docs: int, vocab_size: int = 2000) -> tuple[list[str], list[list[int]], dict]:
    """Documents with planted near-duplicate clusters.

    About ``DUP_SHARE`` of the documents sit in clusters of
    ``CLUSTER_SIZES`` members; each copy is its cluster's seed document
    with ``EDITS_PER_COPY`` token substitutions. Tokens are drawn
    Zipf-like from a ``vocab_size`` vocabulary. Returns the texts (doc id
    = position), the clusters as id lists, and the dimensions."""
    vocab = np.array([f"w{i}" for i in range(vocab_size)])
    p = zipf_weights(vocab_size, 1.0)
    texts: list[str] = []
    clusters: list[list[int]] = []
    n_dup_target = int(n_docs * DUP_SHARE)
    n_in_clusters = 0
    while len(texts) < n_docs:
        base = rng.choice(vocab, rng.integers(*DOC_TOKENS), p=p)
        size = 1
        if n_in_clusters < n_dup_target:
            size = min(int(rng.integers(CLUSTER_SIZES[0], CLUSTER_SIZES[1] + 1)), n_docs - len(texts))
        members = []
        for c in range(size):
            doc = base.copy()
            if c:
                pos = rng.choice(len(doc), EDITS_PER_COPY, replace=False)
                doc[pos] = rng.choice(vocab, EDITS_PER_COPY, p=p)
            members.append(len(texts))
            texts.append(" ".join(doc))
        if size > 1:
            clusters.append(members)
            n_in_clusters += size
    dims = {
        "docs": n_docs,
        "vocab": vocab_size,
        "dup_share": round(n_in_clusters / n_docs, 4),
        "clusters": len(clusters),
        "cluster_size_range": list(CLUSTER_SIZES),
        "mean_cluster_size": round(n_in_clusters / max(1, len(clusters)), 3),
        "edits_per_copy": EDITS_PER_COPY,
    }
    return texts, clusters, dims


def clustered_embeddings(rng: np.random.Generator, n_vecs: int, dim: int = 64, n_clusters: int = 20) -> tuple[np.ndarray, np.ndarray, dict]:
    """Unit vectors around ``n_clusters`` planted centers (float32)."""
    labels = rng.integers(0, n_clusters, n_vecs)
    centers = rng.normal(size=(n_clusters, dim))
    vecs = centers[labels] + rng.normal(scale=0.6, size=(n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels, {"vectors": n_vecs, "dim": dim, "clusters": n_clusters}


# --- graph_iterate: skewed-degree edge list ---------------------------------

GRAPH_ZIPF_A = 1.6


def skewed_edges(rng: np.random.Generator, n_nodes: int, n_edges: int) -> tuple[np.ndarray, dict]:
    """Directed, deduplicated, loop-free edges whose endpoints are drawn
    Zipf-like (``GRAPH_ZIPF_A``) over a seeded node permutation, so a few
    hubs carry most edges. Returns an (m, 2) int64 array sorted by
    (src, dst)."""
    perm = rng.permutation(n_nodes)
    src = perm[(rng.zipf(GRAPH_ZIPF_A, 2 * n_edges) - 1) % n_nodes]
    dst = perm[rng.integers(0, n_nodes, 2 * n_edges)]
    flip = rng.random(2 * n_edges) < 0.5
    src, dst = np.where(flip, dst, src), np.where(flip, src, dst)
    e = np.unique(np.stack([src, dst], axis=1)[src != dst], axis=0)
    e = e[np.sort(rng.permutation(len(e))[:n_edges])]
    deg = np.bincount(e.ravel(), minlength=n_nodes)
    return e.astype(np.int64), {
        "nodes": n_nodes,
        "edges": int(len(e)),
        "endpoint_zipf_a": GRAPH_ZIPF_A,
        "max_degree": int(deg.max()),
        "top1pct_degree_share": round(
            float(np.sort(deg)[::-1][: max(1, n_nodes // 100)].sum() / deg.sum()), 4
        ),
    }
