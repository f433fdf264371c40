"""Tests of the benchmark itself: seeded generators, metric names, layer
arithmetic, and a tiny-input smoke of every workload.

    python3 -m pytest perfbench/tests -q       # from the repository root
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, layers, run  # noqa: E402
from perfbench.workloads import SIZES  # noqa: E402

CFG = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _tree(d: str) -> dict[str, bytes]:
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            out[os.path.relpath(p, d)] = open(p, "rb").read()
    return out


def _generate_all(seed: int, out: str) -> dict:
    dims = {}
    rng = np.random.default_rng(seed)
    dims["events"] = gen.game_events(rng, os.path.join(out, "events"), 500, 2)
    dims["sf"] = gen.fixture_tables(rng, os.path.join(out, "sf"), 0.001)
    texts, clusters, dims["corpus"] = gen.near_dup_corpus(rng, 200)
    vecs, labels, _ = gen.clustered_embeddings(rng, 100)
    edges, dims["graph"] = gen.skewed_edges(rng, 300, 1000)
    dims["arrays"] = (texts, clusters, vecs.tobytes(), labels.tolist(), edges.tobytes())
    return dims


def test_generators_are_deterministic_for_a_seed(tmp_path):
    a = _generate_all(7, str(tmp_path / "a"))
    b = _generate_all(7, str(tmp_path / "b"))
    c = _generate_all(8, str(tmp_path / "c"))
    assert a == b
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))
    assert a["arrays"] != c["arrays"]


def test_generators_record_the_traffic_dimensions(tmp_path):
    d = gen.game_events(np.random.default_rng(1), str(tmp_path), 5000, 3)
    assert abs(sum(d["event_type_share"].values()) - 1.0) < 1e-3
    assert d["event_type_share"]["InAppPurchase"] > d["event_type_share"]["Tutorial"]
    assert 0 < d["incomplete_row_share"] < 0.3
    assert set(d["details_mix"]) == set(gen.DETAIL_FORMATS)
    _, clusters, c = gen.near_dup_corpus(np.random.default_rng(1), 400)
    assert 0.2 < c["dup_share"] < 0.4
    assert all(gen.CLUSTER_SIZES[0] <= len(m) <= gen.CLUSTER_SIZES[1] for m in clusters)
    edges, g = gen.skewed_edges(np.random.default_rng(1), 500, 2000)
    assert g["edges"] == len(edges) == len({tuple(e) for e in edges.tolist()})
    assert (edges[:, 0] != edges[:, 1]).all()
    assert g["top1pct_degree_share"] > 0.05


def test_layer_metric_names_match_benchmark_json():
    rec = {k: 0.0 for k in layers.BASE_METRICS + ("scan_mb", "write_mb")}
    traced = [
        {**rec, "module": m, "function": "f", "sql": [], "wall_s": 1.0}
        for m in layers.MODULES
    ]
    wl = SimpleNamespace(extra={"rounds": 3})
    m = run.layer_metrics(wl, traced, 8.0, 5.0)
    m.update(dict.fromkeys(run.FIGURES, 0.0))
    m["ingest.single_thread_drain_s"] = 0.0
    assert sorted(m) == sorted(x["name"] for x in CFG["per_layer"])


def test_union_length_and_tail_percentile():
    assert layers.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert layers.union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = run.percentile_tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10
    assert run.percentile_tail(xs[:99]) == (99.0, 100.0, 99)


def test_wall_is_one_pass_of_per_op_medians():
    passes = [[{"latency_s": a}, {"latency_s": b}] for a, b in ((1, 9), (2, 1), (3, 2))]
    assert run.op_medians(passes) == [2, 2]


def _smoke(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-seed3-trace{trace}.json")) as fh:
        artifact = json.load(fh)
    return json.loads(p.stdout.strip().splitlines()[-1]), artifact


@pytest.mark.parametrize("workload", sorted(SIZES))
def test_tiny_smoke_passes_its_output_check(workload):
    r, _ = _smoke(workload, 0)
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert sorted(r["metrics"]) == sorted(m["name"] for m in CFG["end_to_end"])
    assert all(v["value"] > 0 for v in r["metrics"].values())


def _traced(workload: str) -> tuple[dict, dict]:
    r, artifact = _smoke(workload, 1)
    assert r["correct"], artifact["failures"]
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert sorted(m) == sorted(x["name"] for x in CFG["per_layer"])
    for op in artifact["ops"]:
        assert op["n_jobs"] > 0, op["function"]
        assert abs(op["driver_s"] + op["stage_union_s"] - op["wall_s"]) < 1e-6
    return m, artifact


def test_traced_ingest_features_claims_streaming_jobs_and_driver_share():
    m, _ = _traced("ingest_features")
    assert m["operators.ingest.n_jobs"] > 0 and m["sources.n_jobs"] > 0
    # micro-batch jobs carry the query's run id, not the op's job group
    assert m["streaming.n_jobs"] >= m["streaming.n_triggers"] > 0
    assert m["catalog.n_jobs"] > 0
    assert 0 < m["catalog.driver_share"] <= 1
    assert m["catalog.driver_s"] <= m["catalog.wall_s"]
    assert m["ingest.single_thread_drain_s"] > 0
    for idle in ("operators.dedup", "operators.similarity", "operators.graph", "operators.graphs"):
        assert m[f"{idle}.n_jobs"] == 0


def test_traced_dedup_graph_reads_the_plan_counts():
    m, artifact = _traced("dedup_graph")
    reported = artifact["dims"]["corpus"]["recall"]["reported_pairs"]
    # the verified pairs read from the LSH plan are the pairs the op returned
    assert m["operators.dedup.lsh_candidates"] >= reported > 0
    assert round(m["operators.dedup.verified_ratio"] * m["operators.dedup.lsh_candidates"]) == reported
    assert m["operators.similarity.rows_scored"] > 0
    assert m["operators.graph.jobs_per_round"] > 0 and m["operators.graphs.n_jobs"] > 0
    assert m["operators.dedup.n_jobs"] > 0
    for idle in ("sources", "operators.ingest", "streaming", "catalog"):
        assert m[f"{idle}.n_jobs"] == 0


def test_exits_nonzero_without_the_engine(tmp_path):
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dedup_graph", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
