"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One Spark driver at ``local[<cpus>]``, one
client in a closed loop: each workload's ops run back to back. A run
sets up (session start, seeded input generation, warm-up passes),
times as many whole passes of the op list as fill about ``--seconds``,
then checks the outputs of the last pass. ``wall_s`` is one pass with
every op at its median latency over the timed passes. ``--trace 1`` adds
one traced pass, with every op under the job group
``<workload>.<module>.<function>`` and its jobs, stages and SQL nodes
read back from Spark's status REST API, and prints the per-layer
metrics instead of the end-to-end ones.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. A fuller artifact (host context, traffic
dimensions, input identity, per-op records) is written to
``.perfbench_out/<workload>-seed<seed>-trace<t>.json``. Everything the
run writes stays under the directory it is started from.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import numpy as np

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402
from perfbench.workloads import SIZES, WORKLOADS, bind_ingest  # noqa: E402

#: Input generation runs this many times per run and setup_s takes the
#: median. Session start and the warm-up from a cold JVM happen once per
#: process, so they are single samples.
SETUP_REPEATS = 3
#: Nominal seconds of one warm pass of either workload on a 4-core host;
#: a run times round(--seconds / PASS_S) passes, at least one.
PASS_S = 8.5
#: Untimed passes from a cold JVM. The cold pass takes 2-3 warm passes'
#: time; the second pass is within about a tenth of the plateau reached
#: from the third on. With ``run_seconds`` 18 a run then times the second
#: and third passes and a whole run stays near a minute on a loaded
#: 4-core host.
WARMUP_PASSES = 1
#: Workload-specific end-to-end figures; zero on the other workloads.
FIGURES = (
    "ingest.events_per_s",
    "ingest.drain_s",
    "ingest.trigger_p50_s",
    "ingest.trigger_tail_s",
    "ingest.jdbc_rows_per_s",
    "feature.job_p50_s",
    "feature.job_tail_s",
    "dedup.docs_per_s",
    "graph.edge_rounds_per_s",
)


def percentile_tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, sample count). Below 100 samples that percentile
    is under p90, no tail at all, so the maximum is reported instead
    (percentile 100)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 100:
        return xs[-1], 100.0, n
    idx = n - 11
    return xs[idx], round(100.0 * (idx + 1) / n, 1), n


def host_jiffies() -> dict[str, int]:
    """/proc/stat's aggregate CPU line: steal and total jiffies."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return {"steal": vals[7] if len(vals) > 7 else 0, "total": sum(vals)}
    except (OSError, ValueError):
        return {"steal": 0, "total": 0}


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def input_identity(paths: dict[str, str]) -> dict[str, dict]:
    """Row count and schema md5 per generated input."""
    import pyarrow.parquet as pq

    ident = {}
    for name, p in paths.items():
        if p.endswith(".parquet"):
            schema = pq.read_schema(p).to_string(show_schema_metadata=False)
            ident[name] = {
                "rows": pq.read_metadata(p).num_rows,
                "schema_md5": hashlib.md5(schema.encode()).hexdigest()[:12],
            }
        else:
            rows = 0
            h = hashlib.md5()
            for f in sorted(os.listdir(p)):
                with open(os.path.join(p, f), "rb") as fh:
                    data = fh.read()
                rows += data.count(b"\n")
                h.update(data)
            ident[name] = {"rows": rows, "content_md5": h.hexdigest()[:12]}
    return ident


class Session:
    """One Spark driver (JVM) with its scratch directories under ``work``."""

    def __init__(self, work: str, cores: int, app: str):
        self.work = work
        self.cores = cores
        self.app = app
        self.spark = None
        self.proc = None

    def start(self, cores: int | None = None):
        from featurestore_for_joycastle_java_spark.session import get_spark

        cores = cores or self.cores
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a fixed-size heap, so the JVM's high-water mark tracks the
            # work and not how far the heap happened to be grown
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={tmp} -Dderby.system.home={self.work}",
        }
        self.spark = get_spark(
            app_name=self.app,
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.proc is None:
            self.proc = self.spark.sparkContext._gateway.proc
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, then end the JVM and wait for it."""
        from pyspark import SparkContext

        try:
            self.stop_context()
        finally:
            if SparkContext._gateway is not None:
                SparkContext._gateway.shutdown()
                SparkContext._gateway = SparkContext._jvm = None
            if self.proc is not None:
                if self.proc.stdin:
                    self.proc.stdin.close()
                try:
                    self.proc.wait(timeout=60)
                except Exception:
                    self.proc.kill()
                    self.proc.wait(timeout=30)


def run_pass(wl, sc=None, collector=None) -> list[dict]:
    """Run every op once. With a collector, each op runs under its job
    group and its layer record is read back after it returns."""
    recs = []
    for op in wl.ops:
        group = f"{wl.name}.{op.module}.{op.function}"
        if collector is not None:
            sc.setJobGroup(group, group)
        w0, t0 = time.time(), time.monotonic()
        err, res = None, None
        try:
            res = op.run()
        except Exception:
            err = traceback.format_exc(limit=3)
        dt = time.monotonic() - t0
        w1 = w0 + dt
        rec = {"module": op.module, "function": op.function, "latency_s": dt, "error": err}
        progress = list(getattr(res, "recentProgress", None) or [])
        if progress:
            rec["triggers"] = [
                {k: p["durationMs"].get(k, 0) / 1e3 for k in p["durationMs"]} for p in progress
            ]
        if collector is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            groups = {group} | {str(p["runId"]) for p in progress}
            rec.update(collector.op_record(groups, w0, w1))
        recs.append(rec)
    return recs


def workload_figures(wl, passes: list[list[dict]]) -> tuple[dict, dict]:
    """Workload-specific end-to-end figures (medians over passes), and for
    each tail figure the percentile it is and its sample count."""
    def op_lat(fn: str) -> float:
        return statistics.median(r["latency_s"] for p in passes for r in p if r["function"] == fn)

    fig: dict = dict.fromkeys(FIGURES, 0.0)
    tails: dict = {}
    if wl.name == "ingest_features":
        trig = [t["triggerExecution"] for p in passes for r in p for t in r.get("triggers", [])]
        tail, pct, n = percentile_tail(trig)
        fig.update({
            "ingest.events_per_s": wl.extra["events"] / op_lat("demux_write"),
            "ingest.drain_s": op_lat("demux_stream_sink"),
            "ingest.trigger_p50_s": statistics.median(trig),
            "ingest.trigger_tail_s": tail,
            "ingest.jdbc_rows_per_s": wl.extra["jdbc_rows"] / op_lat("jdbc_batched_sink"),
        })
        tails["ingest.trigger_tail_s"] = {"percentile": pct, "samples": n}
        lat = [r["latency_s"] for p in passes for r in p if r["module"] == "catalog"]
        tail, pct, n = percentile_tail(lat)
        fig.update({"feature.job_p50_s": statistics.median(lat), "feature.job_tail_s": tail})
        tails["feature.job_tail_s"] = {"percentile": pct, "samples": n}
    elif wl.name == "dedup_graph":
        fig["dedup.docs_per_s"] = wl.extra["docs"] / statistics.median(
            sum(r["latency_s"] for r in p if r["function"] == "minhash_lsh_pairs") for p in passes
        )
        fig["graph.edge_rounds_per_s"] = wl.extra["edges"] * wl.extra["rounds"] / statistics.median(
            sum(r["latency_s"] for r in p if r["module"] == "operators.graph") for p in passes
        )
    return fig, tails


def layer_metrics(wl, traced: list[dict], untraced_pass_s: float, start_s: float) -> dict:
    per = layers.rollup(traced)
    m = {"session.start_s": start_s}
    for mod in layers.MODULES:
        for k in layers.BASE_METRICS:
            m[f"{mod}.{k}"] = per[mod][k]
    m["sources.scan_mb"] = sum(r["scan_mb"] for r in traced)
    m["sources.write_mb"] = sum(r["write_mb"] for r in traced)
    m["sources.jdbc_s"] = sum(r["wall_s"] for r in traced if r["function"] == "jdbc_batched_sink")
    trig = [t for r in traced for t in r.get("triggers", [])]
    m["streaming.n_triggers"] = len(trig)
    m["streaming.planning_s"] = sum(t.get("queryPlanning", 0) for t in trig)
    m["streaming.commit_s"] = sum(t.get("walCommit", 0) + t.get("commitOffsets", 0) for t in trig)
    m["streaming.add_batch_s"] = sum(t.get("addBatch", 0) for t in trig)
    cand, ver = layers.lsh_counts([e for r in traced if r["function"] == "minhash_lsh_pairs" for e in r["sql"]])
    m["operators.dedup.lsh_candidates"] = cand
    m["operators.dedup.verified_ratio"] = ver / cand if cand else 0.0
    m["operators.similarity.rows_scored"] = layers.window_input_rows(
        [e for r in traced if r["module"] == "operators.similarity" for e in r["sql"]]
    )
    rounds = wl.extra.get("rounds", 0)
    m["operators.graph.jobs_per_round"] = per["operators.graph"]["n_jobs"] / rounds if rounds else 0.0
    cat = per["catalog"]
    m["catalog.driver_share"] = cat["driver_s"] / cat["wall_s"] if cat["wall_s"] else 0.0
    m["tracing.overhead_ratio"] = sum(r["wall_s"] for r in traced) / untraced_pass_s
    return m


def op_medians(passes: list[list[dict]]) -> list[float]:
    """Each op's median latency over the passes, in op order."""
    return [statistics.median(p[i]["latency_s"] for p in passes) for i in range(len(passes[0]))]


def single_thread_drain(sess: Session, generated: dict, args, work: str) -> float:
    """The streamed drain of the same inputs once more at ``local[1]``
    (informational)."""
    sess.stop_context()
    spark = sess.start(cores=1)
    out = os.path.join(work, "single")
    os.makedirs(out)
    wl = bind_ingest(spark, generated["ingest"], args.sizes, out)
    stream = next(op for op in wl.ops if op.module == "streaming")
    stream.run()
    t0 = time.monotonic()
    stream.run()
    return time.monotonic() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    try:
        import featurestore_for_joycastle_java_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    args.sizes = SIZES[args.workload][args.size]
    cfg = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [m["name"] for m in cfg["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in cfg["end_to_end"] + cfg["per_layer"]}

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"

    cores = len(os.sched_getaffinity(0))
    jiff0 = host_jiffies()
    sess = Session(work, cores, f"perfbench-{args.workload}")
    failures: list[str] = []
    art: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace, "size": args.size}
    spec = WORKLOADS[args.workload]
    try:
        t0 = time.monotonic()
        spark = sess.start()
        start_s = time.monotonic() - t0
        gens = []
        for i in range(SETUP_REPEATS):
            t0 = time.monotonic()
            in_dir = os.path.join(work, f"in{i}")
            os.makedirs(in_dir)
            generated = spec.generate(np.random.default_rng(args.seed), in_dir, args.sizes)
            gens.append(time.monotonic() - t0)
        t0 = time.monotonic()
        out = os.path.join(work, "out")
        os.makedirs(out)
        wl = spec.bind(spark, generated, args.sizes, out)
        warm = [r for _ in range(WARMUP_PASSES) for r in run_pass(wl)]
        warm_s = time.monotonic() - t0
        failures += [f"warm-up {r['function']}: {r['error']}" for r in warm if r["error"]]
        setup_s = start_s + statistics.median(gens) + warm_s

        # whole passes filling about --seconds on a 4-core host; a count
        # fixed by the arguments, so host speed cannot change what a run
        # measures
        n_passes = max(1, round(args.seconds / PASS_S))
        passes = [run_pass(wl) for _ in range(n_passes)]
        timed = [r for p in passes for r in p]
        failures += [f"{r['function']}: {r['error']}" for r in timed if r["error"]]
        pass_s = [sum(r["latency_s"] for r in p) for p in passes]
        wall_s = sum(op_medians(passes))
        figures, tails = workload_figures(wl, passes)
        peak_mb = vm_hwm_mb(sess.jvm_pid()) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

        traced = []
        if args.trace:
            traced = run_pass(wl, spark.sparkContext, layers.Collector(spark.sparkContext))
            failures += [f"traced {r['function']}: {r['error']}" for r in traced if r["error"]]
        t0 = time.monotonic()
        try:
            failures += wl.check()
        except Exception:
            failures.append("check raised: " + traceback.format_exc(limit=3))
        check_s = time.monotonic() - t0

        if args.trace:
            metrics = layer_metrics(wl, traced, wall_s, start_s)
            metrics.update(figures)
            metrics["ingest.single_thread_drain_s"] = (
                single_thread_drain(sess, generated, args, work) if args.workload == "ingest_features" else 0.0
            )
        else:
            metrics = {
                "setup_s": setup_s,
                "wall_s": wall_s,
                "peak_rss_mb": peak_mb,
            }
        jiff1 = host_jiffies()
        total = jiff1["total"] - jiff0["total"]
        art.update({
            "host": {
                "cpus": cores,
                "steal_pct": round(100.0 * (jiff1["steal"] - jiff0["steal"]) / total, 3) if total else 0.0,
            },
            "setup": {"session_start_s": start_s, "generate_s": gens, "bind_and_warmup_s": warm_s},
            "check_s": check_s,
            "passes_s": pass_s,
            "figures": figures,
            "tails": tails,
            "dims": wl.dims,
            "inputs": input_identity(wl.inputs),
            "ops": [{k: v for k, v in r.items() if k != "sql"} for r in traced or passes[-1]],
            "failures": failures,
        })
        attempted = len(timed) + len(traced)
        missing = [n for n in names if n not in metrics]
        if missing:
            raise RuntimeError(f"metrics not produced: {missing}")
        result = {
            "correct": not failures,
            "attempted": attempted,
            "failed": min(attempted, len(failures)),
            "metrics": {n: {"value": float(metrics[n]), "unit": units[n]} for n in names},
        }
        art["result"] = result
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
            json.dump(art, fh, indent=1, default=str)
        for f in failures:
            print(f"FAILED: {f}", file=sys.stderr)
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
