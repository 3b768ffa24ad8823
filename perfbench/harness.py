"""One benchmark run in one process: Spark session, set-up, timed phase,
output checks, and (``--trace 1``) the per-layer ledger.

Started by ``run.py`` as a child process; writes its result as JSON to
``--out``. Usage::

    python3 perfbench/harness.py --workload serve_resident --seed 1 \\
        --seconds 10 --trace 0 --root <run dir> --out <result.json>
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the checkout: the engine package
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow.dataset as ds  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from rust_diskann_spark import IndexParams, build_index, open_index  # noqa: E402
from rust_diskann_spark.core import native, vamana  # noqa: E402
from rust_diskann_spark.operators import build as build_ops  # noqa: E402
from rust_diskann_spark.operators import search as search_ops  # noqa: E402
from rust_diskann_spark.operators import shard_cache  # noqa: E402
from rust_diskann_spark.sources import index_store  # noqa: E402
from rust_diskann_spark.sources import vectors as vector_src  # noqa: E402

import datagen  # noqa: E402
import procstat  # noqa: E402
from trace import Tracer, group_of, read_event_log  # noqa: E402

K = datagen.K
WARM_BATCHES = 1
with open(os.path.join(HERE, "workloads.json")) as _fh:
    WORKLOADS = json.load(_fh)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical memory, capped at 4g: the inputs are small
    and the host is shared."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{max(1, min(4, total_kb // (4 << 20)))}g"


def make_session(root: str, trace: bool):
    cores = nproc()
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(root, "warehouse"))
        # no perf-data file in /tmp: run.py kills the JVM, which then
        # cannot remove it
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -XX:-UsePerfData")
    )
    if trace:
        log_dir = os.path.join(root, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", log_dir)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def prewarm(spark) -> None:
    """Fork and import the Python worker pool (the first Arrow stage of a
    session pays it otherwise). Outside the loop, counted in set-up."""
    par = spark.sparkContext.defaultParallelism
    spark.range(par * 2).repartition(par).mapInPandas(
        lambda it: (pdf for pdf in it), "id LONG"
    ).count()


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def quantile(xs: list[float], q: float) -> float:
    return float(np.quantile(np.asarray(xs, dtype=np.float64), q))


class Run:
    """State of one run: session, tracer, check counters, metrics."""

    def __init__(self, args):
        self.args = args
        self.root = args.root
        self.t_start = time.perf_counter()
        self.spark = make_session(self.root, bool(args.trace))
        self.tracer = Tracer(bool(args.trace), self.spark.sparkContext)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.report: dict = {
            "workload": args.workload, "seed": args.seed,
            "nproc": nproc(), "driver_memory": driver_memory(),
            "setup_steps_s": {},
        }

    def mark(self, step: str) -> None:
        """Record the set-up time spent since the previous mark."""
        steps = self.report["setup_steps_s"]
        steps[step] = time.perf_counter() - self.t_start - sum(steps.values())

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def op(self, fn, what: str):
        """Run one operation; an exception is a failed operation."""
        try:
            return fn()
        except Exception as exc:  # the run goes on; the failure is reported
            self.check(False, f"{what}: {type(exc).__name__}: {exc}"[:300])
            return None


def kernel_record(index_path: str) -> dict:
    """Which kernel serves each shard: row counts against the native and
    int8 thresholds, and whether the native library loaded."""
    shard = ds.dataset(os.path.join(index_path, "vectors.parquet"),
                       format="parquet", partitioning="hive").to_table(
        columns=["shard"]).column("shard").to_numpy()
    counts = np.bincount(shard)
    rows = [int(r) for r in counts if r]
    return {
        "shard_ids": [int(s) for s in np.nonzero(counts)[0]],
        "shard_rows": rows,
        "native_loaded": native.get_lib() is not None,
        "native_min_rows": vamana.NATIVE_MIN_ROWS,
        "quantize_min_rows": search_ops.QUANTIZE_MIN_ROWS,
        "native_shards": sum(r >= vamana.NATIVE_MIN_ROWS for r in rows),
        "numpy_shards": sum(r < vamana.NATIVE_MIN_ROWS for r in rows),
        "quantized_shards": sum(r >= search_ops.QUANTIZE_MIN_ROWS for r in rows),
    }


def query_batches(spark, queries: np.ndarray, size: int, n_batches: int,
                  root: str) -> list:
    """``n_batches`` (DataFrame, query ids) pairs of ``size`` distinct
    queries, from one parquet file read once; the DataFrames are reused."""
    n = size * n_batches
    p = os.path.join(root, "inputs", "queries.parquet")
    datagen.write_vectors(p, np.arange(n), queries[:n], "query_id", "qvec")
    base = spark.read.parquet(p)
    return [
        (base.filter(F.col("query_id").between(b * size, (b + 1) * size - 1)),
         np.arange(b * size, (b + 1) * size))
        for b in range(n_batches)
    ]


def search_batch(run: Run, idx, qdf, search_kw: dict):
    """One batch. ``search.plan`` is the ``search_with_dists`` call: the
    plan, plus in scan mode the driver-side query collect, routing and
    query broadcast. ``search.collect`` runs the plan into pandas."""
    with run.tracer.span("search.plan"):
        res = idx.search_with_dists(qdf, k=K, **search_kw)
    with run.tracer.span("search.collect"):
        return res.toPandas()


def serve_loop(run: Run, idx, batches: list, gt, search_kw: dict,
               seconds: float, min_batches: int) -> dict:
    """Closed loop, one client: a batch is sent when the previous one has
    been collected. Cycles over ``batches`` until ``seconds`` passed and
    at least ``min_batches`` ran. After the loop, checks each batch's row
    count and scores recall.

    ``qps`` is the median over batches of queries / batch wall: a host
    stall that lasts a few batches moves the mean over a short loop by as
    much as the stall, and the median not at all. The mean over the loop
    is in the report as ``qps_mean``."""
    walls, done = [], []
    cpu0 = procstat.cpu_seconds()
    steal0, ticks0 = procstat.host_cpu_ticks()
    t_loop = time.perf_counter()
    i = 0
    while time.perf_counter() - t_loop < seconds or i < min_batches:
        qdf, qids = batches[i % len(batches)]
        with run.tracer.span("serve.batch", trace=f"batch-{i}"):
            t0 = time.perf_counter()
            pdf = run.op(lambda: search_batch(run, idx, qdf, search_kw),
                         f"batch {i}")
            walls.append(time.perf_counter() - t0)
        if pdf is not None:
            done.append((i, qids, pdf))
        i += 1
    wall = time.perf_counter() - t_loop
    cpu = procstat.cpu_seconds() - cpu0
    steal1, ticks1 = procstat.host_cpu_ticks()

    n_q, hits, rates = 0, 0, []
    for b, qids, pdf in done:
        n_q += len(qids)
        rates.append(len(qids) / walls[b])
        run.check(len(pdf) == len(qids) * K,
                  f"batch {b}: {len(pdf)} rows, want {len(qids) * K}")
        got = pdf.groupby("query_id")["id"].apply(set).to_dict()
        hits += sum(len(got.get(int(q), set()) & set(gt[q].tolist())) for q in qids)
    return {
        "host_steal_share": (steal1 - steal0) / max(ticks1 - ticks0, 1),
        "batches": len(walls), "queries": n_q, "wall_s": wall, "walls": walls,
        "qps": statistics.median(rates) if rates else 0.0,
        "qps_mean": n_q / wall, "batch_p50_s": quantile(walls, 0.5),
        "batch_p90_s": quantile(walls, 0.9), "cpu_s": cpu,
        "cpu_ms_per_query": 1e3 * cpu / max(n_q, 1),
        "recall_at_10": hits / max(K * n_q, 1),
    }


def spark_layers(run: Run) -> None:
    """spark.* metrics per batch and the build's event-log counters.
    Reads the event log, so it runs after the session stopped."""
    log = read_event_log(os.path.join(run.root, "eventlog"))
    traces: dict[str, list] = {}
    for rec in run.tracer.spans:
        traces.setdefault(rec["trace"], []).append(rec)

    def summed(recs) -> dict:
        tot: dict[str, float] = {}
        for rec in recs:
            for k, v in log.get(group_of(rec), {}).items():
                tot[k] = max(tot.get(k, 0.0), v) if k == "max_task_s" \
                    else tot.get(k, 0.0) + v
        return tot

    per_batch = {t: summed(recs) for t, recs in traces.items()
                 if t.startswith("batch-")}
    L, n = run.layers, max(len(per_batch), 1)
    for k, name in (("jobs", "jobs_per_batch"), ("tasks", "tasks_per_batch"),
                    ("scheduler_delay_s", "scheduler_delay_s"),
                    ("executor_run_s", "executor_run_s"),
                    ("executor_cpu_s", "executor_cpu_s"),
                    ("shuffle_bytes", "shuffle_bytes"),
                    ("records_read", "records_read")):
        L[f"spark.{name}"] = sum(b.get(k, 0) for b in per_batch.values()) / n
    L["spark.max_task_s"] = max(
        (b.get("max_task_s", 0.0) for b in per_batch.values()), default=0.0)
    # share of each batch's wall during which none of its tasks ran:
    # driver-side planning, routing and result conversion, DAG
    # scheduling, stage boundaries
    unc = []
    for t, tot in per_batch.items():
        wall = sum(r["end"] - r["start"] for r in traces[t] if r["parent"] is None)
        unc.append(max(0.0, 1.0 - tot.get("task_busy_s", 0.0) / wall))
    L["ledger.uncovered_share"] = statistics.median(unc) if unc else 0.0
    for name in ("search.plan", "search.collect"):
        walls = [r["end"] - r["start"] for r in run.tracer.spans
                 if r["name"] == name]
        L[f"{name}_s"] = statistics.mean(walls) if walls else 0.0
    build = summed(traces.get("setup-build", []))
    L["build.jobs"] = build.get("jobs", 0)
    L["build.tasks"] = build.get("tasks", 0)
    L["build.records_read"] = build.get("records_read", 0)
    L["build.shuffle_bytes"] = build.get("shuffle_bytes", 0)


def replay_layers(run: Run, cfg: dict, index_path: str, batches: list,
                  queries: np.ndarray, loop: dict) -> None:
    """Kernel, routing and shard-cache metrics from an in-process replay
    (no Spark) of the prepared batches over the same shards."""
    L = run.layers
    rec = run.report["kernel_path"]
    L["kernel.native_shards"] = rec["native_shards"]
    L["kernel.numpy_shards"] = rec["numpy_shards"]

    # shards the engine itself put in its node-local cache while serving
    engine_cache = os.environ["RDS_SCAN_CACHE_DIR"]
    cached = {
        int(d.rsplit("_", 1)[-1])
        for _, dirs, _ in os.walk(engine_cache) for d in dirs
        if d.startswith("shard_")
    }
    L["shard_cache.entries"] = len(cached)
    L["shard_cache.bytes"] = dir_bytes(engine_cache) if cached else 0

    replay_root = os.path.join(run.root, "replay_cache")
    tups, decode_s, load_s = {}, 0.0, 0.0
    for sid in rec["shard_ids"]:
        t0 = time.perf_counter()
        tup = shard_cache.decode_shard_from_parquet(index_path, sid, "l2")
        t1 = time.perf_counter()
        shard_cache.save_shard(replay_root, "replay", sid, tup)
        t2 = time.perf_counter()
        tups[sid] = shard_cache.load_shard(replay_root, "replay", sid)
        if sid in cached:
            decode_s += t1 - t0
            load_s += time.perf_counter() - t2
    shutil.rmtree(replay_root, ignore_errors=True)
    L["shard_cache.decode_s"] = decode_s
    L["shard_cache.load_s"] = load_s

    search = cfg["search"]
    # routing points as the engine collects them: medoid + entry set
    routing = {
        sid: np.asarray(t[1][sorted({int(t[3])} | {int(e) for e in (
            t[5] if t[5] is not None else [])})])
        for sid, t in tups.items()
    }
    kernel_cpu, n_q, probed = 0.0, 0, 0
    for _, ids in batches[: cfg["replay_batches"]]:
        qmat = queries[ids]
        pmap = None
        if search.get("shard_probes") is not None:
            q_pd = pd.DataFrame({"query_id": ids, "qvec": list(qmat)})
            pmap = search_ops._probe_map_from_routing(
                q_pd, routing, "l2", np.float32, search["shard_probes"])
        for sid, (gids, mat, graph, med, sqn, ent, quant) in tups.items():
            sel = np.arange(len(ids)) if pmap is None else pmap.get(sid, [])
            if len(sel) == 0:
                continue
            probed += len(sel)
            c0 = time.process_time()
            vamana.beam_search_batch(mat, graph, "l2", med, qmat[sel], K,
                                     search["beam_width"], sqnorms=sqn,
                                     entries=ent, quant=quant)
            kernel_cpu += time.process_time() - c0
        n_q += len(ids)
    k_ms = 1e3 * kernel_cpu / n_q
    L["kernel.cpu_ms_per_query"] = k_ms
    L["kernel.share"] = k_ms / loop["cpu_ms_per_query"]
    L["search.glue_cpu_ms_per_query"] = loop["cpu_ms_per_query"] - k_ms
    L["search.shards_probed_per_query"] = probed / n_q
    L["search.probe_frac"] = probed / (n_q * len(tups))


def build_layers(run: Run, vectors, params) -> None:
    """Build metrics from a decomposed build: validation, shard
    assignment, per-shard graphs and the two table writes, each
    materialized on its own; plus one shard's Vamana build in-process."""
    L = run.layers
    path = os.path.join(run.root, "index_layers")
    base = vectors.select("id", "vec")
    t0 = time.perf_counter()
    vector_src.validate_vectors_stats(base)
    t1 = time.perf_counter()
    if params.shard_by == "kmeans":
        sharded, _ = build_ops.assign_shards_counted(
            base, params.num_shards, params.metric, params.seed)
    else:
        sharded = build_ops.assign_shards(
            base, params.num_shards, params.shard_by, params.metric, params.seed)
    sharded = sharded.persist()
    sharded.count()
    t2 = time.perf_counter()
    index_store.write_vectors_table(path, sharded)
    t3 = time.perf_counter()
    v = run.spark.read.parquet(os.path.join(path, "vectors.parquet"))
    graph = build_ops.build_graph(v.select("shard", "id", "vec"), params).persist()
    graph.count()
    t4 = time.perf_counter()
    index_store.write_graph_table(path, graph)
    t5 = time.perf_counter()
    sharded.unpersist()
    graph.unpersist()
    L["vectors.validate_s"] = t1 - t0
    L["build.assign_s"] = t2 - t1
    L["build.graph_s"] = t4 - t3
    L["index_store.write_s"] = (t3 - t2) + (t5 - t4)
    L["index_store.bytes"] = dir_bytes(path)

    # the median-sized shard, built in this process without Spark
    sizes = sorted((r["count"], r["shard"])
                   for r in v.groupBy("shard").count().collect())
    sid = sizes[len(sizes) // 2][1]
    pdf = v.filter(v.shard == sid).orderBy("id").select("vec").toPandas()
    mat = np.stack(pdf["vec"].to_numpy()).astype(np.float32)
    t0 = time.perf_counter()
    vamana.build_vamana(mat, params, seed=params.seed + sid)
    L["build.kernel_vec_per_s"] = len(mat) / (time.perf_counter() - t0)


def serve(run: Run, cfg: dict) -> None:
    """Both workloads: build, open and warm the index in set-up, then a
    closed loop of query batches; the traced run adds the ledger."""
    a, spark = run.args, run.spark
    data = datagen.ann_inputs(
        os.path.join(run.root, "inputs"), a.seed, cfg["n"], cfg["clusters"],
        cfg["batch"] * cfg["distinct_batches"])
    vectors = spark.read.parquet(data["corpus_path"])
    batches = query_batches(spark, data["queries"], cfg["batch"],
                            cfg["distinct_batches"], run.root)
    run.mark("inputs")

    idx_path = os.path.join(run.root, "index")
    params = IndexParams(max_degree=cfg["M"], build_beam_width=cfg["L"],
                         num_shards=cfg["shards"], shard_by=cfg["shard_by"],
                         seed=a.seed)
    with run.tracer.span("build.index", trace="setup-build"):
        t0 = time.perf_counter()
        build_index(vectors, idx_path, params)
        build_s = time.perf_counter() - t0
    run.mark("build")
    with run.tracer.span("plans.open", trace="setup-open"):
        t0 = time.perf_counter()
        idx = open_index(spark, idx_path)
        open_s = time.perf_counter() - t0
    with run.tracer.span("plans.warm", trace="setup-warm"):
        t0 = time.perf_counter()
        idx.warm(cfg["search"]["mode"])
        warm_s = time.perf_counter() - t0
    run.mark("open_warm")
    # an untimed batch: the serving path's first batch runs slower (JVM
    # JIT, first query broadcast); the loop's medians absorb the next few
    for i in range(WARM_BATCHES):
        idx.search_with_dists(batches[i % len(batches)][0], k=K,
                              **cfg["search"]).toPandas()
    run.mark("warm_batches")
    run.e2e["setup_s"] = time.perf_counter() - run.t_start

    broadcast = cfg["search"]["mode"] == "broadcast" or (
        cfg["search"]["mode"] == "auto" and idx._fits_broadcast())
    run.report["strategy"] = "broadcast" if broadcast else "scan"
    run.report["kernel_path"] = kernel_record(idx_path)
    run.layers.update({"plans.open_s": open_s, "plans.warm_s": warm_s,
                       "plans.broadcast": float(broadcast)})

    if a.trace:
        # untraced half, then traced half: the difference is the
        # tracing overhead (the event log is written in both)
        run.tracer.enabled = False
        plain = serve_loop(run, idx, batches, data["gt"], cfg["search"],
                           a.seconds / 2, cfg["min_batches"])
        run.tracer.enabled = True
        loop = serve_loop(run, idx, batches, data["gt"], cfg["search"],
                          a.seconds / 2, cfg["min_batches"])
        run.tracer.enabled = False
        run.layers["trace.untraced_qps"] = plain["qps"]
        run.layers["trace.overhead_qps"] = plain["qps"] - loop["qps"]
        run.layers["proc.cpu_s_per_batch"] = loop["cpu_s"] / loop["batches"]
    else:
        loop = serve_loop(run, idx, batches, data["gt"], cfg["search"],
                          a.seconds, cfg["min_batches"])

    for key in ("qps", "batch_p50_s", "cpu_ms_per_query", "recall_at_10"):
        run.e2e[key] = loop[key]
    run.e2e["build_vec_per_s"] = cfg["n"] / build_s
    run.e2e["index_bytes_per_vec"] = dir_bytes(idx_path) / cfg["n"]
    # a p90 over the few batches of one run is its slowest batch: it is
    # reported, not gated
    run.report.update(batches=loop["batches"], queries=loop["queries"],
                      qps_mean=loop["qps_mean"],
                      batch_p90_s=loop["batch_p90_s"],
                      batch_walls_s=[round(w, 4) for w in loop["walls"]],
                      loop_host_steal_share=loop["host_steal_share"])

    run.check(loop["recall_at_10"] >= cfg["recall_floor"],
              f"recall {loop['recall_at_10']:.4f} below {cfg['recall_floor']}")
    run.check(build_ops.degree_invariant_violations(idx.graph, cfg["M"]) == 0,
              "degree invariant violated")
    rec = run.report["kernel_path"]
    want = rec["native_shards"] if cfg["kernel"] == "native" else rec["numpy_shards"]
    run.check(want == len(rec["shard_rows"]),
              f"shards not all on the {cfg['kernel']} kernel: {rec['shard_rows']}")
    if a.trace:
        replay_layers(run, cfg, idx_path, batches, data["queries"], loop)
        build_layers(run, vectors, params)
    idx.close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with procstat.RssSampler() as rss:
        run = Run(args)
        run.mark("session")
        prewarm(run.spark)
        run.mark("prewarm")
        serve(run, WORKLOADS[args.workload])
        if args.trace:
            run.spark.stop()  # flushes the event log
    run.e2e["worker_rss_peak_mb"] = rss.peak_bytes / 2**20
    run.e2e["success_rate"] = 1.0 - run.failed / max(run.attempted, 1)
    run.report["worker_procs_at_peak"] = rss.peak_procs
    if args.trace:
        spark_layers(run)
        run.report["spans"] = run.tracer.spans
    with open(args.out, "w") as fh:
        json.dump({"e2e": run.e2e, "layers": run.layers, "report": run.report,
                   "attempted": run.attempted, "failed": run.failed,
                   "failures": run.failures}, fh)
    # the result is on disk: skip the interpreter's seconds-long wait on
    # the gateway JVM; run.py kills the whole process group and waits
    # for it
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
