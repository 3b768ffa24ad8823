"""Streaming ANN serving measurement (r5 verdict item #7).

`ann_search_stream` is equivalence-tested (test_streaming.py) but was
never *measured*. This script runs the real continuous-serving shape —
a rate source feeding micro-batches of queries through foreachBatch
into the broadcast-mode batch search against a real on-disk index — and
reports steady micro-batch latency and throughput from the streaming
query's own progress events.

Usage:
  python scripts/stream_serve_demo.py [index_dir] [seconds]
Env: RDS_STREAM_RATE (queries/sec offered, default 4000), RDS_BEAM
(default 128), SPARK_GRAFT_CPUS.

Output: ONE JSON line with per-batch latency percentiles, achieved
steady QPS, and the host calibration probes (shared-host protocol:
never read a steady number without its calibration).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

IDX = sys.argv[1] if len(sys.argv) > 1 else "/tmp/rds_scale_idx_1000000_merged"
SECONDS = int(sys.argv[2]) if len(sys.argv) > 2 else 90
RATE = int(os.environ.get("RDS_STREAM_RATE", "4000"))
BEAM = int(os.environ.get("RDS_BEAM", "128"))
# shard routing for multi-shard indexes (e.g. the 5M/408 disk index,
# served from the mmap cache once it exceeds the broadcast budget):
# int p, 'auto', or unset = scan-all (right for the 1M merged index's
# single shard)
PROBES = os.environ.get("RDS_STREAM_PROBES") or None
PROBES = int(PROBES) if PROBES and PROBES != "auto" else PROBES
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
K = 10
WARM_BATCHES = 3  # first triggers pay worker/broadcast warm-up


def main() -> None:
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("rust_diskann_spark-stream-serve")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("RDS_DRIVER_MEM", "48g"))
        # warm(broadcast) collects the whole index (~1.7 GB at 1M) —
        # the 1 GiB default kills the collect mid-warm
        .config("spark.driver.maxResultSize", "8g")
        # heartbeat headroom: this host's slow first-touch anon phases
        # can starve the local executor heartbeat during large warms and
        # the context kills itself with no task failure (see probe5m.py)
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeatInterval", "60s")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from rust_diskann_spark import open_index
    from rust_diskann_spark.streaming.operators import ann_search_stream

    # pre-run calibration: the r7 artifact was taken under a 5.4x storm
    # and its latencies are upper bounds only — pre+post probes with a
    # validity flag make the artifact self-gating like bench.py (r7
    # verdict item #3)
    from bench import (
        BW_GATE,
        CALIB_R4,
        bw_ratio,
        compute_ratio,
        host_calibration,
    )

    ratio_of = compute_ratio

    calib_pre = host_calibration()

    # in-run light probe (r8): a background thread times the single-proc
    # 1536^2 matmul every ~10 s while batches run — numpy's BLAS releases
    # the GIL and the probe costs one core for ~15 ms, so it doesn't
    # perturb the measurement the way the 8-proc probe would. Whole-run
    # pre/post gating lost every r8 sweep point to storms arriving
    # mid-run; per-batch clean flags recover the quiet batches instead
    # of discarding the run (the streaming analog of scale_demo's
    # slice gating).
    import threading

    import numpy as np

    probes: list[tuple[float, float]] = []
    stop_evt = threading.Event()

    def _probe_loop() -> None:
        rng = np.random.default_rng(0)
        a = rng.standard_normal((1536, 1536)).astype(np.float32)
        while not stop_evt.is_set():
            t0 = time.perf_counter()
            (a @ a).sum()
            probes.append((time.time(), time.perf_counter() - t0))
            # 3 s cadence: batches run ~2 s, so every batch window holds
            # at least one probe (10 s left most batches unjudged);
            # ~15 ms per probe = ~0.5% of one core
            stop_evt.wait(3.0)

    threading.Thread(target=_probe_loop, daemon=True).start()

    idx = open_index(spark, IDX)
    idx.warm("broadcast")

    # query pool: every ~50th indexed vector, kept as a small static
    # table the rate stream joins against (stream-static broadcast join —
    # the executors never re-read the index for query generation)
    from pyspark.sql import Window

    pool = (
        spark.read.parquet(os.path.join(IDX, "vectors.parquet"))
        .filter(F.col("id") % 50 == 0)
        .select(F.col("id").alias("pool_id"), F.col("vec").alias("qvec"))
        # contiguous 0..n-1 key so EVERY rate row maps to a query
        .withColumn(
            "pool_key",
            F.row_number().over(Window.orderBy("pool_id")) - 1,
        )
        .persist()
    )
    pool_n = pool.count()

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", RATE)
        .option("numPartitions", 8)
        .load()
    )
    q_stream = rate.withColumn(
        "pool_key", F.pmod(F.col("value"), F.lit(pool_n))
    ).join(
        F.broadcast(pool), "pool_key"
    ).select(F.col("value").alias("query_id"), "qvec")

    sink = tempfile.mkdtemp(prefix="rds_stream_sink_")
    ckpt = tempfile.mkdtemp(prefix="rds_stream_ckpt_")
    query = ann_search_stream(
        q_stream,
        lambda q: idx.search_with_dists(
            q, k=K, beam_width=BEAM, mode="broadcast",
            shard_probes=PROBES,
        ),
        sink_path=sink,
        checkpoint_path=ckpt,
        trigger_available_now=False,  # continuous micro-batches
    )
    t_end = time.time() + SECONDS
    progresses: dict[int, dict] = {}
    while time.time() < t_end:
        time.sleep(2)
        for p in query.recentProgress:
            if p is None:
                continue
            d = p if isinstance(p, dict) else json.loads(p.prettyJson)
            progresses[int(d["batchId"])] = d
    query.stop()

    stop_evt.set()
    # per-batch clean flag: a batch is clean when every light probe that
    # fired during its execution window stayed under the 1-thread gate
    # (~2x the pinned r4 matmul anchor by default — big storms measured
    # 4-10x on this probe; pure-contention storms the 1-thread probe
    # can't see are still caught by the pre/post 8-proc probes below)
    gate_1t = float(os.environ.get("RDS_PROBE_1T_GATE", "2.0"))
    anchor_1t = CALIB_R4["matmul_1536_f32_sec"]

    def batch_clean(t_end_epoch: float, exec_ms: int) -> bool | None:
        lo = t_end_epoch - exec_ms / 1000.0 - 5.0
        hi = t_end_epoch + 5.0
        seen = [sec for (t, sec) in probes if lo <= t <= hi]
        if not seen:
            return None  # no probe landed in the window
        return max(seen) <= gate_1t * anchor_1t

    from datetime import datetime, timezone

    rows = []
    for bid in sorted(progresses):
        d = progresses[bid]
        n = int(d.get("numInputRows") or 0)
        dur = d.get("durationMs", {}) or {}
        exec_ms = int(dur.get("triggerExecution") or 0)
        if n > 0 and exec_ms > 0:
            clean = None
            ts = d.get("timestamp")
            if ts:
                try:
                    t_end = datetime.fromisoformat(
                        ts.replace("Z", "+00:00")
                    ).astimezone(timezone.utc).timestamp() + exec_ms / 1000.0
                    clean = batch_clean(t_end, exec_ms)
                except ValueError:
                    pass
            rows.append(
                {"batch": bid, "rows": n, "exec_ms": exec_ms, "clean": clean}
            )
    steady = [r for r in rows if r["batch"] >= WARM_BATCHES]
    clean_rows = [r for r in steady if r["clean"]]
    lat = sorted(r["exec_ms"] for r in steady)
    lat_clean = sorted(r["exec_ms"] for r in clean_rows)

    def pct(p, series=None):
        s = lat if series is None else series
        return s[min(len(s) - 1, int(p * len(s)))] if s else None

    tot_rows = sum(r["rows"] for r in steady)
    tot_sec = sum(r["exec_ms"] for r in steady) / 1000.0
    clean_qps = (
        round(
            sum(r["rows"] for r in clean_rows)
            / (sum(r["exec_ms"] for r in clean_rows) / 1000.0),
            1,
        )
        if clean_rows
        else None
    )
    # shared-host protocol: pre+post calibration probes and a validity
    # flag — a steady number is only trustworthy when the window held
    calib = host_calibration()
    ratio_pre, ratio_post = ratio_of(calib_pre), ratio_of(calib)
    gate = float(os.environ.get("RDS_SLICE_GATE", "1.25"))
    out_rows = spark.read.parquet(sink).count() if steady else 0
    print(json.dumps({
        "metric": "stream_serve",
        "index": IDX,
        "offered_qps": RATE,
        "beam_width": BEAM,
        "shard_probes": str(PROBES) if PROBES is not None else None,
        "n_batches_measured": len(steady),
        "n_batches_clean": len(clean_rows),
        "achieved_qps_in_batch": round(tot_rows / tot_sec, 1) if tot_sec else None,
        "achieved_qps_clean_batches": clean_qps,
        "batch_latency_ms_p50": pct(0.50),
        "batch_latency_ms_p95": pct(0.95),
        "batch_latency_ms_p99": pct(0.99),
        "clean_latency_ms_p50": pct(0.50, lat_clean),
        "clean_latency_ms_p95": pct(0.95, lat_clean),
        "clean_latency_ms_p99": pct(0.99, lat_clean),
        "probe_1t_gate": gate_1t,
        "probe_1t_max_sec": round(max((s for _, s in probes), default=0), 4),
        # full probe series (relative t, sec): self-contention from our
        # own saturated workers reads ~2-3x the anchor on this probe;
        # real storms read 18-60x — the series lets a reader re-derive
        # clean flags at any gate post-hoc
        "probe_1t_series": [
            [round(t - probes[0][0], 1), round(s, 4)] for t, s in probes
        ],
        "total_queries_served": tot_rows,
        "results_rows_written": out_rows,
        "host_calibration_pre": calib_pre,
        "host_calibration_post": calib,
        "calibration_ratio_pre": round(ratio_pre, 4),
        "calibration_ratio_post": round(ratio_post, 4),
        # r9: the whole-run validity flag also requires the memory-
        # bandwidth axis quiet (pre+post vs the r8-quiet anchor) — the
        # compute probes alone passed during bandwidth-degraded phases
        "bw_ratio_pre": round(bw_ratio(calib_pre), 4),
        "bw_ratio_post": round(bw_ratio(calib), 4),
        "calibration_valid": (
            max(ratio_pre, ratio_post) <= gate
            and max(bw_ratio(calib_pre), bw_ratio(calib)) <= BW_GATE
        ),
    }))
    shutil.rmtree(sink, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
