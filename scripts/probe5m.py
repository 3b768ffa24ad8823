"""Focused 5M probed-scan throughput harness (r7 verdict item #4).

scale_demo's full protocol spends most of its wall on scan-all steady
windows and exact GT — neither changes while iterating on the probed
path's task economics. This harness opens the on-disk 5M index, warms
the scan side once, and measures ONLY the probed search at several
query-batch sizes, with slice-level calibration gating and (when
RDS_PROFILE_DIR is set) the per-shard-task decode/kernel/emit budget
from operators/search.py's profiler.

Recall note: probed-scan recall is batch-size-independent (routing is
per-query), and auto-probe recall parity with scan-all is pinned by
scale_runs_r7/5m_beam512_sweep.json (0.9938 both). This harness asserts
result-set cardinality only; re-run scale_demo for a recall artifact.

Usage: python scripts/probe5m.py [index_dir] [batch_sizes_csv]
Env: RDS_BEAM (512), RDS_SHARD_PROBES (auto), RDS_STEADY_WINDOWS (2),
     SPARK_GRAFT_CPUS (32), RDS_PROFILE_DIR, RDS_SLICE_GATE (1.25).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

IDX = sys.argv[1] if len(sys.argv) > 1 else "/tmp/rds_scale_idx_5000000_sharded"
BATCHES = [int(x) for x in (sys.argv[2] if len(sys.argv) > 2 else "2000,10000").split(",")]
BEAM = int(os.environ.get("RDS_BEAM", "512"))
PROBES = os.environ.get("RDS_SHARD_PROBES", "auto")
PROBES = PROBES if PROBES == "auto" else int(PROBES)
# RDS_PROBE_MODE: "scan" (default) or "broadcast". Both run one
# dispatch — query-block tasks, per-block final top-k, no shuffle — and
# differ only in the shard accessor: the node-local mmap cache, or a
# real broadcast. An index too large for per-worker copies (5M) serves
# an explicit "broadcast" from the mmap cache, i.e. exactly as "scan".
MODE = os.environ.get("RDS_PROBE_MODE", "scan")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
WINDOWS = int(os.environ.get("RDS_STEADY_WINDOWS", "2"))
GATE = float(os.environ.get("RDS_SLICE_GATE", "1.25"))
K = 10


def main() -> None:
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("rust_diskann_spark-probe5m")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("RDS_DRIVER_MEM", "64g"))
        .config("spark.driver.maxResultSize", "8g")
        # this host's first-touch of large anon regions can crawl at
        # ~10 MB/s during its memory-pressure phases (r9 SUMMARY); the
        # 24 GB 32-worker real-broadcast warm then starves the local
        # executor's heartbeat thread for minutes and the context kills
        # itself with no task failure (observed 19:52 this session —
        # RpcEndpointNotFoundException with nothing preceding it). Give
        # the heartbeat headroom instead of dying mid-warm.
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeatInterval", "60s")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # RDS_BCAST_BUDGET: override the broadcast-index byte budget (e.g.
    # "16g" to force a REAL per-worker broadcast, "1m" to force the
    # mmap cache) — the residency A/B knob for comparing
    # per-worker unpickled copies vs one page-cache copy per node.
    if os.environ.get("RDS_BCAST_BUDGET"):
        from rust_diskann_spark.plans.index import BROADCAST_THRESHOLD_CONF

        spark.conf.set(
            BROADCAST_THRESHOLD_CONF, os.environ["RDS_BCAST_BUDGET"]
        )

    from bench import BW_GATE, bw_ratio, compute_ratio, host_calibration
    from rust_diskann_spark import open_index

    def ratios() -> tuple[float, float]:
        """(compute ratio vs r4 anchor, bandwidth ratio vs r8 anchor) —
        slices are valid only when BOTH axes are quiet (r9; the compute
        probe is blind to the bandwidth-degraded phases that halve
        gather-bound throughput)."""
        c = host_calibration()
        return compute_ratio(c), bw_ratio(c)

    idx = open_index(spark, IDX)
    t0 = time.perf_counter()
    idx.warm(MODE)
    warm_s = time.perf_counter() - t0

    # exact GT over a seeded random 500-query sample (the distributed
    # partial-top-k matmul from scale_demo — only n_gt x K id pairs reach
    # the driver), so beam sweeps report recall, not just QPS
    import numpy as np
    import pandas as pd

    n_total = idx.meta.num_vectors
    gt_sets: dict[int, set] = {}

    def build_gt(queries, n_q: int) -> None:
        import numpy as np

        n_gt = min(500, n_q)
        all_ids = np.array(
            [r["query_id"] for r in queries.select("query_id").collect()],
            dtype=np.int64,
        )
        sel = np.random.default_rng(7).choice(all_ids, size=n_gt, replace=False)
        q_rows = queries.filter(
            F.col("query_id").isin([int(x) for x in sel])
        ).collect()
        qids_np = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
        qmat_np = np.array([list(r["qvec"]) for r in q_rows], dtype=np.float64)
        bc = spark.sparkContext.broadcast((qids_np, qmat_np))

        def gt_partials(batches):
            qids, qm = bc.value
            qq = (qm * qm).sum(1)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids = pdf["id"].to_numpy()
                m = np.asarray(pdf["vec"].tolist(), dtype=np.float64)
                d2 = qq[:, None] - 2.0 * (qm @ m.T) + (m * m).sum(1)[None, :]
                kk = min(K, d2.shape[1])
                part = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(qids, kk),
                        "id": ids[part].ravel(),
                        "d2": np.take_along_axis(d2, part, axis=1).ravel(),
                    }
                )

        from pyspark.sql import Window

        parts = (
            spark.read.parquet(os.path.join(IDX, "vectors.parquet"))
            .select("id", "vec")
            .mapInPandas(gt_partials, "query_id LONG, id LONG, d2 DOUBLE")
        )
        w_gt = Window.partitionBy("query_id").orderBy(
            F.col("d2").asc(), F.col("id").asc()
        )
        for r in (
            parts.withColumn("r", F.row_number().over(w_gt))
            .filter(F.col("r") <= K)
            .select("query_id", "id")
            .collect()
        ):
            gt_sets.setdefault(int(r["query_id"]), set()).add(int(r["id"]))

    def recall_of(df) -> float:
        got = (
            df.filter(F.col("query_id").isin(list(gt_sets)))
            .select("query_id", "id")
            .collect()
        )
        hits = sum(
            1 for r in got if int(r["id"]) in gt_sets[int(r["query_id"])]
        )
        return hits / float(len(gt_sets) * K)

    rows = []
    beams = [
        int(x)
        for x in os.environ.get("RDS_BEAM_LIST", str(BEAM)).split(",")
        if x.strip()
    ]
    for n_q in BATCHES:
        stride = max(1, n_total // n_q)
        queries = (
            spark.read.parquet(os.path.join(IDX, "vectors.parquet"))
            .filter(F.col("id") % stride == 0)
            .select(F.col("id").alias("query_id"), F.col("vec").alias("qvec"))
            .persist()
        )
        n_actual = queries.count()
        if not gt_sets:
            build_gt(queries, n_actual)

        for beam in beams:

            def run_once(count_only=True):
                res = idx.search_with_dists(
                    queries, k=K, beam_width=beam, shard_probes=PROBES,
                    mode=MODE,
                )
                return res.count() if count_only else res

            n_res = run_once()  # warm this (batch, beam)
            assert n_res == n_actual * K, (n_res, n_actual)
            slices = []
            r_pre, bw_pre = ratios()
            for _ in range(WINDOWS):
                t = time.perf_counter()
                run_once()
                dt = time.perf_counter() - t
                r_post, bw_post = ratios()
                slices.append(
                    {
                        "sec": round(dt, 3),
                        "qps": round(n_actual / dt, 1),
                        "ratio_pre": round(r_pre, 4),
                        "ratio_post": round(r_post, 4),
                        "bw_ratio_pre": round(bw_pre, 4),
                        "bw_ratio_post": round(bw_post, 4),
                        "valid": (
                            max(r_pre, r_post) <= GATE
                            and max(bw_pre, bw_post) <= BW_GATE
                        ),
                    }
                )
                r_pre, bw_pre = r_post, bw_post
            valid = [s for s in slices if s["valid"]]
            best = max((s["qps"] for s in valid), default=None)
            rows.append(
                {
                    "batch_queries": n_actual,
                    "beam_width": beam,
                    "best_valid_qps": best,
                    "best_any_qps": max(s["qps"] for s in slices),
                    "recall_at_10": round(recall_of(run_once(False)), 5),
                    "slices": slices,
                }
            )
            print(json.dumps(rows[-1]), file=sys.stderr)
        queries.unpersist()

    print(
        json.dumps(
            {
                "metric": "probe5m",
                "mode": MODE,
                "index": IDX,
                "beam_width": BEAM,
                "shard_probes": str(PROBES),
                "warm_sec": round(warm_s, 1),
                "batches": rows,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
