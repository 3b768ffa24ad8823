"""r11 optimization-round profiler (guide §1: measure first).

A per-query profiler with a host-calibration probe interleaved
between every profiled query (same protocol as
bench.py's per-query probes) and each query carries a ``valid`` flag
that is true only when BOTH surrounding probes are two-axis quiet — so
no per-query reading can be quoted without its weather tag, and the
run-level ``valid`` ANDs over every probe including mid-run ones.

Per query records:

- ``cold_count_sec``  — the bench methodology (first ``.count()`` on a
  freshly constructed DataFrame, codegen cold);
- ``warm_count_sec``  — second ``.count()`` on a rebuilt DataFrame;
- ``noop_sec``        — ``write.format("noop")`` on a rebuilt DataFrame
  (guide §1.4);
- ``n_jobs_all3``     — Spark jobs launched across the three runs;
- ``valid`` / ``bw_ratio`` — per-query two-axis weather tag;
- ``plans/r11/<q>_<tag>.txt`` — ``explain("formatted")``.

Usage: python scripts/profile_r11.py <tag> [query ...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
PLAN_DIR = os.path.join(REPO, "plans", "r11")

BENCH_QUERIES = [
    "knn_exact_l2",
    "knn_exact_cosine",
    "ivf_knn_fullprobe",
    "ivf_knn_probe2",
    "minhash_lsh_pairs",
    "minhash_verified_pairs",
    "simhash_near_dups",
    "dedup_exact",
    "dedup_components",
    "sample_stratified",
    "text_quality",
    "doc_fingerprint",
    "embedding_near_dups",
    "embedding_near_dups_lsh",
    "multimodal_image_features",
    "multimodal_frame_sample",
    "events_sessionize",
    "events_session_window_agg",
    "events_windowed_agg",
    "pricing_summary",
    "top_suppliers_per_nation",
]


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    os.makedirs(PLAN_DIR, exist_ok=True)

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("rds-profile-r11")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "90g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    import __spark_entry__ as entry_mod
    from rust_diskann_spark import IndexParams, build_index, open_index

    results: dict[str, dict] = {}
    all_probes: list[dict] = [bench.host_calibration()]

    def probe_tag() -> dict:
        """Advance the interleaved probe chain; returns the weather tag
        for the region between the previous call and this one."""
        pre = all_probes[-1]
        post = bench.host_calibration()
        all_probes.append(post)
        return {
            "valid": bench.probes_quiet(pre, 1.25)
            and bench.probes_quiet(post, 1.25),
            "bw_ratio": round(
                max(bench.bw_ratio(pre), bench.bw_ratio(post)), 3
            ),
            "compute_ratio": round(
                max(bench.compute_ratio(pre), bench.compute_ratio(post)), 3
            ),
        }

    def plan_text(df) -> str:
        try:
            return spark._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
        except Exception:
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            return buf.getvalue()

    def profile(name: str, make_df, action: str = "count") -> None:
        if only and name not in only:
            return
        sc.setJobGroup(name, name)
        sc.setJobDescription(f"{name}: cold count")
        t0 = time.perf_counter()
        df = make_df()
        df.count()
        cold = time.perf_counter() - t0

        sc.setJobDescription(f"{name}: warm count")
        t0 = time.perf_counter()
        df2 = make_df()
        df2.count()
        warm = time.perf_counter() - t0

        sc.setJobDescription(f"{name}: noop")
        t0 = time.perf_counter()
        df3 = make_df()
        df3.write.format("noop").mode("overwrite").save()
        noop = time.perf_counter() - t0

        jobs = sc.statusTracker().getJobIdsForGroup(name)
        with open(os.path.join(PLAN_DIR, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan_text(df3))
        results[name] = {
            "cold_count_sec": round(cold, 3),
            "warm_count_sec": round(warm, 3),
            "noop_sec": round(noop, 3),
            "n_jobs_all3": len(jobs),
            **probe_tag(),
        }
        print(
            f"[profile] {name:30s} cold={cold:7.3f} warm={warm:7.3f} "
            f"noop={noop:7.3f} jobs={len(jobs)} "
            f"valid={results[name]['valid']} bw={results[name]['bw_ratio']}",
            file=sys.stderr,
        )
        sc.setJobDescription(None)

    # --- ANN block, mirroring bench.py -----------------------------------
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    vectors = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    ).persist()
    n_vec = vectors.count()
    n_tiles = max(1, -(-10_000 // n_vec))
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    tiled_queries = queries
    for i in range(1, n_tiles):
        tiled_queries = tiled_queries.unionAll(
            queries.select(
                (F.col("query_id") + F.lit(i * n_vec)).alias("query_id"), "qvec"
            )
        )
    tiled_queries = tiled_queries.persist()
    tiled_queries.count()
    idx_path = os.path.join(tempfile.gettempdir(), "rds_prof_idx")

    num_shards = max(2, min(int(CPUS), n_vec // 250))
    params = IndexParams(
        max_degree=32, build_beam_width=64, num_shards=num_shards, seed=42
    )

    if not only or "ann_build" in only:
        sc.setJobGroup("ann_build", "ann_build")
        builds = []
        for i in range(3):
            shutil.rmtree(idx_path, ignore_errors=True)
            sc.setJobDescription(f"ann_build run {i}")
            t0 = time.perf_counter()
            build_index(vectors, idx_path, params)
            builds.append(round(time.perf_counter() - t0, 3))
        jobs = sc.statusTracker().getJobIdsForGroup("ann_build")
        results["ann_build"] = {
            "cold_count_sec": builds[0],
            "warm_count_sec": builds[1],
            "noop_sec": builds[2],
            "n_jobs_all3": len(jobs),
            **probe_tag(),
        }
        print(f"[profile] ann_build runs={builds} jobs={len(jobs)}", file=sys.stderr)

    if not only or "ann_search" in only:
        if not os.path.exists(os.path.join(idx_path, "metadata.json")):
            build_index(vectors, idx_path, params)
        idx = open_index(spark, idx_path).warm()
        sc.setJobGroup("ann_search", "ann_search")
        searches = []
        for i in range(3):
            sc.setJobDescription(f"ann_search run {i}")
            t0 = time.perf_counter()
            df = idx.search_with_dists(tiled_queries, k=10, beam_width=64)
            df.count()
            searches.append(round(time.perf_counter() - t0, 3))
        with open(os.path.join(PLAN_DIR, f"ann_search_{tag}.txt"), "w") as f:
            f.write(plan_text(df))
        jobs = sc.statusTracker().getJobIdsForGroup("ann_search")
        results["ann_search"] = {
            "cold_count_sec": searches[0],
            "warm_count_sec": searches[1],
            "noop_sec": searches[2],
            "n_jobs_all3": len(jobs),
            **probe_tag(),
        }
        print(f"[profile] ann_search runs={searches} jobs={len(jobs)}", file=sys.stderr)

    # untimed barrier, mirroring bench.py
    spark.range(64).repartition(32).mapInPandas(
        lambda it: (pdf for pdf in it), "id LONG"
    ).count()

    qs = entry_mod.queries()
    for name in BENCH_QUERIES:
        profile(name, lambda fn=qs[name]: fn(spark, SF_DIR))

    out = os.path.join(REPO, "scale_runs_r11", f"profile_{tag}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    run_valid = all(bench.probes_quiet(c, 1.25) for c in all_probes)
    with open(out, "w") as f:
        json.dump(
            {"queries": results, "run_valid": run_valid}, f,
            indent=1, sort_keys=True,
        )
    print(json.dumps({"profile": tag, "n": len(results), "out": out,
                      "run_valid": run_valid}))
    spark.stop()


if __name__ == "__main__":
    main()
