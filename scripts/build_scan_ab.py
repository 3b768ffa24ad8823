"""Structural A/B for the r11 build lineage cut: run ONE kmeans-sharded
build_index with event logging and report, per stage, the input records
read (how often the corpus is scanned) plus the app job count.
Weather-independent. Usage: python scripts/build_scan_ab.py <repo_dir> <tag>"""
import glob
import json
import os
import shutil
import sys
import tempfile

repo = sys.argv[1]
tag = sys.argv[2]
sys.path.insert(0, repo)

evdir = f"/tmp/rds_evlog_{tag}"
shutil.rmtree(evdir, ignore_errors=True)
os.makedirs(evdir)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (
    SparkSession.builder.master("local[8]")
    .appName(f"job-scan-{tag}")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.eventLog.enabled", "true")
    .config("spark.eventLog.dir", evdir)
    .config("spark.eventLog.compress", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from rust_diskann_spark import IndexParams, build_index

emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
vectors = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))

idx_path = os.path.join(tempfile.gettempdir(), f"rds_jobscan_idx_{tag}")
shutil.rmtree(idx_path, ignore_errors=True)
params = IndexParams(
    max_degree=16, build_beam_width=32, num_shards=4, shard_by="kmeans",
    merge_shards=False, seed=42,
)
sc = spark.sparkContext
sc.setJobGroup("build", "build")
build_index(vectors, idx_path, params)
jobs = sc.statusTracker().getJobIdsForGroup("build")
n_jobs = len(jobs)
spark.stop()

cands = [p for p in glob.glob(evdir + "/**/*", recursive=True)
         if os.path.isfile(p) and not p.endswith(".crc")
         and "appstatus" not in os.path.basename(p)]
if not cands:
    sys.exit(f"no Spark event log was written under {evdir}")
log = sorted(cands)[0]
per_stage = {}
names = {}
with open(log, errors="replace") as fh:
    for line in fh:
        try:
            if '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                m = ev.get("Task Metrics") or {}
                im = m.get("Input Metrics") or {}
                sid = ev.get("Stage ID")
                d = per_stage.setdefault(sid, {"records": 0, "bytes": 0, "tasks": 0})
                d["records"] += im.get("Records Read", 0)
                d["bytes"] += im.get("Bytes Read", 0)
                d["tasks"] += 1
            elif '"SparkListenerStageSubmitted"' in line:
                ev = json.loads(line)
                si = ev.get("Stage Info", {})
                names[si.get("Stage ID")] = si.get("Stage Name", "")[:50]
        except json.JSONDecodeError:
            continue

tot_rec = sum(d["records"] for d in per_stage.values())
tot_b = sum(d["bytes"] for d in per_stage.values())
print(f"RESULT tag={tag} n_jobs={n_jobs} total_input_records={tot_rec} "
      f"total_input_mb={tot_b/1e6:.1f} n_stages={len(per_stage)}")
for sid in sorted(per_stage):
    d = per_stage[sid]
    if d["records"]:
        print(f"  stage {sid:3d} records={d['records']:6d} "
              f"bytes={d['bytes']:9d} tasks={d['tasks']:3d} {names.get(sid,'')}")
