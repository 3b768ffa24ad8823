"""Offline probes/query-vs-tau curve for the 5M/408-shard index (r8
verdict item #4: "measuring probes/query vs recall").

The auto-probe mask is a pure driver-side function of routing
distances (operators/search.py:_probe_mask) — no search needs to run
to know how many shards each tau touches. This script loads the
routing points (medoid + FPS entry set per shard, the same rows
operators/search.py:_routing_points picks) and the standard probe5m
query sample (id % stride == 0) via DuckDB, computes the production
routing-distance matrix with _route_dists_from_points, and reports
mean/p50/p95 probes per query for a tau sweep — one process, no Spark,
~seconds.

Recall per tau comes from the probe5m runs (scale_runs_r9/5m_tau_*.log);
this script supplies the probe-count axis those runs lack.

Usage: python scripts/probe_curve_5m.py [index_dir] [n_queries] [taus_csv]
"""

from __future__ import annotations

import glob
import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

IDX = sys.argv[1] if len(sys.argv) > 1 else "/tmp/rds_scale_idx_5000000_sharded"
N_Q = int(sys.argv[2]) if len(sys.argv) > 2 else 50000
TAUS = [
    float(x)
    for x in (sys.argv[3] if len(sys.argv) > 3 else "0.05,0.10,0.15,0.20,0.25,0.35,0.50").split(",")
]


def main() -> None:
    import duckdb

    from rust_diskann_spark.operators.search import (
        _probe_mask,
        _route_dists_from_points,
    )

    meta = json.load(open(os.path.join(IDX, "metadata.json")))
    con = duckdb.connect()

    # one entries row per shard (entries are duplicated across a shard's
    # graph rows) + the medoid id from metadata
    ent_rows = con.execute(
        "select shard, any_value(entries) from parquet_scan(?, hive_partitioning=1) group by shard",
        [os.path.join(IDX, "graph.parquet", "*", "*.parquet")],
    ).fetchall()
    medoids = {int(k): int(v) for k, v in meta["medoids"].items()}
    routing_ids: dict[int, list[int]] = {}
    for sid, ents in ent_rows:
        ids = set(int(e) for e in (ents or []))
        ids.add(medoids[int(sid)])
        routing_ids[int(sid)] = sorted(ids)

    all_rids = sorted({i for ids in routing_ids.values() for i in ids})
    stride = max(1, meta["num_vectors"] // N_Q)
    vec_glob = os.path.join(IDX, "vectors.parquet", "*", "*.parquet")
    rid_list = ",".join(str(i) for i in all_rids)
    vec_rows = con.execute(
        f"select id, vec from parquet_scan('{vec_glob}', hive_partitioning=1) "
        f"where id in ({rid_list}) or id % {stride} = 0"
    ).fetchall()
    vecs = {int(i): np.asarray(v, dtype=np.float32) for i, v in vec_rows}

    qids = sorted(i for i in vecs if i % stride == 0)
    qmat = np.stack([vecs[i] for i in qids])
    sids = sorted(routing_ids)
    pts = [np.stack([vecs[i] for i in routing_ids[s]]) for s in sids]
    dmat = _route_dists_from_points(meta["metric"], qmat, pts)

    out = {
        "metric": "probe_curve",
        "index": IDX,
        "n_shards": len(sids),
        "routing_points": int(sum(len(p) for p in pts)),
        "n_queries": len(qids),
        "taus": [],
    }
    for tau in TAUS:
        os.environ["RDS_AUTO_PROBE_TAU"] = str(tau)
        # _AUTO_PROBE_TAU is read once at import; recompute the mask the
        # same way with the sweep value
        d1 = dmat.min(axis=1)
        med = np.median(dmat, axis=1)
        thresh = d1 + tau * (med - d1)
        mask = dmat <= thresh[:, None]
        per_q = mask.sum(axis=1)
        out["taus"].append(
            {
                "tau": tau,
                "probes_mean": round(float(per_q.mean()), 2),
                "probes_p50": int(np.percentile(per_q, 50)),
                "probes_p95": int(np.percentile(per_q, 95)),
                "probes_max": int(per_q.max()),
            }
        )
    # sanity: the production mask at the default tau must agree with the
    # local recomputation above
    prod = _probe_mask(dmat, "auto")
    d1 = dmat.min(axis=1)
    med = np.median(dmat, axis=1)
    from rust_diskann_spark.operators.search import _auto_probe_tau

    local = dmat <= (d1 + _auto_probe_tau() * (med - d1))[:, None]
    assert (prod == local).all(), "mask recomputation diverged from production"
    print(json.dumps(out))


if __name__ == "__main__":
    main()
