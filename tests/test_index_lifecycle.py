"""End-to-end index lifecycle on Spark: build -> persist -> open -> search
(reference A1-A9; fixtures F1, F3 in FIXTURES.md)."""

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from rust_diskann_spark import IndexParams, build_index, open_index
from rust_diskann_spark.operators.build import degree_invariant_violations
from rust_diskann_spark.operators.exact import exact_knn
from rust_diskann_spark.sources.vectors import validate_vectors


def _vec_df(spark, rows):
    return spark.createDataFrame(rows, "id long, vec array<float>")


def test_f1_tiny_l2(spark, tmp_path):
    """F1: build on 5 points, query [0.1,0.1] k=3 -> ids 0,4,1."""
    df = _vec_df(
        spark,
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0]), (4, [0.5, 0.5])],
    )
    idx = build_index(df, str(tmp_path / "idx"), max_degree=4, build_beam_width=16)
    q = spark.createDataFrame([(0, [0.1, 0.1])], "query_id long, qvec array<float>")
    res = idx.search_with_dists(q, k=3, beam_width=16).orderBy("rank").collect()
    assert [r["id"] for r in res] == [0, 4, 1]
    assert res[0]["dist"] < 1.0


def test_f3_persistence_and_open(spark, tmp_path):
    """F3 / reference test_persistence_and_open (lib.rs:1351-1377)."""
    df = _vec_df(spark, [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])])
    path = str(tmp_path / "idx")
    build_index(df, path, max_degree=4, build_beam_width=16)

    idx = open_index(spark, path)
    assert idx.meta.num_vectors == 4 and idx.meta.dim == 2  # metadata round-trip
    q = spark.createDataFrame([(0, [0.9, 0.9])], "query_id long, qvec array<float>")
    res = idx.search_with_dists(q, k=2, beam_width=16).orderBy("rank").collect()
    assert res[0]["id"] == 3  # exact-id golden (lib.rs:1374)

    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        open_index(spark, path, metric="cosine")
        assert any("distance mismatch" in str(w.message) for w in rec)


def test_sharded_build_matches_exact(spark, tmp_path):
    """A11 shard-and-merge: multi-shard index reaches >=0.9 recall vs the
    exact oracle on a seeded Gaussian corpus."""
    rng = np.random.default_rng(42)
    mat = rng.standard_normal((400, 8)).astype(np.float32)
    df = _vec_df(spark, [(i, mat[i].tolist()) for i in range(400)])
    idx = build_index(
        df,
        str(tmp_path / "idx"),
        max_degree=16,
        build_beam_width=32,
        num_shards=4,
    )
    assert degree_invariant_violations(idx.graph, 16) == 0

    qs = rng.standard_normal((10, 8)).astype(np.float32)
    qdf = spark.createDataFrame(
        [(i, qs[i].tolist()) for i in range(10)], "query_id long, qvec array<float>"
    )
    ann = idx.search_with_dists(qdf, k=10, beam_width=64)
    exact = exact_knn(qdf, df, k=10)
    hits = ann.join(exact, ["query_id", "id"], "inner").count()
    assert hits / (10 * 10) >= 0.9


def test_validation_errors(spark):
    empty = spark.createDataFrame([], "id long, vec array<float>")
    with pytest.raises(ValueError, match="empty"):
        validate_vectors(empty)
    ragged = _vec_df(spark, [(0, [1.0]), (1, [1.0, 2.0])])
    with pytest.raises(ValueError, match="ragged"):
        validate_vectors(ragged)
    ok = _vec_df(spark, [(0, [1.0, 2.0])])
    with pytest.raises(ValueError, match="mismatch"):
        validate_vectors(ok, dim=3)
    assert validate_vectors(ok) == 2


def test_ids_only_projection(spark, tmp_path):
    df = _vec_df(spark, [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])])
    idx = build_index(df, str(tmp_path / "idx"), max_degree=2, build_beam_width=8)
    q = spark.createDataFrame([(0, [0.0, 0.1])], "query_id long, qvec array<float>")
    res = idx.search(q, k=2, beam_width=8)
    assert res.columns == ["query_id", "rank", "id"]
    assert [r["id"] for r in res.orderBy("rank").collect()] == [0, 2]


def test_hamming_index_end_to_end(spark, tmp_path):
    """Hamming metric (reference u64 bit-pattern vectors, lib.rs:22-29):
    build + search on packed sign-bit words, recall vs the exact oracle."""
    rng = np.random.default_rng(11)
    words = rng.integers(0, 1 << 62, size=(200, 2), dtype=np.int64)
    df = spark.createDataFrame(
        [(i, words[i].tolist()) for i in range(200)], "id long, vec array<long>"
    )
    idx = build_index(
        df,
        str(tmp_path / "hidx"),
        metric="hamming",
        max_degree=16,
        build_beam_width=32,
        num_shards=2,
        seed=5,
    )
    assert idx.meta.elem_type == "long"
    q = spark.createDataFrame(
        [(i, words[i].tolist()) for i in range(0, 200, 20)],
        "query_id long, qvec array<long>",
    )
    res = idx.search_with_dists(q, k=5, beam_width=64)
    gt = exact_knn(q, df, 5, "hamming")
    hits = res.join(gt.select("query_id", "id"), ["query_id", "id"]).count()
    assert hits / gt.count() >= 0.9
    # self-query must return itself at distance 0
    top = {r["query_id"]: r for r in res.filter(F.col("rank") == 1).collect()}
    for qid, r in top.items():
        assert r["id"] == qid and r["dist"] == 0.0


def test_broadcast_and_scan_search_agree(spark, tmp_path):
    """The two residency models (broadcast index vs the mmap shard
    cache) serve the same logical query — results must match
    row-for-row."""
    rng = np.random.default_rng(9)
    mat = rng.standard_normal((300, 8)).astype(np.float32)
    df = _vec_df(spark, [(i, mat[i].tolist()) for i in range(300)])
    idx = build_index(
        df, str(tmp_path / "bidx"),
        max_degree=16, build_beam_width=32, num_shards=3, seed=2,
    )
    q = _vec_df(spark, [(i, mat[i].tolist()) for i in range(0, 300, 30)]).select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec")
    )
    via_bc = idx.search_with_dists(q, k=5, beam_width=32, mode="broadcast")
    via_cg = idx.search_with_dists(q, k=5, beam_width=32, mode="scan")
    rows_bc = sorted(map(tuple, via_bc.collect()))
    rows_cg = sorted(map(tuple, via_cg.collect()))
    assert [r[:3] for r in rows_bc] == [r[:3] for r in rows_cg]
    for a, b in zip(rows_bc, rows_cg):
        assert abs(a[3] - b[3]) < 1e-9
    # nothing shuffles in the broadcast plan: neither the corpus nor the
    # queries (each query block is one task of a range-driven dispatch)
    plan = via_bc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    idx.close()


def test_shard_probe_routing(spark, tmp_path):
    """IVF-style shard routing: probing all shards equals the unprobed
    search; probing fewer returns k rows per query with bounded recall
    loss on clustered data."""
    rng = np.random.default_rng(21)
    # 4 well-separated clusters so medoid routing is informative
    centers = rng.standard_normal((4, 8)) * 10
    mat = np.concatenate(
        [c + rng.standard_normal((100, 8)) * 0.5 for c in centers]
    ).astype(np.float32)
    df = _vec_df(spark, [(i, mat[i].tolist()) for i in range(len(mat))])
    idx = build_index(
        df, str(tmp_path / "pidx"),
        max_degree=16, build_beam_width=32, num_shards=4, seed=3,
        shard_by="kmeans",
    )
    q = _vec_df(spark, [(i, mat[i].tolist()) for i in range(0, 400, 40)]).select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec")
    )
    full = idx.search_with_dists(q, k=5, beam_width=32)
    allp = idx.search_with_dists(q, k=5, beam_width=32, shard_probes=4)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, allp.collect()))
    probed = idx.search_with_dists(q, k=5, beam_width=32, shard_probes=1)
    per_q = probed.groupBy("query_id").count().collect()
    assert all(r["count"] == 5 for r in per_q)
    # kmeans shards are cluster-aligned and queries sit inside clusters:
    # even a single probed shard recovers (nearly) everything
    hits = probed.join(full.select("query_id", "id"), ["query_id", "id"]).count()
    assert hits / full.count() >= 0.9
    # shard_probes='auto' (r6 verdict item #3): the geometry rule selects
    # the home cluster's shard(s); on this well-separated corpus auto
    # must match scan-all recall while an unknown string still raises
    auto = idx.search_with_dists(q, k=5, beam_width=32, shard_probes="auto")
    hits_auto = auto.join(
        full.select("query_id", "id"), ["query_id", "id"]
    ).count()
    assert hits_auto / full.count() >= 0.9
    auto_sc = idx.search_with_dists(
        q, k=5, beam_width=32, shard_probes="auto", mode="scan"
    )
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, auto_sc.collect())
    )
    with pytest.raises(Exception, match="auto"):
        idx.search_with_dists(
            q, k=5, beam_width=32, shard_probes="adaptive"
        ).count()


def test_scan_mode_probe_routing(spark, tmp_path):
    """Probed routing through the SCAN path (resident corpus, routed query
    batches): identical rows to broadcast-mode probing — both route on the
    same medoid+entry minimum — and the retired cogroup mode is
    refused."""
    rng = np.random.default_rng(21)
    centers = rng.standard_normal((4, 8)) * 10
    mat = np.concatenate(
        [c + rng.standard_normal((100, 8)) * 0.5 for c in centers]
    ).astype(np.float32)
    df = _vec_df(spark, [(i, mat[i].tolist()) for i in range(len(mat))])
    idx = build_index(
        df, str(tmp_path / "sidx"),
        max_degree=16, build_beam_width=32, num_shards=4, seed=3,
        shard_by="kmeans",
    )
    q = _vec_df(spark, [(i, mat[i].tolist()) for i in range(0, 400, 40)]).select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec")
    )
    bc2 = idx.search_with_dists(q, k=5, beam_width=32, shard_probes=2,
                                mode="broadcast")
    sc2 = idx.search_with_dists(q, k=5, beam_width=32, shard_probes=2,
                                mode="scan")
    rows_bc = sorted(map(tuple, bc2.collect()))
    rows_sc = sorted(map(tuple, sc2.collect()))
    assert [r[:3] for r in rows_bc] == [r[:3] for r in rows_sc]
    for a, b in zip(rows_bc, rows_sc):
        assert abs(a[3] - b[3]) < 1e-9
    # probing >= num_shards through scan == plain scan-all
    sc_all = idx.search_with_dists(q, k=5, beam_width=32, mode="scan")
    sc_allp = idx.search_with_dists(q, k=5, beam_width=32, shard_probes=4,
                                    mode="scan")
    assert sorted(map(tuple, sc_all.collect())) == sorted(
        map(tuple, sc_allp.collect())
    )
    # routing cache: one collect ever, reused across batches
    assert idx._scan_routing is not None
    assert set(idx._scan_routing) == {0, 1, 2, 3}
    with pytest.raises(ValueError, match="cogroup"):
        idx.search_with_dists(q, k=5, beam_width=32, shard_probes=2,
                              mode="cogroup")
    # close() drops the routing cache with the rest of the pinned state
    idx.close()
    assert idx._scan_routing is None


def test_merged_index_recall_and_invariants(spark, tmp_path):
    """Merged-index build (DiskANN paper overlapped-cluster merge): the
    per-shard graphs union into ONE global graph (metadata num_shards=1),
    degree bounded by shard_overlap*max_degree, recall >= 0.95 on a
    clustered corpus — the data shape where naive locality shards lose
    neighbors that straddle cell boundaries."""
    rng = np.random.default_rng(7)
    centers = rng.normal(0.0, 8.0, size=(4, 8))
    mat = np.concatenate(
        [c + rng.normal(0.0, 1.0, size=(150, 8)) for c in centers]
    ).astype(np.float32)
    n = len(mat)
    df = _vec_df(spark, [(i, mat[i].tolist()) for i in range(n)])
    idx = build_index(
        df,
        str(tmp_path / "idx"),
        max_degree=12,
        build_beam_width=32,
        num_shards=4,
        merge_shards=True,
        shard_overlap=2,
    )
    assert idx.meta.num_shards == 1
    assert idx.meta.max_degree == 24  # overlap * max_degree
    assert degree_invariant_violations(idx.graph, 24) == 0
    # reopen from disk: merged layout round-trips
    idx2 = open_index(spark, str(tmp_path / "idx"))
    assert idx2.meta.num_shards == 1

    qdf = spark.createDataFrame(
        [(i, mat[i * 37 % n].tolist()) for i in range(12)],
        "query_id long, qvec array<float>",
    )
    ann = idx2.search_with_dists(qdf, k=10, beam_width=32)
    exact = exact_knn(
        qdf,
        df,
        k=10,
    )
    hits = ann.join(exact, ["query_id", "id"], "inner").count()
    assert hits / (12 * 10) >= 0.95


def test_merged_build_deterministic(spark, tmp_path):
    """Same seed -> bit-identical merged adjacency (kmeans init, per-shard
    builds, and the edge-union are all seeded/sorted)."""
    rng = np.random.default_rng(3)
    mat = rng.standard_normal((200, 6)).astype(np.float32)
    df = _vec_df(spark, [(i, mat[i].tolist()) for i in range(200)])

    def graph_rows(path):
        idx = build_index(
            df, path, max_degree=8, build_beam_width=16, num_shards=3,
            merge_shards=True, shard_overlap=2, seed=11,
        )
        return sorted(
            (r["id"], tuple(r["neighbors"]))
            for r in idx.graph.select("id", "neighbors").collect()
        )

    assert graph_rows(str(tmp_path / "a")) == graph_rows(str(tmp_path / "b"))


def test_merged_index_megacell_split(spark, tmp_path, monkeypatch):
    """Skew control: a degenerate centroid model (one live centroid owning
    90% of the corpus — the measured 2-iter-Lloyd failure mode) must
    trigger the mega-cell hash-split so no build unit exceeds ~2x the
    target cell size, and multi-entry search must keep recall >= 0.9
    across the split subgraphs."""
    from rust_diskann_spark.operators import build as build_mod
    from rust_diskann_spark.operators import ivf

    rng = np.random.default_rng(5)
    big = rng.normal(0.0, 0.3, size=(540, 8)) + 5.0
    rest = rng.normal(0.0, 0.3, size=(60, 8)) - 5.0
    mat = np.concatenate([big, rest]).astype(np.float32)
    n = len(mat)
    df = _vec_df(spark, [(i, mat[i].tolist()) for i in range(n)])

    # force the failure mode: one centroid per true cluster + two dead
    # ones far away, so the 540-point cluster IS one indivisible cell
    bad_cents = np.array(
        [[5.0] * 8, [-5.0] * 8, [100.0] * 8, [200.0] * 8], dtype=np.float64
    )
    monkeypatch.setattr(
        ivf, "kmeans_centroids", lambda *a, **k: bad_cents
    )
    sharded = build_mod.assign_shards_overlapped(
        df, num_shards=4, overlap=1, seed=9
    )
    unit_sizes = {
        int(r["shard"]): int(r["cnt"])
        for r in sharded.groupBy("shard").count().withColumnRenamed(
            "count", "cnt"
        ).collect()
    }
    total = sum(unit_sizes.values())
    cap = 2 * (-(-total // 4))
    assert len(unit_sizes) >= 3, unit_sizes  # the mega-cell split
    assert max(unit_sizes.values()) <= cap, unit_sizes

    idx = build_index(
        df, str(tmp_path / "idx"), max_degree=10, build_beam_width=24,
        num_shards=4, merge_shards=True, shard_overlap=2, seed=9,
    )
    qdf = spark.createDataFrame(
        [(i, mat[i * 29 % n].tolist()) for i in range(10)],
        "query_id long, qvec array<float>",
    )
    ann = idx.search_with_dists(qdf, k=10, beam_width=32)
    exact = exact_knn(qdf, df, k=10)
    hits = ann.join(exact, ["query_id", "id"], "inner").count()
    assert hits / (10 * 10) >= 0.9
