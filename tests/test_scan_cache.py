"""Scan-mode mmap shard cache (operators/shard_cache.py): the cached
path must be bit-identical to broadcast search, self-heal from the index
parquet on cache loss, and release its disk footprint on close()."""

import os
import shutil

import numpy as np
import pytest
from pyspark import Broadcast
from pyspark.sql import functions as F

from rust_diskann_spark import IndexParams, build_index, open_index
from rust_diskann_spark.operators import shard_cache


def _corpus(spark, n=400, dim=8, seed=3):
    return spark.range(n).select(
        F.col("id"),
        F.array(
            *[F.round(F.randn(seed=seed + i) * 10, 3) for i in range(dim)]
        ).cast("array<float>").alias("vec"),
    )


def _queries(spark, corpus, every=40, repeat=False):
    q = corpus.filter(F.col("id") % every == 0).select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec")
    )
    if repeat:  # query_id 0 once more, with row 1's vector
        q = q.union(corpus.filter(F.col("id") == 1).select(
            F.lit(0).cast("bigint").alias("query_id"),
            F.col("vec").alias("qvec"),
        ))
    return q


def _rows(df):
    return sorted(
        (int(r["query_id"]), int(r["rank"]), int(r["id"]), round(r["dist"], 9))
        for r in df.collect()
    )


@pytest.fixture()
def idx_path(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("RDS_SCAN_CACHE_DIR", str(tmp_path / "cache"))
    path = str(tmp_path / "idx")
    base = _corpus(spark)
    build_index(
        base, path,
        IndexParams(max_degree=8, build_beam_width=16, num_shards=4,
                    seed=11, shard_by="kmeans"),
    )
    return path


def test_cached_scan_matches_broadcast(spark, idx_path):
    """Scan-all cached scan vs broadcast mode, bit for bit. One query_id
    repeats with another vector: both modes give each query row its own
    top-k."""
    q = _queries(spark, _corpus(spark), repeat=True)
    idx = open_index(spark, idx_path)
    res_bc = _rows(idx.search_with_dists(q, k=5, beam_width=32,
                                         mode="broadcast"))
    res_cached = _rows(idx.search_with_dists(q, k=5, beam_width=32,
                                             mode="scan"))
    # cached path was taken: the scan populated this index's mmap cache
    assert idx._cache_token is not None
    assert os.path.isdir(
        os.path.join(shard_cache.cache_root(), idx._cache_token)
    )
    assert res_cached == res_bc
    assert sum(1 for r in res_cached if r[0] == 0) == 10
    idx.close()


def test_cached_scan_plan_ships_no_corpus(spark, idx_path):
    """The cached plan's dispatch side is a tiny range of task ids: the
    index parquet must not appear in the scan-mode physical plan (workers read
    it directly, outside Spark's scan operators)."""
    q = _queries(spark, _corpus(spark))
    idx = open_index(spark, idx_path)
    plan = idx.search_with_dists(
        q, k=5, beam_width=32, mode="scan"
    )._jdf.queryExecution().executedPlan().toString()
    assert "vectors.parquet" not in plan
    assert "graph.parquet" not in plan
    idx.close()


def test_cached_probed_matches_broadcast_probed(spark, idx_path):
    """Probed cached scan vs probed broadcast mode at the same
    ``shard_probes``: both route on each shard's medoid + entry points,
    so they must probe the same shards and agree bit for bit. One
    query_id repeats."""
    q = _queries(spark, _corpus(spark), repeat=True)
    idx = open_index(spark, idx_path)
    for probes in (2, "auto"):
        got_cached = _rows(idx.search_with_dists(
            q, k=5, beam_width=32, shard_probes=probes, mode="scan"
        ))
        got_bc = _rows(idx.search_with_dists(
            q, k=5, beam_width=32, shard_probes=probes, mode="broadcast"
        ))
        assert got_cached == got_bc
    idx.close()


def test_cache_miss_self_heals_from_parquet(spark, idx_path):
    """Deleting the cache tree mid-session (node restart, tmp cleanup)
    must re-decode from the index parquet with identical results."""
    q = _queries(spark, _corpus(spark))
    idx = open_index(spark, idx_path)
    before = _rows(idx.search_with_dists(q, k=5, beam_width=32, mode="scan"))
    token_dir = os.path.join(
        shard_cache.cache_root(), idx._get_cache_token()
    )
    assert os.path.isdir(token_dir)
    shutil.rmtree(token_dir)
    after = _rows(idx.search_with_dists(q, k=5, beam_width=32, mode="scan"))
    assert before == after
    idx.close()


def test_warm_scan_populates_cache_and_close_drops_it(spark, idx_path):
    idx = open_index(spark, idx_path)
    idx.warm("scan")
    token_dir = os.path.join(
        shard_cache.cache_root(), idx._get_cache_token()
    )
    # one entry per shard, each a completed (renamed) directory
    shard_dirs = [d for d in os.listdir(token_dir) if d.startswith("shard_")]
    assert len(shard_dirs) == idx.meta.num_shards
    assert not any(".tmp." in d for d in shard_dirs)
    # routing collected by the same warm job
    assert set(idx._scan_routing) == set(range(idx.meta.num_shards))
    idx.close()
    assert not os.path.exists(token_dir)
    # handle stays usable after close: caches rebuild on next use
    q = _queries(spark, _corpus(spark))
    assert len(_rows(idx.search_with_dists(q, k=5, beam_width=32,
                                           mode="scan"))) > 0
    idx.close()


def test_over_budget_broadcast_rides_mmap_source(spark, idx_path):
    """Explicit broadcast mode on an over-budget file-backed index must
    serve from the node-local mmap cache (one page-cache copy per node)
    through the same dispatch instead of a real per-worker broadcast,
    with identical rows. The name is kept so the test keeps its history;
    the mmap shard map it was named for is gone."""
    from rust_diskann_spark.plans import index as plans_index

    q = _queries(spark, _corpus(spark))
    idx_ref = open_index(spark, idx_path)
    expected = _rows(idx_ref.search_with_dists(q, k=5, beam_width=32,
                                               mode="broadcast"))
    assert isinstance(idx_ref._shards_bc, Broadcast)
    idx_ref.close()

    # probed expectation from a REAL broadcast handle with the same
    # shard_probes: a routing regression specific to mmap residency
    # that preserved cardinality would pass a rows-count check (r8 ADVICE)
    idx_ref = open_index(spark, idx_path)
    expected_auto = _rows(idx_ref.search_with_dists(
        q, k=5, beam_width=32, shard_probes="auto", mode="broadcast"
    ))
    assert isinstance(idx_ref._shards_bc, Broadcast)
    idx_ref.close()

    spark.conf.set(plans_index.BROADCAST_THRESHOLD_CONF, "1k")
    try:
        idx = open_index(spark, idx_path)
        for probes, want in ((None, expected), ("auto", expected_auto)):
            got = _rows(idx.search_with_dists(
                q, k=5, beam_width=32, shard_probes=probes, mode="broadcast"
            ))
            assert got == want
        # no real broadcast: served from this index's live mmap cache
        assert idx._shards_bc is None
        assert os.path.isdir(
            os.path.join(shard_cache.cache_root(), idx._cache_token)
        )
        idx.close()
        assert idx._shards_bc is None
    finally:
        spark.conf.unset(plans_index.BROADCAST_THRESHOLD_CONF)


def test_feasible_over_budget_broadcast_stays_real(spark, idx_path,
                                                   monkeypatch):
    """Explicit broadcast mode past the AUTO budget but within memory
    feasibility must use a REAL broadcast, not the mmap cache: the
    per-worker anonymous copies run 1.45-1.6x the 4 KiB file-backed mmap
    on gather-bound search (r9, scale_runs_r9/1m_resid_real.log). Only
    true infeasibility (workers x bytes vs executor memory) or an
    explicit operator conf downgrades an explicit broadcast request."""
    from rust_diskann_spark.plans import index as plans_index

    monkeypatch.setattr(plans_index, "BROADCAST_INDEX_THRESHOLD", 1)
    q = _queries(spark, _corpus(spark))
    idx = open_index(spark, idx_path)
    assert not idx._fits_broadcast()
    assert idx._broadcast_feasible()
    rows = _rows(idx.search_with_dists(q, k=5, beam_width=32,
                                       mode="broadcast"))
    assert len(rows) > 0
    assert isinstance(idx._shards_bc, Broadcast)
    idx.close()


def test_cold_get_or_decode_returns_mmap(spark, idx_path):
    """A cache MISS must populate and then serve the mmap-backed tuple,
    not the in-memory decode: an in-memory copy is private to each
    worker process — the multiplier the cache exists to remove (r8
    ADVICE, medium)."""
    idx = open_index(spark, idx_path)
    token = idx._get_cache_token()
    root = shard_cache.cache_root()
    shutil.rmtree(os.path.join(root, token), ignore_errors=True)
    tup = shard_cache.get_or_decode(root, token, 0, idx_path, "l2")
    assert tup is not shard_cache.EMPTY
    mat = tup[1]
    assert isinstance(mat, np.memmap), type(mat)
    # and the warm-path hit stays mmap too
    again = shard_cache.get_or_decode(root, token, 0, idx_path, "l2")
    assert isinstance(again[1], np.memmap)
    idx.close()


def test_token_changes_when_parquet_replaced_without_metadata(
    spark, idx_path
):
    """In-place vectors/graph replacement that leaves metadata.json
    untouched must still invalidate the cache token (r8 ADVICE: a token
    keyed on metadata alone served stale shards silently)."""
    before = shard_cache.index_token(idx_path)
    vdir = os.path.join(idx_path, "vectors.parquet")
    victim = next(
        os.path.join(dp, f)
        for dp, _dn, fns in os.walk(vdir)
        for f in fns
        if f.endswith(".parquet")
    )
    st = os.stat(victim)
    os.utime(victim, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert shard_cache.index_token(idx_path) != before


def test_cached_scan_hamming_roundtrip(spark, tmp_path, monkeypatch):
    """Hamming vectors are int64 words; the cache and routing must keep
    them integral end-to-end (a float64 trip corrupts words >= 2^53)."""
    monkeypatch.setenv("RDS_SCAN_CACHE_DIR", str(tmp_path / "hcache"))
    big = (1 << 62) + 12345  # survives only integer round trips
    base = spark.range(64).select(
        F.col("id"),
        F.array(
            (F.lit(big) + F.col("id")).cast("long"),
            F.xxhash64(F.col("id")),
        ).alias("vec"),
    )
    path = str(tmp_path / "hidx")
    build_index(
        base, path,
        IndexParams(max_degree=6, build_beam_width=12, num_shards=2,
                    metric="hamming", seed=5, shard_by="hash"),
    )
    idx = open_index(spark, path)
    q = base.limit(4).select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec")
    )
    res_scan = _rows(idx.search_with_dists(q, k=3, beam_width=16,
                                           mode="scan"))
    res_bc = _rows(idx.search_with_dists(q, k=3, beam_width=16,
                                         mode="broadcast"))
    assert res_scan == res_bc
    # every query's own vector is its 0-distance top hit
    top = {(r[0], r[1]): (r[2], r[3]) for r in res_scan}
    for qid in (0, 1, 2, 3):
        assert top[(qid, 1)] == (qid, 0.0)
    res_probed = _rows(idx.search_with_dists(
        q, k=3, beam_width=16, shard_probes=2, mode="scan"
    ))
    assert res_probed == res_scan  # p == num_shards -> scan-all
    idx.close()


def test_pack_shards_lpt_plan():
    """The routing job's task plan: a deterministic LPT packing of the
    shards with work into at most one bin per task."""
    from rust_diskann_spark.operators.search import _pack_shards

    loads = {0: 7, 1: 3, 2: 0, 3: 9, 4: 1, 5: 3, 6: 5, 7: 0, 8: 2}
    probed = {s for s, w in loads.items() if w > 0}
    for n_tasks in (1, 2, 3, 4, 7, 8, 50):
        plan = _pack_shards(loads, n_tasks)
        flat = [s for b in plan for s in b]
        # every probed shard exactly once, unprobed shards nowhere
        assert sorted(flat) == sorted(probed)
        assert len(plan) == min(n_tasks, len(probed))
        assert all(plan)
        assert _pack_shards(dict(reversed(list(loads.items()))),
                            n_tasks) == plan
        # Graham's LPT bound: heaviest bin <= mean + largest item
        bin_loads = [sum(loads[s] for s in b) for b in plan]
        total = sum(loads.values())
        assert max(bin_loads) <= total / len(plan) + max(loads.values())

    # no work runs zero tasks
    assert _pack_shards({s: 0 for s in range(8)}, 4) == []
    assert _pack_shards({}, 4) == []
    # equal loads spread evenly
    plan = _pack_shards({s: 20 for s in range(8)}, 4)
    assert sorted(s for b in plan for s in b) == list(range(8))
    assert [len(b) for b in plan] == [2, 2, 2, 2]
    # a shard with no work gets no task
    assert _pack_shards({0: 2, 1: 0, 2: 1}, 4) == [[0], [2]]


def test_plan_blocks_equal_load_contiguous_blocks():
    """The scan-mode task plan: a chunk's rows, stably ordered by home
    shard, cut into at most n_tasks contiguous non-empty blocks of about
    equal probe load."""
    from rust_diskann_spark.operators.search import _plan_blocks

    rng = np.random.default_rng(7)
    n_rows = 37
    home = rng.integers(0, 6, n_rows)
    loads = rng.integers(1, 5, n_rows)
    for n_tasks in (1, 2, 3, 4, 7, 36, 37, 50):
        order, bounds = _plan_blocks(loads, home, n_tasks)
        n = min(n_tasks, n_rows)
        # every row exactly once, in nearest-shard order, stable within
        # a shard
        assert sorted(order.tolist()) == list(range(n_rows))
        keys = list(zip(home[order].tolist(), order.tolist()))
        assert keys == sorted(keys)
        # at most n contiguous, non-empty blocks covering every row
        assert 1 <= len(bounds) <= n
        assert bounds[0][0] == 0 and bounds[-1][1] == n_rows
        assert all(lo < hi for lo, hi in bounds)
        assert all(a[1] == b[0] for a, b in zip(bounds, bounds[1:]))
        # deterministic
        again = _plan_blocks(loads, home, n_tasks)
        assert np.array_equal(again[0], order) and again[1] == bounds
        # no block over its share plus the largest single load
        block_loads = [loads[order[lo:hi]].sum() for lo, hi in bounds]
        assert max(block_loads) <= loads.sum() / n + loads.max()
    # one heavy row takes a block of its own; no block is ever empty
    _, bounds = _plan_blocks(np.array([10, 1, 1, 1]), np.zeros(4, int), 4)
    assert bounds == [(0, 1), (1, 4)]

    # scan-all keeps the chunk's order and cuts equal blocks
    order, bounds = _plan_blocks(np.ones(20, np.int64), None, 4)
    assert order.tolist() == list(range(20))
    assert bounds == [(0, 5), (5, 10), (10, 15), (15, 20)]
    order, bounds = _plan_blocks(np.ones(10, np.int64), None, 4)
    sizes = [hi - lo for lo, hi in bounds]
    assert len(bounds) == 4 and max(sizes) - min(sizes) <= 1
    # fewer rows than tasks: one row per block
    assert _plan_blocks(np.ones(3, np.int64), None, 4)[1] == [
        (0, 1), (1, 2), (2, 3)]
    # no rows, no blocks
    assert _plan_blocks(np.ones(0, np.int64), None, 4)[1] == []
    assert _plan_blocks(np.ones(0, np.int64), np.zeros(0, int), 4)[1] == []


def _group_stages(sc, group):
    """(tasks, shuffle bytes) of every stage the job group ran that
    completed a task (skipped stages complete none)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            info = tracker.getStageInfo(sid)
            if info is not None and info.numCompletedTasks:
                data = store.lastStageAttempt(sid)
                out.append((info.numTasks, data.shuffleWriteBytes()
                            + data.shuffleReadBytes()))
    return out


def _scan_dispatch(sc, idx, q, group, probes, mode="scan"):
    """Rows of one search, and the stages its collect ran. The query
    collect and probe routing run while the plan is built; only the
    dispatch runs inside the job group."""
    res = idx.search_with_dists(q, k=5, beam_width=32, shard_probes=probes,
                                mode=mode)
    sc.setJobGroup(group, "scan dispatch width")
    try:
        got = _rows(res)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return got, _group_stages(sc, group)


def test_scan_dispatch_width_is_min_cores_probed_shards(spark, tmp_path,
                                                       monkeypatch):
    """With more shards than cores, a scan-mode batch runs in
    min(defaultParallelism, n_q) Python tasks, one query block each —
    not one task per shard — in one stage with no merge behind it, and
    still matches broadcast mode bit for bit."""
    monkeypatch.setenv("RDS_SCAN_CACHE_DIR", str(tmp_path / "cache"))
    path = str(tmp_path / "idx8")
    base = _corpus(spark, n=480)
    build_index(
        base, path,
        IndexParams(max_degree=8, build_beam_width=16, num_shards=8,
                    seed=13, shard_by="kmeans"),
    )
    q = _queries(spark, base, every=24)
    n_q = q.count()
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    idx = open_index(spark, path)
    assert idx.meta.num_shards > cores
    for n, probes in enumerate((None, 2)):
        got, stages = _scan_dispatch(sc, idx, q, f"scan-dispatch-{n}",
                                     probes)
        assert [t for t, _ in stages] == [min(cores, n_q)], (probes, stages)
        want = _rows(idx.search_with_dists(
            q, k=5, beam_width=32, shard_probes=probes, mode="broadcast"
        ))
        assert got == want
    idx.close()


def test_scan_fills_cores_with_fewer_shards(spark, tmp_path, monkeypatch):
    """With fewer shards than cores, a scan-mode batch still runs one
    query block per core: min(defaultParallelism, n_q) tasks in one
    stage, with zero shuffle bytes, bit for bit equal to broadcast mode.
    Shard bins could fill at most one task per shard."""
    monkeypatch.setenv("RDS_SCAN_CACHE_DIR", str(tmp_path / "cache"))
    path = str(tmp_path / "idx2")
    base = _corpus(spark)
    build_index(
        base, path,
        IndexParams(max_degree=8, build_beam_width=16, num_shards=2,
                    seed=17, shard_by="kmeans"),
    )
    q = _queries(spark, base, every=40)
    n_q = q.count()
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    assert n_q >= 8 and cores > 2
    idx = open_index(spark, path)
    for n, probes in enumerate((None, 1)):
        got, stages = _scan_dispatch(sc, idx, q, f"scan-fill-{n}", probes)
        assert stages == [(min(cores, n_q), 0)], (probes, stages)
        want = _rows(idx.search_with_dists(
            q, k=5, beam_width=32, shard_probes=probes, mode="broadcast"
        ))
        assert got == want
    idx.close()


def test_broadcast_dispatch_is_query_blocks(spark, tmp_path, monkeypatch):
    """Broadcast residency runs the scan dispatch: a batch is
    min(defaultParallelism, n_q) query blocks in one stage with zero
    shuffle bytes (no round-robin query exchange), bit for bit equal to
    scan mode, scan-all and probed."""
    monkeypatch.setenv("RDS_SCAN_CACHE_DIR", str(tmp_path / "cache"))
    path = str(tmp_path / "idxb")
    base = _corpus(spark)
    build_index(
        base, path,
        IndexParams(max_degree=8, build_beam_width=16, num_shards=2,
                    seed=19, shard_by="kmeans"),
    )
    # one input partition, like a batch read from one small file: the
    # block count follows the cores, not the query frame's partitions
    q = _queries(spark, base, every=40).coalesce(1)
    n_q = q.count()
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    assert n_q >= 8 and cores > 2
    idx = open_index(spark, path)
    for n, probes in enumerate((None, 1)):
        got, stages = _scan_dispatch(sc, idx, q, f"bc-blocks-{n}", probes,
                                     mode="broadcast")
        assert stages == [(min(cores, n_q), 0)], (probes, stages)
        assert isinstance(idx._shards_bc, Broadcast)
        want = _rows(idx.search_with_dists(
            q, k=5, beam_width=32, shard_probes=probes, mode="scan"
        ))
        assert got == want
    idx.close()


def test_broadcast_residency_decodes_without_spark_jobs(spark, tmp_path,
                                                        monkeypatch):
    """Broadcast residency decodes each shard on the driver straight from
    the index parquet, the way an mmap-cache miss does: building the
    shard broadcast runs no Spark job, and every broadcast tuple equals
    the mmap cache's tuple for that shard, array for array."""
    monkeypatch.setenv("RDS_SCAN_CACHE_DIR", str(tmp_path / "cache"))
    path = str(tmp_path / "idx3")
    build_index(
        _corpus(spark, n=300), path,
        IndexParams(max_degree=8, build_beam_width=16, num_shards=3,
                    seed=23),
    )
    idx = open_index(spark, path)
    sc = spark.sparkContext
    group = "broadcast-residency-decode"
    sc.setJobGroup(group, "broadcast residency decode")
    try:
        bc = idx._broadcast_shards()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert isinstance(bc, Broadcast)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    shards = bc.value
    assert sorted(shards) == [0, 1, 2]
    assert sorted(idx._bc_routing) == [0, 1, 2]

    def arrays(tup):
        gids, mat, graph, medoid_local, sqn, ent, quant = tup
        out = [gids, mat, graph.adj, graph.deg, np.asarray(medoid_local),
               sqn, ent]
        if quant is not None:
            out += [quant.codes, quant.sqn_q, np.asarray(quant.scale)]
        return out

    root, token = shard_cache.cache_root(), idx._get_cache_token()
    for sid, tup in shards.items():
        cached = shard_cache.get_or_decode(root, token, sid, path, "l2")
        for a, b in zip(arrays(tup), arrays(cached), strict=True):
            assert (a is None) == (b is None)
            if a is not None:
                np.testing.assert_array_equal(a, b)
    idx.close()


def _bad_queries(spark, case):
    """A 3-query batch whose query_id 7 row is bad in the named way; for
    ``"dim"`` every row has the wrong dimension, so the whole batch is
    consistent and query_id 3 is the first offender."""
    good = [0.5] * (9 if case == "dim" else 8)
    bad = {
        "null": None,
        "ragged": [0.5] * 7,
        "dim": good,
        "nan": [0.5] * 7 + [float("nan")],
        "inf": [float("-inf")] + [0.5] * 7,
    }[case]
    return spark.createDataFrame(
        [(3, good), (7, bad), (9, good)], "query_id long, qvec array<float>"
    )


@pytest.mark.parametrize("mode", ["broadcast", "scan"])
def test_bad_query_vectors_rejected_on_driver(spark, idx_path, mode):
    """A null, ragged, wrong-dimension or NaN/inf query vector raises a
    ValueError naming its query_id, on the driver, before routing, in
    either residency — also under shard_probes, where a wrong dimension
    used to surface as a numpy matmul error."""
    idx = open_index(spark, idx_path)
    want = {
        "null": "query_id 7: null query vector",
        "ragged": "query_id 7: ragged query vectors",
        "dim": "query_id 3: query dimension mismatch: index dim 8, "
               "query dim 9",
        "nan": "query_id 7: non-finite",
        "inf": "query_id 7: non-finite",
    }
    for case, msg in want.items():
        for probes in (None, "auto"):
            with pytest.raises(ValueError, match=msg):
                idx.search_with_dists(_bad_queries(spark, case), k=3,
                                      beam_width=16, shard_probes=probes,
                                      mode=mode)
    # the same batch without its bad row searches normally
    ok = _bad_queries(spark, "nan").filter(F.col("query_id") != 7)
    assert len(_rows(idx.search_with_dists(ok, k=3, beam_width=16,
                                           mode=mode))) == 6
    idx.close()


def test_query_chunks_split_at_cap(spark, monkeypatch):
    """_query_chunks cuts an oversized batch into cap-sized chunks, each
    query exactly once; a batch under the cap is one chunk from one
    evaluation of its lineage; an empty batch is one empty chunk."""
    import pandas as pd

    from rust_diskann_spark.operators import search as search_ops

    monkeypatch.setattr(search_ops, "SCAN_QUERY_COLLECT_CAP", 3)
    base = spark.range(10).select(
        F.col("id").alias("query_id"),
        F.array(F.col("id").cast("float"), F.lit(1.0).cast("float"))
        .alias("qvec"),
    )
    chunks = list(search_ops._query_chunks(base))
    assert [len(c) for c in chunks] == [3, 3, 3, 1]
    qids = [int(x) for c in chunks for x in c["query_id"]]
    assert sorted(qids) == list(range(10))
    for c in chunks:
        for qid, qv in zip(c["query_id"], c["qvec"]):
            assert list(qv) == [float(qid), 1.0]

    # under the cap: one chunk, and the source rows are evaluated once
    seen = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    small = base.filter(F.col("query_id") < 3).mapInPandas(
        count_rows, base.schema
    )
    chunks = list(search_ops._query_chunks(small))
    assert [len(c) for c in chunks] == [3]
    assert seen.value == 3

    chunks = list(search_ops._query_chunks(base.limit(0)))
    assert len(chunks) == 1 and len(chunks[0]) == 0
    assert isinstance(chunks[0], pd.DataFrame)


def test_scan_task_profile_window_per_shard(spark, idx_path, tmp_path,
                                            monkeypatch):
    """A scan task whose query block probes two shards writes one
    shard_task record per shard, and each shard's window starts at its
    own cache lookup: the second record's t0 is at or after the end of
    the first one's. The task yields the block's final top-k."""
    import json

    from rust_diskann_spark.operators import search as search_ops

    prof = tmp_path / "prof"
    prof.mkdir()
    monkeypatch.setattr(search_ops, "_PROFILE_DIR", str(prof))
    token = shard_cache.index_token(idx_path)
    root = shard_cache.cache_root()
    rng = np.random.default_rng(5)
    qmat = rng.standard_normal((4, 8)).astype(np.float32)

    class _FakeBroadcast:
        value = (np.arange(4, dtype=np.int64), qmat,
                 {0: np.arange(4), 1: np.arange(4)}, [(0, 4)])

    run_task = search_ops._scan_task(
        _FakeBroadcast(),
        search_ops._cache_accessor(root, token, idx_path, "l2"),
        "l2", 3, 16, 4,
    )
    frames = list(run_task(0))
    assert len(frames) == 1
    assert len(frames[0]) == 4 * 3
    assert sorted(set(frames[0]["rank"])) == [1, 2, 3]
    recs = [
        json.loads(line)
        for f in sorted(prof.iterdir())
        for line in f.read_text().splitlines()
    ]
    assert [r["path"] for r in recs] == ["shard_task", "shard_task"]
    assert set(recs[0]) == {"path", "source", "t0", "n_rows", "n_q",
                            "decode", "kernel", "emit", "wall"}
    first, second = recs
    # wall is rounded to the microsecond
    assert second["t0"] >= first["t0"] + first["wall"] - 1e-6
    shard_cache.drop_index_cache(root, token)


def test_drop_nested_zip_finders_keeps_top_level(tmp_path):
    """The helper forgets the per-sub-package zipimporters of an archive
    on sys.path and keeps the archive's own importer; imports still work
    afterwards, from importers rebuilt on demand."""
    import importlib
    import sys
    import zipfile
    import zipimport

    from rust_diskann_spark.prelude import _drop_nested_zip_finders

    archive = str(tmp_path / "nested.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("rdszpkg/__init__.py", "")
        zf.writestr("rdszpkg/sub/__init__.py", "")
        zf.writestr("rdszpkg/sub/a.py", "A = 1\n")
        zf.writestr("rdszpkg/sub/b.py", "B = 2\n")
    nested = [os.path.join(archive, "rdszpkg"),
              os.path.join(archive, "rdszpkg", "sub")]
    saved_path = list(sys.path)
    saved_modules = set(sys.modules)
    saved_cache = dict(sys.path_importer_cache)
    sys.path.insert(0, archive)
    try:
        a = importlib.import_module("rdszpkg.sub.a")
        assert a.A == 1
        cache = sys.path_importer_cache
        assert all(isinstance(cache.get(p), zipimport.zipimporter)
                   for p in nested)

        _drop_nested_zip_finders()

        assert not any(p in cache for p in nested)
        assert isinstance(cache[archive], zipimport.zipimporter)
        assert cache[archive].prefix == ""
        assert not any(isinstance(f, zipimport.zipimporter) and f.prefix
                       for f in cache.values())
        importlib.invalidate_caches()
        b = importlib.import_module("rdszpkg.sub.b")
        assert b.B == 2
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)


def test_packed_tasks_hold_no_nested_zip_finders(spark):
    """Every _map_packed task body starts with the worker's nested
    zipimporters dropped, so the next task's invalidate_caches() re-reads
    each archive once."""
    from rust_diskann_spark.operators.search import _map_packed

    def run_task(t):
        import sys
        import zipimport

        import pandas as pd

        n = sum(isinstance(f, zipimport.zipimporter) and bool(f.prefix)
                for f in list(sys.path_importer_cache.values()))
        yield pd.DataFrame({"t": [t], "nested": [n]})

    rows = _map_packed(spark, 4, run_task, "t BIGINT, nested BIGINT").collect()
    assert sorted(r["t"] for r in rows) == [0, 1, 2, 3]
    assert [r["nested"] for r in rows] == [0, 0, 0, 0]
