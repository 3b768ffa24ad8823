"""Probed-shard routing (r3): shard distance = min over medoid + FPS
entry set, so queries near overlap-cell boundaries route to every shard
that actually holds their neighbors (r2's medoid-only routing measured
probed4 recall 0.7586 on the 100k demo). Pure numpy — no Spark."""

import numpy as np
import pytest

from rust_diskann_spark.core import vamana
from rust_diskann_spark.operators.search import (
    _probe_mask,
    _route_dists_from_points,
    _routing_points,
)


def _shard(mat, medoid_local, ent):
    gids = np.arange(len(mat))
    graph = None  # routing never touches the graph
    sqn = vamana.sq_norms(mat)
    return (gids, mat, graph, medoid_local, sqn, ent)


def test_routing_uses_entry_points_not_just_medoid():
    # shard 0: medoid far from origin, but an entry point AT the origin;
    # shard 1: medoid moderately near the origin, no entries.
    # medoid-only routing sends an origin query to shard 1; entry-aware
    # routing must prefer shard 0.
    m0 = np.array([[10.0, 10.0], [0.0, 0.0], [9.0, 9.0]], dtype=np.float32)
    m1 = np.array([[3.0, 3.0], [4.0, 4.0]], dtype=np.float32)
    s0 = _shard(m0, 0, np.array([1], dtype=np.int64))  # entry = origin
    s1 = _shard(m1, 0, None)
    q = np.zeros((1, 2), dtype=np.float32)
    d = _route_dists_from_points("l2", q, [_routing_points(s0),
                                           _routing_points(s1)])
    assert d.shape == (1, 2)
    assert d[0, 0] < d[0, 1]  # entry point wins over nearer medoid


def test_routing_matches_bruteforce_min_l2():
    rng = np.random.default_rng(3)
    shards = []
    for i in range(5):
        mat = rng.standard_normal((40, 8)).astype(np.float32) + i
        ent = rng.choice(40, 6, replace=False).astype(np.int64)
        shards.append(_shard(mat, int(rng.integers(40)), ent))
    q = rng.standard_normal((20, 8)).astype(np.float32)
    d = _route_dists_from_points("l2", q,
                                 [_routing_points(s) for s in shards])
    for si, (gids, mat, graph, med, sqn, ent) in enumerate(shards):
        pts = mat[np.array(sorted({med, *ent.tolist()}), dtype=np.int64)]
        for qi in range(len(q)):
            exact = np.min(
                np.sum((pts.astype(np.float64) - q[qi]) ** 2, axis=1)
            )
            assert abs(d[qi, si] - exact) < 1e-2


def test_routing_cosine_and_hamming_shapes():
    rng = np.random.default_rng(4)
    shards_f = [
        _shard(rng.standard_normal((10, 4)).astype(np.float32), 0,
               np.array([1, 2], dtype=np.int64))
        for _ in range(3)
    ]
    q = rng.standard_normal((7, 4)).astype(np.float32)
    pts_f = [_routing_points(s) for s in shards_f]
    assert _route_dists_from_points("cosine", q, pts_f).shape == (7, 3)
    assert _route_dists_from_points("dot", q, pts_f).shape == (7, 3)
    shards_h = [
        (np.arange(6), rng.integers(0, 2**20, (6, 2)).astype(np.int64), None,
         0, None, np.array([1], dtype=np.int64))
        for _ in range(2)
    ]
    qh = rng.integers(0, 2**20, (5, 2)).astype(np.int64)
    dh = _route_dists_from_points("hamming", qh,
                                  [_routing_points(s) for s in shards_h])
    assert dh.shape == (5, 2)
    assert (dh >= 0).all()


def test_probe_mask_int_matches_argsort_topp():
    rng = np.random.default_rng(8)
    dmat = rng.standard_normal((12, 9)) ** 2
    mask = _probe_mask(dmat, 3)
    assert mask.shape == (12, 9)
    assert (mask.sum(axis=1) == 3).all()
    order = np.argsort(dmat, axis=1, kind="stable")[:, :3]
    for qi in range(12):
        assert set(np.nonzero(mask[qi])[0]) == set(order[qi].tolist())
    # p >= n_shards -> scan-all sentinel
    assert _probe_mask(dmat, 9) is None
    assert _probe_mask(dmat, 50) is None


def test_probe_mask_auto_covers_home_cluster_pieces():
    """r6 verdict item #3: 'auto' probes every cap-split PIECE of the
    query's home cluster without knowing the piece count. Synthetic
    geometry: 8 clusters x 6 pieces each; within-cluster routing
    distances bunch near the best while other clusters sit near the
    median — auto must select all 6 home pieces and none (or few) of the
    42 foreign ones, and the per-query probe count must adapt rather
    than being a fixed p."""
    rng = np.random.default_rng(9)
    n_clusters, pieces = 8, 6
    n_q = 40
    home = rng.integers(0, n_clusters, n_q)
    # routing distance model: home pieces ~ U(1, 2); foreign ~ U(50, 60)
    dmat = rng.uniform(50.0, 60.0, (n_q, n_clusters * pieces))
    for qi in range(n_q):
        cols = np.arange(home[qi] * pieces, (home[qi] + 1) * pieces)
        dmat[qi, cols] = rng.uniform(1.0, 2.0, pieces)
    mask = _probe_mask(dmat, "auto")
    assert mask.shape == dmat.shape
    for qi in range(n_q):
        cols = set(range(home[qi] * pieces, (home[qi] + 1) * pieces))
        got = set(np.nonzero(mask[qi])[0].tolist())
        assert cols <= got, "auto must probe every home-cluster piece"
        assert len(got) < 12, "auto must not degrade to scan-all"
    # boundary query (equidistant-ish to two clusters) widens adaptively
    dmat_b = np.full((1, n_clusters * pieces), 55.0)
    dmat_b[0, :pieces] = 1.5
    dmat_b[0, pieces : 2 * pieces] = 1.8
    got_b = set(np.nonzero(_probe_mask(dmat_b, "auto")[0])[0].tolist())
    assert set(range(2 * pieces)) <= got_b


def test_probe_mask_rejects_unknown_string():
    with pytest.raises(ValueError, match="'auto'"):
        _probe_mask(np.ones((2, 3)), "adaptive")


def test_probe_mask_auto_always_probes_nearest():
    # degenerate: all distances equal -> threshold == d1, nearest shard
    # (all shards, here) still probed; no empty probe sets ever
    dmat = np.ones((5, 7))
    mask = _probe_mask(dmat, "auto")
    assert mask.all(), "equal distances: every shard within margin"
    # one clear winner, the rest identical
    dmat2 = np.full((1, 4), 10.0)
    dmat2[0, 2] = 0.1
    m2 = _probe_mask(dmat2, "auto")
    assert m2[0, 2]
    assert m2.sum() == 1


def test_routing_hamming_exact_above_2_53():
    # packed words >= 2^53 with live low-order bits: a float64 round trip
    # zeroes the low ~11 bits and corrupts the popcount (r3 ADVICE) —
    # routing must stay integer end-to-end and match exact XOR popcounts
    base = np.int64(0x7FF0000000003039)  # high AND low bits set
    m0 = np.array([[base], [base ^ 0x7]], dtype=np.int64)  # shard 0: near q
    m1 = np.array([[base ^ -1], [base ^ 0x70]], dtype=np.int64)
    s0 = (np.arange(2), m0, None, 0, None, np.array([1], dtype=np.int64))
    s1 = (np.arange(2), m1, None, 0, None, np.array([1], dtype=np.int64))
    q = np.array([[base]], dtype=np.int64)
    d = _route_dists_from_points("hamming", q, [_routing_points(s0),
                                                _routing_points(s1)])
    # exact: min popcount per shard — s0: min(0, 3) = 0; s1: min(64-popcount... )
    assert d[0, 0] == 0.0
    exp1 = min(
        bin((int(base) & 0xFFFFFFFFFFFFFFFF) ^ ((int(base) ^ -1) & 0xFFFFFFFFFFFFFFFF)).count("1"),
        bin(0x70).count("1"),
    )
    assert d[0, 1] == float(exp1)
    assert d[0, 0] < d[0, 1]
