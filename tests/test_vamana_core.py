"""Kernel unit tests — ports of the reference's 5 inline tests
(src/lib.rs:1281-1463; fixtures F1-F5 in FIXTURES.md). Pure numpy, no Spark."""

import numpy as np
import pytest

from rust_diskann_spark.core import vamana
from rust_diskann_spark.params import IndexParams


def test_small_index_l2():
    """F1 / reference test_small_index_l2 (lib.rs:1296-1319)."""
    vecs = np.array([[0, 0], [1, 0], [0, 1], [1, 1], [0.5, 0.5]], dtype=np.float32)
    p = IndexParams(max_degree=4, build_beam_width=16)
    g, med = vamana.build_vamana(vecs, p, seed=42)
    ids, dists = vamana.beam_search(
        vecs, g, "l2", med, np.array([0.1, 0.1], dtype=np.float32), 3, 16
    )
    assert len(ids) == 3
    assert dists[0] < 1.0
    # fixture is tiny => graph near-complete => ANN degenerates to exact
    assert ids.tolist() == [0, 4, 1]


def test_cosine():
    """F2 / reference test_cosine (lib.rs:1321-1349)."""
    vecs = np.array(
        [[1, 0, 0], [0, 1, 0], [0, 0, 1], [1, 1, 0], [1, 0, 1]], dtype=np.float32
    )
    p = IndexParams(max_degree=4, build_beam_width=16, metric="cosine")
    g, med = vamana.build_vamana(vecs, p, seed=42)
    q = np.array([2.0, 0.0, 0.0], dtype=np.float32)
    ids, dists = vamana.beam_search(vecs, g, "cosine", med, q, 2, 16)
    assert len(ids) == 2
    assert ids[0] == 0  # cosine sim 1.0 with the query
    assert 1.0 - dists[0] > 0.7


def test_grid_connectivity():
    """F4 / reference test_grid_connectivity (lib.rs:1379-1419)."""
    pts = np.array([[i, j] for i in range(5) for j in range(5)], dtype=np.float32)
    p = IndexParams(max_degree=4, build_beam_width=64, alpha=1.5)
    g, med = vamana.build_vamana(pts, p, seed=42)
    assert (g.deg <= p.max_degree).all()
    for qid in range(25):
        ids, dists = vamana.beam_search(pts, g, "l2", med, pts[qid], 10, 32)
        near = np.linalg.norm(pts[ids[0]] - pts[qid])
        assert qid in ids.tolist() or near < 2.0
        assert all(
            np.linalg.norm(pts[i] - pts[qid]) < 5.0 for i in ids[:5]
        )


def test_medium_random_ordering_invariant():
    """F5 / reference test_medium_random (lib.rs:1421-1463): results come
    back sorted by true distance ascending."""
    rng = np.random.default_rng(42)
    mat = rng.random((200, 32), dtype=np.float32)
    p = IndexParams(max_degree=32, build_beam_width=128)
    g, med = vamana.build_vamana(mat, p, seed=42)
    q = rng.random(32, dtype=np.float32)
    ids, dists = vamana.beam_search(mat, g, "l2", med, q, 10, 64)
    assert len(ids) == 10
    true = np.linalg.norm(mat[ids].astype(np.float64) - q, axis=1)
    assert np.all(np.diff(true) >= -1e-9)


def test_build_deterministic():
    """Engine guarantee beyond the reference (which uses thread_rng): same
    seed, same graph."""
    rng = np.random.default_rng(7)
    mat = rng.random((100, 8), dtype=np.float32)
    p = IndexParams(max_degree=16, build_beam_width=32)
    g1, m1 = vamana.build_vamana(mat, p, seed=11)
    g2, m2 = vamana.build_vamana(mat, p, seed=11)
    assert m1 == m2
    assert np.array_equal(g1.adj, g2.adj)
    assert np.array_equal(g1.deg, g2.deg)


def test_degree_bound():
    """Final sweep invariant (lib.rs:1111-1132): no node exceeds max_degree."""
    rng = np.random.default_rng(3)
    mat = rng.random((300, 8), dtype=np.float32)
    p = IndexParams(max_degree=8, build_beam_width=32, passes=2)
    g, _ = vamana.build_vamana(mat, p, seed=5)
    assert int(g.deg.max()) <= p.max_degree


def test_hamming_kernel():
    """F7: Hamming metric over u64 bit patterns (lib.rs:22-29)."""
    rng = np.random.default_rng(42)
    mat = rng.integers(0, 2**63 - 1, size=(50, 4), dtype=np.int64)
    p = IndexParams(max_degree=8, build_beam_width=32, metric="hamming")
    g, med = vamana.build_vamana(mat, p, seed=42)
    q = mat[7]
    ids, dists = vamana.beam_search(mat, g, "hamming", med, q, 5, 32)
    assert ids[0] == 7 and dists[0] == 0.0


def test_recall_gate():
    """F6 quality gate: recall@10 >= 0.95 on seeded Gaussian mixture
    (reference reaches 0.9997 at beam 512 on SIFT1M, README.md:228)."""
    rng = np.random.default_rng(42)
    mat = np.vstack(
        [
            rng.standard_normal((700, 16)) + 4.0,
            rng.standard_normal((700, 16)) - 4.0,
            rng.uniform(-8, 8, (600, 16)),
        ]
    ).astype(np.float32)
    p = IndexParams(max_degree=32, build_beam_width=64)
    g, med = vamana.build_vamana(mat, p, seed=42)
    qs = rng.standard_normal((50, 16)).astype(np.float32) * 4.0
    rec = 0.0
    for q in qs:
        ids, _ = vamana.beam_search(mat, g, "l2", med, q, 10, 128)
        exact = np.argsort(np.linalg.norm(mat.astype(np.float64) - q, axis=1))[:10]
        rec += len(set(ids.tolist()) & set(exact.tolist())) / 10
    assert rec / 50 >= 0.95


def test_beam_search_batch_bitequal_to_sequential():
    """The lockstep batch kernel must reproduce the sequential beam
    search exactly (same arithmetic, same pops/admissions)."""
    import numpy as np
    from rust_diskann_spark.core.vamana import (
        beam_search, beam_search_batch, build_vamana, sq_norms,
    )
    from rust_diskann_spark.params import IndexParams

    rng = np.random.default_rng(5)
    mat = rng.standard_normal((600, 24)).astype(np.float32)
    p = IndexParams(max_degree=16, build_beam_width=32, num_shards=1, seed=7)
    g, med = build_vamana(mat, p, seed=7)
    sqn = sq_norms(mat)
    Q = mat[::7]
    batch = beam_search_batch(mat, g, "l2", med, Q, 5, 32, sqnorms=sqn, max_block=16)
    for i, q in enumerate(Q):
        ids, ds = beam_search(mat, g, "l2", med, q, 5, 32, sqnorms=sqn)
        assert ids.tolist() == batch[i][0].tolist()
        assert np.array_equal(ds, batch[i][1])
    # non-l2 fallback path too
    batch_c = beam_search_batch(mat, g, "cosine", med, Q[:10], 5, 32)
    for i, q in enumerate(Q[:10]):
        ids, ds = beam_search(mat, g, "cosine", med, q, 5, 32)
        assert ids.tolist() == batch_c[i][0].tolist()


def test_connectivity_repair_and_entry_points_on_clustered_data():
    """Strongly clustered shards are the failure mode for single-entry
    Vamana: alpha-pruning fills every out-list with same-cluster
    neighbors and components disconnect. The engine must (a) repair
    connectivity post-build and (b) recover recall via farthest-point
    entry seeding (IndexParams.entry_points)."""
    import numpy as np
    from rust_diskann_spark.core import vamana
    from rust_diskann_spark.params import IndexParams

    rng = np.random.default_rng(7)
    C, per, d = 8, 100, 32
    centers = rng.standard_normal((C, d)) * 4.0
    mat = (
        centers[np.repeat(np.arange(C), per)]
        + 0.25 * rng.standard_normal((C * per, d))
    ).astype(np.float32)
    p = IndexParams(max_degree=16, build_beam_width=32, seed=3)
    g, med = vamana.build_vamana(mat, p, seed=3)

    # (a) every node reachable from the medoid (repair ran)
    seen = {med}
    stack = [med]
    while stack:
        u = stack.pop()
        for v in g.neighbors(u):
            if int(v) not in seen:
                seen.add(int(v))
                stack.append(int(v))
    assert len(seen) == C * per

    # (b) farthest-point entries cover every cluster...
    ents = vamana.select_entry_points(mat, "l2", med, C)
    assert sorted(set(int(e) // per for e in ents)) == list(range(C))
    # ...and multi-entry search recalls across clusters
    q = (centers + 0.25 * rng.standard_normal((C, d))).astype(np.float32)
    res = vamana.beam_search_batch(
        mat, g, "l2", med, q, 10, 64, entries=ents
    )
    m64 = mat.astype(np.float64)
    hits = 0
    for i, (ids, _) in enumerate(res):
        exact = np.argsort(
            np.linalg.norm(m64 - q[i].astype(np.float64), axis=1),
            kind="stable",
        )[:10]
        hits += len(set(ids.tolist()) & set(exact.tolist()))
    assert hits / (C * 10) >= 0.9

    # degree bound survives bridging (reference invariant lib.rs:1111-1132)
    assert int(g.deg.max()) <= p.max_degree


def test_batched_visited_pools_feed_the_build():
    """greedy_search_batch_visited (the r2 build path's candidate
    generator) must return, per node, a visited pool that (a) contains
    the node's true near neighbors, (b) carries correct distances, and
    (c) is deterministic."""
    rng = np.random.default_rng(11)
    mat = rng.standard_normal((400, 16)).astype(np.float32)
    p = IndexParams(max_degree=16, build_beam_width=32)
    g, med = vamana.build_vamana(mat, p, seed=11)
    seeds = np.full((40, 2), med, dtype=np.int64)
    seeds[:, 1] = np.arange(40)  # second seed = the node itself
    qmat = mat[:40]
    pools = vamana.greedy_search_batch_visited(
        mat, g, "l2", seeds, qmat, 32, sqnorms=vamana.sq_norms(mat)
    )
    pools2 = vamana.greedy_search_batch_visited(
        mat, g, "l2", seeds, qmat, 32, sqnorms=vamana.sq_norms(mat)
    )
    m64 = mat.astype(np.float64)
    for i, (ids, dists) in enumerate(pools):
        assert len(ids) == len(set(ids.tolist()))  # no dups
        true = np.linalg.norm(m64[ids] - m64[i], axis=1)
        # r3 kernel traverses in f32 (halves the eval's memory traffic);
        # pool dists are f32-accurate. rtol covers the general case; the
        # wide atol covers d ~= 0 (a node's distance to itself), where
        # sqrt amplifies the norm-trick's cancellation error: d2_true = 0
        # but f32 leaves ~1e-6 residual -> d ~= 1e-3. Self-distances are
        # excluded by the prune anyway (reference lib.rs:1224-1226).
        np.testing.assert_allclose(dists, true, rtol=1e-4, atol=2e-3)
        exact3 = set(np.argsort(np.linalg.norm(m64 - m64[i], axis=1),
                                kind="stable")[:3].tolist())
        assert len(exact3 & set(ids.tolist())) >= 2  # pool covers near nbrs
        assert ids.tolist() == pools2[i][0].tolist()  # deterministic


def test_quantized_traversal_degenerate_exact_and_recall():
    """r3 int8 traversal (QuantizedCorpus): in the degenerate regime
    (beam >= n) the working set holds every node and the f64 finalize
    re-scores it fully, so results are identical to the f32 kernel; in
    the ANN regime recall must hold the same gate as f32."""
    rng = np.random.default_rng(42)
    mat = np.vstack(
        [
            rng.standard_normal((700, 16)) + 4.0,
            rng.standard_normal((700, 16)) - 4.0,
            rng.uniform(-8, 8, (600, 16)),
        ]
    ).astype(np.float32)
    p = IndexParams(max_degree=32, build_beam_width=64)
    g, med = vamana.build_vamana(mat, p, seed=42)
    sqn = vamana.sq_norms(mat)
    quant = vamana.quantize_corpus(mat)
    assert quant.codes.dtype == np.int8
    # degenerate: beam >= n -> bit-identical to unquantized
    small = mat[:80]
    gs, ms = vamana.build_vamana(small, IndexParams(max_degree=16), seed=1)
    sq_s = vamana.sq_norms(small)
    q_s = vamana.quantize_corpus(small)
    for q in small[::11]:
        i_f, d_f = vamana.beam_search(small, gs, "l2", ms, q, 10, 128, sqnorms=sq_s)
        i_q, d_q = vamana.beam_search(
            small, gs, "l2", ms, q, 10, 128, sqnorms=sq_s, quant=q_s
        )
        assert i_f.tolist() == i_q.tolist()
        assert np.array_equal(d_f, d_q)
    # ANN regime: recall gate unchanged
    qs = rng.standard_normal((50, 16)).astype(np.float32) * 4.0
    res = vamana.beam_search_batch(
        mat, g, "l2", med, qs, 10, 128, sqnorms=sqn, quant=quant
    )
    rec = 0.0
    for (ids, _), q in zip(res, qs):
        exact = np.argsort(np.linalg.norm(mat.astype(np.float64) - q, axis=1))[:10]
        rec += len(set(ids.tolist()) & set(exact.tolist())) / 10
    assert rec / 50 >= 0.95


def test_multiword_visited_blocks_bitequal():
    """r3 multi-word bit-packed visited set: block widths crossing the
    64-lane word boundary (B=100, 128, 200) must reproduce the B<=64
    single-word results exactly."""
    rng = np.random.default_rng(9)
    mat = rng.standard_normal((500, 24)).astype(np.float32)
    p = IndexParams(max_degree=16, build_beam_width=32, num_shards=1, seed=7)
    g, med = vamana.build_vamana(mat, p, seed=7)
    sqn = vamana.sq_norms(mat)
    Q = np.repeat(mat[::3], 2, axis=0)  # 334 queries
    ref = vamana.beam_search_batch(mat, g, "l2", med, Q, 5, 32, sqnorms=sqn,
                                   max_block=64)
    for blk in (100, 128, 200):
        got = vamana.beam_search_batch(
            mat, g, "l2", med, Q, 5, 32, sqnorms=sqn, max_block=blk
        )
        for (ri, rd), (gi, gd) in zip(ref, got):
            assert ri.tolist() == gi.tolist()
            assert np.array_equal(rd, gd)
    # and on the build/collect path (greedy_search_batch_visited)
    seeds = np.column_stack([
        np.full(len(Q), med, dtype=np.int64),
        rng.integers(0, 500, len(Q)),
    ])
    ref_v = vamana.greedy_search_batch_visited(
        mat, g, "l2", seeds, Q, 32, sqnorms=sqn, max_block=64
    )
    got_v = vamana.greedy_search_batch_visited(
        mat, g, "l2", seeds, Q, 32, sqnorms=sqn, max_block=128
    )
    for (ri, rd), (gi, gd) in zip(ref_v, got_v):
        o1, o2 = np.argsort(ri), np.argsort(gi)
        assert ri[o1].tolist() == gi[o2].tolist()
        assert np.allclose(rd[o1], gd[o2])


def test_native_kernel_matches_numpy_recall_and_topk():
    """r3 native C kernel (core/native.py): on a corpus past
    NATIVE_MIN_ROWS, beam_search_batch auto-routes to the compiled
    kernel; its f64-finalized top-k must agree with the numpy kernel on
    overwhelming majority of queries (both are the same greedy algorithm;
    admissible orderings differ only at f32 ties / fanout exploration),
    and recall vs brute force must hold the same gate. Skips when no C
    compiler is available (the numpy path is then the production path)."""
    import os

    from rust_diskann_spark.core import native

    if native.get_lib() is None:
        pytest.skip("no C compiler on host")
    rng = np.random.default_rng(11)
    n = max(vamana.NATIVE_MIN_ROWS, 4096)
    mat = np.vstack(
        [
            rng.standard_normal((n // 2, 16)) + 3.0,
            rng.standard_normal((n - n // 2, 16)) - 3.0,
        ]
    ).astype(np.float32)
    p = IndexParams(max_degree=24, build_beam_width=48)
    g, med = vamana.build_vamana(mat, p, seed=3)
    sqn = vamana.sq_norms(mat)
    qs = mat[::37]
    res_native = vamana.beam_search_batch(mat, g, "l2", med, qs, 10, 64, sqnorms=sqn)
    os.environ["RDS_NO_NATIVE"] = "1"
    native._tried, native._lib = False, None
    try:
        res_numpy = vamana.beam_search_batch(
            mat, g, "l2", med, qs, 10, 64, sqnorms=sqn
        )
    finally:
        del os.environ["RDS_NO_NATIVE"]
        native._tried, native._lib = False, None
    agree = rec_nat = rec_np = 0.0
    for (ni, nd), (pi, pd_), q in zip(res_native, res_numpy, qs):
        exact = np.argsort(
            np.linalg.norm(mat.astype(np.float64) - q, axis=1), kind="stable"
        )[:10]
        rec_nat += len(set(ni.tolist()) & set(exact.tolist())) / 10
        rec_np += len(set(pi.tolist()) & set(exact.tolist())) / 10
        agree += ni.tolist() == pi.tolist()
    nq = len(qs)
    assert rec_nat / nq >= 0.95
    assert rec_nat / nq >= rec_np / nq - 0.02
    assert agree / nq >= 0.9  # same graph, same greedy: near-total agreement

    # quantized traversal through the native path too
    quant = vamana.quantize_corpus(mat)
    res_q = vamana.beam_search_batch(
        mat, g, "l2", med, qs, 10, 64, sqnorms=sqn, quant=quant
    )
    rec_q = 0.0
    for (qi_, qd), q in zip(res_q, qs):
        exact = np.argsort(
            np.linalg.norm(mat.astype(np.float64) - q, axis=1), kind="stable"
        )[:10]
        rec_q += len(set(qi_.tolist()) & set(exact.tolist())) / 10
    assert rec_q / nq >= 0.95


def test_native_cosine_via_normalized_codes():
    """r3: cosine rides the native l2 kernel over L2-normalized int8
    codes (squared l2 on unit vectors is monotonic with cosine
    distance); finalize re-scores true f64 cosine. Recall gate vs exact
    cosine, and parity with the numpy cosine path."""
    from rust_diskann_spark.core import native

    if native.get_lib() is None:
        pytest.skip("no C compiler on host")
    rng = np.random.default_rng(21)
    n = max(vamana.NATIVE_MIN_ROWS, 4096)
    mat = (
        rng.standard_normal((n, 16)) * rng.uniform(0.5, 3.0, (n, 1))
    ).astype(np.float32)
    p = IndexParams(max_degree=24, build_beam_width=48, metric="cosine")
    g, med = vamana.build_vamana(mat, p, seed=9)
    qs = mat[::53]
    quant = vamana.quantize_corpus(mat, normalize=True)
    assert quant.normalized
    res = vamana.beam_search_batch(mat, g, "cosine", med, qs, 10, 64, quant=quant)
    m64 = mat.astype(np.float64)
    sims = (m64 / np.linalg.norm(m64, axis=1, keepdims=True))
    rec = 0.0
    for (ids, dists), q in zip(res, qs):
        qn = q.astype(np.float64)
        qn = qn / np.linalg.norm(qn)
        exact = np.argsort(-(sims @ qn), kind="stable")[:10]
        rec += len(set(ids.tolist()) & set(exact.tolist())) / 10
        assert (np.diff(dists) >= -1e-12).all()  # finalize order holds
    assert rec / len(qs) >= 0.95


def test_native_cosine_raw_path(monkeypatch):
    """r6 verdict item #7: UNNORMALIZED cosine rides the native kernel
    via mode 3 (query pre-normalized wrapper-side, in-kernel distance
    1 - a.q_hat/|a|) instead of falling back to numpy when no normalized
    int8 code view exists. Same two gates as the dot test: (a)
    degenerate regime (beam >= n) is BIT-IDENTICAL to the numpy kernel
    (shared f64 cosine re-score finalization); (b) at real scale, recall
    vs exact cosine and near-total agreement with the numpy path."""
    import os

    from rust_diskann_spark.core import native

    if native.get_lib() is None:
        pytest.skip("no C compiler on host")

    def numpy_only(call):
        os.environ["RDS_NO_NATIVE"] = "1"
        native._tried, native._lib = False, None
        try:
            return call()
        finally:
            del os.environ["RDS_NO_NATIVE"]
            native._tried, native._lib = False, None

    # (a) degenerate bit-exactness on a small corpus (force native on);
    # mixed magnitudes so cosine != l2 ordering, and NO quant passed —
    # this exercises exactly the raw-row mode-3 path
    rng = np.random.default_rng(23)
    small = (
        rng.standard_normal((256, 16)) * rng.uniform(0.5, 3.0, (256, 1))
    ).astype(np.float32)
    p = IndexParams(max_degree=16, build_beam_width=32, metric="cosine")
    g_s, med_s = vamana.build_vamana(small, p, seed=6)
    qs_s = small[::31]
    monkeypatch.setattr(vamana, "NATIVE_MIN_ROWS", 64)
    res_nat = vamana.beam_search_batch(small, g_s, "cosine", med_s, qs_s, 10, 256)
    res_np = numpy_only(
        lambda: vamana.beam_search_batch(small, g_s, "cosine", med_s, qs_s, 10, 256)
    )
    for (ni, nd), (pi, pd_) in zip(res_nat, res_np):
        assert np.array_equal(ni, pi)
        assert np.array_equal(nd, pd_)
    monkeypatch.setattr(vamana, "NATIVE_MIN_ROWS", 4096)

    # (b) realistic-scale recall + agreement, still quant-free
    n = max(vamana.NATIVE_MIN_ROWS, 4096)
    mat = (
        rng.standard_normal((n, 16)) * rng.uniform(0.5, 3.0, (n, 1))
    ).astype(np.float32)
    p = IndexParams(max_degree=24, build_beam_width=48, metric="cosine")
    g, med = vamana.build_vamana(mat, p, seed=11)
    qs = mat[::53]
    res_native = vamana.beam_search_batch(mat, g, "cosine", med, qs, 10, 64)
    res_numpy = numpy_only(
        lambda: vamana.beam_search_batch(mat, g, "cosine", med, qs, 10, 64)
    )
    m64 = mat.astype(np.float64)
    sims = m64 / np.linalg.norm(m64, axis=1, keepdims=True)
    agree = rec_nat = 0.0
    for (ni, nd), (pi, pd_), q in zip(res_native, res_numpy, qs):
        qn = q.astype(np.float64)
        qn = qn / np.linalg.norm(qn)
        exact = np.argsort(-(sims @ qn), kind="stable")[:10]
        rec_nat += len(set(ni.tolist()) & set(exact.tolist())) / 10
        agree += ni.tolist() == pi.tolist()
        assert (np.diff(nd) >= -1e-12).all()
    nq = len(qs)
    assert rec_nat / nq >= 0.95
    assert agree / nq >= 0.9


def test_native_high_degree_flush_matches_numpy(monkeypatch):
    """r6 advisor: when deg(u) > 512 the kernel's two-pass candidate
    buffer overflows; the r7 fix FLUSHES it in neighbor order so
    evaluation order equals the fused loop's for any degree. Gate:
    degenerate regime (beam >= n) over a hand-built graph whose hub node
    has degree 600 is bit-identical between native and numpy kernels."""
    import os

    from rust_diskann_spark.core import native

    if native.get_lib() is None:
        pytest.skip("no C compiler on host")
    rng = np.random.default_rng(41)
    n, d = 700, 8
    mat = rng.standard_normal((n, d)).astype(np.float32)
    # hub graph: node 0 points at 600 nodes; everyone points back at the
    # hub plus a few randoms, so search from the hub exercises the flush
    cap = 600
    adj = np.full((n, cap), -1, dtype=np.int32)
    deg = np.zeros(n, dtype=np.int32)
    hub_out = rng.choice(np.arange(1, n), size=600, replace=False)
    adj[0, :600] = hub_out
    deg[0] = 600
    for i in range(1, n):
        nbrs = [0] + rng.choice(np.arange(1, n), size=8, replace=False).tolist()
        nbrs = [x for x in dict.fromkeys(nbrs) if x != i][:8]
        adj[i, : len(nbrs)] = nbrs
        deg[i] = len(nbrs)
    g = vamana.Graph(adj=adj, deg=deg)
    qs = mat[::71]
    monkeypatch.setattr(vamana, "NATIVE_MIN_ROWS", 64)
    res_nat = vamana.beam_search_batch(mat, g, "l2", med := 0, qs, 10, n)

    def numpy_only(call):
        os.environ["RDS_NO_NATIVE"] = "1"
        native._tried, native._lib = False, None
        try:
            return call()
        finally:
            del os.environ["RDS_NO_NATIVE"]
            native._tried, native._lib = False, None

    res_np = numpy_only(
        lambda: vamana.beam_search_batch(mat, g, "l2", med, qs, 10, n)
    )
    for (ni, nd), (pi, pd_) in zip(res_nat, res_np):
        assert np.array_equal(ni, pi)
        assert np.array_equal(nd, pd_)


def test_native_hamming_popcount_path():
    """r3: hamming rides the native kernel via XOR+popcount on the
    word-packed int64 rows (reference lib.rs:22-29 u64 vectors);
    distances are exact integers so results need no re-score. Gate:
    recall vs brute-force popcount, and sorted-output invariant."""
    from rust_diskann_spark.core import native

    if native.get_lib() is None:
        pytest.skip("no C compiler on host")
    rng = np.random.default_rng(31)
    n = max(vamana.NATIVE_MIN_ROWS, 4096)
    # planted structure: groups of 8 share a random base pattern with ~3
    # flipped bits per member (within-group dist <= 12, cross-group ~64
    # — fully random words would concentrate distances and cap recall on
    # ANY graph index, which is not what this test measures)
    base_words = rng.integers(0, 2**62, size=(n // 8, 2), dtype=np.int64)
    mat = np.repeat(base_words, 8, axis=0)[:n]
    flips = rng.integers(0, 124, size=(n, 3))
    for i in range(n):
        for b in flips[i]:
            mat[i, b // 62] ^= np.int64(1) << np.int64(b % 62)
    p = IndexParams(max_degree=16, build_beam_width=32, metric="hamming")
    g, med = vamana.build_vamana(mat, p, seed=13)
    qs = mat[::97]
    res = vamana.beam_search_batch(mat, g, "hamming", med, qs, 10, 64)
    lut = vamana._POPCOUNT_LUT
    rec = 0.0
    for (ids, dists), q in zip(res, qs):
        x = np.bitwise_xor(mat.astype(np.uint64), q.astype(np.uint64))
        d_all = lut[x.view(np.uint8)].reshape(n, -1).sum(axis=1)
        exact = np.lexsort((np.arange(n), d_all))[:10]
        rec += len(set(ids.tolist()) & set(exact.tolist())) / 10
        assert (np.diff(dists) >= 0).all()
        assert all(float(dd) == float(int(dd)) for dd in dists)  # integers
    assert rec / len(qs) >= 0.9


def test_native_dot_negated_ip_path(monkeypatch):
    """r5 verdict item #8: raw dot rides the native kernel via the
    negated-inner-product traversal (in-kernel dist = 1 - a.b) instead
    of falling back to numpy. Two gates: (a) degenerate regime (beam >=
    n, working set holds every node) is BIT-IDENTICAL to the numpy
    kernel — both finalize with the same f64 `1 - rows64 . q64` re-score,
    so equality is exact, not approximate; (b) at real scale (past
    NATIVE_MIN_ROWS) recall vs exact max-IP and near-total agreement
    with the numpy path hold the l2 test's gates."""
    import os

    from rust_diskann_spark.core import native

    if native.get_lib() is None:
        pytest.skip("no C compiler on host")

    def numpy_only(call):
        os.environ["RDS_NO_NATIVE"] = "1"
        native._tried, native._lib = False, None
        try:
            return call()
        finally:
            del os.environ["RDS_NO_NATIVE"]
            native._tried, native._lib = False, None

    # (a) degenerate bit-exactness on a small corpus (force native on)
    rng = np.random.default_rng(17)
    small = rng.standard_normal((256, 16)).astype(np.float32)
    p = IndexParams(max_degree=16, build_beam_width=32, metric="dot")
    g_s, med_s = vamana.build_vamana(small, p, seed=5)
    qs_s = small[::31]
    monkeypatch.setattr(vamana, "NATIVE_MIN_ROWS", 64)
    res_nat = vamana.beam_search_batch(small, g_s, "dot", med_s, qs_s, 10, 256)
    res_np = numpy_only(
        lambda: vamana.beam_search_batch(small, g_s, "dot", med_s, qs_s, 10, 256)
    )
    for (ni, nd), (pi, pd_) in zip(res_nat, res_np):
        assert np.array_equal(ni, pi)
        assert np.array_equal(nd, pd_)
    monkeypatch.setattr(vamana, "NATIVE_MIN_ROWS", 4096)

    # (b) realistic-scale recall + agreement
    n = max(vamana.NATIVE_MIN_ROWS, 4096)
    mat = np.vstack(
        [
            rng.standard_normal((n // 2, 16)) + 2.0,
            rng.standard_normal((n - n // 2, 16)) - 2.0,
        ]
    ).astype(np.float32)
    p = IndexParams(max_degree=24, build_beam_width=48, metric="dot")
    g, med = vamana.build_vamana(mat, p, seed=7)
    qs = mat[::37]
    res_native = vamana.beam_search_batch(mat, g, "dot", med, qs, 10, 64)
    res_numpy = numpy_only(
        lambda: vamana.beam_search_batch(mat, g, "dot", med, qs, 10, 64)
    )
    m64 = mat.astype(np.float64)
    agree = rec_nat = 0.0
    for (ni, nd), (pi, pd_), q in zip(res_native, res_numpy, qs):
        exact = np.argsort(1.0 - m64 @ q.astype(np.float64), kind="stable")[:10]
        rec_nat += len(set(ni.tolist()) & set(exact.tolist())) / 10
        agree += ni.tolist() == pi.tolist()
        assert (np.diff(nd) >= -1e-12).all()
    nq = len(qs)
    assert rec_nat / nq >= 0.95
    assert agree / nq >= 0.9


def test_native_so_cache_is_private_per_user():
    """r3 ADVICE (security): the compiled kernel must cache under a
    per-user 0700 directory (not bare world-writable /tmp where another
    local user could pre-plant a .so at the content-addressed path), and
    the cached file must be owned by us and not group/other-writable."""
    import os
    import stat

    from rust_diskann_spark.core import native

    so = native._compile()
    if so is None:
        pytest.skip("no C compiler on host")
    cache_dir = os.path.dirname(so)
    assert os.path.basename(cache_dir).startswith("rds-")
    st_dir = os.stat(cache_dir)
    if hasattr(os, "getuid"):
        assert st_dir.st_uid == os.getuid()
        assert not st_dir.st_mode & 0o077  # 0700: no group/other access
        st = os.stat(so)
        assert st.st_uid == os.getuid()
        assert not st.st_mode & stat.S_IWGRP
        assert not st.st_mode & stat.S_IWOTH


def test_int8_view_rides_decode_above_threshold():
    """r9 verdict #3 premise check: any shard at or above
    QUANTIZE_MIN_ROWS decodes WITH the int8 traversal view for l2 and
    (normalized) cosine — so the 1M real-broadcast path, whose tuples
    come from the same _decode_shard, serves int8 code gathers, not f32
    rows. Below the threshold the f32 path is untouched."""
    import pyarrow as pa

    from rust_diskann_spark.operators.search import (
        QUANTIZE_MIN_ROWS,
        _decode_shard,
        _maybe_quant,
    )

    rng = np.random.default_rng(3)
    n = QUANTIZE_MIN_ROWS
    mat = rng.standard_normal((n, 8)).astype(np.float32)
    vtbl = pa.table(
        {"id": pa.array(range(n), pa.int64()),
         "vec": pa.array(mat.tolist(), pa.list_(pa.float32()))}
    )
    gtbl = pa.table(
        {"id": pa.array(range(n), pa.int64()),
         "neighbors": pa.array([[(i + 1) % n] for i in range(n)],
                               pa.list_(pa.int64())),
         "medoid": pa.array([0] * n, pa.int64())}
    )
    tup = _decode_shard(vtbl, gtbl, 0, "l2", np.float32, False)
    quant = tup[6]
    assert quant is not None and quant.codes.dtype == np.int8
    assert quant.codes.shape == (n, 8) and not quant.normalized
    # cosine gets the normalized-code view (rides the l2 kernel)
    assert _maybe_quant("cosine", mat).normalized
    # below threshold: untouched f32 path
    assert _maybe_quant("l2", mat[: n - 1]) is None


def test_native_rescore_blocks_never_change_rows():
    """The native kernel's f64 re-score runs in query blocks of at most
    2^20 gathered elements (64 queries at beam 512 x 32-d). A 300-query
    call spans several blocks; each query's ids and f64 dists must equal
    a one-query call's bit for bit, so block size can never change
    rows. Covers the f32, int8-traversal and raw-cosine paths."""
    from rust_diskann_spark.core import native

    if native.get_lib() is None:
        pytest.skip("no C compiler on host")
    rng = np.random.default_rng(17)
    n, dim, beam = vamana.NATIVE_MIN_ROWS + 4, 32, 512
    mat = rng.standard_normal((n, dim)).astype(np.float32)
    p = IndexParams(max_degree=12, build_beam_width=24)
    g, med = vamana.build_vamana(mat, p, seed=9)
    sqn = vamana.sq_norms(mat)
    qs = rng.standard_normal((300, dim)).astype(np.float32)
    assert (1 << 20) // (beam * dim) < len(qs)  # the call spans blocks
    for metric, quant in (("l2", None), ("l2", vamana.quantize_corpus(mat)),
                          ("cosine", None)):
        batch = vamana.beam_search_batch(mat, g, metric, med, qs, 10, beam,
                                         sqnorms=sqn, quant=quant)
        assert len(batch) == len(qs)
        for i in range(len(qs)):
            ids, ds = vamana.beam_search_batch(
                mat, g, metric, med, qs[i:i + 1], 10, beam, sqnorms=sqn,
                quant=quant,
            )[0]
            assert np.array_equal(batch[i][0], ids), (metric, i)
            assert np.array_equal(batch[i][1], ds), (metric, i)
            assert batch[i][1].dtype == np.float64
