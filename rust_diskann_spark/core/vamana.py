"""Shard-local Vamana kernel — seeded numpy, no Spark imports.

This module implements the reference's graph-build and beam-search
algorithms (the two genuinely sequential, non-relational pieces) as pure
numpy over one shard's vectors. It runs inside ``applyInPandas`` on
executors; keeping it Spark-free makes it unit-testable in-process.
The algorithm is Vamana from the DiskANN paper (Subramanya et al.,
"DiskANN: Fast Accurate Billion-point Nearest Neighbor Search on a
Single Node", NeurIPS 2019); parameter semantics follow the reference
implementation cited below.

Algorithm parity map (reference src/lib.rs):

- random R-out bootstrap            lib.rs:989-1004   -> :func:`_random_bootstrap`
- medoid via 8 sampled pivots       lib.rs:736-756    -> :func:`calculate_medoid`
- greedy search collecting visited  lib.rs:1140-1198  -> :func:`greedy_search_batch_visited`
- dedup keep-best-per-id            lib.rs:758-776    -> :func:`_dedup_keep_best`
- alpha-RNG prune + backfill        lib.rs:1201-1279  -> :func:`robust_prune`
- micro-batched pass loop           lib.rs:1013-1108  -> :func:`build_vamana`
- reverse-edge merge w/ slack       lib.rs:784-914    -> inside :func:`build_vamana`
- final degree-enforcement sweep    lib.rs:1111-1132  -> inside :func:`build_vamana`
- query beam search                 lib.rs:635-693    -> :func:`beam_search`

Deviations (deliberate, documented in SURVEY.md §4):
- every random draw is seeded (reference uses ``thread_rng``, which is
  non-reproducible — a distributed engine needs determinism);
- adjacency is a dense ``(n, max_degree) int32`` matrix padded with -1
  (reference pads with u32::MAX, lib.rs:51) plus a degree vector;
- distances are evaluated as vectorized numpy batches rather than one
  scalar ``dist.eval`` per neighbor (lib.rs:713-721) — same values.

All ids in this module are *local* shard ordinals 0..n-1; the Spark layer
maps them to global ids.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from rust_diskann_spark.params import (
    GRAPH_SLACK_FACTOR,
    MEDOID_SAMPLE_K,
    MICRO_BATCH_CHUNK_SIZE,
    IndexParams,
)

PAD = -1

# beam-search expansions per query per round: trades a few wasted
# expansions (a candidate expanded before a better one would have evicted
# it) for a fanout-fold cut in round count — the disk-DiskANN "beam width
# W" trick, here amortizing numpy dispatch instead of IO latency. Recall
# can only stay equal or rise (the explored set grows); the round-2 QPS
# sweep on the real 100k merged index (32-way concurrent, adaptive
# straggler fanout) measured 4 as the knee.
FANOUT = 4

# build-path prune-pool cap: the visited pool feeding robust_prune keeps
# only its BUILD_POOL_CAP nearest members. Deviation from the reference
# (which prunes the full visited set, lib.rs:1034-1071): far candidates
# are either alpha-occluded in phase 1 or outranked by nearer rejects in
# the phase-2 backfill, so the selected out-list is unchanged in practice
# while dense-shard prune cost drops ~4x (pools of 1400+ measured on
# single-cluster shards). 512 also keeps pools under robust_prune's
# one-GEMM fast path (m <= 1024 after the current-neighbor concat).
BUILD_POOL_CAP = 512


def _dist_batch(metric: str, q: np.ndarray, m: np.ndarray) -> np.ndarray:
    """Distances (float64) from query ``q`` to rows of ``m`` — the kernel's
    hot loop; kept local (duplicating functions/distance.py's numpy twin)
    so the UDF pickles only this module."""
    if metric == "l2":
        diff = m - q
        return np.sqrt(np.einsum("ij,ij->i", diff, diff))
    if metric == "cosine":
        mn = np.linalg.norm(m, axis=1)
        qn = np.linalg.norm(q)
        # guard zero vectors: define distance 1.0 (orthogonal-like)
        denom = mn * qn
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = np.where(denom > 0, (m @ q) / denom, 0.0)
        return 1.0 - sim
    if metric == "dot":
        return 1.0 - m @ q
    if metric == "hamming":
        x = np.bitwise_xor(m.astype(np.uint64), q.astype(np.uint64))
        v = x.view(np.uint8)
        lut = _POPCOUNT_LUT
        return lut[v].reshape(x.shape[0], -1).sum(axis=1).astype(np.float64)
    raise ValueError(f"unsupported metric {metric!r}")


_POPCOUNT_LUT = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def sq_norms(vectors: np.ndarray) -> np.ndarray:
    """Per-row squared norms in float64 — precomputed once per shard so the
    l2 hot loop runs as one BLAS matvec per expansion (||x||^2 - 2x.y +
    ||y||^2) instead of materializing difference matrices."""
    return np.einsum("ij,ij->i", vectors, vectors, dtype=np.float64)


@dataclass
class QuantizedCorpus:
    """Global-scalar int8 quantization of a shard's vectors, for the
    l2 search traversal (r3 bandwidth work): ``code = clip(rint(v *
    scale), -127, 127)``. A single global scale is an isometry of l2 up
    to rounding (per-dim scales would not be), so code-space squared
    distances order candidates almost exactly like real distances; the
    f64 finalization re-scores the surviving working set against the
    full-precision vectors, so returned (dist, id) rankings are exact.
    Quartering the gather traffic of the dominant stream (4x fewer bytes
    per corpus row than f32) is the same bytes-per-expansion lever as
    r2's f32 traversal and id-major bit-packed visited set — the kernel
    is memory-bandwidth-bound at 32 workers, not compute-bound.
    """

    codes: np.ndarray  # (n, d) int8
    scale: float  # real -> code multiplier (global)
    sqn_q: np.ndarray  # (n,) float32, squared norms of codes
    # True: codes quantize the L2-NORMALIZED rows. On unit vectors,
    # squared l2 = 2 - 2*cos_sim is monotonic with cosine distance, so
    # the l2 kernels (numpy and native) serve cosine traversal unchanged
    # and the f64 finalize re-scores true cosine. Queries must be
    # normalized before quantizing with the same scale.
    normalized: bool = False


def quantize_corpus(
    vectors: np.ndarray, normalize: bool = False
) -> QuantizedCorpus:
    """Build the int8 traversal view of a shard (see QuantizedCorpus).
    SIFT-style u8-valued corpora (integers in [0, 255]) quantize
    losslessly; float corpora get step = amax/127 rounding noise, far
    below typical inter-candidate distance gaps.

    (r3 negative result, recorded so it is not retried: a prefix-dims
    admission prefilter — exact lower bound over the first d/4 dims,
    ADSampling-style — measured 261 vs 325 q/s single-proc at 1M: the
    bound prunes only candidates >=4x past the threshold, too few to pay
    for the extra partial gather+einsum pass.)"""
    v = np.asarray(vectors, dtype=np.float32)
    if normalize:
        norms = np.sqrt(np.einsum("ij,ij->i", v, v))
        v = v / np.where(norms > 0, norms, 1.0)[:, None]
    amax = float(np.abs(v).max())
    scale = 127.0 / amax if amax > 0 else 1.0
    codes = np.clip(np.rint(v * scale), -127, 127).astype(np.int8)
    sqn_q = np.einsum("ij,ij->i", codes, codes, dtype=np.int32).astype(np.float32)
    return QuantizedCorpus(
        codes=codes, scale=scale, sqn_q=sqn_q, normalized=normalize
    )


def _make_dist_ids(
    metric: str,
    vectors: np.ndarray,
    query: np.ndarray,
    sqnorms: np.ndarray | None,
):
    """Distance evaluator ``fn(ids) -> float64 dists`` for one fixed query.
    l2 with precomputed norms is the fast path; everything else falls back
    to the generic batch kernel."""
    if metric == "l2" and sqnorms is not None:
        q64 = np.asarray(query, dtype=np.float64)
        # 2-d einsum form so the accumulation matches the batch path's qq
        qq = float(np.einsum("ij,ij->i", q64[None, :], q64[None, :])[0])

        def fn(ids: np.ndarray) -> np.ndarray:
            # contiguous-float64 einsum, IDENTICAL arithmetic to the
            # lockstep batch path (beam_search_batch) so both produce
            # bit-equal distances — ties and terminations must agree
            rows = vectors[ids].astype(np.float64)
            qrows = np.ascontiguousarray(np.broadcast_to(q64, rows.shape))
            d2 = sqnorms[ids] - 2.0 * np.einsum("ij,ij->i", rows, qrows) + qq
            return np.sqrt(np.maximum(d2, 0.0))

        return fn

    def fn(ids: np.ndarray) -> np.ndarray:
        return _dist_batch(metric, query, vectors[ids])

    return fn


def calculate_medoid(vectors: np.ndarray, metric: str, seed: int) -> int:
    """Approximate medoid (reference lib.rs:736-756): sample
    ``MEDOID_SAMPLE_K`` pivots, score every vector by its summed distance to
    the pivots, return the argmin (ties -> smallest id, lib.rs:150-163)."""
    n = vectors.shape[0]
    rng = np.random.default_rng(seed)
    k = min(MEDOID_SAMPLE_K, n)
    pivot_ids = rng.choice(n, size=k, replace=False)
    scores = np.zeros(n, dtype=np.float64)
    for p in pivot_ids:
        scores += _dist_batch(metric, vectors[p], vectors)
    return int(np.argmin(scores))  # argmin returns first (lowest id) on ties


@dataclass
class Graph:
    """Bounded-degree adjacency: ``adj[i, :deg[i]]`` are out-neighbors."""

    adj: np.ndarray  # (n, slack_limit) int32, PAD-filled
    deg: np.ndarray  # (n,) int32

    def neighbors(self, u: int) -> np.ndarray:
        return self.adj[u, : self.deg[u]]

    def to_lists(self) -> list[list[int]]:
        return [self.adj[i, : self.deg[i]].tolist() for i in range(self.adj.shape[0])]


def _random_bootstrap(n: int, max_degree: int, slack: int, rng: np.random.Generator) -> Graph:
    """Init each node with up to ``max_degree`` distinct random out-neighbors
    excluding self (reference lib.rs:989-1004)."""
    adj = np.full((n, slack), PAD, dtype=np.int32)
    deg = np.zeros(n, dtype=np.int32)
    m = min(max_degree, n - 1)
    if m <= 0:
        return Graph(adj, deg)
    if m * 2 >= n:
        # dense shard: permutation-based exact sampling is fine
        for u in range(n):
            picks = rng.choice(n - 1, size=m, replace=False)
            picks = np.where(picks >= u, picks + 1, picks)
            adj[u, :m] = picks
            deg[u] = m
        return Graph(adj, deg)
    # sparse case (m << n, the at-scale path): batched rejection sampling —
    # rng.choice(replace=False) builds an O(n) permutation PER NODE, which
    # is O(n^2) for a multi-million-row shard; drawing 2m ints and deduping
    # succeeds for all but a vanishing fraction of nodes per round
    pending = np.arange(n)
    while len(pending):
        draw = rng.integers(0, n - 1, size=(len(pending), 2 * m))
        draw = np.where(draw >= pending[:, None], draw + 1, draw)
        still: list[int] = []
        for row, u in enumerate(pending):
            # keep first occurrences in draw order (deterministic)
            seen = dict.fromkeys(draw[row].tolist())
            uniq = list(seen)[:m]
            if len(uniq) < m:
                still.append(u)
                continue
            adj[u, :m] = uniq
            deg[u] = m
        pending = np.array(still, dtype=np.int64)
    return Graph(adj, deg)


def _dedup_keep_best(ids: np.ndarray, dists: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Keep min-dist per id (reference lib.rs:758-776)."""
    order = np.lexsort((dists, ids))  # by id, then dist
    ids, dists = ids[order], dists[order]
    first = np.ones(len(ids), dtype=bool)
    first[1:] = ids[1:] != ids[:-1]
    return ids[first], dists[first]


def robust_prune(
    u: int,
    cand_ids: np.ndarray,
    cand_dists: np.ndarray,
    vectors: np.ndarray,
    metric: str,
    max_degree: int,
    alpha: float,
    sqnorms: np.ndarray | None = None,
) -> np.ndarray:
    """Alpha-RNG pruning (reference lib.rs:1201-1279).

    Phase 1: scan candidates by (dist, id) asc; keep candidate c unless an
    already-selected s occludes it: ``alpha * d(c, s) <= d(c, u)``
    (lib.rs:1242-1263). Phase 2: backfill nearest rejected until
    ``max_degree`` (lib.rs:1266-1276).
    """
    ids, dists = _dedup_keep_best(cand_ids, cand_dists)
    keep = ids != u  # drop self (lib.rs:1224-1226)
    ids, dists = ids[keep], dists[keep]
    if len(ids) == 0:
        return np.empty(0, dtype=np.int64)
    order = np.lexsort((ids, dists))
    ids, dists = ids[order], dists[order]

    # Vectorized scan: equivalent to the reference's per-candidate loop but
    # with one batched distance evaluation per *selected* node (<= max_degree
    # calls) instead of one per candidate. status: 0 pending, 1 selected,
    # -1 occluded. Iteration order == (dist, id) order, so selections and
    # the phase-2 backfill pool come out in the reference's order.
    m = len(ids)
    cvecs = vectors[ids]
    dmat: np.ndarray | None = None
    if metric == "l2" and sqnorms is not None:
        c64 = cvecs.astype(np.float64, copy=False)
        sqc = sqnorms[ids]
        if m <= 1024:
            # one GEMM for the whole pairwise matrix beats <=max_degree
            # matvec calls (call overhead dominates at these sizes);
            # capped so huge candidate pools don't allocate O(m^2)
            d2 = sqc[:, None] - 2.0 * (c64 @ c64.T) + sqc[None, :]
            dmat = np.sqrt(np.maximum(d2, 0.0))

            def d_to(i: int) -> np.ndarray:
                return dmat[i]

        else:

            def d_to(i: int) -> np.ndarray:
                d2 = sqc - 2.0 * (c64 @ c64[i]) + sqc[i]
                return np.sqrt(np.maximum(d2, 0.0))

    else:

        def d_to(i: int) -> np.ndarray:
            return _dist_batch(metric, cvecs[i], cvecs)

    status = np.zeros(m, dtype=np.int8)
    selected: list[int] = []
    for i in range(m):
        if status[i] != 0:
            continue
        if len(selected) >= max_degree:
            break
        status[i] = 1
        selected.append(int(ids[i]))
        occ = (alpha * d_to(i) <= dists) & (status == 0)
        status[occ] = -1

    if len(selected) < max_degree:
        # Phase 2 backfill: nearest rejected first (already in order)
        pool = ids[status != 1]
        take = max_degree - len(selected)
        selected.extend(int(x) for x in pool[:take])
    return np.array(selected, dtype=np.int64)


def build_vamana(vectors: np.ndarray, params: IndexParams, seed: int) -> tuple[Graph, int]:
    """Full shard-local Vamana build (reference lib.rs:973-1133).

    Returns ``(graph, medoid)``. Deterministic given ``seed``.
    """
    n = vectors.shape[0]
    rng = np.random.default_rng(seed)
    slack = max(params.slack_limit, min(params.max_degree, max(n - 1, 1)))
    medoid = calculate_medoid(vectors, params.metric, seed)
    graph = _random_bootstrap(n, params.max_degree, slack, rng)
    if n <= 1:
        return graph, medoid
    sqn = sq_norms(vectors) if params.metric == "l2" else None

    for pass_idx in range(params.passes):
        # alpha schedule (lib.rs:1014-1020): first of multiple passes uses 1.0
        alpha = 1.0 if (params.passes > 1 and pass_idx == 0) else params.alpha
        order = rng.permutation(n)
        for start in range(0, n, MICRO_BATCH_CHUNK_SIZE):
            chunk = order[start : start + MICRO_BATCH_CHUNK_SIZE].astype(np.int64)
            # --- parallel-in-reference phase: per-node candidate generation
            # over a read snapshot of the graph (lib.rs:1028-1071), batched
            # through the lockstep kernel (each node's search is
            # independent within the snapshot, exactly like the
            # reference's rayon par_iter)
            S = 1 + max(params.extra_seeds, 0)
            seeds = np.empty((len(chunk), S), dtype=np.int64)
            seeds[:, 0] = medoid
            if params.extra_seeds > 0:
                seeds[:, 1:] = rng.integers(
                    0, n, (len(chunk), params.extra_seeds)
                )
            pools = greedy_search_batch_visited(
                vectors, graph, params.metric, seeds, vectors[chunk],
                params.build_beam_width, sqnorms=sqn,
            )
            new_lists: list[tuple[int, np.ndarray]] = []
            for u, (v_ids, v_dists) in zip(chunk, pools):
                # cap the prune pool to the nearest BUILD_POOL_CAP
                # candidates: on dense shards the visited pool reaches
                # 1000+, and far candidates are either occluded in phase 1
                # or outranked in the phase-2 backfill — they cannot
                # change the selected set's quality, only the prune cost
                if len(v_ids) > BUILD_POOL_CAP:
                    part = np.argpartition(v_dists, BUILD_POOL_CAP)[:BUILD_POOL_CAP]
                    v_ids, v_dists = v_ids[part], v_dists[part]
                # candidate pool = visited + current neighbors (lib.rs:1034-1071)
                cur = graph.neighbors(u).astype(np.int64)
                if len(cur):
                    cur_d = _make_dist_ids(params.metric, vectors, vectors[u], sqn)(cur)
                    v_ids = np.concatenate([v_ids, cur])
                    v_dists = np.concatenate([v_dists, cur_d])
                pruned = robust_prune(
                    int(u), v_ids, v_dists, vectors, params.metric,
                    params.max_degree, alpha, sqnorms=sqn,
                )
                new_lists.append((int(u), pruned))
            # --- sequential merge: commit + reverse edges + slack re-prune
            # (lib.rs:784-914)
            _merge_chunk(graph, new_lists, vectors, params, alpha, sqn)

    # final degree-enforcement sweep (lib.rs:1111-1132)
    for u in range(n):
        if graph.deg[u] > params.max_degree:
            nbrs = graph.neighbors(u).astype(np.int64)
            d = _make_dist_ids(params.metric, vectors, vectors[u], sqn)(nbrs)
            pruned = robust_prune(
                u, nbrs, d, vectors, params.metric, params.max_degree,
                params.alpha, sqnorms=sqn,
            )
            _set_neighbors(graph, u, pruned)
    _repair_connectivity(graph, vectors, params, medoid, sqn)
    return graph, medoid


def _repair_connectivity(
    graph: Graph,
    vectors: np.ndarray,
    params: IndexParams,
    medoid: int,
    sqn: np.ndarray | None,
) -> None:
    """Deterministic post-build connectivity repair (engine addition — the
    reference has no equivalent and can ship a disconnected graph).

    On strongly clustered data, alpha-pruning fills every out-list with
    same-cluster candidates (occlusion is weak in high dimension, so the
    ``max_degree`` nearest candidates win all slots) and whole clusters
    disconnect from the medoid's component — beam search from the medoid
    (lib.rs:644-687 starts ONLY there) then never reaches them and recall
    collapses. Repair: BFS from the medoid; while unreached nodes remain,
    take the unreached node v closest to the medoid, link it
    bidirectionally with its nearest reached node u (appending within the
    degree bound, else replacing the current farthest out-neighbor). Each
    bridge merges a component; a no-op on already-connected graphs, so
    search results on them are untouched.
    """
    n = vectors.shape[0]
    if n <= 1:
        return
    dist_to = lambda x, ids: _make_dist_ids(  # noqa: E731
        params.metric, vectors, vectors[x], sqn
    )(np.asarray(ids, dtype=np.int64))

    def bridge(u: int, v: int) -> None:
        # append if a slot is free under max_degree, else replace the
        # farthest current neighbor (keeps the degree invariant)
        if v in graph.neighbors(u):
            return
        if graph.deg[u] < min(params.max_degree, graph.adj.shape[1]):
            graph.adj[u, graph.deg[u]] = v
            graph.deg[u] += 1
            return
        nbrs = graph.neighbors(u).astype(np.int64)
        worst = int(np.argmax(dist_to(u, nbrs)))
        graph.adj[u, worst] = v

    cap = graph.adj.shape[1]
    col_idx = np.arange(cap)[None, :]
    reached = np.zeros(n, dtype=bool)

    def bfs_from(starts: np.ndarray) -> None:
        # frontier-level BFS, whole levels as numpy ops. BFS is
        # incremental in `reached`, so after each bridge we continue from
        # the bridged node alone — the round-1 implementation restarted a
        # per-node Python BFS per component and was 40% of a clustered
        # shard's build time.
        frontier = starts[~reached[starts]]
        while len(frontier):
            reached[frontier] = True
            nbrs = graph.adj[frontier]
            valid = col_idx < graph.deg[frontier][:, None]
            cand = np.unique(nbrs[valid])
            frontier = cand[~reached[cand]]

    bfs_from(np.array([medoid], dtype=np.int64))
    while not reached.all():
        un = np.nonzero(~reached)[0]
        re = np.nonzero(reached)[0]
        v = int(un[np.argmin(dist_to(medoid, un))])
        u = int(re[np.argmin(dist_to(v, re))])
        bridge(u, v)
        bridge(v, u)
        bfs_from(np.array([v], dtype=np.int64))


def select_entry_points(
    vectors: np.ndarray,
    metric: str,
    medoid: int,
    count: int,
    sqnorms: np.ndarray | None = None,
) -> np.ndarray:
    """Farthest-point-sampled search entry points, medoid first.

    Greedy 2-approximation of the k-center problem: each new entry is the
    point maximizing its distance to the nearest already-chosen entry
    (ties -> lowest id). With well-separated clusters this lands one entry
    per cluster before refining, which is exactly what multi-entry beam
    search needs. Deterministic; O(n * count) distance evaluations.
    """
    n = vectors.shape[0]
    count = max(1, min(count, n))
    chosen = [int(medoid)]
    mind = _dist_batch(metric, vectors[medoid], vectors)
    while len(chosen) < count:
        nxt = int(np.argmax(mind))  # argmax -> first (lowest id) on ties
        if mind[nxt] <= 0.0:
            break  # all remaining points coincide with an entry
        chosen.append(nxt)
        mind = np.minimum(mind, _dist_batch(metric, vectors[nxt], vectors))
    return np.array(chosen, dtype=np.int64)


def _set_neighbors(graph: Graph, u: int, nbrs: np.ndarray) -> None:
    k = len(nbrs)
    graph.adj[u, :k] = nbrs
    graph.adj[u, k:] = PAD
    graph.deg[u] = k


def _merge_chunk(
    graph: Graph,
    new_lists: list[tuple[int, np.ndarray]],
    vectors: np.ndarray,
    params: IndexParams,
    alpha: float,
    sqnorms: np.ndarray | None = None,
) -> None:
    """Commit chunk out-lists, scatter reverse edges, re-prune any node whose
    list exceeds the slack limit (reference lib.rs:784-914)."""
    slack_limit = params.slack_limit
    cap = graph.adj.shape[1]
    touched: set[int] = set()
    for u, nbrs in new_lists:
        _set_neighbors(graph, u, nbrs)
        for v in nbrs:
            v = int(v)
            if v == u:
                continue
            cur = graph.neighbors(v)
            if u in cur:
                continue
            if graph.deg[v] < cap:
                graph.adj[v, graph.deg[v]] = u
                graph.deg[v] += 1
            if graph.deg[v] >= min(slack_limit, cap):
                touched.add(v)
    for v in touched:
        nbrs = graph.neighbors(v).astype(np.int64)
        d = _make_dist_ids(params.metric, vectors, vectors[v], sqnorms)(nbrs)
        pruned = robust_prune(
            v, nbrs, d, vectors, params.metric, params.max_degree, alpha,
            sqnorms=sqnorms,
        )
        _set_neighbors(graph, v, pruned)


def beam_search(
    vectors: np.ndarray,
    graph: Graph,
    metric: str,
    medoid: int,
    query: np.ndarray,
    k: int,
    beam_width: int,
    sqnorms: np.ndarray | None = None,
    entries: np.ndarray | None = None,
    quant: QuantizedCorpus | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Query-time top-k (reference lib.rs:635-693): beam search from the
    medoid (plus any extra ``entries`` — see IndexParams.entry_points),
    then sort by (dist, id) and truncate to k. Callers with many queries
    should pass ``sqnorms=sq_norms(vectors)`` computed once.

    Delegates to the vectorized kernel (:func:`_beam_block`) with a
    single-query block, so the sequential and batch paths are one
    implementation and bit-identical by construction.
    """
    beam = max(beam_width, k)
    if metric in ("l2", "cosine") and sqnorms is None:
        sqnorms = sq_norms(vectors)
    return _beam_block(
        vectors, graph, metric, medoid,
        np.asarray(query)[None, :], k, beam, sqnorms, entries, quant=quant,
    )[0]


def beam_search_batch(
    vectors: np.ndarray,
    graph: Graph,
    metric: str,
    medoid: int,
    qmat: np.ndarray,
    k: int,
    beam_width: int,
    sqnorms: np.ndarray | None = None,
    max_block: int = 64,
    entries: np.ndarray | None = None,
    fanout: int = FANOUT,
    quant: QuantizedCorpus | None = None,
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Lockstep batch of :func:`beam_search` — identical per-query results
    (asserted in tests): each query's state machine is independent, so
    advancing every active query by exactly ``fanout`` expansions per
    round is blind to the block composition. All per-round work
    (candidate gather, distance eval, working-set merge) is numpy across
    the whole block — no per-candidate Python. Queries run in blocks of
    ``max_block`` to bound the packed visited-set words.

    ``quant``: optional int8 traversal view (:func:`quantize_corpus`) —
    l2 only; final (dist, id) output stays full-precision via the f64
    re-score.
    """
    n = vectors.shape[0]
    beam = max(beam_width, k)
    if metric in ("l2", "cosine") and sqnorms is None:
        sqnorms = sq_norms(vectors)
    if n >= NATIVE_MIN_ROWS and metric in ("l2", "hamming", "dot", "cosine"):
        res = _native_l2_batch(
            vectors, graph, medoid, qmat, k, beam, sqnorms, entries, quant,
            metric,
        )
        if res is not None:
            return res
    out: list[tuple[np.ndarray, np.ndarray]] = []
    # bound the id-major packed visited words (8 * ceil(block/64) bytes
    # per corpus id) to ~64 MB per block
    block = max(1, min(max_block, 64 * max(1, (8 << 20) // max(n, 1))))
    for lo in range(0, len(qmat), block):
        out.extend(
            _beam_block(
                vectors, graph, metric, medoid, qmat[lo : lo + block],
                k, beam, sqnorms, entries, fanout, quant=quant,
            )
        )
    return out


# native kernel cut-in: below this the numpy kernel is already fast and
# keeping small shards on the one reference implementation preserves the
# degenerate-oracle bit-exactness the contract tests rely on
NATIVE_MIN_ROWS = 4096


def _native_l2_batch(
    vectors, graph, medoid, qmat, k, beam, sqnorms, entries, quant,
    metric="l2",
) -> list[tuple[np.ndarray, np.ndarray]] | None:
    """Run the batch through the compiled C kernel (core/native.py) and
    finalize in f64 exactly like _beam_block: the kernel returns each
    query's full working set ordered by squared-f32 traversal distance;
    re-scoring every surviving entry against the full-precision vectors
    and re-sorting by (dist, id) makes the returned rankings match the
    numpy kernel's finalization. None -> caller falls back to numpy.

    ``metric="cosine"`` traverses through the int8 l2 kernel when a
    NORMALIZED QuantizedCorpus is supplied (on unit vectors squared l2
    is monotonic with cosine distance); otherwise (r6 verdict item #7)
    through kernel mode 3, which scores true cosine against the raw f32
    rows with the query pre-normalized wrapper-side — either way the
    finalize re-scores true f64 cosine."""
    from rust_diskann_spark.core import native

    if native.get_lib() is None:
        return None
    if entries is None:
        seeds = np.array([medoid], dtype=np.int64)
    else:
        seeds = np.array(
            sorted({int(medoid), *(int(e) for e in entries)}), dtype=np.int64
        )
    if metric == "hamming":
        # word-packed uint64 rows; popcount distances are exact integers
        codes = None
        vec_f32 = np.ascontiguousarray(vectors, dtype=np.int64)
        q_in = np.ascontiguousarray(qmat, dtype=np.int64)
    elif metric == "dot":
        # negated-IP traversal (1 - a.b in-kernel); raw f32 rows — the
        # int8 code view is an l2 isometry, not an IP one, so dot always
        # traverses full-precision and re-scores 1 - a.b in f64 below
        codes = None
        vec_f32 = (
            vectors
            if vectors.dtype == np.float32 and vectors.flags.c_contiguous
            else np.ascontiguousarray(vectors, dtype=np.float32)
        )
        q_in = np.ascontiguousarray(qmat, dtype=np.float32)
    elif metric == "cosine" and quant is not None and quant.normalized:
        # normalized-code traversal: unit vectors make squared int8 l2
        # monotonic with cosine distance (rides MODE_L2 over the codes)
        codes = quant.codes
        q64n = np.asarray(qmat, dtype=np.float64)
        qn = np.sqrt(np.einsum("ij,ij->i", q64n, q64n))
        q_unit = q64n / np.where(qn > 0, qn, 1.0)[:, None]
        q_in = np.clip(np.rint(q_unit * quant.scale), -127, 127).astype(
            np.float32
        )
        vec_f32 = None
    elif metric == "cosine":
        # raw-cosine traversal (kernel mode 3): normalize the query in
        # f64 wrapper-side; the kernel computes 1 - a.q_hat/|a| against
        # the full-precision rows (corpus norms fused into the row scan)
        codes = None
        q64n = np.asarray(qmat, dtype=np.float64)
        qn = np.sqrt(np.einsum("ij,ij->i", q64n, q64n))
        q_in = (q64n / np.where(qn > 0, qn, 1.0)[:, None]).astype(np.float32)
        vec_f32 = (
            vectors
            if vectors.dtype == np.float32 and vectors.flags.c_contiguous
            else np.ascontiguousarray(vectors, dtype=np.float32)
        )
    elif quant is not None and not quant.normalized:
        codes = quant.codes
        q_in = np.clip(
            np.rint(np.asarray(qmat, dtype=np.float64) * quant.scale),
            -127, 127,
        ).astype(np.float32)
        vec_f32 = None
    else:
        codes = None
        vec_f32 = (
            vectors
            if vectors.dtype == np.float32 and vectors.flags.c_contiguous
            else np.ascontiguousarray(vectors, dtype=np.float32)
        )
        q_in = np.ascontiguousarray(qmat, dtype=np.float32)
    out = native.native_beam_batch(
        vec_f32, codes, graph.adj, graph.deg, seeds, q_in, beam,
        mode=(
            native.MODE_HAMMING
            if metric == "hamming"
            else native.MODE_DOT
            if metric == "dot"
            else native.MODE_COS
            if metric == "cosine" and codes is None
            else native.MODE_L2
        ),
    )
    if out is None:
        return None
    if metric == "hamming":
        # kernel distances are exact integers and the working set is
        # already (dist, id)-sorted — no re-score pass needed
        wi_h, wd_h = out
        results = []
        for i in range(len(qmat)):
            real = wi_h[i] >= 0
            results.append(
                (wi_h[i][real][:k], wd_h[i][real][:k].astype(np.float64))
            )
        return results
    wi, _ = out  # (nq, beam) int64, -1 padded
    nq = len(qmat)
    q64 = np.asarray(qmat, dtype=np.float64)
    qq = np.einsum("ij,ij->i", q64, q64)
    wd = np.full((nq, beam), np.inf, dtype=np.float64)
    wid = np.full((nq, beam), _PAD_ID, dtype=np.int64)
    # re-score in query BLOCKS: the whole-batch form materialized
    # (nq*beam, dim) f64 temporaries (~270 MB at 512 queries x beam 512
    # x 128-d) whose allocation/fault cost swung finalize time 0.8-4.0 s
    # between identical runs (r8 split). A block gathers at most 2^20
    # elements (8 MB of f64 per temporary: 64 queries at beam 512 x
    # 32-d): at 2^22, a 256-query block of that shape grew each worker's
    # RSS by ~36 MB on its first batch. Same einsum form and per-element
    # math — reduction runs over j within each row, so chunking rows is
    # bit-exact (tests/test_vamana_core.py pins it).
    blk = max(1, (1 << 20) // max(beam * int(qmat.shape[1]), 1))
    for lo in range(0, nq, blk):
        hi = min(lo + blk, nq)
        wi_b = wi[lo:hi]
        rws, cls = np.nonzero(wi_b >= 0)
        ids_flat = wi_b[rws, cls]
        if metric == "cosine":
            rows64 = vectors[ids_flat].astype(np.float64)
            num = np.einsum("ij,ij->i", rows64, q64[lo + rws])
            denom = np.sqrt(
                np.einsum("ij,ij->i", rows64, rows64) * qq[lo + rws]
            )
            safe = np.where(denom > 0, denom, 1.0)
            d64 = 1.0 - np.where(denom > 0, num / safe, 0.0)
        elif metric == "dot":
            # same f64 re-score formula as the numpy kernel's
            # finalization (_beam_block's `d64 = 1.0 - num`), so
            # degenerate-regime output (beam >= n: working set holds
            # every node) is bit-identical
            rows64 = vectors[ids_flat].astype(np.float64)
            d64 = 1.0 - np.einsum("ij,ij->i", rows64, q64[lo + rws])
        else:
            d64 = np.sqrt(
                np.maximum(
                    sqnorms[ids_flat]
                    - 2.0
                    * np.einsum("ij,ij->i", vectors[ids_flat], q64[lo + rws])
                    + qq[lo + rws],
                    0.0,
                )
            )
        wd[lo + rws, cls] = d64
        wid[lo + rws, cls] = ids_flat
    # top-k selection WITHOUT the full (nq, beam) lexsort: partition each
    # row to its kth-smallest distance, keep everything <= that threshold
    # (so distance TIES at the boundary stay in), then (dist, id)-lexsort
    # only the ~k survivors per row — beam/k x less sort+gather work than
    # sorting whole rows (the finalize was ~29% of beam-512 search time,
    # r8 single-proc split). Exactness: the kept set is a superset of the
    # true top-k by (dist, id) — anything outside it has a strictly
    # larger distance — and the small lexsort applies the same total
    # order, so output is bit-identical to the full-sort finalize (tests
    # assert native == numpy-kernel results).
    kk = min(k, beam)
    thresh = np.partition(wd, kk - 1, axis=1)[:, kk - 1]
    r2, c2 = np.nonzero(wd <= thresh[:, None])
    d_sel, i_sel = wd[r2, c2], wid[r2, c2]
    order = np.lexsort((i_sel, d_sel, r2))
    r2, d_sel, i_sel = r2[order], d_sel[order], i_sel[order]
    real = i_sel != _PAD_ID  # pads (dist inf) survive only in underfull rows
    r2, d_sel, i_sel = r2[real], d_sel[real], i_sel[real]
    starts = np.searchsorted(r2, np.arange(nq + 1))
    results = []
    for i in range(nq):
        s, e = starts[i], min(starts[i + 1], starts[i] + k)
        results.append((i_sel[s:e], d_sel[s:e]))
    return results


_PAD_ID = np.iinfo(np.int64).max  # sorts after every real id on dist ties


def greedy_search_batch_visited(
    vectors: np.ndarray,
    graph: Graph,
    metric: str,
    seeds_per_q: np.ndarray,
    qmat: np.ndarray,
    beam_width: int,
    sqnorms: np.ndarray | None = None,
    max_block: int = 64,
    fanout: int = FANOUT,
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Batched build-path candidate generation: per-query VISITED pools
    (reference lib.rs:1140-1198's collect_visited greedy search), run
    through the vectorized lockstep kernel. The reference runs one
    sequential search per node inside its rayon loop; a micro-batch
    chunk's searches all read the same graph snapshot, so they batch the
    same way query search does — this is what turns the Python-heap build
    hot loop into whole-block numpy.
    """
    n = vectors.shape[0]
    if metric in ("l2", "cosine") and sqnorms is None:
        sqnorms = sq_norms(vectors)
    if metric == "l2" and n >= NATIVE_MIN_ROWS:
        # native collect path (r3): same greedy, pool capped in-kernel to
        # BUILD_POOL_CAP nearest (the numpy path collects everything and
        # build_vamana argpartitions to the same cap downstream)
        from rust_diskann_spark.core import native

        out_n = native.native_build_collect(
            np.ascontiguousarray(vectors, dtype=np.float32),
            graph.adj, graph.deg,
            np.asarray(seeds_per_q, dtype=np.int64),
            np.asarray(qmat, dtype=np.float32),
            beam_width, BUILD_POOL_CAP,
        )
        if out_n is not None:
            wi, wd = out_n
            results = []
            for i in range(len(qmat)):
                real = wi[i] >= 0
                results.append(
                    (
                        wi[i][real],
                        np.sqrt(
                            np.maximum(wd[i][real].astype(np.float64), 0.0)
                        ),
                    )
                )
            return results
    out: list[tuple[np.ndarray, np.ndarray]] = []
    block = max(1, min(max_block, 64 * max(1, (8 << 20) // max(n, 1))))
    for lo in range(0, len(qmat), block):
        out.extend(
            _beam_block(
                vectors, graph, metric, 0, qmat[lo : lo + block],
                beam_width, beam_width, sqnorms, None, fanout,
                seeds_per_q=seeds_per_q[lo : lo + block], collect=True,
            )
        )
    return out


def _beam_block(vectors, graph, metric, medoid, qblock, k, beam, sqnorms,
                entries=None, fanout=FANOUT, seeds_per_q=None, collect=False,
                quant=None):
    """Vectorized classical Vamana search over a block of queries.

    State per query is a (dist, id, expanded) working set of size ``beam``
    kept sorted by (dist, id) in flat numpy arrays — the DiskANN paper's
    candidate list L. Each round expands, for every still-active query,
    its ``fanout`` best unexpanded candidates; neighbor gather,
    visited-filter, distance eval, and the sorted merge back into the
    working sets are all whole-block numpy ops (``np.lexsort`` per
    round), no per-candidate Python. Terminates per query when its entire
    working set is expanded.

    Deviation from the reference's frontier-heap formulation
    (lib.rs:635-693, round 1's implementation): candidates evicted from
    the working set are never re-expanded, and up to ``fanout``
    candidates expand per round. This is the textbook DiskANN greedy
    search (with the disk-variant's multi-expand); in the degenerate
    regime (beam >= n, connected graph) both explore every node and
    return identical exact top-k, and the recall gates in
    tests/test_vamana_core.py hold unchanged.

    ``seeds_per_q`` ((B, S) int64) gives each query its own seed set
    (build-path: medoid + per-node random extra seeds) instead of the
    shared ``medoid``/``entries``. ``collect=True`` switches the return
    to the per-query VISITED pool — every (id, dist) the search ever
    evaluated — which is the candidate pool the Vamana build prunes
    (reference lib.rs:1140-1198).
    """
    n = vectors.shape[0]
    B = len(qblock)
    q64 = np.asarray(qblock, dtype=np.float64)
    use_norm = metric == "l2" and sqnorms is not None
    # int8 traversal (see QuantizedCorpus): code-space SQUARED distances
    # (monotonic with real l2 — no sqrt needed mid-search) over int8
    # gathers; blocked on the collect path because the build prunes on
    # the traversal distances themselves.
    use_quant = (
        use_norm and quant is not None and not quant.normalized and not collect
    )
    if use_norm:
        qq = np.einsum("ij,ij->i", q64, q64)
        # f32 traversal: the candidate-eval einsum is the kernel's dominant
        # memory traffic, and an all-f32 pipeline halves it (the old mixed
        # f32xf64 einsum upcast every gathered row to f64 inside the
        # kernel). f32's ~1e-7 relative error only perturbs orderings at
        # near-ties mid-search; the finalization below re-scores the
        # surviving working set in f64 with the exact old formula, so the
        # RETURNED (dist, id) ordering is full-precision — in the
        # degenerate oracle regime (beam >= n: the working set holds every
        # node) the output is bit-identical to an all-f64 traversal.
        if use_quant:
            qcode = np.clip(np.rint(q64 * quant.scale), -127, 127).astype(
                np.float32
            )
            qq_code = np.einsum("ij,ij->i", qcode, qcode)
            codes, sqn_code = quant.codes, quant.sqn_q
        else:
            q32 = np.asarray(qblock, dtype=np.float32)
            qq32 = qq.astype(np.float32)
            sqn32 = sqnorms.astype(np.float32)
    elif metric in ("cosine", "dot"):
        # same f32-traversal/f64-finalize scheme as l2 (comment above);
        # replaces the r2 per-query _rowwise_dist Python loop per round
        q32 = np.asarray(qblock, dtype=np.float32)
        if metric == "cosine":
            mn32 = (
                np.sqrt(sqnorms).astype(np.float32)
                if sqnorms is not None
                else np.sqrt(np.einsum("ij,ij->i", vectors, vectors))
            )
            qn32 = np.sqrt(np.einsum("ij,ij->i", q32, q32))
    elif metric == "hamming":
        q_int = np.asarray(qblock, dtype=np.uint64)

    def dists_for(qidx: np.ndarray, ids: np.ndarray) -> np.ndarray:
        if use_quant:
            # int8 gather (4x fewer bytes off the corpus array than f32),
            # cache-resident f32 upcast of just the gathered rows, code-
            # space squared distance — ordering-equivalent to real l2
            rows = codes[ids].astype(np.float32)
            return (
                sqn_code[ids]
                - 2.0 * np.einsum("ij,ij->i", rows, qcode[qidx])
                + qq_code[qidx]
            )
        if use_norm:
            rows = vectors[ids]
            qrows = q32[qidx]
            d2 = sqn32[ids] - 2.0 * np.einsum("ij,ij->i", rows, qrows) + qq32[qidx]
            return np.sqrt(np.maximum(d2, 0.0))
        if metric == "cosine":
            num = np.einsum("ij,ij->i", vectors[ids], q32[qidx])
            denom = mn32[ids] * qn32[qidx]
            safe = np.where(denom > 0, denom, 1.0)
            return 1.0 - np.where(denom > 0, num / safe, 0.0)
        if metric == "dot":
            return 1.0 - np.einsum("ij,ij->i", vectors[ids], q32[qidx])
        if metric == "hamming":
            x = np.bitwise_xor(vectors[ids].astype(np.uint64), q_int[qidx])
            v = x.view(np.uint8)
            return (
                _POPCOUNT_LUT[v].reshape(len(ids), -1).sum(axis=1).astype(np.float64)
            )
        return _rowwise_dist(metric, qblock, qidx, vectors, ids)

    # working sets: (B, beam), sorted by (dist, id); pads expanded=True so
    # they are never selected for expansion
    wd = np.full((B, beam), np.inf, dtype=np.float64)
    wi = np.full((B, beam), _PAD_ID, dtype=np.int64)
    we = np.ones((B, beam), dtype=bool)
    # visited set, id-major bit-packed: one uint64 word-group per corpus
    # id, bit b = "query-lane b visited this id". 8x smaller than a
    # (B, n) bool bitmap (8 MB vs 64 MB per block at n=1M, B=64) and one
    # cache line of words serves all lanes of the block — a bool layout
    # makes every lane pull its own line for the same candidate id.
    # Blocks wider than 64 use W = ceil(B/64) words per id (r3: replaces
    # the bool-bitmap fallback entirely), keeping wide blocks packed so
    # per-round Python dispatch amortizes over more lanes.
    # Result-identical to the bool bitmap in all cases.
    W = (B + 63) >> 6
    if W == 1:
        vwords = np.zeros(n, dtype=np.uint64)
    else:
        vwords = np.zeros((n, W), dtype=np.uint64)

    coll_r: list[np.ndarray] = []
    coll_i: list[np.ndarray] = []
    coll_d: list[np.ndarray] = []

    if seeds_per_q is not None:
        S = seeds_per_q.shape[1]
        ss = np.sort(np.asarray(seeds_per_q, dtype=np.int64), axis=1)
        lanes = np.repeat(np.arange(B, dtype=np.int64), S)
        if W == 1:
            np.bitwise_or.at(
                vwords, ss.ravel(), np.uint64(1) << lanes.astype(np.uint64)
            )
        else:
            np.bitwise_or.at(
                vwords,
                (ss.ravel(), lanes >> 6),
                np.uint64(1) << (lanes & 63).astype(np.uint64),
            )
        d0 = dists_for(
            np.repeat(np.arange(B, dtype=np.int64), S), ss.ravel()
        ).reshape(B, S)
        if collect:
            dup0 = np.zeros_like(ss, dtype=bool)
            dup0[:, 1:] = ss[:, 1:] == ss[:, :-1]
            keep0 = ~dup0.ravel()
            coll_r.append(np.repeat(np.arange(B, dtype=np.int64), S)[keep0])
            coll_i.append(ss.ravel()[keep0])
            coll_d.append(d0.ravel()[keep0])
        # duplicate seeds within a row would break the working set's
        # dup-free invariant: pad them out before the init sort
        dup = np.zeros_like(ss, dtype=bool)
        dup[:, 1:] = ss[:, 1:] == ss[:, :-1]
        d0 = np.where(dup, np.inf, d0)
        sid_mat = np.where(dup, _PAD_ID, ss)
        m0 = min(S, beam)
        order0 = np.lexsort((sid_mat, d0))[:, :m0]
        wd[:, :m0] = np.take_along_axis(d0, order0, axis=1)
        wi[:, :m0] = np.take_along_axis(sid_mat, order0, axis=1)
        we[:, :m0] = wi[:, :m0] == _PAD_ID
    else:
        if entries is None:
            seed_ids = np.array([medoid], dtype=np.int64)
        else:
            seed_ids = np.array(sorted(set(int(e) for e in entries)), dtype=np.int64)
        E = len(seed_ids)
        d0 = dists_for(
            np.repeat(np.arange(B, dtype=np.int64), E), np.tile(seed_ids, B)
        ).reshape(B, E)
        # seed every entry point for every query. Measured r2 (100k merged
        # demo, 78 entries): per-query nearest-p entry routing saved no time
        # (far seeds are evicted without ever being expanded; the d0 routing
        # matrix already costs the same einsum) and LOWERED recall ~2.5pt —
        # distant entries act as free long-range shortcuts. So: all seeds.
        if W == 1:
            vwords[seed_ids] |= np.uint64((1 << B) - 1)
        else:
            full = np.full(W, np.iinfo(np.uint64).max, dtype=np.uint64)
            rem = B & 63
            if rem:
                full[-1] = np.uint64((1 << rem) - 1)
            vwords[seed_ids] |= full
        if collect:
            coll_r.append(np.repeat(np.arange(B, dtype=np.int64), E))
            coll_i.append(np.tile(seed_ids, B))
            coll_d.append(d0.ravel())
        m0 = min(E, beam)
        order0 = np.lexsort((np.broadcast_to(seed_ids, (B, E)), d0))[:, :m0]
        wd[:, :m0] = np.take_along_axis(d0, order0, axis=1)
        wi[:, :m0] = seed_ids[order0]
        we[:, :m0] = False

    adj, deg = graph.adj, graph.deg
    cap = adj.shape[1]
    col_idx = np.arange(cap)[None, :]

    while True:
        unexp = ~we
        row_active = unexp.any(axis=1)
        n_active = int(row_active.sum())
        if n_active == 0:
            break
        # up to `fanout` best unexpanded entries per query (rows sorted by
        # (dist, id), so a prefix-count mask selects the best ones).
        # Adaptive: as queries terminate, spend the block's whole
        # expansion budget (B*fanout) on the stragglers — per-round numpy
        # work stays flat while the overhead-dominated tail of rounds
        # (few active queries, ~constant Python dispatch cost per round)
        # shortens proportionally. Extra expansions only grow the
        # explored set, so recall is unaffected.
        fanout_eff = min(beam, max(fanout, (B * fanout) // n_active))
        sel = unexp & (np.cumsum(unexp, axis=1) <= fanout_eff)
        rws, cls = np.nonzero(sel)  # row-major order
        cur = wi[rws, cls]
        we[rws, cls] = True

        nbrs = adj[cur]  # (S, cap) int32, PAD-padded
        valid = (col_idx < deg[cur][:, None]).ravel()
        rows = np.repeat(rws, cap)[valid]  # nondecreasing
        ids = nbrs.ravel()[valid].astype(np.int64)
        if W == 1:
            fresh = (vwords[ids] >> rows.astype(np.uint64)) & np.uint64(1) == 0
        else:
            fresh = (
                vwords[ids, rows >> 6] >> (rows & 63).astype(np.uint64)
            ) & np.uint64(1) == 0
        rows, ids = rows[fresh], ids[fresh]
        if len(ids) == 0:
            continue
        # dedup (row, id): two same-round expansions of one query can
        # share a neighbor, and the working set must stay duplicate-free
        key = np.unique(rows * n + ids)
        rows, ids = key // n, key % n
        if W == 1:
            # vectorized scatter-OR: np.bitwise_or.at is a per-element
            # scalar ufunc loop (~8% of kernel time profiled at 1M);
            # ids arrive sorted by (row, id), so sort by id and OR-reduce
            # each id's bit group with C-speed reduceat, then one
            # fancy-index OR-assign per distinct id
            bits = np.uint64(1) << rows.astype(np.uint64)
            order = np.argsort(ids, kind="stable")
            sid = ids[order]
            starts = np.concatenate(
                ([0], np.nonzero(np.diff(sid))[0] + 1)
            )
            vwords[sid[starts]] |= np.bitwise_or.reduceat(bits[order], starts)
        else:
            np.bitwise_or.at(
                vwords,
                (ids, rows >> 6),
                np.uint64(1) << (rows & 63).astype(np.uint64),
            )
        ds = dists_for(rows, ids)
        if collect:
            coll_r.append(rows)
            coll_i.append(ids)
            coll_d.append(ds)
        # admission prefilter: a candidate at or past the row's current
        # worst working-set entry can never enter the top-beam, so drop
        # it before the merge sort (result-identical; shrinks the
        # per-round lexsort width on converged rows). Rows with free
        # slots have wd[...,-1] == inf and keep everything.
        adm = ds < wd[rows, beam - 1]
        if not adm.all():
            rows, ids, ds = rows[adm], ids[adm], ds[adm]
            if len(ids) == 0:
                continue

        # scatter candidates into a dense (A, maxc) pad matrix
        act = np.unique(rws)
        A = len(act)
        cnt = np.bincount(rows, minlength=B)[act]
        maxc = int(cnt.max())
        row_to_a = np.zeros(B, dtype=np.int64)
        row_to_a[act] = np.arange(A)
        a_of = row_to_a[rows]
        starts = np.concatenate(([0], np.cumsum(cnt)[:-1]))
        col = np.arange(len(rows)) - starts[a_of]
        cand_d = np.full((A, maxc), np.inf, dtype=np.float64)
        cand_i = np.full((A, maxc), _PAD_ID, dtype=np.int64)
        cand_d[a_of, col] = ds
        cand_i[a_of, col] = ids

        # merge candidates into the sorted working sets (one lexsort/round)
        all_d = np.concatenate([wd[act], cand_d], axis=1)
        all_i = np.concatenate([wi[act], cand_i], axis=1)
        all_e = np.concatenate([we[act], cand_i == _PAD_ID], axis=1)
        take = np.lexsort((all_i, all_d))[:, :beam]
        wd[act] = np.take_along_axis(all_d, take, axis=1)
        wi[act] = np.take_along_axis(all_i, take, axis=1)
        we[act] = np.take_along_axis(all_e, take, axis=1)

    if collect:
        R = np.concatenate(coll_r)
        I = np.concatenate(coll_i)
        D = np.concatenate(coll_d)
        order = np.argsort(R, kind="stable")
        R, I, D = R[order], I[order], D[order]
        bounds = np.cumsum(np.bincount(R, minlength=B))[:-1]
        return list(zip(np.split(I, bounds), np.split(D, bounds)))

    if use_norm or metric in ("cosine", "dot"):
        # f64 finalization: re-score every surviving working-set entry in
        # float64 (for l2, the pre-r3 mixed f32xf64 norm-trick einsum —
        # numpy upcasts the f32 rows inside the kernel, bit-identical to
        # gather+astype) and re-sort, so callers see full-precision
        # (dist, id) order despite the f32 traversal. Hamming dists are
        # integers, exact already.
        rws, cls = np.nonzero(wi != _PAD_ID)
        ids_flat = wi[rws, cls]
        if use_norm:
            d64 = np.sqrt(
                np.maximum(
                    sqnorms[ids_flat]
                    - 2.0 * np.einsum("ij,ij->i", vectors[ids_flat], q64[rws])
                    + qq[rws],
                    0.0,
                )
            )
        else:
            rows64 = vectors[ids_flat].astype(np.float64)
            num = np.einsum("ij,ij->i", rows64, q64[rws])
            if metric == "cosine":
                denom = np.sqrt(
                    np.einsum("ij,ij->i", rows64, rows64)
                    * np.einsum("ij,ij->i", q64[rws], q64[rws])
                )
                safe = np.where(denom > 0, denom, 1.0)
                d64 = 1.0 - np.where(denom > 0, num / safe, 0.0)
            else:  # dot
                d64 = 1.0 - num
        wd = np.full((B, beam), np.inf, dtype=np.float64)
        wd[rws, cls] = d64
        order = np.lexsort((wi, wd))
        wd = np.take_along_axis(wd, order, axis=1)
        wi = np.take_along_axis(wi, order, axis=1)

    results = []
    for i in range(B):
        real = wi[i] != _PAD_ID
        results.append((wi[i][real][:k], wd[i][real][:k]))
    return results


def _rowwise_dist(metric, qblock, qidx, vectors, ids):
    """Generic (non-l2) fallback: per-query segments evaluated with the
    batch kernel, reassembled in input order."""
    out = np.empty(len(ids), dtype=np.float64)
    for i in np.unique(qidx):
        m = qidx == i
        out[m] = _dist_batch(metric, qblock[i], vectors[ids[m]])
    return out


def graph_from_lists(lists: list[list[int]], max_degree: int) -> Graph:
    """Rebuild a Graph from per-node neighbor lists (index open path)."""
    n = len(lists)
    cap = max(max_degree, max((len(l) for l in lists), default=1), 1)
    adj = np.full((n, cap), PAD, dtype=np.int32)
    deg = np.zeros(n, dtype=np.int32)
    for i, l in enumerate(lists):
        adj[i, : len(l)] = l
        deg[i] = len(l)
    return Graph(adj, deg)
