"""Distributed Vamana graph build (reference A1/A11 + B3-B10).

Design — shard-and-merge (reference README.md:157 documents this pattern as
exactly equivalent to a single index when per-shard k' >= k at search):

1. hash-assign every vector to one of ``num_shards`` shards (``id %
   num_shards`` — deterministic, uniform; ids are dense so no skew);
2. ``repartition("shard")`` then ``applyInPandas`` per shard: each task
   materializes its shard's vectors as one numpy matrix and runs the full
   sequential Vamana kernel (core/vamana.py) with seed ``seed + shard`` —
   executor-local, zero cross-shard communication;
3. each task emits ``(shard, id, neighbors[], medoid)`` rows — adjacency
   stores *global* ids, so the graph table is self-describing.

Scale math (reference README.md:139): a shard of n_s vectors costs
``n_s * (4*dim + 4*max_degree)`` bytes in task memory. For 100 TB of 128-d
f32 (~190 B/row with the graph) pick num_shards so n_s stays ~5-20 M rows
(~2-10 GiB/task); the build is then embarrassingly parallel across
executors, bounded by the slowest shard — exactly the reference's
per-chunk rayon fan-out writ large.

Why not a relational build? Vamana's frontier expansion is sequentially
dependent (each chunk's pruning reads the graph state the previous chunk
wrote — lib.rs:1028-1107); expressing each of the ~n/256 rounds as a Spark
join would mean thousands of shuffles of the full edge set. The pandas-UDF
shard kernel does O(1) shuffles total (the repartition).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rust_diskann_spark.core import vamana
from rust_diskann_spark.params import IndexParams
from rust_diskann_spark.prelude import _task_prelude

GRAPH_SCHEMA = (
    "shard INT, id BIGINT, neighbors ARRAY<BIGINT>, medoid BIGINT, "
    "entries ARRAY<BIGINT>"
)


def assign_shards(
    vectors: DataFrame, num_shards: int, shard_by: str = "hash",
    metric: str = "l2", seed: int = 42,
) -> DataFrame:
    """Deterministic shard assignment (reference A11).

    ``hash``: dense-id modulo — uniform shards, every shard samples the
    whole space (the README.md:157 equivalence regime).
    ``kmeans``: locality shards via seeded k-means cells (operators/ivf)
    — uneven but spatially coherent, enabling entry-routed probing at
    search (``shard_probes``). Oversized cells are hash-split via
    :func:`_cap_split_cells` (r3: the straggler backstop the merged path
    already had), so the returned shard ids are dense 0..n_units-1 and
    n_units may EXCEED ``num_shards`` — callers recording shard counts
    use :func:`assign_shards_counted` (build_index does), not the
    request.
    """
    if shard_by == "hash":
        return vectors.withColumn(
            "shard", (F.col("id") % F.lit(num_shards)).cast("int")
        )
    return assign_shards_counted(vectors, num_shards, metric, seed)[0]


def assign_shards_counted(
    vectors: DataFrame, num_shards: int, metric: str = "l2", seed: int = 42
) -> tuple[DataFrame, int]:
    """kmeans :func:`assign_shards` plus the DENSE UNIT COUNT, which the
    cap-split numbering already knows driver-side (every unit is
    non-empty by construction, so n_units == max(shard)+1). Callers that
    need the effective shard count read it here instead of re-running
    the whole assignment lineage through a ``max("shard")`` aggregate —
    that agg was one extra full corpus pass (scan + argmin) per build
    (r11, guide §1.2: don't recompute what the driver already holds)."""
    if metric == "hamming":
        raise ValueError("kmeans sharding requires a float metric (l2/cosine/dot)")
    from rust_diskann_spark.functions.distance import numpy_distance_matrix
    from rust_diskann_spark.operators import ivf

    cents = ivf.kmeans_centroids(vectors, num_shards, metric=metric, iters=2, seed=seed)
    vec_type = vectors.schema["vec"].dataType.simpleString()

    def assign_fn(batches):
        _task_prelude()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["vec"].to_numpy())
            d = numpy_distance_matrix(metric, mat, cents)
            yield pd.DataFrame(
                {
                    "cell": d.argmin(axis=1).astype(np.int32),
                    "id": pdf["id"],
                    "vec": pdf["vec"],
                }
            )

    assigned = vectors.select("id", "vec").mapInPandas(
        assign_fn, f"cell INT, id BIGINT, vec {vec_type}"
    )
    return _cap_split_cells_counted(assigned, num_shards, seed)


def assign_shards_overlapped(
    vectors: DataFrame,
    num_shards: int,
    overlap: int,
    metric: str = "l2",
    seed: int = 42,
) -> DataFrame:
    """Overlapped locality sharding for the merged-index build (DiskANN
    paper, Subramanya et al. NeurIPS 2019, §4: each point is assigned to
    its ``overlap`` closest k-means cells, so neighboring cells share
    boundary points and the per-cell graphs union into one connected
    global graph). ``num_shards`` is the target CELL count — each cell
    is one build task and one Vamana graph.

    Every build task must be a spatially COHERENT region: measured on a
    100k x 128 64-cluster corpus, tasks made of several scattered cells
    (an earlier bin-packing design) ran up to 7x slower at identical
    row counts — build-time greedy searches wander across disjoint
    clusters, inflating visited sets and prune pools — and their graphs
    needed bogus long-range repair bridges. One cell = one task keeps
    the searches local; task-count balance comes from the cap-split:

    - k-means cells on clustered data are wildly uneven (measured: a
      2-iter Lloyd left ONE cell with 77% of all points), so any cell
      larger than ``2 * ceil(total / n_cells)`` is hash-split into that
      many subcells (each still a subset of one coherent region). A
      split sacrifices adjacency between its subgraphs, but the
      overlap's second-cell membership and multi-entry search (every
      cell's medoid seeds the merged-graph beam) keep recall (tested).

    Returns (shard, id, vec) with shard = dense build-unit id and each
    point appearing up to ``overlap`` times. The centroid model is tiny
    and travels inside the mapInPandas closure — assignment is a NARROW
    pass (one BLAS distance matrix + argpartition per Arrow batch); the
    only extra cost is one count pass for the cell histogram.
    """
    from rust_diskann_spark.functions.distance import numpy_distance_matrix
    from rust_diskann_spark.operators import ivf

    # cell count tracks the caller's num_shards directly: cells should be
    # big enough to contain a neighborhood (too many cells shred natural
    # clusters across build units that never co-occur — measured recall
    # 0.79 at 1024 cells vs 0.95+ at 64 on a 64-cluster corpus)
    n_cells = num_shards
    overlap = min(overlap, n_cells)
    cents = ivf.kmeans_centroids(
        vectors, n_cells, metric=metric, iters=4, seed=seed
    )
    n_cells = len(cents)  # kmeans may return fewer cells than requested
    vec_type = vectors.schema["vec"].dataType.simpleString()

    def assign_cells(batches):
        _task_prelude()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["vec"].to_numpy())
            d = numpy_distance_matrix(metric, mat, cents)
            k = min(overlap, d.shape[1])
            near = (
                np.argpartition(d, k - 1, axis=1)[:, :k]
                if k < d.shape[1]
                else np.argsort(d, axis=1)
            )
            rows = np.repeat(np.arange(len(pdf)), near.shape[1])
            yield pd.DataFrame(
                {
                    "cell": near.ravel().astype(np.int32),
                    "id": pdf["id"].to_numpy()[rows],
                    "vec": pdf["vec"].to_numpy()[rows],
                }
            )

    assigned = vectors.select("id", "vec").mapInPandas(
        assign_cells, f"cell INT, id BIGINT, vec {vec_type}"
    )
    return _cap_split_cells(assigned, n_cells, seed)


def _cap_split_cells(
    assigned: DataFrame, n_cells: int, seed: int
) -> DataFrame:
    return _cap_split_cells_counted(assigned, n_cells, seed)[0]


def _cap_split_cells_counted(
    assigned: DataFrame, n_cells: int, seed: int
) -> tuple[DataFrame, int]:
    """(cell, id, vec) -> (shard, id, vec) with every oversized k-means
    cell hash-split into subcells and units densely renumbered
    0..n_units-1 (all non-empty). k-means cells on clustered data are
    wildly uneven (a 2-iter Lloyd left ONE cell with 77% of all points;
    the r3 5M sharded demo left 2 of 96 cells running 3+ HOURS single-
    task while 94 finished in 75 min), and locally one cell = one build
    task, so the cap bounds the slowest task. Shared by the overlapped
    (merged) and plain kmeans sharding paths."""
    # cell histogram (map-side combined; n_cells scalars to the driver)
    sizes = {int(r["cell"]): int(r["cnt"]) for r in (
        assigned.groupBy("cell").agg(F.count("*").alias("cnt")).collect()
    )}
    total = sum(sizes.values())
    # cap: allow 2x the target cell size before splitting (a split costs
    # graph adjacency, so it is a backstop for degenerate cells, not a
    # leveler); target = total / REQUESTED cells, so dead centroids
    # don't inflate the cap
    cap = max(1, 2 * (-(-total // max(n_cells, 1))))
    splits = {c: -(-s // cap) for c, s in sizes.items() if s > cap}
    # dense unit numbering: (cell, salt) -> 0..n_units-1, cells ascending
    unit_id: dict[tuple[int, int], int] = {}
    for c in sorted(sizes):
        for j in range(splits.get(c, 1)):
            unit_id[(c, j)] = len(unit_id)
    if not splits:
        # fast path: cells are already the build units
        cell_to_unit = F.create_map(
            *[F.lit(x) for (c, _j), u in unit_id.items() for x in (c, u)]
        )
        return (
            assigned.withColumn("shard", cell_to_unit[F.col("cell")].cast("int"))
            .select("shard", "id", "vec"),
            len(unit_id),
        )
    nsplit_col = F.coalesce(
        F.create_map(
            *[F.lit(x) for kv in splits.items() for x in kv]
        )[F.col("cell")],
        F.lit(1),
    )
    # hash the cell into the salt: a plain hash(id) is correlated across
    # cells (same modulus -> identical subcell membership for a point
    # sitting in two split cells)
    salt = F.pmod(F.xxhash64(F.col("id"), F.col("cell"), F.lit(seed)), nsplit_col)
    SALT_M = 1 << 20
    key = F.col("cell").cast("long") * F.lit(SALT_M) + salt
    mapping = F.create_map(
        *[
            col
            for (c, j), u in unit_id.items()
            for col in (F.lit(c * SALT_M + j).cast("long"), F.lit(u))
        ]
    )
    return (
        assigned.withColumn("shard", mapping[key].cast("int"))
        .select("shard", "id", "vec"),
        len(unit_id),
    )


def merge_shard_graphs(graph: DataFrame, entries: list[int], medoid: int) -> DataFrame:
    """Union each point's out-edges across its overlapped shards into one
    global graph (DiskANN paper §4 merge step; the per-shard alpha-prune
    already diversified each list, so the union — degree <=
    overlap * max_degree — is kept as-is).

    One shuffle (the groupBy); the union/dedup/sort runs as Catalyst
    array expressions, and the sorted output makes the merged adjacency
    deterministic regardless of task order.
    """
    merged = graph.groupBy("id").agg(
        F.array_sort(
            F.array_remove(
                F.array_distinct(F.flatten(F.collect_list("neighbors"))),
                F.col("id"),
            )
        ).alias("neighbors")
    )
    entry_col = F.array(*[F.lit(int(e)) for e in entries])
    return merged.select(
        F.lit(0).cast("int").alias("shard"),
        "id",
        "neighbors",
        F.lit(int(medoid)).alias("medoid"),
        entry_col.cast("array<bigint>").alias("entries"),
    )


def build_graph(vectors: DataFrame, params: IndexParams) -> DataFrame:
    """Vectors (id, vec[, shard]) -> graph (shard, id, neighbors, medoid).

    One shuffle (the shard repartition); the Vamana loop never crosses the
    executor boundary. Deterministic for a fixed ``params.seed``.
    """
    if "shard" not in vectors.columns:
        vectors = assign_shards(
            vectors, params.num_shards, params.shard_by, params.metric, params.seed
        )

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        _task_prelude()
        pdf = pdf.sort_values("id").reset_index(drop=True)
        shard = int(pdf["shard"].iloc[0])
        dtype = np.int64 if params.metric == "hamming" else np.float32
        # np.stack over the per-row numpy arrays Arrow hands us — NOT
        # tolist(): materializing a 50k x 128 shard as Python floats is
        # ~10x slower and ~200 MB of transient objects per task, and with
        # 32 concurrent build tasks that transient alone pressured the
        # host into killing workers on the r3 5M attempt
        mat = np.stack(pdf["vec"].to_numpy()).astype(dtype, copy=False)
        graph, medoid_local = vamana.build_vamana(
            mat, params, seed=params.seed + shard
        )
        # farthest-point search entry points (medoid first) — multi-entry
        # beam search keeps recall on clustered shards (see IndexParams)
        entries_local = vamana.select_entry_points(
            mat, params.metric, medoid_local, params.entry_points
        )
        gids = pdf["id"].to_numpy()  # local ordinal -> global id
        return pd.DataFrame(
            {
                "shard": shard,
                "id": gids,
                "neighbors": [gids[row].tolist() for row in graph.to_lists()],
                "medoid": int(gids[medoid_local]),
                "entries": [gids[entries_local].tolist()] * len(gids),
            }
        )

    # Over-provision the hash buckets: repartition(num_shards, "shard")
    # satisfies applyInPandas's ClusteredDistribution, so the groupBy adds
    # NO second exchange — but hashing n units into n buckets leaves ~1/e
    # buckets empty and packs 2-4 units into others, and a task that
    # builds several large cells serially becomes the stage straggler
    # (observed at 1M x 64 cells: one task ran ~20 min past the rest).
    # 16x buckets make collisions rare; AQE coalesces the empties
    # size-aware, so two big cells are never re-merged into one task.
    n_buckets = max(256, 16 * params.num_shards)
    return (
        vectors.repartition(n_buckets, "shard")
        .groupBy("shard")
        .applyInPandas(build_shard, schema=GRAPH_SCHEMA)
    )


def degree_invariant_violations(graph: DataFrame, max_degree: int) -> int:
    """Count nodes exceeding the degree bound — must be 0 (reference final
    sweep invariant, lib.rs:1111-1132)."""
    return graph.filter(F.size("neighbors") > max_degree).count()
