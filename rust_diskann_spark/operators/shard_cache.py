"""Node-local mmap shard cache — the mmap residency of the serving plan.

The reference serves queries from a single memory-mapped index file
(lib.rs:450-496: open maps the file once, every search reads pages the
OS keeps hot). The Spark-first analog for indexes larger than executor
memory: the index parquet (written ``partitionBy("shard")``,
sources/index_store.py) stays the source of truth on shared storage,
and each executor node decodes the shards it serves ONCE into flat
``.npy`` arrays under a local cache directory, then mmap-loads them per
task. Steady-state consequences, measured on the 5M/408-shard index
(r8 task profiler, scale_runs_r8/5m_probe_summary.md):

- corpus bytes cross the JVM->Python Arrow boundary ZERO times after
  the first touch (the old scan path re-shipped and re-decoded every
  partition every batch — 28.5% of shard-task wall, ~2/3 of it the
  ``np.searchsorted`` global->local neighbor relabel);
- no JVM-persisted corpus: the one-time (vectors ⋈ graph) shuffle +
  executor-storage cache the legacy scan warm paid disappears — the
  residency is OS page cache over the ``.npy`` files, one copy per
  node no matter how many Python workers serve from it (the broadcast
  path pays one copy PER worker, which is why 5M can't broadcast);
- a cache miss self-heals from the parquet: the task reads ONLY its
  shard's partition directory via pyarrow dataset partition pruning —
  correct on a multi-node cluster where a task lands on a node that
  never served that shard (first touch populates that node's cache).

Cache key: sha1(index abspath, metadata.json bytes, metadata mtime) —
rebuilding an index in place changes the token, so stale entries are
never served; ``DiskANNIndex.close()`` removes the token directory.

Writes are atomic (decode into a pid-suffixed temp dir, ``os.rename``
into place); concurrent first-touch decoders race benignly — one
rename wins, the loser serves its in-memory copy and discards.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile

import numpy as np

from rust_diskann_spark.core import vamana

# sentinel for a shard that exists in the id range but holds no rows
# (kmeans cap-split renumbering never produces these, but a hash-sharded
# tiny corpus can) — cached as an n=0 marker so the parquet is not
# re-probed every batch
EMPTY = ()


def cache_root() -> str:
    """Node-local cache directory (``RDS_SCAN_CACHE_DIR`` override).

    Read per call, not at import: tests and operators relocate it, and
    unlike the executor-side knobs this is only ever called a handful of
    times per job."""
    return os.environ.get("RDS_SCAN_CACHE_DIR") or os.path.join(
        tempfile.gettempdir(), "rds_scan_cache"
    )


def index_token(index_path: str) -> str:
    """Content-derived cache key for one on-disk index.

    Folds in a listing digest (relative path, size, mtime) of BOTH
    parquet directories, not just metadata.json: replacing
    vectors.parquet/graph.parquet in place without rewriting the
    metadata (manual copy/repair) must change the token, or stale
    cached shards would be served silently (r8 ADVICE). Stat-only —
    no file bytes are read — and computed once per driver-side handle
    (plans/index.py memoizes it), so the walk cost is negligible."""
    meta_path = os.path.join(index_path, "metadata.json")
    h = hashlib.sha1()
    h.update(os.path.abspath(index_path).encode())
    with open(meta_path, "rb") as fh:
        h.update(fh.read())
    h.update(str(os.path.getmtime(meta_path)).encode())
    for sub in ("vectors.parquet", "graph.parquet"):
        base = os.path.join(index_path, sub)
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames.sort()
            for fn in sorted(filenames):
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                h.update(
                    f"{os.path.relpath(p, base)}:{st.st_size}:"
                    f"{st.st_mtime_ns}".encode()
                )
    return h.hexdigest()[:16]


def _shard_dir(root: str, token: str, sid: int) -> str:
    return os.path.join(root, token, f"shard_{sid}")


def save_shard(root: str, token: str, sid: int, tup) -> None:
    """Persist one decoded shard tuple (or None for empty) atomically.

    Failures are swallowed: the cache is an accelerator, not a
    correctness surface — a full disk degrades to per-batch re-decode,
    never to wrong results."""
    final = _shard_dir(root, token, sid)
    if os.path.exists(final):
        return
    tmp = f"{final}.tmp.{os.getpid()}"
    try:
        os.makedirs(tmp, exist_ok=True)
        if tup is None:
            meta = {"n": 0}
        else:
            gids, mat, graph, medoid_local, sqn, ent, quant = tup
            np.save(os.path.join(tmp, "gids.npy"), gids)
            np.save(os.path.join(tmp, "mat.npy"), mat)
            np.save(os.path.join(tmp, "adj.npy"), graph.adj)
            np.save(os.path.join(tmp, "deg.npy"), graph.deg)
            if sqn is not None:
                np.save(os.path.join(tmp, "sqn.npy"), sqn)
            if ent is not None:
                np.save(os.path.join(tmp, "ent.npy"), ent)
            if quant is not None:
                np.save(os.path.join(tmp, "qcodes.npy"), quant.codes)
                np.save(os.path.join(tmp, "qsqn.npy"), quant.sqn_q)
            meta = {
                "n": int(len(gids)),
                "medoid_local": int(medoid_local),
                "dtype": str(mat.dtype),
                "has_sqn": sqn is not None,
                "has_ent": ent is not None,
                "quant": (
                    {"scale": float(quant.scale),
                     "normalized": bool(quant.normalized)}
                    if quant is not None
                    else None
                ),
            }
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh)
        os.rename(tmp, final)
    except OSError:
        pass
    finally:
        # after a successful rename this is a no-op; on ANY failure —
        # including non-OSError (a numpy save dying mid-write) — the
        # orphan .tmp.<pid> dir is removed rather than leaking until tmp
        # cleanup (r8 ADVICE). Only a completed rename exposes meta.json,
        # so a partially-written entry can never be served either way.
        shutil.rmtree(tmp, ignore_errors=True)


def load_shard(root: str, token: str, sid: int):
    """Decoded tuple from the cache: big arrays (vectors, adjacency,
    int8 codes) as read-only mmaps so residency is page cache shared
    across every worker process on the node; small per-row arrays load
    eagerly. Returns :data:`EMPTY` for an empty-shard marker, None on a
    miss (including a half-written entry — only a completed rename ever
    exposes meta.json)."""
    d = _shard_dir(root, token, sid)
    try:
        with open(os.path.join(d, "meta.json")) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        return None
    if meta["n"] == 0:
        return EMPTY
    try:
        gids = np.load(os.path.join(d, "gids.npy"))
        mat = np.load(os.path.join(d, "mat.npy"), mmap_mode="r")
        adj = np.load(os.path.join(d, "adj.npy"), mmap_mode="r")
        deg = np.load(os.path.join(d, "deg.npy"))
        sqn = (
            np.load(os.path.join(d, "sqn.npy")) if meta["has_sqn"] else None
        )
        ent = (
            np.load(os.path.join(d, "ent.npy")) if meta["has_ent"] else None
        )
        quant = None
        if meta["quant"] is not None:
            quant = vamana.QuantizedCorpus(
                codes=np.load(os.path.join(d, "qcodes.npy"), mmap_mode="r"),
                scale=meta["quant"]["scale"],
                sqn_q=np.load(os.path.join(d, "qsqn.npy")),
                normalized=meta["quant"]["normalized"],
            )
    except OSError:
        return None
    return (
        gids, mat, vamana.Graph(adj, deg), meta["medoid_local"], sqn, ent,
        quant,
    )


def decode_shard_from_parquet(index_path: str, sid: int, metric: str):
    """Decode ONE shard straight from the index parquet.

    Partition pruning does the shard selection (both tables are written
    ``partitionBy("shard")``), so the read touches only this shard's
    files — no Spark job, no shuffle. This is the cache miss path and
    the multi-node first-touch path on executors, and broadcast
    residency's decode on the driver (``DiskANNIndex._broadcast_shards``)."""
    import pyarrow.dataset as ds

    vset = ds.dataset(
        os.path.join(index_path, "vectors.parquet"),
        format="parquet", partitioning="hive",
    )
    gset = ds.dataset(
        os.path.join(index_path, "graph.parquet"),
        format="parquet", partitioning="hive",
    )
    vtbl = vset.to_table(
        filter=ds.field("shard") == sid, columns=["id", "vec"]
    )
    has_entries = "entries" in gset.schema.names
    gcols = ["id", "neighbors", "medoid"] + (
        ["entries"] if has_entries else []
    )
    gtbl = gset.to_table(filter=ds.field("shard") == sid, columns=gcols)
    dtype = np.int64 if metric == "hamming" else np.float32
    from rust_diskann_spark.operators.search import _decode_shard

    return _decode_shard(vtbl, gtbl, sid, metric, dtype, has_entries)


def get_or_decode(root: str, token: str, sid: int, index_path: str,
                  metric: str):
    """Cache hit -> mmap tuple; miss -> parquet decode + populate, then
    RELOAD and prefer the mmap-backed tuple. Returns :data:`EMPTY` for
    empty shards.

    The reload matters because the in-memory decode is a private copy
    in each Python worker that raced the first touch, while the mmap
    tuple is page cache shared by every worker on the node — the
    per-worker memory multiplier the mmap cache exists to remove (r8
    ADVICE, the r7 51 GB broadcast OOM pattern). The in-memory copy is
    kept only when the reload still misses (save failed, e.g. disk
    full) — then the cache degrades to per-batch re-decode, never to
    wrong results."""
    tup = load_shard(root, token, sid)
    if tup is not None:
        return tup
    dec = decode_shard_from_parquet(index_path, sid, metric)
    record_source(root, token, index_path)
    save_shard(root, token, sid, dec)
    if dec is None:
        return EMPTY
    reloaded = load_shard(root, token, sid)
    return dec if reloaded is None or reloaded is EMPTY else reloaded


def record_source(root: str, token: str, index_path: str) -> None:
    """Drop a ``source.json`` provenance sidecar into the token dir.

    ``close()``'s executor fan-out is best-effort (a node the scheduler
    never visits keeps its entries), so stale tokens need an out-of-band
    sweeper (scripts/cache_sweep.py). The sweeper classifies a token by
    recomputing :func:`index_token` over the SOURCE index dir — which
    only the first-touch decoder knows — so that path is recorded here,
    once per (node, token). Failures are swallowed like save_shard's:
    a missing sidecar degrades the sweeper to 'unknown', never to a
    wrong prune (unknown entries are kept unless --prune-unknown)."""
    final = os.path.join(root, token, "source.json")
    if os.path.exists(final):
        return
    tmp = f"{final}.tmp.{os.getpid()}"
    try:
        os.makedirs(os.path.dirname(final), exist_ok=True)
        with open(tmp, "w") as fh:
            json.dump({"index_path": os.path.abspath(index_path)}, fh)
        os.rename(tmp, final)
    except OSError:
        pass
    finally:
        if os.path.exists(tmp):
            try:
                os.remove(tmp)
            except OSError:
                pass


def drop_index_cache(root: str, token: str) -> None:
    """Remove one index's cache tree (``DiskANNIndex.close()``)."""
    shutil.rmtree(os.path.join(root, token), ignore_errors=True)
