"""Readers for the ann-benchmarks binary vector formats (reference E3:
examples/bigann.rs:47-157 reads bvecs/fvecs/ivecs; E1:
examples/utils/annhdf5.rs loads the HDF5 quadruple).

Format (BigANN / TEXMEX): a file is a sequence of records, each
``[dim: int32 LE][dim elements]`` with element width 4 bytes for fvecs
(float32) / ivecs (int32) and 1 byte for bvecs (uint8).

Spark-first design: ``spark.read.format("binaryFile")`` brings each file
in as one row; a ``mapInPandas`` stage decodes records with numpy and
emits ``(id BIGINT, vec ARRAY<...>)``. Ids are dense per-file record
ordinals offset by a stable per-file base (files sorted by path), which
reproduces the reference's enumeration ids (annhdf5.rs:174-182) for the
single-file case and keeps multi-file loads deterministic.

Scale note: binaryFile materializes whole files per row (2 GiB cap), so
this source suits fixture-scale ingest — the conversion target is always
Parquet (``convert_to_parquet``), after which everything downstream gets
columnar scans, pushdown, and row-group pruning. A 100 TB corpus should
land in Parquet once and never re-read the legacy format. The reference's
prefix-read trick (``max_vectors``) is honored at decode time: we slice
the byte buffer before converting, so oversized files cost parse time
only up to the cap.

HDF5 (reference E1) is intentionally out: h5py is not in this container
and the driver fixtures are Parquet; ``load_hdf5_dataset`` raises with
guidance unless h5py is importable.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rust_diskann_spark.prelude import _task_prelude

_ELEM = {
    "fvecs": (np.dtype("<f4"), 4, "ARRAY<FLOAT>"),
    "ivecs": (np.dtype("<i4"), 4, "ARRAY<INT>"),
    "bvecs": (np.dtype("<u1"), 1, "ARRAY<INT>"),
}


def decode_vecs(buf: bytes, kind: str, max_vectors: int | None = None) -> np.ndarray:
    """Decode one TEXMEX buffer -> (n, dim) numpy array. Validates the
    uniform-dim invariant (reference bigann.rs:72-80 errors on ragged or
    truncated records)."""
    dtype, width, _ = _ELEM[kind]
    if len(buf) < 4:
        raise ValueError(f"{kind}: truncated file ({len(buf)} bytes)")
    dim = int(np.frombuffer(buf, dtype="<i4", count=1)[0])
    if dim <= 0:
        raise ValueError(f"{kind}: invalid dim {dim}")
    rec = 4 + dim * width
    n = len(buf) // rec
    if len(buf) % rec != 0:
        raise ValueError(
            f"{kind}: file size {len(buf)} not a multiple of record size {rec}"
        )
    if max_vectors is not None:
        n = min(n, max_vectors)
        buf = buf[: n * rec]
    raw = np.frombuffer(buf, dtype=np.uint8).reshape(n, rec)
    dims = raw[:, :4].copy().view("<i4").ravel()
    if not (dims == dim).all():
        raise ValueError(f"{kind}: ragged dims {sorted(set(dims.tolist()))[:5]}")
    return raw[:, 4:].copy().view(dtype)


def read_vecs(
    spark: SparkSession,
    path: str,
    kind: str,
    max_vectors: int | None = None,
) -> DataFrame:
    """Read fvecs/ivecs/bvecs file(s) -> (id BIGINT, vec ARRAY<...>).

    ``path`` may be a file or a glob; ids are dense record ordinals with
    per-file bases assigned in path sort order. ``max_vectors`` caps the
    records decoded PER FILE (the reference's block-buffered prefix read,
    bigann.rs:100-117).
    """
    if kind not in _ELEM:
        raise ValueError(f"unsupported kind {kind!r}; expected one of {sorted(_ELEM)}")
    _, width, sql_type = _ELEM[kind]

    files = (
        spark.read.format("binaryFile")
        .load(path)
        .select("path", "length", "content")
    )
    # per-file id bases from record counts: a metadata pass (length column
    # only — binaryFile prunes the content read) plus a 4-byte header read
    # per file for the dim
    import struct

    metas = sorted(
        (r["path"], int(r["length"])) for r in files.select("path", "length").collect()
    )
    bases: dict[str, int] = {}
    base = 0
    for p, length in metas:
        local = p[len("file:"):] if p.startswith("file:") else p
        with open(local, "rb") as fh:
            dim = struct.unpack("<i", fh.read(4))[0]
        rec = 4 + dim * width
        n = length // rec
        if max_vectors is not None:
            n = min(n, max_vectors)
        bases[p] = base
        base += n

    cap = max_vectors

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _task_prelude()
        for pdf in batches:
            for p, content in zip(pdf["path"], pdf["content"]):
                mat = decode_vecs(bytes(content), kind, cap)
                ids = np.arange(len(mat), dtype=np.int64) + bases[p]
                yield pd.DataFrame({"id": ids, "vec": list(mat)})

    return files.mapInPandas(fn, f"id BIGINT, vec {sql_type}")


def u8_to_f32(df: DataFrame, vec_col: str = "vec") -> DataFrame:
    """Widen u8/int vectors to float (reference E4, bigann.rs:160-162)."""
    return df.withColumn(vec_col, F.transform(F.col(vec_col), lambda x: x.cast("float")))


def convert_to_parquet(
    spark: SparkSession, src: str, kind: str, dest: str, max_vectors: int | None = None
) -> None:
    """One-shot legacy-format -> Parquet landing (the 100 TB path: decode
    once, then columnar forever)."""
    read_vecs(spark, src, kind, max_vectors).write.mode("overwrite").parquet(dest)


def load_hdf5_dataset(path: str):
    """ann-benchmarks HDF5 quadruple (train/test/neighbors/distances,
    reference annhdf5.rs:10-34).

    Prefers h5py when installed; otherwise falls back to the pure-numpy
    subset reader (sources/hdf5.py) that covers the ann-benchmarks file
    shape (superblock v0, contiguous little-endian numeric datasets).
    Chunked/compressed files without h5py get a clear conversion hint.
    """
    keys = ("train", "test", "neighbors", "distances")
    try:
        import h5py
    except ImportError:
        from rust_diskann_spark.sources.hdf5 import read_hdf5

        data = read_hdf5(path)
        missing = [k for k in keys if k not in data]
        if missing:
            raise ValueError(
                f"HDF5 file lacks ann-benchmarks datasets {missing}; "
                f"found {sorted(data)}"
            )
        return {k: data[k] for k in keys}

    with h5py.File(path, "r") as f:
        return {k: np.asarray(f[k]) for k in keys}
