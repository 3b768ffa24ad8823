"""Multimodal (image/audio/video) columns for training-data pipelines.

Beyond the reference's scope (it is a vector kernel); first-class here
because a 100 TB corpus carries media. Media are opaque ``BINARY``
columns plus typed metadata; decode / feature-extraction / resize /
frame-sampling run as Arrow-batched ``mapInPandas`` stages so each task
streams batches without materializing a partition of blobs.

The actual codecs (PIL / ffmpeg / librosa) are NOT in this container, so
the decode kernel is **stubbed behind a deterministic fake**: every
derived value is computed from ``md5(content)`` reduced into integer
ranges — the same portable-hash trick as functions/text.py — which makes
the whole pipeline DuckDB-oracle-checkable while keeping the Spark-side
plumbing (binary schema, Arrow batches, mapInPandas signatures,
partitioning) fully real. Swap ``_fake_decode`` for a real codec by
passing ``decoder=`` to the operators.

Scale notes:
- every operator here is NARROW (no shuffle): per-row derivations only;
- blobs should be stored in Parquet with a small row-group size and the
  metadata columns first, so metadata-only queries never read the bytes
  (column pruning — check ReadSchema in .explain);
- ``frame_sample`` explodes to one row per sampled frame; at scale,
  partition counts must be sized for the POST-explode row count.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rust_diskann_spark.prelude import _task_prelude

HASH_P = 2_147_483_647  # shared with functions/text.py
FEATURE_DIM = 8
MAX_W, MAX_H = 2048, 1536
MAX_FRAMES = 16
MAX_DUR_MS = 60_000

FEATURES_SCHEMA = (
    "id BIGINT, modality STRING, n_bytes BIGINT, content_hash STRING, "
    "width BIGINT, height BIGINT, features ARRAY<DOUBLE>"
)
FRAMES_SCHEMA = "id BIGINT, frame_idx BIGINT, frame_hash BIGINT"
AUDIO_SCHEMA = "id BIGINT, duration_ms BIGINT, sample_rate BIGINT, rms BIGINT"


def _h60(digest_hex: str) -> int:
    """First 15 hex chars of an md5 digest mod HASH_P — identical to
    functions/text.token_hash_expr and its DuckDB twin."""
    return int(digest_hex[:15], 16) % HASH_P


def synthesize_blobs(
    docs: DataFrame, modality: str = "image", text_col: str = "text"
) -> DataFrame:
    """Deterministic stand-in for a real media table: (id, modality,
    content BINARY). The payload is the utf-8 document text — opaque
    bytes as far as every downstream operator is concerned."""
    return docs.select(
        F.col("doc_id").alias("id"),
        F.lit(modality).alias("modality"),
        F.encode(F.col(text_col), "utf-8").alias("content"),
    )


def _fake_decode(content: bytes) -> dict:
    """Deterministic fake decoder: all fields are md5-derived so DuckDB
    can reproduce them exactly. A real decoder returns the same shape."""
    digest = hashlib.md5(content).hexdigest()
    h = _h60(digest)
    return {
        "content_hash": digest,
        "width": 1 + h % MAX_W,
        "height": 1 + (h // MAX_W) % MAX_H,
        "features": [((h * (j + 1)) % HASH_P) / HASH_P for j in range(FEATURE_DIM)],
        "n_frames": 1 + h % MAX_FRAMES,
        "duration_ms": 1 + h % MAX_DUR_MS,
        "sample_rate": 8000 + (h % 5) * 8000,
        "rms": h % 32768,
    }


def decode_image_features(
    blobs: DataFrame, decoder: Callable[[bytes], dict] | None = None
) -> DataFrame:
    """Decode + feature-extract: (id, modality, n_bytes, content_hash,
    width, height, features ARRAY<DOUBLE>). Narrow mapInPandas; Arrow
    moves the bytes once per batch."""
    decode = decoder or _fake_decode

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _task_prelude()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = [decode(c) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "id": pdf["id"].astype("int64"),
                    "modality": pdf["modality"],
                    "n_bytes": pdf["content"].map(len).astype("int64"),
                    "content_hash": [r["content_hash"] for r in rows],
                    "width": np.array([r["width"] for r in rows], dtype=np.int64),
                    "height": np.array([r["height"] for r in rows], dtype=np.int64),
                    "features": [r["features"] for r in rows],
                }
            )

    return blobs.mapInPandas(fn, FEATURES_SCHEMA)


def resize_images(
    blobs: DataFrame, target_w: int, target_h: int,
    decoder: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Aspect-preserving resize plan: (id, width, height, out_w, out_h,
    scale). With the fake decoder the pixel transform is a no-op on the
    bytes; the geometry math (what a real resize batches over) is real."""
    decode = decoder or _fake_decode

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _task_prelude()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = [decode(c) for c in pdf["content"]]
            w = np.array([r["width"] for r in rows], dtype=np.float64)
            h = np.array([r["height"] for r in rows], dtype=np.float64)
            scale = np.minimum(target_w / w, target_h / h)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].astype("int64"),
                    "width": w.astype(np.int64),
                    "height": h.astype(np.int64),
                    "out_w": np.floor(w * scale).astype(np.int64),
                    "out_h": np.floor(h * scale).astype(np.int64),
                    "scale": scale,
                }
            )

    return blobs.mapInPandas(
        fn, "id BIGINT, width BIGINT, height BIGINT, out_w BIGINT, out_h BIGINT, scale DOUBLE"
    )


def sample_frames(
    blobs: DataFrame, every_n: int = 4,
    decoder: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Frame sampling for video blobs: one row per sampled frame
    (id, frame_idx, frame_hash), frames 0, every_n, 2*every_n, ... of the
    blob's n_frames. The explode happens inside the Arrow batch."""
    decode = decoder or _fake_decode

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _task_prelude()
        for pdf in batches:
            out_id, out_fi, out_fh = [], [], []
            for i, c in zip(pdf["id"], pdf["content"]):
                r = decode(c)
                h = _h60(r["content_hash"])
                for fi in range(0, r["n_frames"], every_n):
                    out_id.append(int(i))
                    out_fi.append(fi)
                    out_fh.append((h + 131 * fi) % HASH_P)
            if out_id:
                yield pd.DataFrame(
                    {"id": out_id, "frame_idx": out_fi, "frame_hash": out_fh}
                ).astype("int64")

    return blobs.mapInPandas(fn, FRAMES_SCHEMA)


def audio_stats(
    blobs: DataFrame, decoder: Callable[[bytes], dict] | None = None
) -> DataFrame:
    """Audio metadata extraction: (id, duration_ms, sample_rate, rms)."""
    decode = decoder or _fake_decode

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _task_prelude()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = [decode(c) for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "id": pdf["id"].astype("int64"),
                    "duration_ms": np.array([r["duration_ms"] for r in rows], dtype=np.int64),
                    "sample_rate": np.array([r["sample_rate"] for r in rows], dtype=np.int64),
                    "rms": np.array([r["rms"] for r in rows], dtype=np.int64),
                }
            )

    return blobs.mapInPandas(fn, AUDIO_SCHEMA)


# --- DuckDB oracle twins (same md5-derived math, pure SQL) -----------------


def sql_blob_hash(text: str) -> str:
    # DuckDB's md5 takes VARCHAR; for utf-8 payloads md5(text) ==
    # md5(encode(text)) byte-for-byte
    return f"md5({text})"


def sql_h60(digest: str) -> str:
    return f"(('0x' || substr({digest}, 1, 15))::bigint % {HASH_P})"


def sql_image_features(text: str) -> dict[str, str]:
    dg = sql_blob_hash(text)
    h = sql_h60(dg)
    return {
        "n_bytes": f"octet_length(encode({text}))::bigint",
        "content_hash": dg,
        "width": f"(1 + {h} % {MAX_W})::bigint",
        "height": f"(1 + ({h} // {MAX_W}) % {MAX_H})::bigint",
        "features": (
            f"list_transform(generate_series(1, {FEATURE_DIM}), "
            f"j -> (({h} * j) % {HASH_P})::double / {HASH_P})"
        ),
    }


def sql_frame_sample(text: str, every_n: int = 4) -> str:
    """FROM-clause fragment producing (frame_idx, frame_hash) per doc —
    compose as a lateral join in the oracle query."""
    h = sql_h60(sql_blob_hash(text))
    return (
        f"lateral (select (u.g - 1) * {every_n} as frame_idx, "
        f"(({h}) + 131 * (u.g - 1) * {every_n}) % {HASH_P} as frame_hash "
        f"from unnest(generate_series(1, ((1 + {h} % {MAX_FRAMES}) + {every_n} - 1) // {every_n})) as u(g))"
    )
