"""Piece-group serving (the ``grouped`` warm mode and
``grouped_scan_search``) has been removed; co-probed pieces are served by
the per-shard cached scan. What remains of this file's contract is that
``warm`` refuses a mode it does not know — including the retired
``grouped`` mode — instead of silently running some other strategy."""

import numpy as np
import pytest

from rust_diskann_spark import IndexParams, build_index


def test_warm_rejects_unknown_mode(spark, tmp_path):
    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(4).astype("float32").tolist())
            for i in range(40)]
    df = spark.createDataFrame(rows, "id long, vec array<float>")
    idx = build_index(
        df, str(tmp_path / "idx"),
        params=IndexParams(max_degree=8, build_beam_width=16, num_shards=2,
                           seed=11),
    )
    with pytest.raises(ValueError, match="grouped"):
        idx.warm("grouped")
    with pytest.raises(ValueError, match="auto|broadcast|scan"):
        idx.warm("groupd")
    assert idx._shards_bc is None and idx._scan_routing is None
    idx.close()
