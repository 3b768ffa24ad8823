"""Vector-collection ingest + validation (reference B1, FlatVectors).

The reference densifies ``Vec<Vec<T>>`` into a contiguous row-major buffer
and errors on ragged dims or empty input (lib.rs:176-199). Spark's
equivalent "table" is ``(id BIGINT, vec ARRAY<scalar>)`` Parquet — Parquet's
columnar layout plays FlatVectors' role. Ids are dense ``0..n-1`` to
reproduce reference id semantics (lib.rs:692).

Validation is declarative (one aggregate scan, Catalyst prunes to the
``vec`` column): scale note — at 100 TB this is a single map-side-combined
aggregation with a scalar result; no shuffle of the data itself.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from rust_diskann_spark.prelude import _task_prelude


def load_vectors(
    spark: SparkSession,
    path: str,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Read a Parquet vector table and normalize column names to (id, vec)."""
    df = spark.read.parquet(path)
    return df.select(F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec"))


def validate_vectors(df: DataFrame, dim: int | None = None) -> int:
    """Validate uniform dimension / non-empty (reference lib.rs:176-199).

    Returns the dimension. Raises ``ValueError`` on empty input, ragged
    dims, or mismatch against an expected ``dim`` — mirroring the
    reference's ingest errors (lib.rs:180-190) and query-time dim assert
    (lib.rs:636-641).
    """
    return validate_vectors_stats(df, dim)[0]


def validate_vectors_stats(
    df: DataFrame, dim: int | None = None
) -> tuple[int, int]:
    """:func:`validate_vectors` that also returns the row count from the
    SAME aggregate — ``(dim, n)``. The validation scan already computes
    count; callers that need both (build_index) previously paid a second
    full corpus pass for ``df.count()`` (r10: one pass removed — at
    100 TB that is a whole extra read of the table)."""
    agg = df.agg(
        F.min(F.size("vec")).alias("dmin"),
        F.max(F.size("vec")).alias("dmax"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if agg["n"] == 0:
        raise ValueError("empty vector collection (reference lib.rs:177-179)")
    if agg["dmin"] != agg["dmax"]:
        raise ValueError(
            f"ragged vector dims [{agg['dmin']}, {agg['dmax']}] (reference lib.rs:180-190)"
        )
    if dim is not None and agg["dmin"] != dim:
        raise ValueError(f"dimension mismatch: expected {dim}, got {agg['dmin']}")
    return int(agg["dmin"]), int(agg["n"])


def with_dense_ids(
    df: DataFrame, order_col: str, num_partitions: int | None = None
) -> DataFrame:
    """Assign dense ids 0..n-1 ordered by ``order_col`` (reference ids are
    positional, lib.rs:692; ``monotonically_increasing_id`` is non-dense).

    Two-phase ``zipWithIndex``-style plan — no single-reducer global sort:

    1. range-repartition on ``order_col`` + sort within partitions (a
       parallel total order: partition p's rows all precede p+1's);
    2. one tiny per-partition count aggregate -> cumulative offsets on the
       driver (``n_partitions`` longs);
    3. a narrow ``mapInPandas`` adds ``id = offset[pid] + local_position``.

    The ranged intermediate is persisted so phases 2 and 3 see the same
    partition boundaries; callers may ``.unpersist()`` the input when done.
    ``order_col`` should be unique — ties make the order (and therefore
    the ids) nondeterministic, as with any sort-based assignment.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = max(
            df.rdd.getNumPartitions(), spark.sparkContext.defaultParallelism
        )
    ranged = (
        df.repartitionByRange(num_partitions, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = ranged.groupBy("_pid").count().collect()
    sizes = {int(r["_pid"]): int(r["count"]) for r in counts}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]

    out_fields = [f for f in df.schema.fields if f.name != "id"]
    out_schema = StructType(out_fields + [StructField("id", LongType(), False)])
    out_cols = [f.name for f in out_schema.fields]

    def add_ids(batches):
        _task_prelude()
        # mapInPandas runs once per partition; batches arrive in partition
        # order, so a running local counter + the partition's offset give
        # the global dense id without any further exchange
        nxt = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if nxt is None:
                nxt = offsets[int(pdf["_pid"].iloc[0])]
            pdf = pdf.drop(columns=["_pid"])
            pdf["id"] = np.arange(nxt, nxt + len(pdf), dtype="int64")
            nxt += len(pdf)
            yield pdf[out_cols]

    return ranged.mapInPandas(add_ids, out_schema)
