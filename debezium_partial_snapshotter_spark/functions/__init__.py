"""Column-expression helpers and the winner-resolution kernel. All
JVM-side built-ins — no Python UDFs.

``bucket_id`` is deliberately md5-based rather than Spark's murmur3
``hash()`` so the SAME bucket assignment is computable from plain Python
(the generator / oracle) and from DuckDB SQL (the driver's correctness
oracle) — engine-portable deterministic partitioning.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def bucket_id(key: Column, num_buckets: int) -> Column:
    """bucket(num_buckets, key): first 8 hex chars of md5, mod buckets.

    Spark: conv(substr(md5(k),1,8),16,10) % B — whole-stage-codegen'd.
    Python twin: ``bucket_id_py``. DuckDB twin:
    ``CAST(('0x' || substr(md5(k),1,8)) AS BIGINT) % B``.
    """
    return F.pmod(
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(num_buckets),
    ).cast("int")


def bucket_id_py(key: str, num_buckets: int) -> int:
    return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) % num_buckets


def op_rank(op: Column) -> Column:
    """Tie-break rank at equal LSN; see schemas.OP_RANK for semantics
    (snapshot read loses to any concurrent WAL event)."""
    return (
        F.when(op == "r", F.lit(0))
        .when(op == "c", F.lit(1))
        .when(op == "u", F.lit(2))
        .when(op == "d", F.lit(3))
        .otherwise(F.lit(1))
    )


def salt(col: Column, n_salts: int) -> Column:
    """Deterministic salt cell for hot-key two-phase aggregation
    (north rule: salting for hot-key skew). Salting on lsn spreads one
    hot doc_id's events over ``n_salts`` reducers."""
    return F.pmod(F.xxhash64(col), F.lit(n_salts)).cast("int")


def resolve_winners(
    cand: DataFrame,
    key: str,
    salt_buckets: int = 0,
    observe: Observation | None = None,
) -> DataFrame:
    """One row per key: the candidate with the maximal ``(_lsn,
    _op_rank)`` — the one conflict-resolution kernel (upsert apply, MoR
    read, changefeed poll, feed apply). A snapshot read (rank 0) loses
    to any WAL event at the same lsn.

    The order is ONE BIGINT ``_lsn*4 + _op_rank`` (rank < 4): a
    primitive max compiles to codegen'd HashAggregate with map-side
    combine, so a hot key ships O(map tasks) rows; a struct-ordered
    ``max_by`` would force SortAggregate over wide token rows (measured
    3-5x slower, anti-scaling with cores). The winning ``(key, ord)``
    joins back with a SHUFFLE_HASH hint (AQE may still broadcast it;
    unhinted, the planner picks SortMergeJoin and sorts the wide side).
    ``salt_buckets > 1`` maxes over ``(key, salt(_lsn))`` first, bounding
    reduce-side rows per hot key; ``observe`` counts keys as ``n_keys``.
    Exact duplicates all survive: callers prove tie-freeness or dedup."""
    cand = cand.withColumn("_ord", F.col("_lsn") * 4 + F.col("_op_rank"))
    if salt_buckets > 1:
        maxes = (
            cand.withColumn("_salt", salt(F.col("_lsn"), salt_buckets))
            .groupBy(key, "_salt")
            .agg(F.max("_ord").alias("_mx"))
            .groupBy(key)
            .agg(F.max("_mx").alias("_mx"))
        )
    else:
        maxes = cand.groupBy(key).agg(F.max("_ord").alias("_mx"))
    if observe is not None:
        maxes = maxes.observe(observe, F.count(F.lit(1)).alias("n_keys"))
    return (
        cand.join(maxes.hint("SHUFFLE_HASH"), key)
        .where(F.col("_ord") == F.col("_mx"))
        .drop("_ord", "_mx")
    )


def spread_input(df) -> "DataFrame":
    """Round-robin-spread a NARROW scan before heavy per-row compute
    (hashing pipelines, vectorized Python decode, dot products).
    Parquet cannot split below a row group, so a small input arrives as
    one task and the whole compute stage runs serially (guide §2.5
    input skew: "one huge unsplittable file ... repartition immediately
    after the read"). Conditional on the scan's actual split count:
    inputs that already scan with >= the configured shuffle parallelism
    — anything at real scale — pass through untouched, so no
    corpus-sized shuffle is ever added."""
    p = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(p)


def table_partition(table: str, bucket: Column) -> Column:
    """Render the unit of snapshot work, e.g. ``tokens/0007``
    (generalizes the reference's schema-qualified table name,
    ``PostgresJdbcFilterHandler.java:94``)."""
    return F.concat(F.lit(table + "/"), F.lpad(bucket.cast("string"), 4, "0"))
