"""Sources: bounded snapshot scans + the WAL-tail change-event feed.

Reference analogs: B1 (lockless consistent snapshot via Postgres
exported snapshot, ``README.md:91``) and B2 (pgoutput replication-slot
tail, ``README.md:58``). In Spark the snapshot is a bounded
``spark.read`` of an immutable source version filtered to claimed
buckets, and the tail is a Structured Streaming file source over the
change-event log directory (offsets = files, exactly-once via the
checkpoint + idempotent commit keys downstream).

``ParquetWalSource`` simulates the source database for tests/bench:
a "current state" snapshot view + append-only WAL segment files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from debezium_partial_snapshotter_spark.functions import bucket_id, table_partition
from debezium_partial_snapshotter_spark.schemas import CHANGE_EVENT_SCHEMA

#: WAL segment files per streaming micro-batch (``wal_stream``).
MAX_FILES_PER_TRIGGER = 8


class ParquetWalSource:
    """A simulated source system: ``state_path`` holds the source table's
    rows (payload schema), ``log_dir`` holds WAL segments (change-event
    schema, strictly increasing lsn across files)."""

    def __init__(
        self,
        spark: SparkSession,
        state_path: str | None,
        log_dir: str | None,
        table: str = "tokens",
        num_buckets: int = 32,
        event_schema: StructType = CHANGE_EVENT_SCHEMA,
    ):
        self.spark = spark
        self.state_path = state_path
        self.log_dir = log_dir
        self.table = table
        self.num_buckets = num_buckets
        self.event_schema = event_schema

    # ---- B1: bounded snapshot scan of claimed buckets at a watermark ----
    def snapshot(self, buckets: list[int] | None, watermark_lsn: int) -> DataFrame:
        """SELECT * of the claimed partitions, emitted as 'r' events at
        the snapshot watermark. Bucket filtering happens IN the scan
        plan (predicate over bucket_id(doc_id)), so unclaimed partitions
        are pruned before any shuffle — the Spark analog of
        ``buildSnapshotQuery -> Optional.empty()`` skipping a table
        (``PartialSnapshotter.java:36-47``)."""
        payload = self.spark.read.parquet(self.state_path)
        b = bucket_id(F.col("doc_id"), self.num_buckets)
        if buckets is not None:
            payload = payload.where(b.isin([int(x) for x in buckets]))
        after_fields = [f.name for f in payload.schema.fields]
        return payload.select(
            F.lit("r").alias("op"),
            F.col("doc_id"),
            F.lit(watermark_lsn).cast("long").alias("lsn"),
            F.lit("true").alias("snapshot"),
            table_partition(self.table, b).alias("table_partition"),
            F.struct(*[F.col(c) for c in after_fields]).alias("after"),
        )

    # ---- B2: the unbounded tail -----------------------------------------
    def wal_batch(
        self, paths: list[str] | None = None, since_lsn: int | None = None
    ) -> DataFrame:
        """Bounded read of WAL segments (catch-up replay, B3).
        ``since_lsn`` applies the replay watermark INSIDE the source —
        for parquet it prunes at row-group granularity via pushdown;
        for the JDBC source the same parameter keeps already-applied
        rows from ever leaving the database."""
        if paths is None:
            paths = self.wal_segment_paths()
        if not paths:
            return self.spark.createDataFrame([], self.event_schema)
        df = self.spark.read.schema(self.event_schema).parquet(*paths)
        if since_lsn is not None:
            df = df.where(F.col("lsn") > F.lit(since_lsn))
        return df

    def wal_stream(self) -> DataFrame:
        """Structured Streaming file source over the log directory."""
        return (
            self.spark.readStream.schema(self.event_schema)
            .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
            .parquet(self.log_dir)
        )

    def wal_segment_paths(self) -> list[str]:
        if not self.log_dir or not os.path.isdir(self.log_dir):
            return []
        return sorted(
            os.path.join(self.log_dir, f)
            for f in os.listdir(self.log_dir)
            if f.endswith(".parquet")
        )

    def current_lsn(self) -> int:
        """Max lsn present in the WAL — the consistency point a new
        snapshot window opens at (reference: slot LSN)."""
        paths = self.wal_segment_paths()
        if not paths:
            return -1
        row = self.wal_batch(paths).agg(F.max("lsn").alias("m")).collect()[0]
        return int(row["m"]) if row["m"] is not None else -1
