"""Metrics / lineage + queryable commit-log tables (B9, north rule).

Reference analog: JMX snapshot/streaming beans the tests poll
(``TestUtils.java:66-101``) and Kafka Connect offset storage
(``AbstractTestEmbeddedEngine.java:92-96``). Here both are plain
append-only parquet tables (one tiny file per epoch, driver-written via
pyarrow — no Spark job for a 1-row append), readable as plain parquet
by dashboards and by the resume path (``read_pandas``).

Note the exactly-once source of truth is the target manifest's
``commit_keys`` (atomic with data); this commit_log table is the
queryable lineage copy.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq


class AppendLog:
    def __init__(self, path: str, schema: pa.Schema):
        self.path = path
        self.schema = schema
        os.makedirs(path, exist_ok=True)

    def append(self, rows: list[dict]) -> None:
        if not rows:
            return
        cols = {
            f.name: [r.get(f.name) for r in rows] for f in self.schema
        }
        t = pa.table(cols, schema=self.schema)
        pq.write_table(
            t, os.path.join(self.path, f"{time.time_ns()}-{uuid.uuid4().hex[:6]}.parquet")
        )

    def read_pandas(self):
        files = [
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.endswith(".parquet")
        ]
        if not files:
            return self.schema.empty_table().to_pandas()
        return pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()


METRICS_ARROW = pa.schema(
    [
        pa.field("epoch", pa.int64()),
        pa.field("partition", pa.string()),
        pa.field("phase", pa.string()),  # snapshot | catchup | tail
        pa.field("rows_read", pa.int64()),
        pa.field("rows_applied", pa.int64()),
        pa.field("events_per_sec", pa.float64()),
        pa.field("wall_ms", pa.int64()),
        pa.field("watermark_lsn", pa.int64()),
    ]
)

COMMIT_LOG_ARROW = pa.schema(
    [
        pa.field("pipeline_id", pa.string()),
        pa.field("checkpoint_epoch", pa.int64()),
        pa.field("commit_key", pa.string()),
        pa.field("phase", pa.string()),
        pa.field("batch_keys", pa.int64()),
        pa.field("watermark_lsn", pa.int64()),
        pa.field("table_version", pa.int64()),
        pa.field("committed_at", pa.float64()),
    ]
)
