"""Driver contract for the spark-graft builder (PySpark target).

``entry``    — flagship CDC replay at sf0.001 (snapshot + WAL tail +
               exactly-once upsert through the real engine).
``queries``  — one entry per implemented operator (SURVEY.md §2 +
               training-data ops); each (spark, sf_dir) -> DataFrame.
``oracle_sql`` — DuckDB twins. Hash/bucket functions are md5-based by
               design so both engines compute identical values.
Approximate operators (IVF ANN, LSH near-dup buckets) intentionally
carry exact md5-derived formulations so even they oracle-match.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_partial_snapshotter_spark.functions import bucket_id
from debezium_partial_snapshotter_spark.operators import dedup_docs as dd
from debezium_partial_snapshotter_spark.operators import multimodal as mm
from debezium_partial_snapshotter_spark.operators import similarity as sim
from debezium_partial_snapshotter_spark.operators import text as tx
from debezium_partial_snapshotter_spark.operators import windows as win

NB = 16  # buckets used by the cdc_* demonstration queries


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _result_out_dir(prefix: str) -> str:
    """Tempdir for a lazily-read result parquet, removed at process
    exit. The dir must outlive the returned DataFrame (the caller reads
    it lazily), so it cannot be cleaned inline — but without cleanup
    every harness run leaks a parquet copy of the result into TMPDIR
    (tmpfs RAM under the documented bench setup; ADVICE r3)."""
    import atexit

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


# --------------------------------------------------------------------------
# flagship: full engine replay at sf0.001
# --------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Run the real CDC engine end-to-end on a change log derived from
    the sf0.001 documents table: snapshot epoch + WAL tail epochs with
    idempotent commits, then return the final materialized table."""
    from debezium_partial_snapshotter_spark.config import PipelineConfig
    from debezium_partial_snapshotter_spark.sources.eventlog import (
        EventLogSpec,
        generate_change_log,
        generate_initial_state,
        snapshot_read_events,
    )
    from debezium_partial_snapshotter_spark.sources.readers import ParquetWalSource
    from debezium_partial_snapshotter_spark.streaming.runner import (
        PartialIngestRunner,
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    wh = tempfile.mkdtemp(prefix="dps_entry_")
    try:
        spec = EventLogSpec(n_docs=500, n_events=3000, n_segments=3, seed=42)
        state = generate_initial_state(spec)
        state_path = os.path.join(wh, "source", "state.parquet")
        os.makedirs(os.path.dirname(state_path))
        rows = pa.table(
            {
                "doc_id": [r["doc_id"] for r in state],
                "tokens": pa.array(
                    [r["tokens"] for r in state], pa.list_(pa.int32())
                ),
                "n_tok": pa.array([r["n_tok"] for r in state], pa.int32()),
                "source": [r["source"] for r in state],
            }
        )
        pq.write_table(rows, state_path)
        log_dir = os.path.join(wh, "source", "wal")
        os.makedirs(log_dir)

        cfg = PipelineConfig(
            pipeline_id="entry", warehouse=os.path.join(wh, "wh"), num_buckets=16
        )
        src = ParquetWalSource(spark, state_path, log_dir, num_buckets=16)
        runner = PartialIngestRunner(spark, cfg, src)
        runner.start()
        generate_change_log(spec, out_dir=log_dir)
        runner.tail_batch()
        out = runner.table.read(spark).select(
            "doc_id", "n_tok", "source", F.col("_lsn").alias("applied_lsn")
        )
        # persist to a caller-owned location OUTSIDE the temp warehouse
        # and hand back a LAZY read — the result never flows through the
        # driver (the round-2 toPandas round-trip would OOM at a large
        # sf; VERDICT r2 "What's wrong 4")
        out_dir = _result_out_dir("dps_entry_out_")
        out.write.mode("overwrite").parquet(out_dir)
        return spark.read.parquet(out_dir)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# --------------------------------------------------------------------------
# CDC-core demonstrations over the driver's `events` table
#   mapping: key = user_id, lsn = event_id, op = 'd' iff event_type='error'
# --------------------------------------------------------------------------
def q_cdc_last_image(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    payload = F.struct("event_type", "value", "event_id")
    return (
        ev.groupBy("user_id")
        .agg(F.max_by(payload, F.col("event_id")).alias("w"))
        .select(
            "user_id",
            F.col("w.event_type").alias("last_event_type"),
            F.round(F.col("w.value"), 4).alias("last_value"),
            F.col("w.event_id").alias("last_lsn"),
        )
    )


SQL_CDC_LAST_IMAGE = """
SELECT user_id,
       arg_max(event_type, event_id) AS last_event_type,
       round(arg_max(value, event_id), 4) AS last_value,
       max(event_id) AS last_lsn
FROM events GROUP BY user_id
"""


def q_cdc_upsert_final_state(spark, sf_dir):
    """Upsert-apply semantics: latest op per key wins; keys whose latest
    op is a delete drop out of the final state (B5)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "op", F.when(F.col("event_type") == "error", "d").otherwise("u")
    )
    payload = F.struct("op", "value", "event_id")
    last = ev.groupBy("user_id").agg(
        F.max_by(payload, F.col("event_id")).alias("w")
    )
    return (
        last.where(F.col("w.op") != "d")
        .select(
            "user_id",
            F.round(F.col("w.value"), 4).alias("final_value"),
            F.col("w.event_id").alias("final_lsn"),
        )
    )


SQL_CDC_UPSERT_FINAL_STATE = """
WITH tagged AS (
  SELECT user_id, event_id,
         CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op, value
  FROM events
), last AS (
  SELECT user_id,
         arg_max(op, event_id) AS op,
         round(arg_max(value, event_id), 4) AS final_value,
         max(event_id) AS final_lsn
  FROM tagged GROUP BY user_id
)
SELECT user_id, final_value, final_lsn FROM last WHERE op <> 'd'
"""


def q_cdc_snapshot_wal_conflict(spark, sf_dir):
    """B4 conflict resolution on driver data: a snapshot read of each
    key's state at watermark W (tagged 'r', lsn=W, rank 0) unions with
    the WAL after W (rank 1); winner per key by (lsn, rank); deletes
    drop out. 'r' loses to any WAL event at lsn >= W."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "op", F.when(F.col("event_type") == "error", "d").otherwise("u")
    )
    w = ev.agg(F.floor(F.max("event_id") / 2).cast("long").alias("w")).collect()[0]["w"]
    pre = ev.where(F.col("event_id") <= w)
    snap_state = (
        pre.groupBy("user_id")
        .agg(F.max_by(F.struct("op", "value"), F.col("event_id")).alias("s"))
        .where(F.col("s.op") != "d")
        .select(
            "user_id",
            F.lit("r").alias("op"),
            F.col("s.value").alias("value"),
            F.lit(w).cast("long").alias("lsn"),
            F.lit(0).alias("rank"),
        )
    )
    # WAL overlaps the watermark (>= w): the event AT w ties with the
    # snapshot read and must beat it (rank 1 > rank 0). The composite
    # order (lsn, rank) is encoded as 2*lsn + rank — same total order,
    # and expressible as a plain numeric arg_max in ANY SQL engine.
    wal = ev.where(F.col("event_id") >= w).select(
        "user_id",
        "op",
        "value",
        F.col("event_id").cast("long").alias("lsn"),
        F.lit(1).alias("rank"),
    )
    allc = snap_state.unionByName(wal)
    winner = allc.groupBy("user_id").agg(
        F.max_by(
            F.struct("op", "value", "lsn", "rank"),
            F.col("lsn") * 2 + F.col("rank"),
        ).alias("w")
    )
    return (
        winner.where(F.col("w.op") != "d")
        .select(
            "user_id",
            F.col("w.op").alias("win_op"),
            F.round(F.col("w.value"), 4).alias("win_value"),
            F.col("w.lsn").alias("win_lsn"),
        )
    )


SQL_CDC_SNAPSHOT_WAL_CONFLICT = """
WITH wm AS (SELECT CAST(floor(max(event_id)/2) AS BIGINT) AS w FROM events),
tagged AS (
  SELECT user_id, event_id, value,
         CASE WHEN event_type='error' THEN 'd' ELSE 'u' END AS op
  FROM events
),
snap AS (
  SELECT user_id, 'r' AS op, arg_max(value, event_id) AS value,
         (SELECT w FROM wm) AS lsn, 0 AS rank
  FROM tagged WHERE event_id <= (SELECT w FROM wm)
  GROUP BY user_id
  HAVING arg_max(op, event_id) <> 'd'
),
wal AS (
  SELECT user_id, op, value, event_id AS lsn, 1 AS rank
  FROM tagged WHERE event_id >= (SELECT w FROM wm)
),
unioned AS (SELECT * FROM snap UNION ALL SELECT * FROM wal),
winner AS (
  SELECT user_id,
         arg_max(op, lsn*2 + rank) AS op,
         round(arg_max(value, lsn*2 + rank), 4) AS win_value,
         arg_max(lsn, lsn*2 + rank) AS win_lsn
  FROM unioned GROUP BY user_id
)
SELECT user_id, op AS win_op, win_value, win_lsn FROM winner WHERE op <> 'd'
"""


def q_engine_replay(spark, sf_dir):
    """The FLAGSHIP path, driver-oracled: run the real engine
    (PartialIngestRunner: full snapshot epoch + two WAL tail epochs +
    an idempotent redelivery no-op) over a change log derived
    deterministically from the driver's events table (key = user_id,
    lsn = event_id, op = 'd' iff event_type = 'error'; source state =
    the upsert image of events at lsn <= w, WAL = events with lsn > w).
    Returns the final materialized table. Reference behavior pinned:
    testReplayRecordsDuringResnapshot (PartialSnapshotterTest.java:183-237)
    + golden final-state assertions (:444-471)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from debezium_partial_snapshotter_spark.config import PipelineConfig
    from debezium_partial_snapshotter_spark.functions import table_partition
    from debezium_partial_snapshotter_spark.sources.readers import ParquetWalSource
    from debezium_partial_snapshotter_spark.streaming.runner import (
        PartialIngestRunner,
    )

    payload = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("value", DoubleType(), True),
        ]
    )
    event_schema = StructType(
        [
            StructField("op", StringType(), False),
            StructField("doc_id", StringType(), False),
            StructField("lsn", LongType(), False),
            StructField("snapshot", StringType(), True),
            StructField("table_partition", StringType(), False),
            StructField("after", payload, True),
        ]
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "op", F.when(F.col("event_type") == "error", "d").otherwise("u")
    )
    w = ev.agg(F.floor(F.max("event_id") / 2).cast("long").alias("w")).collect()[0]["w"]
    mid = ev.agg(
        F.floor(F.max("event_id") * 3 / 4).cast("long").alias("m")
    ).collect()[0]["m"]

    nb = 8
    wh = tempfile.mkdtemp(prefix="dps_replay_")
    try:
        # source table state at the snapshot point: upsert image of lsn <= w
        state = (
            ev.where(F.col("event_id") <= w)
            .groupBy("user_id")
            .agg(F.max_by(F.struct("op", "value"), F.col("event_id")).alias("s"))
            .where(F.col("s.op") != "d")
            .select(
                F.col("user_id").cast("string").alias("doc_id"),
                F.col("s.value").alias("value"),
            )
        )
        state_path = os.path.join(wh, "state.parquet")
        state.coalesce(1).write.mode("overwrite").parquet(state_path)
        log_dir = os.path.join(wh, "wal")
        os.makedirs(log_dir)

        def write_wal(lo: int, hi: int, name: str) -> None:
            seg = ev.where(
                (F.col("event_id") > lo) & (F.col("event_id") <= hi)
            ).select(
                "op",
                F.col("user_id").cast("string").alias("doc_id"),
                F.col("event_id").cast("long").alias("lsn"),
                F.lit("false").alias("snapshot"),
                table_partition(
                    "tokens", bucket_id(F.col("user_id").cast("string"), nb)
                ).alias("table_partition"),
                F.when(F.col("op") == "d", F.lit(None).cast(payload))
                .otherwise(
                    F.struct(
                        F.col("user_id").cast("string").alias("doc_id"),
                        F.col("value"),
                    )
                )
                .alias("after"),
            )
            seg.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(log_dir, name)
            )

        cfg = PipelineConfig(
            pipeline_id="replay",
            warehouse=os.path.join(wh, "wh"),
            num_buckets=nb,
        )
        src = ParquetWalSource(
            spark, state_path, log_dir, num_buckets=nb, event_schema=event_schema
        )
        runner = PartialIngestRunner(spark, cfg, src, payload_schema=payload)
        runner.start()  # catchup (WAL empty) + full snapshot at W=0
        write_wal(w, mid, "seg-00001.parquet")
        runner.tail_batch()
        write_wal(mid, 1 << 60, "seg-00002.parquet")
        runner.tail_batch()
        dup = runner.tail_batch()  # redelivery: must be an idempotent no-op
        assert not dup.get("applied"), "redelivered tail batch was re-applied"
        out = runner.table.read(spark).select(
            F.col("doc_id").cast("long").alias("user_id"),
            F.round(F.col("value"), 4).alias("final_value"),
            F.col("_lsn").alias("final_lsn"),
        )
        # caller-owned parquet + lazy read (never through the driver)
        out_dir = _result_out_dir("dps_replay_out_")
        out.write.mode("overwrite").parquet(out_dir)
        return spark.read.parquet(out_dir)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# The engine's final state must equal the declarative upsert image:
# snapshot rows (lsn 0) lose to any WAL event; latest (lsn, op) per key
# wins; keys whose latest op is a delete drop out.
SQL_ENGINE_REPLAY = """
WITH wm AS (SELECT CAST(floor(max(event_id)/2) AS BIGINT) AS w FROM events),
tagged AS (
  SELECT user_id, event_id, value,
         CASE WHEN event_type='error' THEN 'd' ELSE 'u' END AS op
  FROM events
),
state AS (
  SELECT user_id, arg_max(value, event_id) AS value
  FROM tagged WHERE event_id <= (SELECT w FROM wm)
  GROUP BY user_id
  HAVING arg_max(op, event_id) <> 'd'
),
post AS (
  SELECT user_id, arg_max(op, event_id) AS op,
         arg_max(value, event_id) AS value, max(event_id) AS lsn
  FROM tagged WHERE event_id > (SELECT w FROM wm)
  GROUP BY user_id
),
merged AS (
  SELECT coalesce(p.user_id, s.user_id) AS user_id,
         CASE WHEN p.user_id IS NOT NULL THEN p.op ELSE 'r' END AS op,
         CASE WHEN p.user_id IS NOT NULL THEN p.value ELSE s.value END AS value,
         CASE WHEN p.user_id IS NOT NULL THEN p.lsn ELSE CAST(0 AS BIGINT) END AS lsn
  FROM post p FULL OUTER JOIN state s ON p.user_id = s.user_id
)
SELECT user_id, round(value, 4) AS final_value, lsn AS final_lsn
FROM merged WHERE op <> 'd'
"""


def q_engine_replay_evolve(spark, sf_dir):
    """Mid-stream TRANSACTIONAL schema evolution through the real
    engine (VERDICT r3 next-4; reference motivation: README.md:11 —
    partial re-snapshots exist to recover broken schema migrations).
    Snapshot + one v1 WAL epoch (payload: doc_id, score INT), then a
    v2 epoch that ADDS `category` and WIDENS score int->long. The
    schema swap commits in the SAME manifest CAS as the v2 data
    (LakeTable.replace_buckets new_schema=), so the evolution is
    atomic with the batch; rows last written under v1 read back with
    widened scores and NULL category. The DuckDB twin states the same
    last-image semantics with the v1/v2 projection switch at the
    evolution point."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from debezium_partial_snapshotter_spark.functions import table_partition
    from debezium_partial_snapshotter_spark.operators.upsert import (
        apply_batch,
        empty_table_for,
    )

    payload_v1 = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("score", IntegerType(), True),
        ]
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "op", F.when(F.col("event_type") == "error", "d").otherwise("u")
    )
    bounds = ev.agg(
        F.floor(F.max("event_id") / 2).cast("long").alias("w"),
        F.floor(F.max("event_id") * 3 / 4).cast("long").alias("mid"),
    ).collect()[0]
    w, mid = bounds["w"], bounds["mid"]

    nb = 8

    def seg(lo, hi, v2: bool):
        base = ev.where((F.col("event_id") > lo) & (F.col("event_id") <= hi))
        if v2:
            after = F.struct(
                F.col("user_id").cast("string").alias("doc_id"),
                F.floor("value").cast("long").alias("score"),
                F.col("event_type").alias("category"),
            )
        else:
            after = F.struct(
                F.col("user_id").cast("string").alias("doc_id"),
                F.floor("value").cast("int").alias("score"),
            )
        return base.select(
            "op",
            F.col("user_id").cast("string").alias("doc_id"),
            F.col("event_id").cast("long").alias("lsn"),
            F.lit("false").alias("snapshot"),
            table_partition(
                "tokens", bucket_id(F.col("user_id").cast("string"), nb)
            ).alias("table_partition"),
            F.when(F.col("op") == "d", F.lit(None)).otherwise(after).alias(
                "after"
            ),
        )

    # snapshot image at watermark w, as 'r' events at lsn 0 (loses to
    # any WAL event — the engine's snapshot/stream conflict rule)
    snap = (
        ev.where(F.col("event_id") <= w)
        .groupBy("user_id")
        .agg(F.max_by(F.struct("op", "value"), F.col("event_id")).alias("s"))
        .where(F.col("s.op") != "d")
        .select(
            F.lit("r").alias("op"),
            F.col("user_id").cast("string").alias("doc_id"),
            F.lit(0).cast("long").alias("lsn"),
            F.lit("true").alias("snapshot"),
            table_partition(
                "tokens", bucket_id(F.col("user_id").cast("string"), nb)
            ).alias("table_partition"),
            F.struct(
                F.col("user_id").cast("string").alias("doc_id"),
                F.floor("s.value").cast("int").alias("score"),
            ).alias("after"),
        )
    )

    wh = tempfile.mkdtemp(prefix="dps_evolve_")
    try:
        t = empty_table_for(os.path.join(wh, "t"), payload_v1, nb)
        s0 = apply_batch(
            t, snap, commit_key="e:snap", watermark_kind="snapshot"
        )
        s1 = apply_batch(t, seg(w, mid, v2=False), commit_key="e:t1")
        assert not s0.get("schema_evolved") and not s1.get("schema_evolved")
        s2 = apply_batch(t, seg(mid, 1 << 60, v2=True), commit_key="e:t2")
        assert s2.get("schema_evolved"), "v2 batch must evolve the schema"
        out = t.read(spark).select(
            F.col("doc_id").cast("long").alias("user_id"),
            F.col("score").cast("long").alias("final_score"),
            "category",
            F.col("_lsn").alias("final_lsn"),
        )
        out_dir = _result_out_dir("dps_evolve_out_")
        out.write.mode("overwrite").parquet(out_dir)
        return spark.read.parquet(out_dir)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


SQL_ENGINE_REPLAY_EVOLVE = """
WITH wm AS (
  SELECT CAST(floor(max(event_id)/2) AS BIGINT) AS w,
         CAST(floor(max(event_id)*3/4) AS BIGINT) AS mid
  FROM events
),
tagged AS (
  SELECT user_id, event_id, value, event_type,
         CASE WHEN event_type='error' THEN 'd' ELSE 'u' END AS op
  FROM events
),
state AS (
  SELECT user_id, arg_max(value, event_id) AS value
  FROM tagged WHERE event_id <= (SELECT w FROM wm)
  GROUP BY user_id
  HAVING arg_max(op, event_id) <> 'd'
),
post AS (
  SELECT user_id, arg_max(op, event_id) AS op,
         arg_max(value, event_id) AS value,
         arg_max(event_type, event_id) AS category,
         max(event_id) AS lsn
  FROM tagged WHERE event_id > (SELECT w FROM wm)
  GROUP BY user_id
),
merged AS (
  SELECT coalesce(p.user_id, s.user_id) AS user_id,
         CASE WHEN p.user_id IS NOT NULL THEN p.op ELSE 'r' END AS op,
         CASE WHEN p.user_id IS NOT NULL THEN p.value ELSE s.value END AS value,
         -- category exists only for rows last written by the v2 epoch
         -- (lsn > mid); v1/snapshot rows surface NULL after evolution
         CASE WHEN p.user_id IS NOT NULL AND p.lsn > (SELECT mid FROM wm)
              THEN p.category END AS category,
         CASE WHEN p.user_id IS NOT NULL THEN p.lsn
              ELSE CAST(0 AS BIGINT) END AS lsn
  FROM post p FULL OUTER JOIN state s ON p.user_id = s.user_id
)
SELECT user_id, CAST(floor(value) AS BIGINT) AS final_score,
       category, lsn AS final_lsn
FROM merged WHERE op <> 'd'
"""


def q_engine_replay_multi(spark, sf_dir):
    """Two source tables, ONE pipeline, driver-oracled (VERDICT r4
    next-2; reference: every connector coordinates several tables —
    PartialSnapshotterTest.java:44-46 test_data + another_test_data,
    :302-342 two pipelines sharing one tracker). The driver's events
    table splits by event_id parity into source tables 'ta' (even) and
    'tb' (odd); both replay through MultiTableIngestRunner: one
    tracker, ONE atomic claim over both tables' partitions, one shared
    snapshot consistency point, per-table commit keys, and a SHARED
    WAL feed (each segment interleaves both tables' envelopes, routed
    per table by the table_partition prefix). A redelivered tail must
    be a per-table idempotent no-op. Output: both final tables, tagged
    by ``tbl``."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from debezium_partial_snapshotter_spark.config import PipelineConfig
    from debezium_partial_snapshotter_spark.functions import table_partition
    from debezium_partial_snapshotter_spark.sources.readers import ParquetWalSource
    from debezium_partial_snapshotter_spark.streaming.multi import (
        MultiTableIngestRunner,
    )

    payload = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("value", DoubleType(), True),
        ]
    )
    event_schema = StructType(
        [
            StructField("op", StringType(), False),
            StructField("doc_id", StringType(), False),
            StructField("lsn", LongType(), False),
            StructField("snapshot", StringType(), True),
            StructField("table_partition", StringType(), False),
            StructField("after", payload, True),
        ]
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "op", F.when(F.col("event_type") == "error", "d").otherwise("u")
    )
    bounds = ev.agg(
        F.floor(F.max("event_id") / 2).cast("long").alias("w"),
        F.floor(F.max("event_id") * 3 / 4).cast("long").alias("m"),
    ).collect()[0]
    w, mid = bounds["w"], bounds["m"]
    parity = {"ta": 0, "tb": 1}

    nb = 8
    wh = tempfile.mkdtemp(prefix="dps_replaym_")
    try:
        log_dir = os.path.join(wh, "wal")
        os.makedirs(log_dir)
        sources = {}
        for t, par in parity.items():
            # source-table state at the shared snapshot point
            state = (
                ev.where(
                    (F.col("event_id") % 2 == par) & (F.col("event_id") <= w)
                )
                .groupBy("user_id")
                .agg(
                    F.max_by(F.struct("op", "value"), F.col("event_id")).alias(
                        "s"
                    )
                )
                .where(F.col("s.op") != "d")
                .select(
                    F.col("user_id").cast("string").alias("doc_id"),
                    F.col("s.value").alias("value"),
                )
            )
            state_path = os.path.join(wh, f"state_{t}.parquet")
            state.coalesce(1).write.mode("overwrite").parquet(state_path)
            sources[t] = ParquetWalSource(
                spark, state_path, log_dir, table=t, num_buckets=nb,
                event_schema=event_schema,
            )

        def write_wal(lo: int, hi: int, name: str) -> None:
            # ONE shared segment carrying BOTH tables' events
            parts = []
            for t, par in parity.items():
                parts.append(
                    ev.where(
                        (F.col("event_id") > lo)
                        & (F.col("event_id") <= hi)
                        & (F.col("event_id") % 2 == par)
                    ).select(
                        "op",
                        F.col("user_id").cast("string").alias("doc_id"),
                        F.col("event_id").cast("long").alias("lsn"),
                        F.lit("false").alias("snapshot"),
                        table_partition(
                            t, bucket_id(F.col("user_id").cast("string"), nb)
                        ).alias("table_partition"),
                        F.when(F.col("op") == "d", F.lit(None).cast(payload))
                        .otherwise(
                            F.struct(
                                F.col("user_id").cast("string").alias("doc_id"),
                                F.col("value"),
                            )
                        )
                        .alias("after"),
                    )
                )
            parts[0].unionByName(parts[1]).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(log_dir, name))

        cfg = PipelineConfig(
            pipeline_id="replaym",
            warehouse=os.path.join(wh, "wh"),
            num_buckets=nb,
        )
        runner = MultiTableIngestRunner(
            spark, cfg, sources, payload_schemas=payload
        )
        out0 = runner.start()  # catchup (empty WAL) + shared snapshot
        claimed_tables = {
            p.rsplit("/", 1)[0] for p in out0["snapshot"]["claimed"]
        }
        assert claimed_tables == set(parity), out0["snapshot"]
        write_wal(w, mid, "seg-00001.parquet")
        runner.tail_batch()
        write_wal(mid, 1 << 60, "seg-00002.parquet")
        runner.tail_batch()
        dup = runner.tail_batch()  # redelivery: per-table no-op
        assert not any(
            dup[t].get("applied") for t in parity
        ), "redelivered multi-table tail was re-applied"
        outs = [
            runner.tables[t]
            .read(spark)
            .select(
                F.lit(t).alias("tbl"),
                F.col("doc_id").cast("long").alias("user_id"),
                F.round(F.col("value"), 4).alias("final_value"),
                F.col("_lsn").alias("final_lsn"),
            )
            for t in sorted(parity)
        ]
        out = outs[0].unionByName(outs[1])
        out_dir = _result_out_dir("dps_replaym_out_")
        out.write.mode("overwrite").parquet(out_dir)
        return spark.read.parquet(out_dir)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


SQL_ENGINE_REPLAY_MULTI = """
WITH wm AS (SELECT CAST(floor(max(event_id)/2) AS BIGINT) AS w FROM events),
tagged AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 'ta' ELSE 'tb' END AS tbl,
         user_id, event_id, value,
         CASE WHEN event_type='error' THEN 'd' ELSE 'u' END AS op
  FROM events
),
state AS (
  SELECT tbl, user_id, arg_max(value, event_id) AS value
  FROM tagged WHERE event_id <= (SELECT w FROM wm)
  GROUP BY tbl, user_id
  HAVING arg_max(op, event_id) <> 'd'
),
post AS (
  SELECT tbl, user_id, arg_max(op, event_id) AS op,
         arg_max(value, event_id) AS value, max(event_id) AS lsn
  FROM tagged WHERE event_id > (SELECT w FROM wm)
  GROUP BY tbl, user_id
),
merged AS (
  SELECT coalesce(p.tbl, s.tbl) AS tbl,
         coalesce(p.user_id, s.user_id) AS user_id,
         CASE WHEN p.user_id IS NOT NULL THEN p.op ELSE 'r' END AS op,
         CASE WHEN p.user_id IS NOT NULL THEN p.value ELSE s.value END AS value,
         CASE WHEN p.user_id IS NOT NULL THEN p.lsn ELSE CAST(0 AS BIGINT) END AS lsn
  FROM post p FULL OUTER JOIN state s
       ON p.user_id = s.user_id AND p.tbl = s.tbl
)
SELECT tbl, user_id, round(value, 4) AS final_value, lsn AS final_lsn
FROM merged WHERE op <> 'd'
"""


def q_engine_replay_rescale(spark, sf_dir):
    """engine_replay with an ONLINE incremental rescale (8 -> 16
    buckets) interleaved mid-replay (VERDICT r4 next-3a): snapshot,
    tail, ``begin_rescale(16)`` + half the ``split_bucket`` migrations,
    tail UNDER the transitional layout (keys in split buckets route to
    their new child entries; unsplit keys stay put), the remaining
    splits (auto-finalize), and a final tail under the new layout. The
    oracle is the SAME SQL as engine_replay — the final state is
    layout-independent, so the driver verifies the whole online-rescale
    machinery (transitional routing, layout-token commit guards,
    finalize) end-to-end against DuckDB."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from debezium_partial_snapshotter_spark.config import PipelineConfig
    from debezium_partial_snapshotter_spark.functions import table_partition
    from debezium_partial_snapshotter_spark.sources.readers import ParquetWalSource
    from debezium_partial_snapshotter_spark.streaming.runner import (
        PartialIngestRunner,
    )

    payload = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("value", DoubleType(), True),
        ]
    )
    event_schema = StructType(
        [
            StructField("op", StringType(), False),
            StructField("doc_id", StringType(), False),
            StructField("lsn", LongType(), False),
            StructField("snapshot", StringType(), True),
            StructField("table_partition", StringType(), False),
            StructField("after", payload, True),
        ]
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "op", F.when(F.col("event_type") == "error", "d").otherwise("u")
    )
    bounds = ev.agg(
        F.floor(F.max("event_id") / 2).cast("long").alias("w"),
        F.floor(F.max("event_id") * 2 / 3).cast("long").alias("m1"),
        F.floor(F.max("event_id") * 5 / 6).cast("long").alias("m2"),
    ).collect()[0]
    w, m1, m2 = bounds["w"], bounds["m1"], bounds["m2"]

    nb = 8
    wh = tempfile.mkdtemp(prefix="dps_replayr_")
    try:
        state = (
            ev.where(F.col("event_id") <= w)
            .groupBy("user_id")
            .agg(F.max_by(F.struct("op", "value"), F.col("event_id")).alias("s"))
            .where(F.col("s.op") != "d")
            .select(
                F.col("user_id").cast("string").alias("doc_id"),
                F.col("s.value").alias("value"),
            )
        )
        state_path = os.path.join(wh, "state.parquet")
        state.coalesce(1).write.mode("overwrite").parquet(state_path)
        log_dir = os.path.join(wh, "wal")
        os.makedirs(log_dir)

        def write_wal(lo: int, hi: int, name: str) -> None:
            seg = ev.where(
                (F.col("event_id") > lo) & (F.col("event_id") <= hi)
            ).select(
                "op",
                F.col("user_id").cast("string").alias("doc_id"),
                F.col("event_id").cast("long").alias("lsn"),
                F.lit("false").alias("snapshot"),
                table_partition(
                    "tokens", bucket_id(F.col("user_id").cast("string"), nb)
                ).alias("table_partition"),
                F.when(F.col("op") == "d", F.lit(None).cast(payload))
                .otherwise(
                    F.struct(
                        F.col("user_id").cast("string").alias("doc_id"),
                        F.col("value"),
                    )
                )
                .alias("after"),
            )
            seg.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(log_dir, name)
            )

        cfg = PipelineConfig(
            pipeline_id="replayr",
            warehouse=os.path.join(wh, "wh"),
            num_buckets=nb,
        )
        src = ParquetWalSource(
            spark, state_path, log_dir, num_buckets=nb,
            event_schema=event_schema,
        )
        runner = PartialIngestRunner(spark, cfg, src, payload_schema=payload)
        runner.start()
        write_wal(w, m1, "seg-00001.parquet")
        runner.tail_batch()

        table = runner.table
        rs = table.begin_rescale(16)
        assert rs["applied"], rs
        for b in range(4):  # half the migrations, then keep ingesting
            table.split_bucket(spark, b)
        write_wal(m1, m2, "seg-00002.parquet")
        runner.tail_batch()  # applied UNDER the transitional layout
        for b in range(4, 8):  # remaining splits; the last finalizes
            out_split = table.split_bucket(spark, b)
        assert out_split["finalized"], out_split
        assert table.num_buckets == 16
        write_wal(m2, 1 << 60, "seg-00003.parquet")
        runner.tail_batch()  # applied under the NEW layout

        out = table.read(spark).select(
            F.col("doc_id").cast("long").alias("user_id"),
            F.round(F.col("value"), 4).alias("final_value"),
            F.col("_lsn").alias("final_lsn"),
        )
        out_dir = _result_out_dir("dps_replayr_out_")
        out.write.mode("overwrite").parquet(out_dir)
        return spark.read.parquet(out_dir)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def q_dead_letter(spark, sf_dir):
    """Dead-letter quarantine under the correctness gate (VERDICT r4
    next-3b; reference "nothing extra / nothing lost" delivery checks,
    ChangeConsumer.java:78-91). The WAL is Debezium-JSON text where a
    deterministic subset of envelopes is broken: event_id % 23 == 0
    lines are truncated JSON (reason unparseable_json); among the
    rest, event_id % 29 == 0 envelopes lack source.lsn (reason
    missing_lsn). The engine replays through DebeziumJsonSource with a
    quarantine sink; the row asserts BOTH sides of the audit at once —
    final-table rows (kind='row': only intact envelopes applied;
    nothing extra) and per-reason quarantine counts (kind='q:<reason>',
    count in ``user_id``: nothing lost silently). The DuckDB twin
    recomputes both from the same parity rules."""
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    from debezium_partial_snapshotter_spark.config import PipelineConfig
    from debezium_partial_snapshotter_spark.sources.debezium import (
        DebeziumJsonSource,
    )
    from debezium_partial_snapshotter_spark.streaming.runner import (
        PartialIngestRunner,
    )

    payload = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("value", DoubleType(), True),
        ]
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "op", F.when(F.col("event_type") == "error", "d").otherwise("u")
    )
    w = ev.agg(F.floor(F.max("event_id") / 2).cast("long").alias("w")).collect()[
        0
    ]["w"]
    mid = ev.agg(
        F.floor(F.max("event_id") * 3 / 4).cast("long").alias("m")
    ).collect()[0]["m"]

    nb = 8
    wh = tempfile.mkdtemp(prefix="dps_deadletter_")
    try:
        # the source DB applied EVERYTHING <= w (corruption happens to
        # the WAL envelope in flight, not to the source table)
        state = (
            ev.where(F.col("event_id") <= w)
            .groupBy("user_id")
            .agg(F.max_by(F.struct("op", "value"), F.col("event_id")).alias("s"))
            .where(F.col("s.op") != "d")
            .select(
                F.col("user_id").cast("string").alias("doc_id"),
                F.col("s.value").alias("value"),
            )
        )
        state_path = os.path.join(wh, "state.parquet")
        state.coalesce(1).write.mode("overwrite").parquet(state_path)
        log_dir = os.path.join(wh, "wal")
        os.makedirs(log_dir)

        def write_wal(lo: int, hi: int, name: str) -> None:
            """Debezium-JSON lines; the corrupt/missing-lsn subsets are
            derived from event_id so the oracle can recount them."""
            seg = ev.where(
                (F.col("event_id") > lo) & (F.col("event_id") <= hi)
            )
            image = F.struct(
                F.col("user_id").cast("string").alias("doc_id"),
                F.col("value"),
            )
            # Debezium shape: deletes carry only `before` (the decoder
            # keys deletes off it); creates/updates carry `after`
            after = F.when(
                F.col("op") == "d", F.lit(None).cast(payload)
            ).otherwise(image)
            before = F.when(F.col("op") == "d", image).otherwise(
                F.lit(None).cast(payload)
            )
            src_ok = F.struct(
                F.col("event_id").cast("long").alias("lsn"),
                F.lit("false").alias("snapshot"),
            )
            src_nolsn = F.struct(F.lit("false").alias("snapshot"))
            good = F.to_json(
                F.struct(
                    F.col("op").alias("op"), before.alias("before"),
                    after.alias("after"), src_ok.alias("source"),
                )
            )
            nolsn = F.to_json(
                F.struct(
                    F.col("op").alias("op"), before.alias("before"),
                    after.alias("after"), src_nolsn.alias("source"),
                )
            )
            line = (
                F.when(F.col("event_id") % 23 == 0, F.lit('{"op": "u", "trunc'))
                .when(F.col("event_id") % 29 == 0, nolsn)
                .otherwise(good)
            )
            seg.select(line.alias("value")).coalesce(1).write.mode(
                "overwrite"
            ).text(os.path.join(log_dir, "tmp_" + name))
            # the source lists *.jsonl/*.json; rename Spark's part file
            tmp = os.path.join(log_dir, "tmp_" + name)
            part = [f for f in os.listdir(tmp) if f.startswith("part-")][0]
            os.rename(os.path.join(tmp, part), os.path.join(log_dir, name))
            shutil.rmtree(tmp, ignore_errors=True)

        cfg = PipelineConfig(
            pipeline_id="deadletter",
            warehouse=os.path.join(wh, "wh"),
            num_buckets=nb,
        )
        qdir = os.path.join(wh, "quarantine")
        src = DebeziumJsonSource(
            spark, state_path, log_dir, num_buckets=nb,
            payload_schema=payload, quarantine_dir=qdir,
        )
        runner = PartialIngestRunner(spark, cfg, src, payload_schema=payload)
        runner.start()
        write_wal(w, mid, "seg-00001.jsonl")
        runner.tail_batch()
        write_wal(mid, 1 << 60, "seg-00002.jsonl")
        runner.tail_batch()

        rows = runner.table.read(spark).select(
            F.lit("row").alias("kind"),
            F.col("doc_id").cast("long").alias("user_id"),
            F.round(F.col("value"), 4).alias("final_value"),
            F.col("_lsn").alias("final_lsn"),
        )
        rejects = spark.read.parquet(os.path.join(qdir, "rejects"))
        qcounts = (
            rejects.groupBy("reason")
            .count()
            .select(
                F.concat(F.lit("q:"), F.col("reason")).alias("kind"),
                F.col("count").cast("long").alias("user_id"),
                F.lit(None).cast("double").alias("final_value"),
                F.lit(None).cast("long").alias("final_lsn"),
            )
        )
        # audit cross-check: the metrics counter totals the same rows
        stats = src.quarantine_stats()
        n_rejects = rejects.count()
        assert stats["rows_quarantined"] == n_rejects, (stats, n_rejects)
        out = rows.unionByName(qcounts)
        out_dir = _result_out_dir("dps_deadletter_out_")
        out.write.mode("overwrite").parquet(out_dir)
        return spark.read.parquet(out_dir)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


SQL_DEAD_LETTER = """
WITH wm AS (SELECT CAST(floor(max(event_id)/2) AS BIGINT) AS w FROM events),
tagged AS (
  SELECT user_id, event_id, value,
         CASE WHEN event_type='error' THEN 'd' ELSE 'u' END AS op,
         (event_id % 23 = 0) AS corrupt,
         (event_id % 23 <> 0 AND event_id % 29 = 0) AS nolsn
  FROM events
),
state AS (
  SELECT user_id, arg_max(value, event_id) AS value
  FROM tagged WHERE event_id <= (SELECT w FROM wm)
  GROUP BY user_id
  HAVING arg_max(op, event_id) <> 'd'
),
post AS (
  -- only INTACT envelopes ever reach the apply path
  SELECT user_id, arg_max(op, event_id) AS op,
         arg_max(value, event_id) AS value, max(event_id) AS lsn
  FROM tagged
  WHERE event_id > (SELECT w FROM wm) AND NOT corrupt AND NOT nolsn
  GROUP BY user_id
),
merged AS (
  SELECT coalesce(p.user_id, s.user_id) AS user_id,
         CASE WHEN p.user_id IS NOT NULL THEN p.op ELSE 'r' END AS op,
         CASE WHEN p.user_id IS NOT NULL THEN p.value ELSE s.value END AS value,
         CASE WHEN p.user_id IS NOT NULL THEN p.lsn ELSE CAST(0 AS BIGINT) END AS lsn
  FROM post p FULL OUTER JOIN state s ON p.user_id = s.user_id
)
SELECT 'row' AS kind, user_id, round(value, 4) AS final_value,
       lsn AS final_lsn
FROM merged WHERE op <> 'd'
UNION ALL
SELECT 'q:unparseable_json', count(*), CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT)
FROM tagged WHERE event_id > (SELECT w FROM wm) AND corrupt
UNION ALL
SELECT 'q:missing_lsn', count(*), CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT)
FROM tagged WHERE event_id > (SELECT w FROM wm) AND nolsn
"""


def q_stateful_latest(spark, sf_dir):
    """Custom stateful STREAMING operator under the correctness gate:
    applyInPandasWithState latest-event filter (streaming/stateful.py)
    run as one availableNow micro-batch over the events table — with a
    single batch the emitted row per key is exactly the (lsn, op_rank)
    winner, which the SQL twin expresses declaratively."""
    from debezium_partial_snapshotter_spark.streaming.stateful import (
        latest_events_stateful,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("op", F.when(F.col("event_type") == "error", "d").otherwise("u"))
        .select(
            F.col("user_id").cast("string").alias("doc_id"),
            F.col("event_id").cast("long").alias("lsn"),
            "op",
            "value",
        )
    )
    wh = tempfile.mkdtemp(prefix="dps_stateful_")
    out_dir = _result_out_dir("dps_stateful_out_")
    try:
        feed = os.path.join(wh, "feed")
        ev.coalesce(1).write.mode("overwrite").parquet(feed)
        stream = spark.readStream.schema(
            "doc_id string, lsn long, op string, value double"
        ).parquet(feed)

        # each micro-batch writes straight to the caller-owned output
        # dir — an executor-side parquet append, never a driver
        # toPandas (VERDICT r2 "What's wrong 4")
        def sink(df, batch_id):
            df.write.mode("append").parquet(out_dir)

        q = (
            latest_events_stateful(stream)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(wh, "chk"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        if q.isActive:
            q.stop()
        res = spark.read.schema(
            "doc_id string, lsn long, op string, value double"
        ).parquet(out_dir)
        return res.select(
            F.col("doc_id").cast("long").alias("user_id"),
            F.col("op").alias("last_op"),
            F.round("value", 4).alias("last_value"),
            F.col("lsn").alias("last_lsn"),
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)


SQL_STATEFUL_LATEST = """
WITH tagged AS (
  SELECT user_id, event_id, value,
         CASE WHEN event_type='error' THEN 'd' ELSE 'u' END AS op
  FROM events
)
SELECT user_id,
       arg_max(op, event_id) AS last_op,
       round(arg_max(value, event_id), 4) AS last_value,
       max(event_id) AS last_lsn
FROM tagged GROUP BY user_id
"""


def q_bucket_assignment(spark, sf_dir):
    """The engine's portable bucket(doc_id) partitioner (md5-based) —
    per-bucket key counts, i.e. the partition-skew histogram."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(bucket_id(F.col("doc_id"), NB).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_BUCKET_ASSIGNMENT = f"""
SELECT CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % {NB} AS INT) AS bucket,
       count(*) AS n_docs
FROM documents GROUP BY 1
"""


def q_tracker_discovery(spark, sf_dir):
    """A5 discovery anti-join: buckets seen in the change feed that are
    NOT yet registered in the tracker (here: tracker knows buckets
    0..7) — exactly the MERGE WHEN NOT MATCHED INSERT source set."""
    ev = _t(spark, sf_dir, "events")
    seen = ev.select(
        bucket_id(F.col("user_id"), NB).alias("bucket")
    ).distinct()
    tracker = spark.range(8).select(F.col("id").cast("int").alias("bucket"))
    return seen.join(tracker, "bucket", "left_anti").select("bucket")


SQL_TRACKER_DISCOVERY = f"""
WITH seen AS (
  SELECT DISTINCT CAST(CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),1,8)) AS BIGINT) % {NB} AS INT) AS bucket
  FROM events
), tracker AS (SELECT CAST(range AS INT) AS bucket FROM range(8))
SELECT bucket FROM seen ANTI JOIN tracker USING (bucket)
"""


def q_catchup_backlog(spark, sf_dir):
    """B3 catch-up planning: per-bucket backlog past the watermark —
    row counts and LSN ranges the resume path must drain."""
    ev = _t(spark, sf_dir, "events")
    w = ev.agg(F.floor(F.max("event_id") * 3 / 4).cast("long").alias("w")).collect()[0]["w"]
    return (
        ev.where(F.col("event_id") > w)
        .groupBy(bucket_id(F.col("user_id"), NB).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("backlog"),
            F.min("event_id").alias("min_lsn"),
            F.max("event_id").alias("max_lsn"),
        )
    )


SQL_CATCHUP_BACKLOG = f"""
WITH wm AS (SELECT CAST(floor(max(event_id)*3/4) AS BIGINT) AS w FROM events)
SELECT CAST(CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),1,8)) AS BIGINT) % {NB} AS INT) AS bucket,
       count(*) AS backlog, min(event_id) AS min_lsn, max(event_id) AS max_lsn
FROM events WHERE event_id > (SELECT w FROM wm)
GROUP BY 1
"""


def q_hot_key_histogram(spark, sf_dir):
    """Skew diagnostic feeding the salting decision: per-key event
    counts, descending, top 20 (ties broken by key)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.col("n_events").desc(), F.col("user_id"))
        .limit(20)
    )


SQL_HOT_KEY_HISTOGRAM = """
SELECT user_id, count(*) AS n_events
FROM events GROUP BY user_id
ORDER BY n_events DESC, user_id LIMIT 20
"""


def q_salted_agg(spark, sf_dir):
    """Two-phase salted aggregation (north rule B8): per-event_type
    totals computed via (event_type, salt) partials then re-combined —
    must equal the plain GROUP BY the oracle runs."""
    ev = _t(spark, sf_dir, "events")
    stage1 = (
        ev.withColumn("_salt", F.pmod(F.col("event_id"), F.lit(16)))
        .groupBy("event_type", "_salt")
        .agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    return (
        stage1.groupBy("event_type")
        .agg(
            F.round(F.sum("s"), 2).alias("total_value"),
            F.sum("c").alias("n_events"),
        )
    )


SQL_SALTED_AGG = """
SELECT event_type, round(sum(value), 2) AS total_value, count(*) AS n_events
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# training-data pipeline: dedup family
# --------------------------------------------------------------------------
def q_dedup_exact(spark, sf_dir):
    return dd.dedup_exact(_t(spark, sf_dir, "documents")).select(
        "doc_id", "canonical_id", "group_size", "is_dup"
    )


SQL_DEDUP_EXACT = """
WITH hashed AS (SELECT doc_id, md5(text) AS h FROM documents),
canon AS (
  SELECT h, min(doc_id) AS canonical_id, count(*) AS group_size
  FROM hashed GROUP BY h
)
SELECT doc_id, canonical_id, group_size, (doc_id <> canonical_id) AS is_dup
FROM hashed JOIN canon USING (h)
"""


def q_minhash_signatures(spark, sf_dir):
    return dd.minhash_signatures(
        _t(spark, sf_dir, "documents"), k=4, shingle_n=3
    ).select("doc_id", "seed", "mh")


SQL_MINHASH_SIGNATURES = """
WITH words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ws)-2, 1) + 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
  FROM words WHERE len(ws) >= 3
)
SELECT doc_id, seed,
       min(CAST(('0x' || substring(md5(shingle || '#' || CAST(seed AS VARCHAR)),1,15)) AS BIGINT)) AS mh
FROM sh CROSS JOIN (SELECT CAST(range AS INT) AS seed FROM range(4)) seeds
GROUP BY doc_id, seed
"""


def q_minhash_lsh_pairs(spark, sf_dir):
    return dd.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), k=8, bands=4, shingle_n=3
    ).select("doc_a", "doc_b")


SQL_MINHASH_LSH_PAIRS = """
WITH words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ws)-2, 1) + 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
  FROM words WHERE len(ws) >= 3
), sig AS (
  SELECT doc_id, seed,
         min(CAST(('0x' || substring(md5(shingle || '#' || CAST(seed AS VARCHAR)),1,15)) AS BIGINT)) AS mh
  FROM sh CROSS JOIN (SELECT CAST(range AS INT) AS seed FROM range(8)) seeds
  GROUP BY doc_id, seed
), banded AS (
  SELECT doc_id, CAST(seed // 2 AS INT) AS band,
         CAST(('0x' || substring(md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY mh)),1,15)) AS BIGINT) AS bh
  FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
"""


def q_jaccard_pairs(spark, sf_dir):
    """LSH-gated exact Jaccard (unigram shingles; candidates from
    MinHash bands k=8, bands=8 — recall 1-(1-s)^8). The oracle mirrors
    the gate exactly, so approximation is part of the pinned contract."""
    return dd.jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.5, shingle_n=1, k=8, bands=8
    ).select("doc_a", "doc_b", "inter", "sz_a", "sz_b", "jaccard")


SQL_JACCARD_PAIRS = """
WITH words AS (
  SELECT doc_id,
         list_filter(list_distinct(string_split_regex(trim(lower(text)), '\\s+')),
                     w -> length(w) > 0) AS sh
  FROM documents
), sig AS (
  SELECT doc_id, seed,
         min(CAST(('0x' || substring(md5(shingle || '#' || CAST(seed AS VARCHAR)),1,15)) AS BIGINT)) AS mh
  FROM (SELECT doc_id, unnest(sh) AS shingle FROM words) s
  CROSS JOIN (SELECT CAST(range AS INT) AS seed FROM range(8)) seeds
  GROUP BY doc_id, seed
), banded AS (
  -- one signature row per band: the band hash IS the minhash value
  SELECT doc_id, seed AS band, mh AS bh FROM sig
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), verified AS (
  SELECT doc_a, doc_b,
         len(list_intersect(wa.sh, wb.sh)) AS inter,
         len(wa.sh) AS sz_a, len(wb.sh) AS sz_b
  FROM cand
  JOIN words wa ON wa.doc_id = doc_a
  JOIN words wb ON wb.doc_id = doc_b
)
SELECT doc_a, doc_b, inter, sz_a, sz_b,
       round(inter / (sz_a + sz_b - inter), 4) AS jaccard
FROM verified
WHERE round(inter / (sz_a + sz_b - inter), 4) >= 0.5
"""


def q_near_dup_clusters(spark, sf_dir):
    """Cluster-output near-dup (VERDICT r2 item 1): one (doc_id,
    canonical_id) assignment per doc — the scale-safe replacement for
    the pair list. canonical = min doc_id of the connected component of
    the verified Jaccard graph (same gate/threshold as jaccard_pairs);
    the oracle computes the identical closure with a recursive CTE."""
    return dd.near_dup_clusters(
        _t(spark, sf_dir, "documents"), threshold=0.5, shingle_n=1, k=8, bands=8
    ).select("doc_id", "canonical_id", "cluster_size", "is_dup")


SQL_NEAR_DUP_CLUSTERS = """
WITH RECURSIVE
words AS (
  SELECT doc_id,
         list_filter(list_distinct(string_split_regex(trim(lower(text)), '\\s+')),
                     w -> length(w) > 0) AS sh
  FROM documents
), keyed AS (
  SELECT doc_id, sh, array_to_string(list_sort(sh), chr(31)) AS set_key,
         len(sh) AS sz
  FROM words
), reps AS (
  SELECT set_key, min(doc_id) AS rep FROM keyed WHERE sz > 0 GROUP BY set_key
), repdocs AS (
  SELECT r.rep AS doc_id, k.sh
  FROM reps r JOIN keyed k ON k.doc_id = r.rep AND k.set_key = r.set_key
), sig AS (
  SELECT doc_id, seed,
         min(CAST(('0x' || substring(md5(shingle || '#' || CAST(seed AS VARCHAR)),1,15)) AS BIGINT)) AS mh
  FROM (SELECT doc_id, unnest(sh) AS shingle FROM repdocs) s
  CROSS JOIN (SELECT CAST(range AS INT) AS seed FROM range(8)) seeds
  GROUP BY doc_id, seed
), banded AS (
  SELECT doc_id, seed AS band, mh AS bh FROM sig
), cand AS (
  SELECT DISTINCT a.doc_id AS rep_a, b.doc_id AS rep_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), verified AS (
  SELECT rep_a, rep_b
  FROM cand
  JOIN repdocs wa ON wa.doc_id = rep_a
  JOIN repdocs wb ON wb.doc_id = rep_b
  WHERE round(len(list_intersect(wa.sh, wb.sh))
              / (len(wa.sh) + len(wb.sh) - len(list_intersect(wa.sh, wb.sh))), 4) >= 0.5
), edges AS (
  SELECT rep_a AS s, rep_b AS d FROM verified
  UNION
  SELECT rep_b AS s, rep_a AS d FROM verified
), reach(node, lab) AS (
  SELECT rep, rep FROM reps
  UNION
  SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.node
), comp AS (
  SELECT node AS rep, min(lab) AS canonical_id FROM reach GROUP BY node
), assign AS (
  SELECT k.doc_id, c.canonical_id
  FROM keyed k
  JOIN reps r ON k.set_key = r.set_key AND k.sz > 0
  JOIN comp c ON c.rep = r.rep
  UNION ALL
  SELECT doc_id, doc_id AS canonical_id FROM keyed WHERE sz = 0
), sized AS (
  SELECT canonical_id, count(*) AS cluster_size FROM assign GROUP BY canonical_id
)
SELECT a.doc_id, a.canonical_id, s.cluster_size,
       (a.doc_id <> a.canonical_id) AS is_dup
FROM assign a JOIN sized s USING (canonical_id)
"""


def q_simhash(spark, sf_dir):
    return dd.simhash(_t(spark, sf_dir, "documents"), bits=32).select(
        "doc_id", "simhash"
    )


# shared fingerprint pipeline: SQL_SIMHASH and the simhash near-dup
# oracles must agree on what a fingerprint is, so there is exactly ONE
# SQL definition of it (the sig CTE carries the HUGEINT->BIGINT cast
# that fixed the round-1 simhash hash-mismatch)
SQL_SIMHASH_SIG_CTE = """
words AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS w
  FROM documents
), w2 AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(w),1,8)) AS BIGINT) AS wh
  FROM words WHERE length(w) > 0
), contrib AS (
  SELECT doc_id, bit,
         CASE WHEN (wh >> bit) & 1 = 1 THEN 1 ELSE -1 END AS c
  FROM w2 CROSS JOIN (SELECT CAST(range AS INT) AS bit FROM range(32)) bits
), bitsum AS (
  SELECT doc_id, bit, sum(c) AS s FROM contrib GROUP BY doc_id, bit
), sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM bitsum GROUP BY doc_id
), chunks AS (
  SELECT doc_id, simhash, ci, (simhash >> (ci * 8)) & 255 AS cv
  FROM sig CROSS JOIN (SELECT CAST(range AS INT) AS ci FROM range(4)) cis
)
"""


SQL_SIMHASH = "WITH " + SQL_SIMHASH_SIG_CTE + "SELECT doc_id, simhash FROM sig"


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------
def q_token_count(spark, sf_dir):
    return tx.token_count(_t(spark, sf_dir, "documents"))


SQL_TOKEN_COUNT = """
SELECT doc_id,
       len(string_split_regex(trim(lower(text)), '\\s+')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens
FROM documents
"""


def q_quality_score(spark, sf_dir):
    return tx.quality_score(_t(spark, sf_dir, "documents"))


SQL_QUALITY_SCORE = """
WITH base AS (
  SELECT doc_id, text,
         string_split_regex(trim(lower(text)), '\\s+') AS ws,
         length(text) AS n_chars_q,
         length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS punct
  FROM documents
), feats AS (
  SELECT doc_id, n_chars_q, len(ws) AS n_words,
         len(list_filter(ws, w -> list_contains(
           ['the','a','an','and','or','of','to','in','is','it'], w))) AS stops,
         punct
  FROM base
)
SELECT doc_id, n_chars_q, n_words,
       round(CAST(n_chars_q AS DOUBLE) / greatest(n_words, 1), 4) AS mean_word_len,
       round(CAST(stops AS DOUBLE) / greatest(n_words, 1), 4) AS stop_ratio,
       round(CAST(punct AS DOUBLE) / greatest(n_chars_q, 1), 4) AS punct_ratio,
       round(least(n_words / 100.0, 1.0) * 0.4
             + (CAST(stops AS DOUBLE) / greatest(n_words, 1)) * 0.4
             + (1.0 - least((CAST(punct AS DOUBLE) / greatest(n_chars_q, 1)) * 10.0, 1.0)) * 0.2,
             4) AS quality
FROM feats
"""


def q_lang_id(spark, sf_dir):
    return tx.lang_id(_t(spark, sf_dir, "documents"))


SQL_LANG_ID = """
WITH base AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws FROM documents
), scores AS (
  SELECT doc_id,
    len(list_filter(ws, w -> list_contains(['the','and','of'], w))) AS score_en,
    len(list_filter(ws, w -> list_contains(['der','und','die'], w))) AS score_de,
    len(list_filter(ws, w -> list_contains(['le','et','les'], w))) AS score_fr,
    len(list_filter(ws, w -> list_contains(['el','los','las'], w))) AS score_es
  FROM base
)
SELECT doc_id, score_en, score_de, score_fr, score_es,
  CASE WHEN greatest(score_en, score_de, score_fr, score_es) = 0 THEN 'unknown'
       WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
       WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
       WHEN score_fr >= score_es THEN 'fr'
       ELSE 'es' END AS pred_lang
FROM scores
"""


def q_fingerprint(spark, sf_dir):
    return tx.fingerprint(_t(spark, sf_dir, "documents"))


SQL_FINGERPRINT = """
SELECT doc_id,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp_exact,
       md5(array_to_string(list_sort(list_distinct(
           string_split_regex(trim(lower(text)), '\\s+'))), ' ')) AS fp_content
FROM documents
"""


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------
def q_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    return sim.cosine_topk(emb, queries, k=5)


SQL_COSINE_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id AS item_id,
         round(list_cosine_similarity(q.qv, e.embedding), 4) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, item_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, item_id) AS INT) AS rank
FROM scored
QUALIFY rank <= 5
"""


def q_ivf_topk(spark, sf_dir):
    """Approximate ANN (IVF, n_probe cells). The index is deterministic
    by construction (centroids = first n_cells vectors, argmax-cosine
    assignment), so a full DuckDB twin exists below; recall >= 0.9 vs
    brute force is additionally asserted in tests/test_pipeline_ops.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    return sim.ivf_topk(emb, queries, k=5, n_cells=16, n_probe=4)


# Mirrors similarity.ivf_topk exactly: double-cast + L2-normalize, centroids
# = first 16 vectors by id, cell = argmax cosine (ties -> lowest cell id),
# queries probe their 4 nearest cells, exact cosine within probed cells.
SQL_IVF_TOPK = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0 FROM embeddings
), n AS (
  SELECT vec_id,
         list_transform(v0, x -> x / sqrt(list_sum(list_transform(v0, y -> y*y)))) AS v
  FROM e
), cents AS (
  SELECT vec_id AS cell, v AS cv FROM n ORDER BY vec_id LIMIT 16
), assigned AS (
  SELECT vec_id AS item_id, v AS iv, cell FROM (
    SELECT n.vec_id, n.v, c.cell,
           row_number() OVER (PARTITION BY n.vec_id
                              ORDER BY list_dot_product(n.v, c.cv) DESC, c.cell ASC) AS r
    FROM n CROSS JOIN cents c
  ) WHERE r = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM n WHERE vec_id < 8
), probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY list_dot_product(q.qv, c.cv) DESC, c.cell ASC) AS r
    FROM q CROSS JOIN cents c
  ) WHERE r <= 4
), scored AS (
  SELECT p.query_id, a.item_id, round(list_dot_product(p.qv, a.iv), 4) AS cosine
  FROM probes p JOIN assigned a USING (cell)
  WHERE a.item_id <> p.query_id
)
SELECT query_id, item_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, item_id) AS INT) AS rank
FROM scored QUALIFY rank <= 5
"""


def q_embedding_near_dup(spark, sf_dir):
    """Sign-LSH bucketed embedding near-dup (dedup_docs.embedding_near_dup):
    md5-derived hyperplanes -> 8-bit signature buckets -> exact cosine
    verify ONLY within buckets (equi-join, never all-pairs). Threshold
    0.3 because the synthetic embeddings are near-orthogonal (max
    pairwise cosine ~0.51 at sf0.01)."""
    emb = _t(spark, sf_dir, "embeddings")
    return dd.embedding_near_dup(emb, threshold=0.3, planes=8)


SQL_EMBEDDING_NEAR_DUP = """
WITH e AS (
  SELECT vec_id AS vid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0 FROM embeddings
), n AS (
  SELECT vid,
         list_transform(v0, x -> x / sqrt(list_sum(list_transform(v0, y -> y*y)))) AS v
  FROM e
), sig AS (
  SELECT vid, v, concat(
    {planes}
  ) AS s FROM n
)
SELECT a.vid AS id_a, b.vid AS id_b,
       round(list_dot_product(a.v, b.v), 4) AS cosine
FROM sig a JOIN sig b ON a.s = b.s AND a.vid < b.vid
WHERE round(list_dot_product(a.v, b.v), 4) >= 0.3
""".format(
    planes=",\n    ".join(
        "CASE WHEN list_sum(list_transform(range(len(v)), i -> v[i+1] * "
        "(CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || '_' || '%d'),1,6)) AS BIGINT)"
        "/8388608.0 - 1.0))) >= 0 THEN '1' ELSE '0' END" % p
        for p in range(8)
    )
)


def q_embedding_near_dup_clusters(spark, sf_dir):
    """Cluster-output embedding near-dup: connected components over the
    sign-LSH cosine graph (same buckets/threshold as
    embedding_near_dup), one assignment row per vector."""
    emb = _t(spark, sf_dir, "embeddings")
    return dd.embedding_near_dup_clusters(emb, threshold=0.3, planes=8).select(
        "vec_id", "canonical_id", "cluster_size", "is_dup"
    )


SQL_EMBEDDING_NEAR_DUP_CLUSTERS = """
WITH RECURSIVE
e AS (
  SELECT vec_id AS vid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0 FROM embeddings
), n AS (
  SELECT vid,
         list_transform(v0, x -> x / sqrt(list_sum(list_transform(v0, y -> y*y)))) AS v
  FROM e
), sig AS (
  SELECT vid, v, concat(
    {planes}
  ) AS s FROM n
), pairs AS (
  SELECT a.vid AS id_a, b.vid AS id_b
  FROM sig a JOIN sig b ON a.s = b.s AND a.vid < b.vid
  WHERE round(list_dot_product(a.v, b.v), 4) >= 0.3
), edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION
  SELECT id_b AS s, id_a AS d FROM pairs
), reach(node, lab) AS (
  SELECT vid, vid FROM n
  UNION
  SELECT e2.d, r.lab FROM reach r JOIN edges e2 ON e2.s = r.node
), comp AS (
  SELECT node AS vec_id, min(lab) AS canonical_id FROM reach GROUP BY node
), sized AS (
  SELECT canonical_id, count(*) AS cluster_size FROM comp GROUP BY canonical_id
)
SELECT c.vec_id, c.canonical_id, s.cluster_size,
       (c.vec_id <> c.canonical_id) AS is_dup
FROM comp c JOIN sized s USING (canonical_id)
""".format(
    planes=",\n    ".join(
        "CASE WHEN list_sum(list_transform(range(len(v)), i -> v[i+1] * "
        "(CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || '_' || '%d'),1,6)) AS BIGINT)"
        "/8388608.0 - 1.0))) >= 0 THEN '1' ELSE '0' END" % p
        for p in range(8)
    )
)


# --------------------------------------------------------------------------
# multimodal plumbing
# --------------------------------------------------------------------------
def q_multimodal_meta(spark, sf_dir):
    media = mm.documents_as_media(_t(spark, sf_dir, "documents"))
    return mm.fake_decode_meta(media)


SQL_MULTIMODAL_META = """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       ['image','audio','video'][(doc_id % 3) + 1] AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS fake_width,
       CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS fake_height,
       CAST(octet_length(encode(text)) * 40 % 60000 AS INT) AS fake_duration_ms
FROM documents
"""


def q_frame_sample(spark, sf_dir):
    media = mm.documents_as_media(_t(spark, sf_dir, "documents"))
    return mm.frame_sample(media, n_frames=4)


SQL_FRAME_SAMPLE = """
WITH vid AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id, text,
         octet_length(encode(text)) AS total
  FROM documents WHERE (doc_id % 3) + 1 = 3
)
SELECT media_id, frame_no,
       md5(substring(text, frame_no * (total // 4) + 1, (total // 4))) AS frame_md5
FROM vid CROSS JOIN (SELECT CAST(range AS INT) AS frame_no FROM range(4)) f
"""


# --------------------------------------------------------------------------
# contract
# --------------------------------------------------------------------------
def q_range_join(spark, sf_dir):
    """Range-containment join (brief: custom-operator example): every
    50th order defines a 7-day interval [o_orderdate, +7d); count the
    OTHER orders whose date falls inside each interval. The operator
    re-expresses the non-equi containment join as a bucketized
    equi-join (operators/windows.interval_join) — Spark would
    otherwise plan BroadcastNestedLoop. Oracle runs the naive non-equi
    join (fine at DuckDB's scale) — results must be identical."""
    from debezium_partial_snapshotter_spark.operators.windows import (
        interval_join,
    )

    orders = _t(spark, sf_dir, "orders")
    week = 7 * 86400
    anchors = orders.where(F.col("o_orderkey") % 50 == 0).select(
        F.col("o_orderkey").alias("anchor_key"),
        F.col("o_orderdate").alias("ivl_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("ivl_end"),
    )
    points = orders.select(
        F.col("o_orderkey").alias("point_key"),
        F.col("o_orderdate").alias("point_ts"),
    )
    joined = interval_join(
        points, anchors, point_ts="point_ts",
        start_col="ivl_start", end_col="ivl_end",
        bucket_width_sec=week,
    ).where(F.col("point_key") != F.col("anchor_key"))
    return joined.groupBy("anchor_key").agg(
        F.count(F.lit(1)).alias("n_orders_in_window")
    )


SQL_RANGE_JOIN = """
WITH anchors AS (
  SELECT o_orderkey AS anchor_key,
         o_orderdate AS ivl_start,
         o_orderdate + INTERVAL 7 DAY AS ivl_end
  FROM orders WHERE o_orderkey % 50 = 0
)
SELECT anchor_key, count(*) AS n_orders_in_window
FROM anchors a
JOIN orders p
  ON p.o_orderdate >= a.ivl_start AND p.o_orderdate < a.ivl_end
WHERE p.o_orderkey <> a.anchor_key
GROUP BY anchor_key
"""


def q_quantile_stats(spark, sf_dir):
    """Exact per-group quantiles (p25/p50/p75 of value per event_type)
    via Spark's exact percentile aggregate — linear interpolation,
    matching SQL's percentile_cont. Exact quantiles are a sort-based
    aggregate (per-group sort of the values); at 100 TB swap for
    approx_percentile (t-digest sketch, mergeable map-side) — kept
    exact here so the DuckDB twin hash-matches."""
    ev = _t(spark, sf_dir, "events")
    q = F.expr("percentile(value, array(0.25D, 0.5D, 0.75D))")
    return ev.groupBy("event_type").agg(
        F.round(q.getItem(0), 6).alias("p25"),
        F.round(q.getItem(1), 6).alias("p50"),
        F.round(q.getItem(2), 6).alias("p75"),
    )


SQL_QUANTILE_STATS = """
SELECT event_type,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.50), 6) AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75
FROM events
GROUP BY event_type
"""


def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1-style pricing summary: single-table partial-agg
    groupBy with a pushed-down date filter — every aggregate combines
    map-side, so the shuffle carries <= (flags x statuses) rows per
    map task regardless of lineitem size."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(
            F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       sum(l_extendedprice) AS sum_base_price,
       sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
       sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3-style shipping priority: 3-way join (customer filter
    broadcast into orders, lineitem shuffled once on orderkey), top 10
    by revenue with a deterministic orderkey tie-break."""
    cutoff = F.lit("1998-03-15").cast("timestamp_ntz")
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").cast("long").alias(
                "o_orderdate_epoch"
            ),
            "o_orderpriority",
            "revenue",
        )
    )


SQL_TPCH_Q3 = """
SELECT o_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_epoch,
       o_orderpriority,
       sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5-style local supplier volume: the classic snowflake —
    region/nation/supplier dims broadcast, the only wide shuffle is
    lineitem x orders on orderkey. Demonstrates join reordering +
    broadcast selection on the star schema."""
    cutoff_lo = F.lit("1996-01-01").cast("timestamp_ntz")
    cutoff_hi = F.lit("1997-01-01").cast("timestamp_ntz")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= cutoff_lo) & (F.col("o_orderdate") < cutoff_hi)
    )
    li = _t(spark, sf_dir, "lineitem")
    dims = (
        nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(supp),
            li["l_suppkey"] == supp["s_suppkey"],
        )
        .join(
            cust,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(dims), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


SQL_TPCH_Q5 = """
SELECT n_name,
       sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def q_asof_join(spark, sf_dir):
    """Point-in-time as-of join (the CDC/feature-store lookup): each
    'view' event gets the user's latest 'purchase' value at or before
    its timestamp. One key-shuffle + per-partition sort — the
    scale-safe union+window formulation (operators/asof.py); the
    oracle runs the IDENTICAL window query (deterministic duplicate-ts
    tie-break, which native ASOF JOIN leaves undefined)."""
    from debezium_partial_snapshotter_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    probes = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    builds = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    out = asof_join(
        probes, builds, key="user_id", ts="ts", value_col="value",
        seq_col="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("ts_epoch"),
        "asof_value",
    )


def q_asof_join_chunked(spark, sf_dir):
    """The skew-safe CHUNKED as-of plan (round 4): windows partition by
    (key, 1-hour time chunk) with a carry-in pass over per-chunk build
    tails, so a hot key becomes #chunks tasks instead of one. Output is
    defined to be IDENTICAL to the unchunked plan — the oracle is the
    very same SQL as `asof_join`, which is the point: the driver
    verifies the rewrite, not a weaker contract."""
    from debezium_partial_snapshotter_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    probes = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    builds = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    out = asof_join(
        probes, builds, key="user_id", ts="ts", value_col="value",
        seq_col="event_id", chunk=3600,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("ts_epoch"),
        "asof_value",
    )


SQL_ASOF_JOIN = """
WITH u AS (
  SELECT user_id AS _k, ts AS _ts, 0 AS _side, event_id AS _seq,
         struct_pack(v := value) AS _fill,
         CAST(NULL AS BIGINT) AS event_id
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
  UNION ALL
  SELECT user_id, ts, 1, CAST(NULL AS BIGINT),
         CAST(NULL AS STRUCT(v DOUBLE)), event_id
  FROM events WHERE event_type = 'view'
), filled AS (
  -- NULLS FIRST on every ordering column pins the ordering Spark uses
  -- (ASC defaults diverge between the engines — the operator also
  -- filters NULL-ts BUILD rows, mirrored by the WHERE above); the
  -- struct fill keeps a null-VALUED build row a non-null marker,
  -- exactly like the operator
  SELECT *, last_value(_fill IGNORE NULLS) OVER (
    PARTITION BY _k ORDER BY _ts NULLS FIRST, _side NULLS FIRST,
                             _seq NULLS FIRST
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _lf
  FROM u
)
SELECT event_id, _k AS user_id,
       CAST(floor(epoch(_ts)) AS BIGINT) AS ts_epoch,
       _lf.v AS asof_value
FROM filled WHERE _side = 1
"""


# SQL_SIMHASH_SIG_CTE is defined above, next to SQL_SIMHASH

def q_simhash_near_dup(spark, sf_dir):
    """SimHash hamming-<=3 near-dup pairs: pigeonhole banding (4 chunks
    of the 32-bit fingerprint — full recall at distance <= 3), exact
    bit_count(xor) verify. The oracle runs the doc-level formulation;
    the Spark plan canonicalizes identical fingerprints first, which is
    output-equivalent (identical fingerprints share every chunk)."""
    return dd.simhash_near_dup(_t(spark, sf_dir, "documents"))


SQL_SIMHASH_NEAR_DUP = (
    "WITH " + SQL_SIMHASH_SIG_CTE + """
, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sh_a,
                  b.doc_id AS doc_b, b.simhash AS sh_b
  FROM chunks a JOIN chunks b
    ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""
)


def q_simhash_clusters(spark, sf_dir):
    """Cluster-output SimHash near-dup (the scale deliverable —
    one assignment row per doc; see near_dup_clusters)."""
    return dd.simhash_clusters(_t(spark, sf_dir, "documents"))


SQL_SIMHASH_CLUSTERS = (
    "WITH RECURSIVE " + SQL_SIMHASH_SIG_CTE + """
, reps AS (
  SELECT simhash, min(doc_id) AS rep FROM sig GROUP BY simhash
), cand AS (
  SELECT DISTINCT ra.rep AS rep_a, ra.simhash AS sh_a,
                  rb.rep AS rep_b, rb.simhash AS sh_b
  FROM reps ra JOIN chunks a ON a.doc_id = ra.rep
  JOIN chunks b ON a.ci = b.ci AND a.cv = b.cv
  JOIN reps rb ON b.doc_id = rb.rep
  WHERE ra.rep < rb.rep
), verified AS (
  SELECT rep_a, rep_b FROM cand
  WHERE bit_count(xor(sh_a, sh_b)) <= 3
), edges AS (
  SELECT rep_a AS s, rep_b AS d FROM verified
  UNION
  SELECT rep_b AS s, rep_a AS d FROM verified
), reach(node, lab) AS (
  SELECT rep, rep FROM reps
  UNION
  SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.node
), comp AS (
  SELECT node AS rep, min(lab) AS canonical_id FROM reach GROUP BY node
), assign AS (
  SELECT g.doc_id, c.canonical_id
  FROM sig g
  JOIN reps r ON g.simhash = r.simhash
  JOIN comp c ON c.rep = r.rep
), sized AS (
  SELECT canonical_id, count(*) AS cluster_size FROM assign GROUP BY canonical_id
)
SELECT a.doc_id, a.canonical_id, s.cluster_size,
       (a.doc_id <> a.canonical_id) AS is_dup
FROM assign a JOIN sized s USING (canonical_id)
"""
)


def q_window_rollup(spark, sf_dir):
    """Tumbling event-time windows (1 hour) per event_type — the batch
    twin of the watermarked streaming rollup
    (streaming/windows.py; brief: watermarks + windowed aggs)."""
    return win.tumbling_rollup(
        _t(spark, sf_dir, "events"), window="1 hour"
    )


SQL_WINDOW_ROLLUP = """
SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start,
       event_type,
       count(*) AS n_events,
       sum(value) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_session_rollup(spark, sf_dir):
    """Gap-based session windows (30 min) per user_id via Spark's
    native session_window aggregation; session end = last event + gap.
    The oracle reproduces the merge with a gaps-and-islands window
    query. Break rule corrected round 4: Spark merges sessions whose
    windows TOUCH, so two events exactly gap apart stay in one session
    — the break is strictly > 30 min (verified against
    F.session_window directly; the old >= was latently wrong but never
    fired on this continuous-timestamp data). ``exact_sum=True``
    (decimal-sum, ADVICE r4): sum_value is order-independent, so this
    row and the chunked twin hash identically under ANY partitioning —
    the %.6g normalization never sits on a rounding boundary."""
    return win.session_rollup(
        _t(spark, sf_dir, "events"), gap="30 minutes", exact_sum=True
    )


def q_session_rollup_chunked(spark, sf_dir):
    """The skew-safe CHUNKED session plan (round 4): local sessionize
    per (key, 2-hour chunk), then a per-key merge over only each
    chunk's first/last partial sessions (<= 2 rows per (key, chunk) —
    never per-event). Defined to be identical to the native plan, so
    the oracle is the very same SQL as `session_rollup`: the driver
    verifies the rewrite itself. ``exact_sum=True`` makes that identity
    BIT-EXACT on sum_value too (decimal addition is order-independent;
    the former double sum was identical only up to summation order —
    ADVICE r4 flagged the residual hash-flake risk)."""
    return win.session_rollup(
        _t(spark, sf_dir, "events"),
        gap="30 minutes",
        chunk=7200,
        exact_sum=True,
    )


SQL_SESSION_ROLLUP = """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), g AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       CAST(floor(epoch(max(ts) + INTERVAL 30 MINUTE)) AS BIGINT) AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(38,9))) AS DOUBLE) AS sum_value
FROM g
GROUP BY user_id, sess
"""


def q_cdc_changefeed(spark, sf_dir):
    """The CDC-OUT side under the correctness gate (round 5):
    ``LakeTable.read_changes`` — the Delta-CDF / Iceberg-changelog
    analog a downstream incremental consumer reads instead of
    re-scanning the table. Run the engine replay (snapshot at W plus
    two WAL tails via the shared scaffold), capture the version after
    the FIRST tail, and return the net row-level change feed from that
    version to the final one: inserts (keys born in tail 2), updates
    (keys whose winning (_lsn, _op_rank) advanced), deletes (keys whose
    final op in tail 2 was 'd' — surfaced with their PRE-image). The
    DuckDB twin diffs the two declarative upsert images at the same
    watermarks."""
    runner, versions, wh = _changefeed_scaffold(
        spark, sf_dir, tail_fracs=((3, 4),)
    )
    try:
        out = runner.table.read_changes(spark, versions[0]).select(
            F.col("doc_id").cast("long").alias("user_id"),
            F.col("_change_type").alias("change_type"),
            F.round(F.col("value"), 4).alias("final_value"),
            F.col("_lsn").alias("final_lsn"),
        )
        out_dir = _result_out_dir("dps_changefeed_out_")
        out.write.mode("overwrite").parquet(out_dir)
        return spark.read.parquet(out_dir)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


SQL_CDC_CHANGEFEED = """
WITH wm AS (SELECT CAST(floor(max(event_id)/2) AS BIGINT) AS w,
                   CAST(floor(max(event_id)*3/4) AS BIGINT) AS mid
            FROM events),
tagged AS (
  SELECT user_id, event_id, value,
         CASE WHEN event_type='error' THEN 'd' ELSE 'u' END AS op
  FROM events
),
state AS (
  SELECT user_id, arg_max(value, event_id) AS value
  FROM tagged WHERE event_id <= (SELECT w FROM wm)
  GROUP BY user_id
  HAVING arg_max(op, event_id) <> 'd'
),
post1 AS (
  SELECT user_id, arg_max(op, event_id) AS op,
         arg_max(value, event_id) AS value, max(event_id) AS lsn
  FROM tagged
  WHERE event_id > (SELECT w FROM wm) AND event_id <= (SELECT mid FROM wm)
  GROUP BY user_id
),
post2 AS (
  SELECT user_id, arg_max(op, event_id) AS op,
         arg_max(value, event_id) AS value, max(event_id) AS lsn
  FROM tagged WHERE event_id > (SELECT w FROM wm)
  GROUP BY user_id
),
img1 AS (
  SELECT coalesce(p.user_id, s.user_id) AS user_id,
         CASE WHEN p.user_id IS NOT NULL THEN p.value ELSE s.value END AS value,
         CASE WHEN p.user_id IS NOT NULL THEN p.lsn ELSE CAST(0 AS BIGINT) END AS lsn
  FROM post1 p FULL OUTER JOIN state s ON p.user_id = s.user_id
  WHERE NOT (p.user_id IS NOT NULL AND p.op = 'd')
),
img2 AS (
  SELECT coalesce(p.user_id, s.user_id) AS user_id,
         CASE WHEN p.user_id IS NOT NULL THEN p.value ELSE s.value END AS value,
         CASE WHEN p.user_id IS NOT NULL THEN p.lsn ELSE CAST(0 AS BIGINT) END AS lsn
  FROM post2 p FULL OUTER JOIN state s ON p.user_id = s.user_id
  WHERE NOT (p.user_id IS NOT NULL AND p.op = 'd')
)
SELECT coalesce(n.user_id, o.user_id) AS user_id,
       CASE WHEN o.user_id IS NULL THEN 'insert'
            WHEN n.user_id IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       round(CASE WHEN n.user_id IS NULL THEN o.value ELSE n.value END, 4)
         AS final_value,
       CASE WHEN n.user_id IS NULL THEN o.lsn ELSE n.lsn END AS final_lsn
FROM img2 n FULL OUTER JOIN img1 o ON n.user_id = o.user_id
WHERE o.user_id IS NULL OR n.user_id IS NULL OR o.lsn <> n.lsn
"""


def _changefeed_scaffold(spark, sf_dir, write_mode="cow",
                         tail_fracs=((5, 8), (3, 4))):
    """Shared engine scaffold for the changefeed rows: snapshot at W
    (half the log), then one WAL tail per cut in ``tail_fracs`` (each
    an exact (numerator, denominator) fraction of max event_id, kept
    integral so the DuckDB twins share the bounds) plus a final tail
    to the end — each applied as one commit. Returns (runner,
    versions-after-each-tail, cleanup-dir). Used by cdc_changefeed
    (one cut -> two tails) and the ChangefeedReader rows (two cuts ->
    three tails). A failure anywhere in the build removes the
    warehouse before re-raising — the CALLER's try/finally only
    begins after this returns (round-6 second review pass)."""
    wh = tempfile.mkdtemp(prefix="dps_cfr_")
    try:
        return _changefeed_scaffold_build(
            spark, sf_dir, wh, write_mode, tail_fracs
        )
    except BaseException:
        shutil.rmtree(wh, ignore_errors=True)
        raise


def _changefeed_scaffold_build(spark, sf_dir, wh, write_mode, tail_fracs):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from debezium_partial_snapshotter_spark.config import PipelineConfig
    from debezium_partial_snapshotter_spark.functions import table_partition
    from debezium_partial_snapshotter_spark.sources.readers import ParquetWalSource
    from debezium_partial_snapshotter_spark.streaming.runner import (
        PartialIngestRunner,
    )

    payload = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("value", DoubleType(), True),
        ]
    )
    event_schema = StructType(
        [
            StructField("op", StringType(), False),
            StructField("doc_id", StringType(), False),
            StructField("lsn", LongType(), False),
            StructField("snapshot", StringType(), True),
            StructField("table_partition", StringType(), False),
            StructField("after", payload, True),
        ]
    )
    ev = _t(spark, sf_dir, "events").withColumn(
        "op", F.when(F.col("event_type") == "error", "d").otherwise("u")
    )
    bounds = ev.agg(
        F.floor(F.max("event_id") / 2).cast("long").alias("w"),
        *[
            F.floor(F.max("event_id") * n / d).cast("long").alias(f"c{i}")
            for i, (n, d) in enumerate(tail_fracs)
        ],
    ).collect()[0]
    w = bounds["w"]
    marks = (
        [w]
        + [bounds[f"c{i}"] for i in range(len(tail_fracs))]
        + [1 << 60]
    )

    nb = 8
    state = (
        ev.where(F.col("event_id") <= w)
        .groupBy("user_id")
        .agg(F.max_by(F.struct("op", "value"), F.col("event_id")).alias("s"))
        .where(F.col("s.op") != "d")
        .select(
            F.col("user_id").cast("string").alias("doc_id"),
            F.col("s.value").alias("value"),
        )
    )
    state_path = os.path.join(wh, "state.parquet")
    state.coalesce(1).write.mode("overwrite").parquet(state_path)
    log_dir = os.path.join(wh, "wal")
    os.makedirs(log_dir)

    def write_wal(lo: int, hi: int, name: str) -> None:
        seg = ev.where(
            (F.col("event_id") > lo) & (F.col("event_id") <= hi)
        ).select(
            "op",
            F.col("user_id").cast("string").alias("doc_id"),
            F.col("event_id").cast("long").alias("lsn"),
            F.lit("false").alias("snapshot"),
            table_partition(
                "tokens", bucket_id(F.col("user_id").cast("string"), nb)
            ).alias("table_partition"),
            F.when(F.col("op") == "d", F.lit(None).cast(payload))
            .otherwise(
                F.struct(
                    F.col("user_id").cast("string").alias("doc_id"),
                    F.col("value"),
                )
            )
            .alias("after"),
        )
        seg.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(log_dir, name)
        )

    cfg = PipelineConfig(
        pipeline_id="cfr",
        warehouse=os.path.join(wh, "wh"),
        num_buckets=nb,
        write_mode=write_mode,
    )
    src = ParquetWalSource(
        spark, state_path, log_dir, num_buckets=nb,
        event_schema=event_schema,
    )
    runner = PartialIngestRunner(spark, cfg, src, payload_schema=payload)
    runner.start()
    versions = []
    for i in range(len(marks) - 1):
        write_wal(marks[i], marks[i + 1], f"seg-{i + 1:05d}.parquet")
        runner.tail_batch()
        versions.append(runner.table.current_version())
    return runner, versions, wh


def q_cdc_changefeed_cursor(spark, sf_dir):
    """The cursor-persisted incremental consumer (round 6 — VERDICT r5
    next-3): a ChangefeedReader starts at the version after WAL tail 1,
    then consumes the rest of the chain in TWO poll/commit cursor steps
    (net mode), exactly how a downstream service advances one epoch at
    a time instead of calling read_changes with hand-tracked versions.
    Returns the union of both steps tagged with the step number; the
    DuckDB twin computes the same two consecutive image diffs at the
    same watermarks. (Union-of-steps deliberately does NOT equal the
    one-shot feed of cdc_changefeed: a key changed in both windows
    appears once per step — same as consuming Delta CDF epoch-wise —
    so the twin is two-window by construction.)"""
    from debezium_partial_snapshotter_spark.plans.changefeed import (
        ChangefeedReader,
    )

    runner, versions, wh = _changefeed_scaffold(spark, sf_dir)
    try:
        reader = ChangefeedReader(
            runner.table, os.path.join(wh, "cursor")
        )
        reader.start(from_version=versions[0])
        steps = []
        for step, to_v in ((1, versions[1]), (2, versions[2])):
            # bounded advance: each poll consumes exactly one tail's
            # worth of versions — the epoch-at-a-time consumer cadence
            batch = reader.poll(spark, mode="net", to_version=to_v)
            steps.append(
                batch.df.withColumn("step", F.lit(step).cast("int"))
            )
            reader.commit(batch)
        assert reader.cursor() == versions[-1]
        out = steps[0].unionByName(steps[1]).select(
            F.col("doc_id").cast("long").alias("user_id"),
            F.col("step"),
            F.col("_change_type").alias("change_type"),
            F.round(F.col("value"), 4).alias("final_value"),
            F.col("_lsn").alias("final_lsn"),
        )
        out_dir = _result_out_dir("dps_cfr_cursor_out_")
        out.write.mode("overwrite").parquet(out_dir)
        return spark.read.parquet(out_dir)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


SQL_CDC_CHANGEFEED_CURSOR = """
WITH wm AS (SELECT CAST(floor(max(event_id)/2) AS BIGINT) AS w,
                   CAST(floor(max(event_id)*5/8) AS BIGINT) AS m1,
                   CAST(floor(max(event_id)*3/4) AS BIGINT) AS m2
            FROM events),
tagged AS (
  SELECT user_id, event_id, value,
         CASE WHEN event_type='error' THEN 'd' ELSE 'u' END AS op
  FROM events
),
state AS (
  SELECT user_id, arg_max(value, event_id) AS value
  FROM tagged WHERE event_id <= (SELECT w FROM wm)
  GROUP BY user_id
  HAVING arg_max(op, event_id) <> 'd'
),
post1 AS (
  SELECT user_id, arg_max(op, event_id) AS op,
         arg_max(value, event_id) AS value, max(event_id) AS lsn
  FROM tagged
  WHERE event_id > (SELECT w FROM wm) AND event_id <= (SELECT m1 FROM wm)
  GROUP BY user_id
),
post2 AS (
  SELECT user_id, arg_max(op, event_id) AS op,
         arg_max(value, event_id) AS value, max(event_id) AS lsn
  FROM tagged
  WHERE event_id > (SELECT w FROM wm) AND event_id <= (SELECT m2 FROM wm)
  GROUP BY user_id
),
post3 AS (
  SELECT user_id, arg_max(op, event_id) AS op,
         arg_max(value, event_id) AS value, max(event_id) AS lsn
  FROM tagged WHERE event_id > (SELECT w FROM wm)
  GROUP BY user_id
),
img1 AS (
  SELECT coalesce(p.user_id, s.user_id) AS user_id,
         CASE WHEN p.user_id IS NOT NULL THEN p.value ELSE s.value END AS value,
         CASE WHEN p.user_id IS NOT NULL THEN p.lsn ELSE CAST(0 AS BIGINT) END AS lsn
  FROM post1 p FULL OUTER JOIN state s ON p.user_id = s.user_id
  WHERE NOT (p.user_id IS NOT NULL AND p.op = 'd')
),
img2 AS (
  SELECT coalesce(p.user_id, s.user_id) AS user_id,
         CASE WHEN p.user_id IS NOT NULL THEN p.value ELSE s.value END AS value,
         CASE WHEN p.user_id IS NOT NULL THEN p.lsn ELSE CAST(0 AS BIGINT) END AS lsn
  FROM post2 p FULL OUTER JOIN state s ON p.user_id = s.user_id
  WHERE NOT (p.user_id IS NOT NULL AND p.op = 'd')
),
img3 AS (
  SELECT coalesce(p.user_id, s.user_id) AS user_id,
         CASE WHEN p.user_id IS NOT NULL THEN p.value ELSE s.value END AS value,
         CASE WHEN p.user_id IS NOT NULL THEN p.lsn ELSE CAST(0 AS BIGINT) END AS lsn
  FROM post3 p FULL OUTER JOIN state s ON p.user_id = s.user_id
  WHERE NOT (p.user_id IS NOT NULL AND p.op = 'd')
),
step1 AS (
  SELECT coalesce(n.user_id, o.user_id) AS user_id, 1 AS step,
         CASE WHEN o.user_id IS NULL THEN 'insert'
              WHEN n.user_id IS NULL THEN 'delete'
              ELSE 'update' END AS change_type,
         round(CASE WHEN n.user_id IS NULL THEN o.value ELSE n.value END, 4)
           AS final_value,
         CASE WHEN n.user_id IS NULL THEN o.lsn ELSE n.lsn END AS final_lsn
  FROM img2 n FULL OUTER JOIN img1 o ON n.user_id = o.user_id
  WHERE o.user_id IS NULL OR n.user_id IS NULL OR o.lsn <> n.lsn
),
step2 AS (
  SELECT coalesce(n.user_id, o.user_id) AS user_id, 2 AS step,
         CASE WHEN o.user_id IS NULL THEN 'insert'
              WHEN n.user_id IS NULL THEN 'delete'
              ELSE 'update' END AS change_type,
         round(CASE WHEN n.user_id IS NULL THEN o.value ELSE n.value END, 4)
           AS final_value,
         CASE WHEN n.user_id IS NULL THEN o.lsn ELSE n.lsn END AS final_lsn
  FROM img3 n FULL OUTER JOIN img2 o ON n.user_id = o.user_id
  WHERE o.user_id IS NULL OR n.user_id IS NULL OR o.lsn <> n.lsn
)
SELECT user_id, step, change_type, final_value, final_lsn
FROM step1 UNION ALL
SELECT user_id, step, change_type, final_value, final_lsn FROM step2
"""


def q_cdc_changefeed_delta(spark, sf_dir):
    """The O(batch) delta-file fast path of the changefeed consumer
    (round 6): on a MERGE-ON-READ table, a poll whose range is pure
    delta appends is served STRAIGHT from the delta files the polled
    commits added — no resolve of either endpoint version, no base IO.
    The reader's cursor sits after tail 1; one poll(mode='delta')
    covers tails 2+3 (two epochs), so the per-key groupBy across the
    polled delta files is genuinely exercised. The function ASSERTS the
    fast path served the batch and that its scan inputs are delta files
    of the polled commits — a fallback would still be correct but would
    silently drop the property this row certifies. DuckDB twin: per-key
    arg_max over the same WAL window — upsert rows carry the winning
    value, deletes carry tombstone shape (NULL value) + the delete's
    own lsn (the fast path surfaces REAL tombstone ordinals, unlike the
    net view's pre-images)."""
    from debezium_partial_snapshotter_spark.plans.changefeed import (
        ChangefeedReader,
    )

    runner, versions, wh = _changefeed_scaffold(spark, sf_dir, write_mode="mor")
    try:
        reader = ChangefeedReader(
            runner.table, os.path.join(wh, "cursor")
        )
        reader.start(from_version=versions[0])
        batch = reader.poll(spark, mode="delta", on_ineligible="error")
        assert batch.fast_path and batch.epochs == 2
        data_root = os.path.realpath(runner.table.path)
        for f in batch.df.inputFiles():
            p = os.path.realpath(f.removeprefix("file:"))
            assert p.startswith(data_root) and "/c-" in p, p
        reader.commit(batch)
        out = batch.df.select(
            F.col("doc_id").cast("long").alias("user_id"),
            F.col("_change_type").alias("change_type"),
            F.round(F.col("value"), 4).alias("final_value"),
            F.col("_lsn").alias("final_lsn"),
        )
        out_dir = _result_out_dir("dps_cfr_delta_out_")
        out.write.mode("overwrite").parquet(out_dir)
        return spark.read.parquet(out_dir)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


SQL_CDC_CHANGEFEED_DELTA = """
WITH wm AS (SELECT CAST(floor(max(event_id)*5/8) AS BIGINT) AS m1
            FROM events),
tagged AS (
  SELECT user_id, event_id, value,
         CASE WHEN event_type='error' THEN 'd' ELSE 'u' END AS op
  FROM events WHERE event_id > (SELECT m1 FROM wm)
)
SELECT user_id,
       CASE WHEN arg_max(op, event_id) = 'd' THEN 'delete'
            ELSE 'upsert' END AS change_type,
       round(CASE WHEN arg_max(op, event_id) = 'd' THEN NULL
                  ELSE arg_max(value, event_id) END, 4) AS final_value,
       max(event_id) AS final_lsn
FROM tagged GROUP BY user_id
"""


def q_cdc_mirror(spark, sf_dir):
    """ChangefeedMirror under the correctness gate (round 6): a
    downstream replica is built PURELY by consuming the upstream's
    changefeed — one sync() from genesis covers the snapshot commits
    plus both WAL tails over the delta-file fast path, MERGE-applies
    them into a separately-bucketed downstream LakeTable, and advances
    the cursor. The row returns the DOWNSTREAM image; the DuckDB twin
    computes the upstream's declarative final image — equality IS the
    mirror contract. The function asserts the sync took the fast path
    and that an idle follow-up sync applies nothing."""
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    from debezium_partial_snapshotter_spark.operators.upsert import (
        empty_table_for,
    )
    from debezium_partial_snapshotter_spark.plans.changefeed import (
        ChangefeedMirror,
    )

    runner, versions, wh = _changefeed_scaffold(
        spark, sf_dir, write_mode="mor"
    )
    try:
        payload = StructType(
            [
                StructField("doc_id", StringType(), False),
                StructField("value", DoubleType(), True),
            ]
        )
        down = empty_table_for(
            os.path.join(wh, "down"), payload, num_buckets=4
        )
        mirror = ChangefeedMirror(
            runner.table, down, os.path.join(wh, "mirror")
        )
        s = mirror.sync(spark)
        assert s["applied"] is True and not s["bootstrapped"]
        assert s["fast_path"], "genesis sync must ride the delta fast path"
        assert mirror.sync(spark)["applied"] is False  # idle no-op
        out = down.read(spark).select(
            F.col("doc_id").cast("long").alias("user_id"),
            F.round(F.col("value"), 4).alias("final_value"),
            F.col("_lsn").alias("final_lsn"),
        )
        out_dir = _result_out_dir("dps_cfr_mirror_out_")
        out.write.mode("overwrite").parquet(out_dir)
        return spark.read.parquet(out_dir)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


SQL_CDC_MIRROR = """
WITH wm AS (SELECT CAST(floor(max(event_id)/2) AS BIGINT) AS w FROM events),
tagged AS (
  SELECT user_id, event_id, value,
         CASE WHEN event_type='error' THEN 'd' ELSE 'u' END AS op
  FROM events
),
state AS (
  SELECT user_id, arg_max(value, event_id) AS value
  FROM tagged WHERE event_id <= (SELECT w FROM wm)
  GROUP BY user_id
  HAVING arg_max(op, event_id) <> 'd'
),
post AS (
  SELECT user_id, arg_max(op, event_id) AS op,
         arg_max(value, event_id) AS value, max(event_id) AS lsn
  FROM tagged WHERE event_id > (SELECT w FROM wm)
  GROUP BY user_id
)
SELECT coalesce(p.user_id, s.user_id) AS user_id,
       round(CASE WHEN p.user_id IS NOT NULL THEN p.value ELSE s.value END, 4)
         AS final_value,
       CASE WHEN p.user_id IS NOT NULL THEN p.lsn ELSE CAST(0 AS BIGINT) END
         AS final_lsn
FROM post p FULL OUTER JOIN state s ON p.user_id = s.user_id
WHERE NOT (p.user_id IS NOT NULL AND p.op = 'd')
"""


def q_session_rollup_stream(spark, sf_dir):
    """The WATERMARKED STREAMING session rollup under the correctness
    gate (round 5 — previously the streaming twin was pytest-only).
    The events table feeds a file-source stream in three micro-batches:
    the real data, then two far-future sentinel rows (user_id = -1, at
    max_ts + 10d and + 20d) whose only job is to advance the watermark
    so every REAL session finalizes and emits exactly once in append
    mode. The user_id >= 0 filter is LOAD-BEARING: sentinel 1's own
    session DOES finalize (sentinel 2's batch advances the watermark
    past it) and would otherwise add a spurious row; sentinel 2's
    never does. With it, the emitted set equals the batch semantics
    exactly — the oracle is the
    very same gaps-and-islands SQL as `session_rollup`, making the
    driver verify the streaming path against the batch definition.
    ``exact_sum=True`` keeps sum_value order-independent like the
    batch rows."""
    from datetime import timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from debezium_partial_snapshotter_spark.streaming.windows import (
        session_rollup_stream,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("value"),
    )
    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    wh = tempfile.mkdtemp(prefix="dps_sessstream_")
    out_dir = _result_out_dir("dps_sessstream_out_")
    try:
        feed = os.path.join(wh, "feed")
        os.makedirs(feed)
        tmp = os.path.join(wh, "b0_tmp")
        ev.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.rename(os.path.join(tmp, part), os.path.join(feed, "b000.parquet"))

        def write_sentinel(i: int, days: int) -> None:
            t = pa.table(
                {
                    "ts": pa.array(
                        [max_ts + timedelta(days=days)], pa.timestamp("us")
                    ),
                    "user_id": pa.array([-1], pa.int64()),
                    "value": pa.array([0.0], pa.float64()),
                }
            )
            pq.write_table(t, os.path.join(feed, f"b{i:03d}.parquet"))

        stream = spark.readStream.schema(
            "ts timestamp, user_id bigint, value double"
        ).parquet(feed)
        rolled = session_rollup_stream(
            stream, gap="30 minutes", watermark="1 minute", exact_sum=True
        )

        def sink(df, batch_id):
            df.write.mode("append").parquet(out_dir)

        q = (
            rolled.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(wh, "chk"))
            .start()
        )
        try:
            q.processAllAvailable()
            # two sentinel batches: the first makes the real data's max
            # timestamp the watermark (finalizing all but the newest
            # sessions), the second pushes the watermark 10 days past
            # the data (finalizing the rest)
            write_sentinel(1, 10)
            q.processAllAvailable()
            write_sentinel(2, 20)
            q.processAllAvailable()
        finally:
            q.stop()
        res = spark.read.schema(
            "user_id bigint, session_start bigint, session_end bigint, "
            "n_events bigint, sum_value double"
        ).parquet(out_dir)
        return res.where(F.col("user_id") >= 0)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def q_stateful_latest_salted(spark, sf_dir):
    """The SALTED stateful latest-event filter under the correctness
    gate (round 5): state keyed (key, lsn % 8) spreads a hot key over
    8 tasks; the operator emits at most one winner per (key, salt), and
    the row applies the cross-salt B4 merge the sink apply performs —
    so the oracle is the SAME SQL as `stateful_latest`, making the
    driver verify the salted rewrite end-to-end (the asof_join_chunked
    pattern, applied to the streaming operator)."""
    from debezium_partial_snapshotter_spark.functions import op_rank
    from debezium_partial_snapshotter_spark.streaming.stateful import (
        latest_events_stateful,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("op", F.when(F.col("event_type") == "error", "d").otherwise("u"))
        .select(
            F.col("user_id").cast("string").alias("doc_id"),
            F.col("event_id").cast("long").alias("lsn"),
            "op",
            "value",
        )
    )
    wh = tempfile.mkdtemp(prefix="dps_statefuls_")
    out_dir = _result_out_dir("dps_statefuls_out_")
    try:
        feed = os.path.join(wh, "feed")
        ev.coalesce(1).write.mode("overwrite").parquet(feed)
        stream = spark.readStream.schema(
            "doc_id string, lsn long, op string, value double"
        ).parquet(feed)

        def sink(df, batch_id):
            df.write.mode("append").parquet(out_dir)

        q = (
            latest_events_stateful(stream, n_salt=8)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(wh, "chk"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        if q.isActive:
            q.stop()
        res = spark.read.schema(
            "doc_id string, lsn long, op string, value double"
        ).parquet(out_dir)
        # cross-salt final merge: the per-key (lsn, op_rank) winner —
        # exactly what the sink apply's B4 dedup does with emissions
        ordv = F.col("lsn") * 4 + op_rank(F.col("op"))
        best = res.groupBy("doc_id").agg(F.max(ordv).alias("_mx"))
        winner = (
            res.withColumn("_o", ordv)
            .join(best.hint("SHUFFLE_HASH"), "doc_id")
            .where(F.col("_o") == F.col("_mx"))
        )
        return winner.select(
            F.col("doc_id").cast("long").alias("user_id"),
            F.col("op").alias("last_op"),
            F.round("value", 4).alias("last_value"),
            F.col("lsn").alias("last_lsn"),
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_last_image": q_cdc_last_image,
        "cdc_upsert_final_state": q_cdc_upsert_final_state,
        "cdc_snapshot_wal_conflict": q_cdc_snapshot_wal_conflict,
        "engine_replay": q_engine_replay,
        "engine_replay_evolve": q_engine_replay_evolve,
        "engine_replay_multi": q_engine_replay_multi,
        "engine_replay_rescale": q_engine_replay_rescale,
        "dead_letter": q_dead_letter,
        "cdc_changefeed": q_cdc_changefeed,
        "cdc_changefeed_cursor": q_cdc_changefeed_cursor,
        "cdc_changefeed_delta": q_cdc_changefeed_delta,
        "cdc_mirror": q_cdc_mirror,
        "stateful_latest": q_stateful_latest,
        "stateful_latest_salted": q_stateful_latest_salted,
        "bucket_assignment": q_bucket_assignment,
        "tracker_discovery": q_tracker_discovery,
        "catchup_backlog": q_catchup_backlog,
        "hot_key_histogram": q_hot_key_histogram,
        "salted_agg": q_salted_agg,
        "window_rollup": q_window_rollup,
        "session_rollup": q_session_rollup,
        "session_rollup_chunked": q_session_rollup_chunked,
        "session_rollup_stream": q_session_rollup_stream,
        "asof_join": q_asof_join,
        "asof_join_chunked": q_asof_join_chunked,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q5": q_tpch_q5,
        "quantile_stats": q_quantile_stats,
        "range_join": q_range_join,
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "jaccard_pairs": q_jaccard_pairs,
        "near_dup_clusters": q_near_dup_clusters,
        "simhash": q_simhash,
        "simhash_near_dup": q_simhash_near_dup,
        "simhash_clusters": q_simhash_clusters,
        "token_count": q_token_count,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "cosine_topk": q_cosine_topk,
        "ivf_topk": q_ivf_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_near_dup_clusters": q_embedding_near_dup_clusters,
        "multimodal_meta": q_multimodal_meta,
        "frame_sample": q_frame_sample,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "cdc_last_image": SQL_CDC_LAST_IMAGE,
        "cdc_upsert_final_state": SQL_CDC_UPSERT_FINAL_STATE,
        "cdc_snapshot_wal_conflict": SQL_CDC_SNAPSHOT_WAL_CONFLICT,
        "engine_replay": SQL_ENGINE_REPLAY,
        "engine_replay_evolve": SQL_ENGINE_REPLAY_EVOLVE,
        "engine_replay_multi": SQL_ENGINE_REPLAY_MULTI,
        "engine_replay_rescale": SQL_ENGINE_REPLAY,
        "dead_letter": SQL_DEAD_LETTER,
        "cdc_changefeed": SQL_CDC_CHANGEFEED,
        "cdc_changefeed_cursor": SQL_CDC_CHANGEFEED_CURSOR,
        "cdc_changefeed_delta": SQL_CDC_CHANGEFEED_DELTA,
        "cdc_mirror": SQL_CDC_MIRROR,
        "stateful_latest": SQL_STATEFUL_LATEST,
        "stateful_latest_salted": SQL_STATEFUL_LATEST,
        "bucket_assignment": SQL_BUCKET_ASSIGNMENT,
        "tracker_discovery": SQL_TRACKER_DISCOVERY,
        "catchup_backlog": SQL_CATCHUP_BACKLOG,
        "hot_key_histogram": SQL_HOT_KEY_HISTOGRAM,
        "salted_agg": SQL_SALTED_AGG,
        "window_rollup": SQL_WINDOW_ROLLUP,
        "session_rollup": SQL_SESSION_ROLLUP,
        "session_rollup_chunked": SQL_SESSION_ROLLUP,
        "session_rollup_stream": SQL_SESSION_ROLLUP,
        "asof_join": SQL_ASOF_JOIN,
        "asof_join_chunked": SQL_ASOF_JOIN,
        "tpch_q1": SQL_TPCH_Q1,
        "tpch_q3": SQL_TPCH_Q3,
        "tpch_q5": SQL_TPCH_Q5,
        "quantile_stats": SQL_QUANTILE_STATS,
        "range_join": SQL_RANGE_JOIN,
        "dedup_exact": SQL_DEDUP_EXACT,
        "minhash_signatures": SQL_MINHASH_SIGNATURES,
        "minhash_lsh_pairs": SQL_MINHASH_LSH_PAIRS,
        "jaccard_pairs": SQL_JACCARD_PAIRS,
        "near_dup_clusters": SQL_NEAR_DUP_CLUSTERS,
        "simhash": SQL_SIMHASH,
        "simhash_near_dup": SQL_SIMHASH_NEAR_DUP,
        "simhash_clusters": SQL_SIMHASH_CLUSTERS,
        "token_count": SQL_TOKEN_COUNT,
        "quality_score": SQL_QUALITY_SCORE,
        "lang_id": SQL_LANG_ID,
        "fingerprint": SQL_FINGERPRINT,
        "cosine_topk": SQL_COSINE_TOPK,
        "ivf_topk": SQL_IVF_TOPK,
        "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
        "embedding_near_dup_clusters": SQL_EMBEDDING_NEAR_DUP_CLUSTERS,
        "multimodal_meta": SQL_MULTIMODAL_META,
        "frame_sample": SQL_FRAME_SAMPLE,
    }
