"""Cross-batch stateful dedup (applyInPandasWithState): redelivered /
stale events in LATER micro-batches are suppressed by per-key state."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from debezium_partial_snapshotter_spark.streaming.stateful import (
    latest_events_stateful,
)

FLAT = "doc_id string, lsn long, op string, value double"


def _write(rows, path):
    """Plain parquet FILES: the streaming file source does not list
    Spark-written output DIRECTORIES."""
    pq.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "lsn": pa.array([r[1] for r in rows], pa.int64()),
                "op": [r[2] for r in rows],
                "value": pa.array([r[3] for r in rows], pa.float64()),
            }
        ),
        path,
    )


def _run_stream(spark, in_dir, chk, out_rows):
    stream = spark.readStream.schema(FLAT).parquet(in_dir)
    deduped = latest_events_stateful(stream)

    def sink(df, batch_id):
        out_rows.extend(
            (r["doc_id"], r["lsn"], r["op"], r["value"]) for r in df.collect()
        )

    q = (
        deduped.writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()


def test_stateful_dedup_suppresses_cross_batch_redelivery(spark, tmp_warehouse):
    in_dir = os.path.join(tmp_warehouse, "feed")
    chk = os.path.join(tmp_warehouse, "chk")
    os.makedirs(in_dir)
    out = []

    batch1 = [("a", 10, "u", 1.0), ("a", 12, "u", 2.0), ("b", 11, "c", 5.0)]
    _write(batch1, os.path.join(in_dir, "b1.parquet"))
    _run_stream(spark, in_dir, chk, out)
    assert sorted(out) == [("a", 12, "u", 2.0), ("b", 11, "c", 5.0)]

    # batch 2: full redelivery of batch 1 + one genuinely new event
    out.clear()
    batch2 = batch1 + [("b", 13, "u", 6.0)]
    _write(batch2, os.path.join(in_dir, "b2.parquet"))
    _run_stream(spark, in_dir, chk, out)
    # a's redelivered events are ALL stale -> suppressed by state;
    # b advances to lsn 13 -> exactly one emission
    assert out == [("b", 13, "u", 6.0)]


def test_stateful_dedup_rank_breaks_lsn_ties(spark, tmp_warehouse):
    in_dir = os.path.join(tmp_warehouse, "feed2")
    chk = os.path.join(tmp_warehouse, "chk2")
    os.makedirs(in_dir)
    out = []
    # same lsn: delete (rank 3) must beat update (rank 2) and 'r' (0)
    rows = [("k", 7, "r", 0.0), ("k", 7, "d", 0.0), ("k", 7, "u", 1.0)]
    _write(rows, os.path.join(in_dir, "b1.parquet"))
    _run_stream(spark, in_dir, chk, out)
    assert out == [("k", 7, "d", 0.0)]


def _run_stream_salted(spark, in_dir, chk, out_rows, n_salt):
    stream = spark.readStream.schema(FLAT).parquet(in_dir)
    deduped = latest_events_stateful(stream, n_salt=n_salt)

    def sink(df, batch_id):
        out_rows.extend(
            (r["doc_id"], r["lsn"], r["op"], r["value"]) for r in df.collect()
        )

    q = (
        deduped.writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()


def _applied_state(emissions):
    """The sink apply's cross-salt/cross-batch B4 merge: winner per key
    by (lsn, op_rank) over everything the operator emitted."""
    rank = {"r": 0, "c": 1, "u": 2, "d": 3}
    best = {}
    for doc, lsn, op, val in emissions:
        ordv = lsn * 4 + rank[op]
        if doc not in best or ordv > best[doc][0]:
            best[doc] = (ordv, lsn, op, val)
    return {d: t[1:] for d, t in best.items()}


def test_stateful_salted_equivalence_hot_key(spark, tmp_warehouse):
    """VERDICT r4 next-4: the salted operator (state keyed (key, salt))
    must produce the SAME applied state as the unsalted one on a
    hot-key feed, emit at most n_salt rows per key per batch, and keep
    full cross-batch redelivery suppression."""
    n_salt = 8
    hot = [("hot", lsn, "d" if lsn % 17 == 0 else "u", float(lsn))
           for lsn in range(200)]
    cold = [("c1", 5, "u", 1.0), ("c2", 9, "c", 2.0)]
    batch1 = hot + cold

    dirs = {}
    outs = {"plain": [], "salted": []}
    for name in outs:
        d = os.path.join(tmp_warehouse, f"feed_{name}")
        os.makedirs(d)
        dirs[name] = d
        _write(batch1, os.path.join(d, "b1.parquet"))
    _run_stream(spark, dirs["plain"], os.path.join(tmp_warehouse, "ckp"),
                outs["plain"])
    _run_stream_salted(spark, dirs["salted"],
                       os.path.join(tmp_warehouse, "cks"),
                       outs["salted"], n_salt)

    # identical APPLIED state after the B4 merge
    assert _applied_state(outs["plain"]) == _applied_state(outs["salted"])
    # emission bound: at most n_salt rows per key per batch
    from collections import Counter
    per_key = Counter(d for d, *_ in outs["salted"])
    assert per_key["hot"] <= n_salt
    assert per_key["hot"] > 1  # the hot key genuinely spread over salts
    # schema unchanged: no salt column leaked into the output
    assert all(len(t) == 4 for t in outs["salted"])

    # batch 2: FULL redelivery -> both paths fully suppress
    for name in outs:
        outs[name].clear()
        _write(batch1, os.path.join(dirs[name], "b2.parquet"))
    _run_stream(spark, dirs["plain"], os.path.join(tmp_warehouse, "ckp"),
                outs["plain"])
    _run_stream_salted(spark, dirs["salted"],
                       os.path.join(tmp_warehouse, "cks"),
                       outs["salted"], n_salt)
    assert outs["plain"] == [] and outs["salted"] == []

    # batch 3: one genuine advance -> both paths converge on it
    batch3 = batch1 + [("hot", 500, "u", 42.0)]
    for name in outs:
        _write(batch3, os.path.join(dirs[name], "b3.parquet"))
    _run_stream(spark, dirs["plain"], os.path.join(tmp_warehouse, "ckp"),
                outs["plain"])
    _run_stream_salted(spark, dirs["salted"],
                       os.path.join(tmp_warehouse, "cks"),
                       outs["salted"], n_salt)
    assert _applied_state(outs["plain"])["hot"] == (500, "u", 42.0)
    assert _applied_state(outs["salted"])["hot"] == (500, "u", 42.0)


def test_stateful_salted_validation(spark, tmp_warehouse):
    import pytest

    feed = os.path.join(tmp_warehouse, "feed_v")
    os.makedirs(feed)
    df = spark.readStream.schema(FLAT).parquet(feed)
    with pytest.raises(ValueError, match="n_salt"):
        latest_events_stateful(df, n_salt=0)
    # ADVICE r5: a user `_salt` column would be silently overwritten by
    # the synthetic salt and emitted back in the user's column — refuse
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="_salt"):
        latest_events_stateful(df.withColumn("_salt", F.lit(7)), n_salt=4)


def test_evicted_state_reopen_is_harmless_downstream(spark, tmp_warehouse):
    """EXECUTES the idempotent-sink argument the TTL story rests on
    (the latest_events_stateful docstring), previously only asserted:
    after total state loss (a fresh checkpoint — strictly worse than
    any TTL eviction), a full redelivery re-emits stale winners —
    including EQUAL-ordinal copies of rows already applied — and
    pushing those re-emissions through the REAL sink merge
    (operators/upsert.apply_batch, CoW) leaves the applied table
    byte-identical to the oracle, one row per key, no duplicate from
    the self-tie (the pre-commit tie validation + guarded retry)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    from debezium_partial_snapshotter_spark.operators.upsert import (
        apply_batch,
        empty_table_for,
    )

    payload = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("value", DoubleType(), True),
        ]
    )

    def to_envelope(emissions):
        flat = spark.createDataFrame(
            [(d, lsn, op, v) for d, lsn, op, v in emissions], FLAT
        )
        return flat.select(
            "op",
            "doc_id",
            "lsn",
            F.when(F.col("op") == "d", F.lit(None).cast(payload))
            .otherwise(F.struct("doc_id", "value"))
            .alias("after"),
        )

    table = empty_table_for(
        os.path.join(tmp_warehouse, "t"), payload, num_buckets=4
    )
    batch1 = [
        ("a", 10, "u", 1.0), ("a", 12, "u", 2.0),
        ("b", 11, "c", 5.0), ("c", 14, "d", 0.0), ("c", 9, "u", 3.0),
    ]
    feed1 = os.path.join(tmp_warehouse, "feed1")
    os.makedirs(feed1)
    out1 = []
    _write(batch1, os.path.join(feed1, "b1.parquet"))
    _run_stream(spark, feed1, os.path.join(tmp_warehouse, "ck1"), out1)
    assert apply_batch(table, to_envelope(out1), commit_key="s:1")["applied"]

    # worst-case eviction: state store gone entirely (fresh checkpoint
    # + fresh source dir). Redeliver EVERYTHING plus one real advance.
    batch2 = batch1 + [("b", 20, "u", 7.0)]
    feed2 = os.path.join(tmp_warehouse, "feed2")
    os.makedirs(feed2)
    out2 = []
    _write(batch2, os.path.join(feed2, "b1.parquet"))
    _run_stream(spark, feed2, os.path.join(tmp_warehouse, "ck2"), out2)
    # the suppression window genuinely re-opened: stale/equal-ordinal
    # winners re-emitted alongside the genuine advance
    assert ("a", 12, "u", 2.0) in out2  # equal-ord copy of an applied row
    assert ("b", 20, "u", 7.0) in out2

    st = apply_batch(table, to_envelope(out2), commit_key="s:2")
    assert st["applied"]

    rows = table.read(spark).collect()
    got = {r["doc_id"]: (r["value"], r["_lsn"]) for r in rows}
    # oracle: winner per key over ALL unique events; c's winner is the
    # delete -> absent
    assert got == {"a": (2.0, 12), "b": (7.0, 20)}
    assert len(rows) == len(got)  # no duplicate row from the self-tie
