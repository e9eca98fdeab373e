"""Property-style randomized replay: for many random scenarios (seed,
skew, delete rate, epoch splits, snapshot overlap) the distributed
engine's final state must equal the sequential oracle byte-for-byte.
This generalizes the reference's fixed golden-record cases to a fuzz
surface (the reference has no property tests — SURVEY.md §5)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from debezium_partial_snapshotter_spark.operators.upsert import (
    apply_batch,
    empty_table_for,
)
from debezium_partial_snapshotter_spark.schemas import TOKENS_SCHEMA
from debezium_partial_snapshotter_spark.sources.eventlog import (
    EventLogSpec,
    generate_change_log,
    generate_initial_state,
    oracle_apply,
    snapshot_read_events,
)
from tests.test_replay import assert_state_matches, load_events

SCENARIOS = [
    # (seed, n_docs, n_events, segments, hot_frac, hot_weight, delete, new)
    (101, 80, 900, 1, 0.0, 1.0, 0.0, 0.0),      # updates only, no skew
    (102, 60, 1200, 3, 0.05, 300.0, 0.3, 0.05), # heavy deletes + hot keys
    (103, 40, 700, 2, 0.5, 50.0, 0.1, 0.5),     # half the events are new docs
    (104, 150, 1000, 4, 0.01, 1000.0, 0.05, 0.1),  # one pathological key
    (105, 10, 2000, 2, 0.2, 10.0, 0.45, 0.0),   # tiny key space, churn
]


@pytest.mark.parametrize("seed,n_docs,n_events,segs,hf,hw,df_,nf", SCENARIOS)
def test_random_replay_matches_oracle(
    spark, tmp_warehouse, seed, n_docs, n_events, segs, hf, hw, df_, nf
):
    spec = EventLogSpec(
        n_docs=n_docs,
        n_events=n_events,
        n_segments=segs,
        seed=seed,
        hot_frac=hf,
        hot_weight=hw,
        delete_frac=df_,
        new_doc_frac=nf,
        num_buckets=8,
    )
    state = generate_initial_state(spec)
    snap = snapshot_read_events(state, spec.start_lsn, spec)
    wal = generate_change_log(spec)

    # epoch split: snapshot mixed INTO the first wal segment (worst-case
    # ordering), remaining segments as separate epochs
    d0 = os.path.join(tmp_warehouse, "e0")
    os.makedirs(d0)
    pq.write_table(wal[0], os.path.join(d0, "wal.parquet"))
    pq.write_table(snap, os.path.join(d0, "snap.parquet"))

    table = empty_table_for(
        os.path.join(tmp_warehouse, "tokens"), TOKENS_SCHEMA, num_buckets=8
    )
    apply_batch(table, load_events(spark, d0), commit_key="p:0")
    for i, seg in enumerate(wal[1:], start=1):
        d = os.path.join(tmp_warehouse, f"e{i}")
        os.makedirs(d)
        pq.write_table(seg, os.path.join(d, "wal.parquet"))
        apply_batch(table, load_events(spark, d), commit_key=f"p:{i}")

    expected = oracle_apply([snap] + wal)
    assert_state_matches(spark, table, expected)


def test_partition_include_exclude(spark, tmp_warehouse):
    from debezium_partial_snapshotter_spark.config import PipelineConfig
    from debezium_partial_snapshotter_spark.sources.readers import ParquetWalSource
    from debezium_partial_snapshotter_spark.streaming.runner import (
        PartialIngestRunner,
    )
    from tests.test_tracker import write_state

    spec = EventLogSpec(n_docs=60, n_events=100, seed=7, num_buckets=4)
    state = generate_initial_state(spec)
    sp = os.path.join(tmp_warehouse, "s.parquet")
    write_state(sp, state)
    cfg = PipelineConfig(
        pipeline_id="p1",
        warehouse=os.path.join(tmp_warehouse, "wh"),
        num_buckets=4,
        partition_exclude=r"/000[01]$",  # drop buckets 0 and 1 (B7)
    )
    src = ParquetWalSource(spark, sp, None, num_buckets=4)
    r = PartialIngestRunner(spark, cfg, src)
    assert r.discovered_partitions() == ["tokens/0002", "tokens/0003"]
    out = r.snapshot_epoch()
    assert sorted(out["claimed"]) == ["tokens/0002", "tokens/0003"]
    from debezium_partial_snapshotter_spark.functions import bucket_id_py

    got = {x["doc_id"] for x in r.table.read(spark).select("doc_id").collect()}
    assert got == {
        s["doc_id"] for s in state if bucket_id_py(s["doc_id"], 4) in (2, 3)
    }


def test_compaction(spark, tmp_warehouse):
    """Register bucket 0 as two files with disjoint keys, compact, and
    verify identical content in one file."""
    spec = EventLogSpec(n_docs=50, n_events=200, n_segments=1, seed=9, num_buckets=2)
    wal = generate_change_log(spec)
    d = os.path.join(tmp_warehouse, "log")
    os.makedirs(d)
    pq.write_table(wal[0], os.path.join(d, "w.parquet"))
    table = empty_table_for(
        os.path.join(tmp_warehouse, "tokens"), TOKENS_SCHEMA, num_buckets=2
    )
    apply_batch(table, load_events(spark, d), commit_key="p:0")

    # fragment bucket 0: its rows split by key into two files, swapped
    # in as the bucket's base in one manifest commit
    cur = table.read(spark, buckets=[0])
    keys = sorted(r["doc_id"] for r in cur.select("doc_id").collect())
    assert len(keys) >= 2
    mid = keys[len(keys) // 2]
    files = []
    for name, part in (("a", cur.where(cur.doc_id < mid)),
                       ("b", cur.where(cur.doc_id >= mid))):
        out_dir = os.path.join(table.data_dir, f"frag-{name}")
        part.coalesce(1).write.parquet(out_dir)
        files += [
            os.path.relpath(os.path.join(out_dir, f), table.path)
            for f in os.listdir(out_dir)
            if f.endswith(".parquet")
        ]
    assert table._transact(
        lambda man: {"buckets": {**man["buckets"], "0": files}, "touched": [0]}
    )
    assert len(table.manifest()["buckets"]["0"]) == 2

    before = table.read(spark).orderBy("doc_id").toPandas()
    out = table.compact(spark)
    after = table.read(spark).orderBy("doc_id").toPandas()
    assert out["applied"] and out["compacted_buckets"] == [0]
    assert len(table.manifest()["buckets"]["0"]) == 1
    assert after.equals(before)
