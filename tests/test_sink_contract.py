"""Shared sink-contract suite: every table the engine can write to must
honor the same surface and semantics. Runs against LakeTable always and
against plans.iceberg.IcebergTable when the Iceberg runtime is on the
classpath (skipped otherwise — this container ships no Iceberg jar).

The contract (used by apply_batch + PartialIngestRunner):
  num_buckets / bucket_key / schema() / read(spark, buckets, version) /
  bucket_plan(key) -> (num_buckets, bucket_expr, layout_token) /
  replace_buckets(df, affected, *, commit_key, pin_key, new_schema,
  watermark_lsn, snapshot_lsn, validate, read_version, expected_layout) /
  committed_keys() / watermark_lsn() / snapshot_lsn() /
  current_version() / delta_stats()
"""

import os

import pytest
from pyspark.sql import functions as F

from debezium_partial_snapshotter_spark.operators.upsert import (
    apply_batch,
    empty_table_for,
    with_system,
)
from debezium_partial_snapshotter_spark.schemas import (
    CHANGE_EVENT_SCHEMA,
    TOKENS_SCHEMA,
)

NB = 4
REQUIRED_SURFACE = [
    "num_buckets",
    "bucket_key",
    "schema",
    "read",
    "replace_buckets",
    "committed_keys",
    "watermark_lsn",
    "snapshot_lsn",
    "current_version",
    "delta_stats",
    "compact",
    "overwrite",
]


@pytest.fixture(params=["lake", "iceberg"])
def sink(request, spark, tmp_warehouse):
    if request.param == "lake":
        yield empty_table_for(
            os.path.join(tmp_warehouse, "contract_t"), TOKENS_SCHEMA, num_buckets=NB
        )
        return
    from debezium_partial_snapshotter_spark.plans import iceberg

    if not iceberg.is_available(spark):
        pytest.skip("Iceberg runtime not on the classpath in this container")
    t = iceberg.IcebergTable.create(
        spark, "spark_catalog.default.dps_contract_t",
        with_system(TOKENS_SCHEMA), num_buckets=NB,
    )
    yield t
    t.drop()


def _events(spark, rows):
    """rows: (op, doc_id, lsn) -> change-event df."""
    data = [
        (
            op,
            d,
            lsn,
            "false",
            "tokens/0000",
            None if op == "d" else (d, [lsn], 1, "s"),
        )
        for op, d, lsn in rows
    ]
    return spark.createDataFrame(data, CHANGE_EVENT_SCHEMA)


def test_contract_surface(sink):
    for name in REQUIRED_SURFACE:
        assert hasattr(sink, name), f"sink missing contract member {name}"
    assert sink.num_buckets == NB
    assert sink.bucket_key == "doc_id"
    assert sink.delta_stats()["compaction_due"] is False
    assert {f.name for f in sink.schema().fields} >= {
        "doc_id", "tokens", "n_tok", "source", "_lsn", "_op_rank",
    }


def test_apply_read_prune_and_watermarks(spark, sink):
    stats = apply_batch(
        sink, _events(spark, [("u", "a", 5), ("u", "b", 6)]), commit_key="p1:0"
    )
    assert stats["applied"] is True
    assert sink.watermark_lsn() == 6
    assert sink.snapshot_lsn() == -1  # WAL commits never move snapshot_lsn

    got = {r["doc_id"]: r["_lsn"] for r in sink.read(spark).collect()}
    assert got == {"a": 5, "b": 6}

    # bucket pruning must agree with the engine's bucket function
    from debezium_partial_snapshotter_spark.functions import bucket_id_py

    ba = bucket_id_py("a", NB)
    only_a = {r["doc_id"] for r in sink.read(spark, buckets=[ba]).collect()}
    assert "a" in only_a
    assert only_a <= {"a", "b"}

    # snapshot-kind commit advances ONLY snapshot_lsn
    stats = apply_batch(
        sink,
        _events(spark, [("r", "c", 7)]),
        commit_key="p1:snap:0",
        watermark_kind="snapshot",
    )
    assert stats["applied"] is True
    assert sink.watermark_lsn() == 6
    assert sink.snapshot_lsn() == 7


def test_idempotent_redelivery(spark, sink):
    ev = _events(spark, [("u", "a", 5), ("u", "b", 6)])
    s1 = apply_batch(sink, ev, commit_key="p1:0")
    assert s1["applied"] is True
    v = sink.current_version()

    s2 = apply_batch(sink, ev, commit_key="p1:0")  # exact redelivery
    assert s2["applied"] is False
    assert s2["reason"] == "duplicate_commit_key"
    assert sink.current_version() == v
    assert sink.read(spark).count() == 2
    assert "p1:0" in sink.committed_keys()


def test_delete_then_redelivered_insert_stays_deleted(spark, sink):
    apply_batch(sink, _events(spark, [("u", "a", 5)]), commit_key="p1:0")
    apply_batch(sink, _events(spark, [("d", "a", 6)]), commit_key="p1:1")
    assert sink.read(spark).where(F.col("doc_id") == "a").count() == 0
    # redelivering the old insert batch must NOT resurrect the key
    s = apply_batch(sink, _events(spark, [("u", "a", 5)]), commit_key="p1:0")
    assert s["applied"] is False
    assert sink.read(spark).where(F.col("doc_id") == "a").count() == 0
