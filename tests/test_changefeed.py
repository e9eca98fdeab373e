"""Row-level change feed (LakeTable.read_changes — the CDC-OUT side):
net insert/update/delete between two versions, resolved only over the
buckets the range touched, evolution-safe, and horizon-gated."""

import os

import pyarrow.parquet as pq
import pytest

from debezium_partial_snapshotter_spark.operators.upsert import (
    apply_batch,
    empty_table_for,
)
from debezium_partial_snapshotter_spark.plans.lake import VersionExpiredError
from debezium_partial_snapshotter_spark.schemas import TOKENS_SCHEMA
from debezium_partial_snapshotter_spark.sources.eventlog import (
    EventLogSpec,
    generate_change_log,
    generate_initial_state,
    oracle_apply,
    snapshot_read_events,
)
from tests.test_replay import load_events

NB = 4


def _image(spark, table, version):
    return {
        r["doc_id"]: (r["_lsn"], r["_op_rank"])
        for r in table.read(spark, version=version).collect()
    }


def test_read_changes_net_effect_matches_version_diff(spark, tmp_warehouse):
    spec = EventLogSpec(
        n_docs=80, n_events=700, n_segments=4, seed=47, num_buckets=NB,
        delete_frac=0.2,
    )
    state = generate_initial_state(spec)
    snap = snapshot_read_events(state, spec.start_lsn, spec)
    wal = generate_change_log(spec)
    table = empty_table_for(
        os.path.join(tmp_warehouse, "tokens"), TOKENS_SCHEMA, num_buckets=NB
    )
    dirs = []
    for i, seg in enumerate([snap] + wal):
        d = os.path.join(tmp_warehouse, f"e{i}")
        os.makedirs(d)
        pq.write_table(seg, os.path.join(d, "s.parquet"))
        dirs.append(d)
    apply_batch(table, load_events(spark, dirs[0]), commit_key="p:0")
    apply_batch(table, load_events(spark, dirs[1]), commit_key="p:1")
    v1 = table.current_version()
    for i in (2, 3, 4):
        apply_batch(table, load_events(spark, dirs[i]), commit_key=f"p:{i}")
    v2 = table.current_version()

    changes = table.read_changes(spark, v1, v2)
    got = {
        r["doc_id"]: (r["_change_type"], r["_lsn"], r["_op_rank"])
        for r in changes.collect()
    }
    old_img, new_img = _image(spark, table, v1), _image(spark, table, v2)

    # ground truth from the two resolved images
    expected = {}
    for k in set(old_img) | set(new_img):
        if k not in old_img:
            expected[k] = ("insert", *new_img[k])
        elif k not in new_img:
            expected[k] = ("delete", *old_img[k])
        elif old_img[k] != new_img[k]:
            expected[k] = ("update", *new_img[k])
    assert got == expected
    assert expected  # the log genuinely produced all three kinds
    kinds = {v[0] for v in expected.values()}
    assert kinds == {"insert", "update", "delete"}

    # identity range: empty feed with the full schema + _change_type
    same = table.read_changes(spark, v2, v2)
    assert same.count() == 0
    assert "_change_type" in same.columns

    # full range from the bootstrap version: every live row an insert
    boot = table.read_changes(spark, 1, v2)
    assert {r["_change_type"] for r in boot.collect()} == {"insert"}
    assert boot.count() == len(new_img)


def test_read_changes_below_horizon_raises(spark, tmp_warehouse):
    spec = EventLogSpec(
        n_docs=40, n_events=200, n_segments=2, seed=3, num_buckets=NB,
    )
    state = generate_initial_state(spec)
    snap = snapshot_read_events(state, spec.start_lsn, spec)
    table = empty_table_for(
        os.path.join(tmp_warehouse, "tokens"), TOKENS_SCHEMA, num_buckets=NB
    )
    d0 = os.path.join(tmp_warehouse, "e0")
    os.makedirs(d0)
    pq.write_table(snap, os.path.join(d0, "s.parquet"))
    apply_batch(table, load_events(spark, d0), commit_key="p:0")
    for i, seg in enumerate(generate_change_log(spec), start=1):
        d = os.path.join(tmp_warehouse, f"e{i}")
        os.makedirs(d)
        pq.write_table(seg, os.path.join(d, "s.parquet"))
        apply_batch(table, load_events(spark, d), commit_key=f"p:{i}")
    table.expire_versions(keep_last=1, min_age_sec=0, orphan_grace_sec=0)
    # a consumer whose last-processed version predates the horizon gets
    # the TYPED error (it must re-bootstrap with a full read), not a
    # silent partial feed
    with pytest.raises(VersionExpiredError):
        table.read_changes(spark, 1).collect()

    with pytest.raises(ValueError, match="from_version"):
        table.read_changes(spark, table.current_version() + 5)


def test_read_changes_validation_and_iceberg_guidance(spark):
    from debezium_partial_snapshotter_spark.plans import iceberg as ice

    # no catalog needed: the method must raise before touching the session
    t = ice.IcebergTable.__new__(ice.IcebergTable)
    with pytest.raises(NotImplementedError, match="create_changelog_view"):
        t.read_changes(None, 1)


def test_read_changes_key_not_first_column_with_mor_deltas(
    spark, tmp_warehouse
):
    """Round-5 second review pass: the MoR-resolving read puts the
    bucket key FIRST in its output columns, so the feed's positional
    pre-image pairing must re-project to schema order — on a table
    whose bucket_key is not the first field, delete rows' pre-images
    previously landed in the wrong columns."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from debezium_partial_snapshotter_spark.functions import bucket_id
    from debezium_partial_snapshotter_spark.plans.lake import LakeTable

    schema = StructType(
        [
            StructField("score", DoubleType(), True),  # key NOT first
            StructField("doc_id", StringType(), False),
            StructField("_lsn", LongType(), False),
            StructField("_op_rank", IntegerType(), False),
        ]
    )
    t = LakeTable.create(
        os.path.join(tmp_warehouse, "t2"), schema, num_buckets=2,
        bucket_key="doc_id",
    )
    base = spark.createDataFrame(
        [(1.5, "a", 1, 1), (2.5, "b", 1, 1)], schema
    ).withColumn("_bucket", bucket_id(F.col("doc_id"), 2))
    t.replace_buckets(base, [0, 1])
    v1 = t.current_version()

    delta_schema = StructType(
        list(schema.fields) + [StructField("_is_delete", BooleanType(), False)]
    )
    deltas = spark.createDataFrame(
        [(None, "a", 2, 3, True), (9.5, "b", 2, 2, False)], delta_schema
    ).withColumn("_bucket", bucket_id(F.col("doc_id"), 2))
    t.append_deltas(deltas)  # to-version resolves through MoR

    ch = {
        r["doc_id"]: (r["_change_type"], r["score"], r["_lsn"])
        for r in t.read_changes(spark, v1).collect()
    }
    # the delete surfaces its PRE-image with values in the RIGHT columns
    assert ch["a"] == ("delete", 1.5, 1)
    assert ch["b"] == ("update", 9.5, 2)
