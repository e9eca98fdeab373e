"""LakeTable commit and read cost: a commit's write stage runs at most
``spark.sql.shuffle.partitions`` tasks yet still writes one file per
bucket, and a read naming more than 32 files starts no file-listing
job of its own."""

import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from debezium_partial_snapshotter_spark.functions import bucket_id
from debezium_partial_snapshotter_spark.plans.lake import LakeTable

NB = 32
N_DOCS = 600
SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("v", LongType(), True),
        StructField("_lsn", LongType(), False),
        StructField("_op_rank", IntegerType(), False),
    ]
)
DELTA_SCHEMA = StructType(
    list(SCHEMA.fields) + [StructField("_is_delete", BooleanType(), False)]
)


def _rows(spark, lsn, delete_every=0):
    """One row per doc at ``lsn``; with ``delete_every`` the rows carry
    ``_is_delete`` (a delta), every n-th one a tombstone."""
    if delete_every:
        data = [
            (f"d{i}", i * lsn, lsn, 2, i % delete_every == 0)
            for i in range(N_DOCS)
        ]
        schema = DELTA_SCHEMA
    else:
        data = [(f"d{i}", i, lsn, 1) for i in range(N_DOCS)]
        schema = SCHEMA
    return spark.createDataFrame(data, schema).withColumn(
        "_bucket", bucket_id(F.col("doc_id"), NB)
    )


def _jobs_in_group(spark, fn):
    """Run ``fn`` in a fresh job group; return (its result, the
    SparkJobInfo of every job it started)."""
    sc = spark.sparkContext
    group = f"lake-write-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    return out, [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]


def test_write_stage_capped_at_shuffle_partitions(spark, tmp_warehouse):
    table = LakeTable.create(os.path.join(tmp_warehouse, "t"), SCHEMA, num_buckets=NB)
    slots = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert slots < NB

    applied, jobs = _jobs_in_group(
        spark, lambda: table.replace_buckets(_rows(spark, 1), list(range(NB)))
    )
    assert applied is True
    tracker = spark.sparkContext.statusTracker()
    stages = [tracker.getStageInfo(s) for job in jobs for s in job.stageIds]
    tasks = [s.numCompletedTasks for s in stages if s is not None]
    assert tasks and max(tasks) <= slots, tasks

    # the layout is unchanged: every bucket is touched, one file each
    base = table.manifest()["buckets"]
    assert sorted(int(b) for b in base) == list(range(NB))
    assert all(len(files) == 1 for files in base.values()), base
    assert table.read(spark).count() == N_DOCS


def test_read_of_many_files_starts_no_listing_job(spark, tmp_warehouse):
    table = LakeTable.create(os.path.join(tmp_warehouse, "t"), SCHEMA, num_buckets=NB)
    buckets = list(range(NB))
    table.replace_buckets(_rows(spark, 1), buckets)
    table.append_deltas(_rows(spark, 2, delete_every=7))
    table.append_deltas(_rows(spark, 3, delete_every=5))
    man = table.manifest()
    few = buckets[:10]
    n_few = len(table._files(man, few, "buckets") + table._files(man, few, "deltas"))
    n_all = len(table._files(man) + table._files(man, kind="deltas"))
    assert n_few <= 32 and n_all >= 40, (n_few, n_all)

    few_count, few_jobs = _jobs_in_group(
        spark, lambda: table.read(spark, buckets=few).count()
    )
    all_count, all_jobs = _jobs_in_group(spark, lambda: table.read(spark).count())
    assert all_count == N_DOCS - len(range(0, N_DOCS, 5))
    assert 0 < few_count < all_count
    assert len(all_jobs) <= len(few_jobs), (len(all_jobs), len(few_jobs))
