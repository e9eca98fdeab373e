"""VersionLog — the one numbered-file CAS log behind table manifests,
tracker versions and changefeed cursors. Pure filesystem: no Spark
session."""

import os
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql.types import StringType, StructField, StructType

from debezium_partial_snapshotter_spark.plans.lake import LakeTable, VersionLog


def _touch(log: VersionLog, v: int) -> None:
    assert log.create_json(v, {"v": v})


def test_failed_manifest_write_leaves_no_tmp_file(tmp_path):
    """A commit whose manifest cannot be serialized raises and leaves
    neither a version nor a stray tmp file in ``_manifests/``."""
    schema = StructType([StructField("doc_id", StringType(), False)])
    table = LakeTable.create(str(tmp_path / "t"), schema)
    with pytest.raises(TypeError):
        table._transact(lambda man: {"bad": object()})
    assert os.listdir(table.manifest_dir) == ["v00000001.json"]
    assert table.current_version() == 1


def test_racing_creates_have_exactly_one_winner(tmp_path):
    log = VersionLog(str(tmp_path), "c", ".json")
    n = 8
    barrier = threading.Barrier(n)

    def race(i: int) -> bool:
        def write(tmp: str) -> None:
            with open(tmp, "w") as fh:
                fh.write(f"writer {i}")
            barrier.wait(timeout=30)  # every tmp file exists before any link

        return log.create(1, write)

    with ThreadPoolExecutor(n) as pool:
        won = list(pool.map(race, range(n)))
    assert won.count(True) == 1
    with open(log.path(1)) as fh:
        assert fh.read() == f"writer {won.index(True)}"
    assert os.listdir(tmp_path) == ["c00000001.json"]


def test_prune_keeps_the_newest_versions(tmp_path):
    log = VersionLog(str(tmp_path), "v", ".parquet")
    for v in range(1, 8):
        _touch(log, v)
    log.prune(3)
    assert log.versions() == [5, 6, 7]
    assert sorted(os.listdir(tmp_path)) == [
        "v00000005.parquet", "v00000006.parquet", "v00000007.parquet"
    ]


def test_versions_skip_tmp_and_foreign_files(tmp_path):
    log = VersionLog(str(tmp_path / "log"), "v", ".json")
    assert log.versions() == []  # missing directory
    os.makedirs(log.dir)
    _touch(log, 2)
    _touch(log, 10)
    for name in (
        ".tmp-0123abcd.json",  # an in-flight or crashed writer
        "c00000003.json",  # another prefix
        "v00000004.parquet",  # another suffix
        "vlatest.json",  # not a version number
    ):
        open(os.path.join(log.dir, name), "w").close()
    assert log.versions() == [2, 10]
    assert log.path(10) == os.path.join(log.dir, "v00000010.json")
