"""M2 — the reference's 12 integration cases, re-expressed for the
Spark engine (SURVEY.md §5 table; reference
``PartialSnapshotterTest.java``). Each test pins the same observable
semantics: which partitions get snapshot rows, tracker state
transitions, catch-up ordering, record-only mode, multi-pipeline
keying.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from debezium_partial_snapshotter_spark.config import PipelineConfig
from debezium_partial_snapshotter_spark.functions import bucket_id_py
from debezium_partial_snapshotter_spark.plans.tracker import SnapshotTracker
from debezium_partial_snapshotter_spark.sources.eventlog import (
    EventLogSpec,
    generate_change_log,
    generate_initial_state,
    oracle_apply,
    snapshot_read_events,
)
from debezium_partial_snapshotter_spark.sources.readers import ParquetWalSource
from debezium_partial_snapshotter_spark.streaming.runner import PartialIngestRunner
from tests.test_replay import assert_state_matches

NB = 4  # buckets per table in these tests


def write_state(path: str, state: list[dict]):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = pa.table(
        {
            "doc_id": [r["doc_id"] for r in state],
            "tokens": pa.array([r["tokens"] for r in state], pa.list_(pa.int32())),
            "n_tok": pa.array([r["n_tok"] for r in state], pa.int32()),
            "source": [r["source"] for r in state],
        }
    )
    pq.write_table(t, path)


@pytest.fixture()
def env(tmp_warehouse, spark):
    """A small source system + runner factory."""
    spec = EventLogSpec(n_docs=120, n_events=600, n_segments=2, seed=21, num_buckets=NB)
    state = generate_initial_state(spec)
    state_path = os.path.join(tmp_warehouse, "source", "state.parquet")
    write_state(state_path, state)
    log_dir = os.path.join(tmp_warehouse, "source", "wal")
    os.makedirs(log_dir)

    def make_runner(pipeline_id="p1", **cfg_kw):
        tracker_table = cfg_kw.pop("tracker_table", "snapshot_tracker")
        cfg = PipelineConfig(
            pipeline_id=pipeline_id,
            warehouse=os.path.join(tmp_warehouse, "wh", pipeline_id),
            tracker_table=tracker_table,
            num_buckets=NB,
            # one tracker shared by all pipelines (reference: compound PK
            # (table_name, server_name) on a single tracker, README.md:68)
            tracker_path_override=os.path.join(tmp_warehouse, "wh", tracker_table),
            **cfg_kw,
        )
        src = ParquetWalSource(spark, state_path, log_dir, num_buckets=NB)
        return PartialIngestRunner(spark, cfg, src), cfg

    return {
        "spec": spec,
        "state": state,
        "state_path": state_path,
        "log_dir": log_dir,
        "make_runner": make_runner,
        "wh": tmp_warehouse,
    }


def state_as_expected(state):
    return {r["doc_id"]: r for r in state}


def partitions_for(state, nb=NB, table="tokens"):
    return {
        r["doc_id"]: f"{table}/{bucket_id_py(r['doc_id'], nb):04d}" for r in state
    }


# 1. testEngine (reference :64-80) — baseline full snapshot
def test_engine_full_snapshot(spark, env):
    runner, cfg = env["make_runner"]()
    out = runner.start()
    assert out["snapshot"]["applied"]
    assert sorted(out["snapshot"]["claimed"]) == runner.discovered_partitions()
    assert_state_matches(spark, runner.table, state_as_expected(env["state"]))
    # snapshot rows are tagged: stored _op_rank == 0 ('r')
    ranks = runner.table.read(spark).select("_op_rank").distinct().collect()
    assert {r["_op_rank"] for r in ranks} == {0}


# 2. testFilterOneTablePartialSnapshot (:82-102) — pre-seeded needs=false
def test_filter_one_partition(spark, env):
    runner, cfg = env["make_runner"]()
    skip = ["tokens/0000"]
    runner.tracker.claim(skip, cfg.pipeline_id, record_only=True)  # needs=false rows
    out = runner.snapshot_epoch()
    assert skip[0] not in out["claimed"]
    expected = {
        k: v
        for k, v in state_as_expected(env["state"]).items()
        if bucket_id_py(k, NB) != 0
    }
    assert_state_matches(spark, runner.table, expected)


# 3. testFilterAllTablesPartialSnapshot (:104-121)
def test_filter_all_partitions(spark, env):
    runner, cfg = env["make_runner"]()
    runner.tracker.claim(
        runner.discovered_partitions(), cfg.pipeline_id, record_only=True
    )
    out = runner.snapshot_epoch()
    assert not out["applied"] and out["reason"] == "nothing_claimed"
    assert runner.table.read(spark).count() == 0


# 4. testFilterNoTablesPartialSnapshot (:123-140) — empty tracker bootstraps
def test_no_tracker_bootstraps_everything(spark, env):
    runner, cfg = env["make_runner"]()
    out = runner.snapshot_epoch()
    assert sorted(out["claimed"]) == runner.discovered_partitions()
    assert_state_matches(spark, runner.table, state_as_expected(env["state"]))


# 5. testResnapshotPartial (:142-180) — operator re-snapshots ONE partition
def test_resnapshot_partial(spark, env):
    runner, cfg = env["make_runner"]()
    runner.start()
    # source changes after the first snapshot
    new_state = [dict(r) for r in env["state"]]
    for r in new_state:
        r["tokens"] = [int(x) ^ 1 for x in r["tokens"]]
    write_state(env["state_path"], new_state)

    runner.tracker.set_needs(["tokens/0002"], cfg.pipeline_id, needs=True)
    runner2, _ = env["make_runner"]()
    out = runner2.snapshot_epoch()
    assert out["claimed"] == ["tokens/0002"]
    # bucket 2 shows the NEW source rows; all others still the old ones
    expected = {}
    for old, new in zip(env["state"], new_state):
        expected[old["doc_id"]] = (
            new if bucket_id_py(old["doc_id"], NB) == 2 else old
        )
    assert_state_matches(spark, runner2.table, expected)


# 6. testReplayRecordsDuringResnapshot (:183-237) — catch-up BEFORE snapshot
def test_replay_during_resnapshot(spark, env):
    spec = env["spec"]
    runner, cfg = env["make_runner"]()
    runner.start()

    # while "down": WAL events arrive AND operator requests a re-snapshot
    wal = generate_change_log(spec, out_dir=env["log_dir"])
    # the new source state = old state + WAL applied (source db moved on)
    snap0 = snapshot_read_events(env["state"], spec.start_lsn, spec)
    evolved = oracle_apply([snap0] + wal)
    write_state(env["state_path"], list(evolved.values()))
    runner.tracker.set_needs(["tokens/0001"], cfg.pipeline_id, needs=True)

    runner2, _ = env["make_runner"]()
    out = runner2.start()
    # catch-up applied first, then snapshot (epoch order in the commit log)
    cl = runner2.commit_log.read_pandas()
    phases = cl.sort_values("checkpoint_epoch")["phase"].tolist()
    assert phases.index("catchup") < len(phases) - 1
    assert "snapshot" in phases and phases[-1] == "snapshot"
    assert out["snapshot"]["claimed"] == ["tokens/0001"]
    # final state == oracle of (snapshot + full WAL): catch-up covered all
    # buckets, the re-snapshot re-read bucket 1 from the evolved source
    assert_state_matches(spark, runner2.table, evolved)


# 7. testCompletedSnapshotUnlocksInTracker (:239-255)
def test_completed_snapshot_unlocks(spark, env):
    runner, cfg = env["make_runner"]()
    runner.start()
    st = runner.tracker.state(cfg.pipeline_id)
    assert len(st) == NB
    assert not st["needs_snapshot"].any()
    assert not st["under_snapshot"].any()


# 8. testSnapshotEmptyDB (:257-264)
def test_snapshot_empty_source(spark, env, tmp_warehouse):
    empty_path = os.path.join(tmp_warehouse, "source", "empty.parquet")
    write_state(empty_path, [])
    runner, cfg = env["make_runner"]()
    runner.source.state_path = empty_path
    out = runner.start()
    assert out["snapshot"]["reason"] == "empty_batch" or not out["snapshot"]["applied"]
    assert runner.table.read(spark).count() == 0


# 9. testCustomSnapshotTrackerTableName (:266-300)
def test_custom_tracker_table_name(spark, env):
    runner, cfg = env["make_runner"](tracker_table="my_custom_tracker")
    runner.start()
    assert os.path.isdir(os.path.join(env["wh"], "wh", "my_custom_tracker"))
    assert len(runner.tracker.state(cfg.pipeline_id)) == NB


# 10. testMultipleConnectorsSnapshot (:302-342) — shared tracker, two pipelines
def test_multiple_pipelines_share_tracker(spark, env):
    r1, c1 = env["make_runner"]("p1")
    r2, c2 = env["make_runner"]("p2")
    assert r1.tracker.path == r2.tracker.path
    r1.start()
    r2.start()
    st = r1.tracker.state()
    assert set(st["pipeline_id"]) == {"p1", "p2"}
    assert len(st) == 2 * NB
    assert_state_matches(spark, r1.table, state_as_expected(env["state"]))
    assert_state_matches(spark, r2.table, state_as_expected(env["state"]))


# 11. testSkipSnapshotForExistingConnector (:344-395) — record-only mode
def test_record_only_mode(spark, env):
    runner, cfg = env["make_runner"](skip_existing_connector=True)
    assert runner.record_only
    out = runner.start()
    assert not out["snapshot"]["applied"]
    st = runner.tracker.state(cfg.pipeline_id)
    assert len(st) == NB  # registered...
    assert not st["needs_snapshot"].any()  # ...but nothing marked
    assert runner.table.read(spark).count() == 0  # and no snapshot records


# 12. testSkippedSnapshotExistingConnectorRestart (:344-371) — idempotent
def test_record_only_restart_idempotent(spark, env):
    r1, _ = env["make_runner"](skip_existing_connector=True)
    r1.start()
    r2, cfg = env["make_runner"](skip_existing_connector=True)
    # pipeline now IS tracked -> record-only no longer forced, but every
    # row has needs=false, so the snapshot still claims nothing
    out = r2.start()
    assert not out["snapshot"]["applied"]
    assert r2.table.read(spark).count() == 0
    assert len(r2.tracker.state(cfg.pipeline_id)) == NB


# fail-safe policy (A12 semantics: tracker unreadable)
def test_tracker_error_policy(spark, env, monkeypatch):
    runner, cfg = env["make_runner"]()

    def boom(*a, **k):
        raise RuntimeError("tracker unreachable")

    monkeypatch.setattr(runner.tracker, "claim", boom)
    out = runner.snapshot_epoch()  # default policy: skip
    assert not out["applied"] and out["reason"] == "tracker_error_skip"

    runner.cfg.on_tracker_error = "snapshot"
    out2 = runner.snapshot_epoch()  # fail-open: snapshot everything
    assert out2["applied"]
    assert_state_matches(spark, runner.table, state_as_expected(env["state"]))


# bounded control-table history: every transition writes a version, so
# without GC the directory (listed on every read) grows forever
def test_tracker_version_history_is_garbage_collected(tmp_path):
    tr = SnapshotTracker.create(str(tmp_path / "tracker"))
    parts = [f"tokens/{b:04d}" for b in range(NB)]
    tr.claim(parts, "p1", record_only=True)
    expected = dict.fromkeys(parts, False)
    for i in range(50):
        p, needs = parts[i % NB], (i // NB) % 2 == 0
        assert tr.set_needs([p], "p1", needs=needs) == 1
        expected[p] = needs
    versions = [f for f in os.listdir(tr.path) if f.startswith("v")]
    assert len(versions) <= 8  # lake.KEEP_VERSIONS
    assert tr.current_version() == 52  # create + claim + 50 transitions
    st = tr.state("p1")
    assert dict(zip(st["table_partition"], st["needs_snapshot"])) == expected
    assert not st["under_snapshot"].any()
