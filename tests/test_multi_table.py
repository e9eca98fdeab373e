"""Multi-table pipelines (reference: every connector coordinates
several tables — PartialSnapshotterTest.java:44-46 uses test_data +
another_test_data; :82-102 snapshots one table while skipping another).

One tracker, one atomic claim, one shared snapshot consistency point,
per-table commit keys ``pid:phase:epoch:table``, shared WAL routed by
the table_partition prefix.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from debezium_partial_snapshotter_spark.config import PipelineConfig
from debezium_partial_snapshotter_spark.plans.lake import VersionExpiredError
from debezium_partial_snapshotter_spark.sources.eventlog import (
    EventLogSpec,
    generate_change_log,
    generate_initial_state,
    oracle_apply,
    snapshot_read_events,
)
from debezium_partial_snapshotter_spark.sources.readers import ParquetWalSource
from debezium_partial_snapshotter_spark.streaming.multi import (
    MultiTableIngestRunner,
)
from tests.test_replay import assert_state_matches
from tests.test_tracker import write_state

NB = 4
TABLES = {"alpha": (11, 1_000_000), "beta": (22, 5_000_000)}


def _env(spark, wh, n_segments=2):
    """Two source tables sharing ONE WAL feed (interleaved segments)."""
    log_dir = os.path.join(wh, "source", "wal")
    os.makedirs(log_dir)
    specs, states, sources, wals = {}, {}, {}, {}
    for t, (seed, lsn0) in TABLES.items():
        spec = EventLogSpec(
            n_docs=50, n_events=100 * n_segments, n_segments=n_segments,
            seed=seed, num_buckets=NB, table=t, start_lsn=lsn0,
        )
        specs[t] = spec
        states[t] = generate_initial_state(spec)
        state_path = os.path.join(wh, "source", f"{t}.parquet")
        write_state(state_path, states[t])
        sources[t] = ParquetWalSource(
            spark, state_path, log_dir, table=t, num_buckets=NB
        )
        wals[t] = generate_change_log(spec)  # in-memory; written on demand

    def write_shared_wal(segments=None):
        # interleave: each shared segment carries BOTH tables' events
        for i in range(n_segments) if segments is None else segments:
            seg = pa.concat_tables([wals[t][i] for t in TABLES])
            pq.write_table(seg, os.path.join(log_dir, f"seg-{i:05d}.parquet"))

    return specs, states, sources, write_shared_wal


def _runner(spark, wh, sources, **cfg_kw):
    cfg = PipelineConfig(
        pipeline_id="p1",
        warehouse=os.path.join(wh, "wh"),
        num_buckets=NB,
        tracker_path_override=os.path.join(wh, "wh", "tracker"),
        **cfg_kw,
    )
    return MultiTableIngestRunner(spark, cfg, sources), cfg


def test_two_tables_shared_wal_full_flow(spark, tmp_warehouse):
    specs, states, sources, write_shared_wal = _env(spark, tmp_warehouse)
    runner, cfg = _runner(spark, tmp_warehouse, sources)

    out = runner.start()
    assert out["snapshot"]["applied"]
    # one atomic claim covered BOTH tables' partitions
    claimed_tables = {p.rsplit("/", 1)[0] for p in out["snapshot"]["claimed"]}
    assert claimed_tables == {"alpha", "beta"}

    write_shared_wal()
    tail = runner.tail_batch()
    for t in TABLES:
        assert tail[t]["applied"], tail[t]

    # per-table final state == per-table oracle (routing was exact)
    for t, spec in specs.items():
        expected = oracle_apply(
            [snapshot_read_events(states[t], spec.start_lsn, spec)]
            + generate_change_log(spec)
        )
        assert_state_matches(spark, runner.tables[t], expected)

    # shared-epoch, per-table commit keys
    keys_by_table = {t: runner.tables[t].committed_keys() for t in TABLES}
    snap_epoch = next(
        int(k.split(":")[2])
        for k in keys_by_table["alpha"]
        if k.startswith("p1:snapshot:")
    )
    for t in TABLES:
        keys = keys_by_table[t]
        assert f"p1:snapshot:{snap_epoch}:{t}" in keys
        assert f"p1:tail:{snap_epoch + 1}:{t}" in keys
        # WAL routing kept each table's watermark in its own lsn range
        assert runner.tables[t].watermark_lsn() == max(
            r["lsn"] for tab in generate_change_log(specs[t]) for r in tab.to_pylist()
        )

    # redelivery of the whole tail is a per-table idempotent no-op
    again = runner.tail_batch()
    for t in TABLES:
        assert not again[t]["applied"]


def test_snapshot_one_table_skip_other(spark, tmp_warehouse):
    """reference testFilterOneTablePartialSnapshot: pre-seeded
    needs=false rows for one table exclude it from the claim set while
    the other snapshots fully."""
    specs, states, sources, _ = _env(spark, tmp_warehouse)
    runner, cfg = _runner(spark, tmp_warehouse, sources)
    beta_parts = [f"beta/{b:04d}" for b in range(NB)]
    runner.tracker.claim(beta_parts, cfg.pipeline_id, record_only=True)

    out = runner.snapshot_epoch()
    claimed_tables = {p.rsplit("/", 1)[0] for p in out["claimed"]}
    assert claimed_tables == {"alpha"}
    assert_state_matches(
        spark, runner.tables["alpha"], {r["doc_id"]: r for r in states["alpha"]}
    )
    assert runner.tables["beta"].read(spark).count() == 0


def test_exclude_regex_drops_whole_table(spark, tmp_warehouse):
    specs, states, sources, _ = _env(spark, tmp_warehouse)
    runner, cfg = _runner(
        spark, tmp_warehouse, sources, partition_exclude=r"^beta/"
    )
    assert all(p.startswith("alpha/") for p in runner.discovered_partitions())
    out = runner.snapshot_epoch()
    assert {p.rsplit("/", 1)[0] for p in out["claimed"]} == {"alpha"}
    assert runner.tables["beta"].read(spark).count() == 0


def test_multi_table_structured_stream(spark, tmp_warehouse):
    """One readStream over the shared feed; foreachBatch routes per
    table with per-table watermark filters and commit keys."""
    specs, states, sources, write_shared_wal = _env(spark, tmp_warehouse)
    runner, cfg = _runner(spark, tmp_warehouse, sources)
    runner.start()
    write_shared_wal()
    runner.stream(timeout_sec=120.0)

    for t, spec in specs.items():
        expected = oracle_apply(
            [snapshot_read_events(states[t], spec.start_lsn, spec)]
            + generate_change_log(spec)
        )
        assert_state_matches(spark, runner.tables[t], expected)
        keys = runner.tables[t].committed_keys()
        assert any(k.startswith("p1:stream:") and k.endswith(f":{t}") for k in keys)

    # re-running the stream from the same checkpoint is a no-op
    v = {t: runner.tables[t].current_version() for t in TABLES}
    runner.stream(timeout_sec=120.0)
    assert {t: runner.tables[t].current_version() for t in TABLES} == v


def test_multi_table_crash_resumes_same_epoch(spark, tmp_warehouse, monkeypatch):
    """Crash after committing table alpha but before beta: the restart
    must finish the SAME epoch at the SAME shared watermark — alpha's
    per-table key makes its re-apply a no-op, beta commits under the
    crashed epoch's number, and both end at one consistency point."""
    import debezium_partial_snapshotter_spark.streaming.multi as multi_mod

    specs, states, sources, _ = _env(spark, tmp_warehouse)
    runner, cfg = _runner(spark, tmp_warehouse, sources)

    real_apply = multi_mod.apply_batch

    def crashing_apply(table, events, commit_key=None, **kw):
        if commit_key and commit_key.endswith(":beta"):
            raise RuntimeError("simulated crash before beta's commit")
        return real_apply(table, events, commit_key=commit_key, **kw)

    monkeypatch.setattr(multi_mod, "apply_batch", crashing_apply)
    try:
        runner.snapshot_epoch()
    except RuntimeError:
        pass
    monkeypatch.setattr(multi_mod, "apply_batch", real_apply)

    alpha_keys = runner.tables["alpha"].committed_keys()
    assert any(k.startswith("p1:snapshot:") for k in alpha_keys)
    epoch = next(
        int(k.split(":")[2]) for k in alpha_keys if k.startswith("p1:snapshot:")
    )
    v_alpha = runner.tables["alpha"].current_version()

    # restart
    runner2, _ = _runner(spark, tmp_warehouse, sources)
    out = runner2.snapshot_epoch()
    assert out["applied"]
    # alpha untouched (same epoch key -> duplicate), beta committed
    # under the SAME epoch and shared watermark
    assert runner2.tables["alpha"].current_version() == v_alpha
    assert out["tables"]["alpha"]["reason"] == "duplicate_commit_key"
    assert f"p1:snapshot:{epoch}:beta" in runner2.tables["beta"].committed_keys()
    assert runner2.tables["beta"].snapshot_lsn() == out["snapshot_watermark"]
    assert_state_matches(
        spark, runner2.tables["beta"], {r["doc_id"]: r for r in states["beta"]}
    )
    st = runner2.tracker.state(cfg.pipeline_id)
    assert not st["under_snapshot"].any()

def test_multi_table_stream_per_table_separate_feeds(spark, tmp_warehouse):
    """Tables with INDEPENDENT change logs (one readStream each,
    per-table checkpoints) stream concurrently to the right tables
    with per-table exactly-once (VERDICT r2 next-6)."""
    wh = tmp_warehouse
    specs, states, sources = {}, {}, {}
    for t, (seed, lsn0) in TABLES.items():
        spec = EventLogSpec(
            n_docs=50, n_events=200, n_segments=2, seed=seed,
            num_buckets=NB, table=t, start_lsn=lsn0,
        )
        specs[t] = spec
        states[t] = generate_initial_state(spec)
        state_path = os.path.join(wh, "source", f"{t}.parquet")
        write_state(state_path, states[t])
        log_dir = os.path.join(wh, "source", f"wal_{t}")  # DISJOINT dirs
        os.makedirs(log_dir)
        sources[t] = ParquetWalSource(
            spark, state_path, log_dir, table=t, num_buckets=NB
        )

    runner, cfg = _runner(spark, wh, sources)
    assert runner.start()["snapshot"]["applied"]

    # each table's events land ONLY in its own feed
    for t, spec in specs.items():
        for i, seg in enumerate(generate_change_log(spec)):
            pq.write_table(
                seg, os.path.join(sources[t].log_dir, f"seg-{i:05d}.parquet")
            )

    queries = runner.stream_per_table(timeout_sec=180)
    assert set(queries) == set(TABLES)
    for t, spec in specs.items():
        expected = oracle_apply(
            [snapshot_read_events(states[t], spec.start_lsn, spec)]
            + generate_change_log(spec)
        )
        assert_state_matches(spark, runner.tables[t], expected)
        assert runner.tables[t].watermark_lsn() == max(
            r["lsn"] for tab in generate_change_log(spec) for r in tab.to_pylist()
        )

    # draining again from the same checkpoints is a per-table no-op
    versions = {t: runner.tables[t].current_version() for t in TABLES}
    runner.stream_per_table(timeout_sec=180)
    assert {t: runner.tables[t].current_version() for t in TABLES} == versions


def test_multi_table_surfaces_quarantine_counts(spark, tmp_warehouse):
    """The wal phases report per-table rows_quarantined for sources
    that carry a dead-letter sink (attribute present), and omit the
    key entirely for sources without one (None)."""
    specs, states, sources, write_shared_wal = _env(spark, tmp_warehouse)
    runner, cfg = _runner(spark, tmp_warehouse, sources)
    runner.start()
    write_shared_wal()
    # alpha's source pretends to be quarantine-enabled; beta is a
    # plain source (last_quarantined is absent -> no key in stats)
    sources["alpha"].last_quarantined = 3
    out = runner.tail_batch()
    assert out["alpha"]["rows_quarantined"] == 3
    assert "rows_quarantined" not in out["beta"]


def _expected(specs, states, t):
    spec = specs[t]
    return oracle_apply(
        [snapshot_read_events(states[t], spec.start_lsn, spec)]
        + generate_change_log(spec)
    )


def test_multi_table_mor_compacts_every_tail_epoch(spark, tmp_warehouse):
    """MoR maintenance runs on the multi-table path too: each tail epoch
    appends up to NB delta files per table, and compaction at
    mor_compact_threshold keeps every table below threshold + NB —
    without it the count grows by ~NB every epoch."""
    n_seg = 7
    specs, states, sources, write_shared_wal = _env(
        spark, tmp_warehouse, n_segments=n_seg
    )
    runner, _ = _runner(
        spark, tmp_warehouse, sources, write_mode="mor", mor_compact_threshold=6
    )
    assert runner.start()["snapshot"]["applied"]
    compactions = 0
    for i in range(n_seg):
        write_shared_wal([i])
        out = runner.tail_batch()
        for t in TABLES:
            assert out[t]["applied"], out[t]
            compactions += "compaction" in out[t]
            assert runner.tables[t].delta_stats()["delta_files"] < 6 + NB
    assert compactions > 0
    for t in TABLES:
        assert_state_matches(spark, runner.tables[t], _expected(specs, states, t))


def test_multi_table_snapshot_epoch_expires(spark, tmp_warehouse):
    """Expiration rides every apply path, the snapshot epoch included:
    with keep_last=1 and a cadence of one apply, the snapshot commit
    already reclaims the creation version of each table."""
    specs, states, sources, write_shared_wal = _env(spark, tmp_warehouse)
    runner, _ = _runner(
        spark, tmp_warehouse, sources, expire_keep_last=1,
        expire_every_applies=1, expire_min_age_sec=0.0,
        expire_orphan_grace_sec=0.0,
    )
    out = runner.snapshot_epoch()
    assert out["applied"]
    for t in TABLES:
        assert "expiration" in out["tables"][t], out["tables"][t]
        with pytest.raises(VersionExpiredError):
            runner.tables[t].read(spark, version=1)
    write_shared_wal()
    tail = runner.tail_batch()
    for t in TABLES:
        assert "expiration" in tail[t], tail[t]
        assert_state_matches(spark, runner.tables[t], _expected(specs, states, t))
