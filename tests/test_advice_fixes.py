"""Regression tests for the round-1 advisory findings (ADVICE.md r1):

1. (high) A PARTIAL snapshot must not advance the global WAL replay
   watermark — WAL events already in the log but not yet applied for
   UNclaimed partitions must survive the snapshot and apply on the
   next tail batch (previously: silently dropped forever).
2. (medium) A crash between the manifest swap and the commit-log
   append must not stall ingest on restart (stale commit key reused
   forever).
3. (medium) A copy-on-write merge computed from a stale manifest
   version must not silently overwrite a concurrent writer's commit
   into the same buckets (lost update) — it must re-read and re-merge.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from debezium_partial_snapshotter_spark.config import PipelineConfig
from debezium_partial_snapshotter_spark.functions import bucket_id_py
from debezium_partial_snapshotter_spark.operators.upsert import (
    apply_batch,
    empty_table_for,
)
from debezium_partial_snapshotter_spark.plans.lake import CommitConflict, LakeTable
from debezium_partial_snapshotter_spark.schemas import (
    CHANGE_EVENT_SCHEMA,
    TOKENS_SCHEMA,
)
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
from tests.test_tracker import write_state

NB = 4


def _mk_runner(spark, wh, state_path, log_dir, pipeline_id="p1"):
    cfg = PipelineConfig(
        pipeline_id=pipeline_id,
        warehouse=os.path.join(wh, "wh"),
        num_buckets=NB,
    )
    src = ParquetWalSource(spark, state_path, log_dir, num_buckets=NB)
    return PartialIngestRunner(spark, cfg, src), cfg


def _event_row(doc_id, lsn, op="u", tokens=None):
    after = None
    if op != "d":
        tokens = tokens if tokens is not None else [1, 2, 3]
        after = (doc_id, tokens, len(tokens), "crafted")
    b = bucket_id_py(doc_id, NB)
    return (op, doc_id, lsn, "false", f"tokens/{b:04d}", after)


def _write_events(spark, rows, path):
    spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


# ---------------------------------------------------------------------------
# 1. partial snapshot must not drop unclaimed partitions' backlog
# ---------------------------------------------------------------------------
def test_partial_snapshot_preserves_unclaimed_wal(spark, tmp_warehouse):
    spec = EventLogSpec(
        n_docs=80, n_events=400, n_segments=1, seed=33, num_buckets=NB
    )
    state = generate_initial_state(spec)
    state_path = os.path.join(tmp_warehouse, "source", "state.parquet")
    write_state(state_path, state)
    log_dir = os.path.join(tmp_warehouse, "source", "wal")
    os.makedirs(log_dir)

    runner, cfg = _mk_runner(spark, tmp_warehouse, state_path, log_dir)
    out = runner.start()
    assert out["snapshot"]["applied"]

    # drain a first WAL segment fully
    wal1 = generate_change_log(spec, out_dir=log_dir)
    assert runner.tail_batch()["applied"]
    head = runner.table.watermark_lsn()
    assert head == max(r["lsn"] for t in wal1 for r in t.to_pylist())

    # NEW events land in the log but are NOT yet applied (normal tail
    # lag). They target partitions OUTSIDE the upcoming claim set.
    bucket1_doc = next(d for d in (r["doc_id"] for r in state)
                       if bucket_id_py(d, NB) == 1)
    bucket2_doc = next(d for d in (r["doc_id"] for r in state)
                       if bucket_id_py(d, NB) == 2)
    lagged = [
        _event_row(bucket1_doc, head + 1, "u", tokens=[9, 9, 9]),
        _event_row(bucket2_doc, head + 2, "d"),
    ]
    _write_events(spark, lagged, os.path.join(log_dir, "seg-99990.parquet"))

    # re-snapshot ONLY bucket 0 while the backlog above is pending
    runner.tracker.set_needs(["tokens/0000"], cfg.pipeline_id, needs=True)
    snap_out = runner.snapshot_epoch()
    assert snap_out["claimed"] == ["tokens/0000"]
    assert snap_out["snapshot_watermark"] >= head + 2
    # THE fix: the WAL replay filter must NOT have moved to the
    # snapshot watermark — only snapshot_lsn does.
    assert runner.table.watermark_lsn() == head
    assert runner.table.snapshot_lsn() == snap_out["snapshot_watermark"]

    # the next tail batch must apply the lagged events (previously they
    # were filtered by lsn <= snapshot watermark and lost forever)
    tail_out = runner.tail_batch()
    assert tail_out["applied"], tail_out

    # expected: oracle over snapshot+wal1, then the lagged events by
    # hand, then bucket-0 re-read from the (static) source state.
    expected = oracle_apply(
        [snapshot_read_events(state, spec.start_lsn, spec)] + wal1
    )
    expected[bucket1_doc] = {
        "doc_id": bucket1_doc, "tokens": [9, 9, 9], "n_tok": 3, "source": "crafted"
    }
    expected.pop(bucket2_doc, None)
    state_by_id = {r["doc_id"]: r for r in state}
    for d in list(expected):
        if bucket_id_py(d, NB) == 0 and d in state_by_id:
            expected[d] = state_by_id[d]  # re-snapshot re-read the source
    for d, r in state_by_id.items():
        if bucket_id_py(d, NB) == 0 and d not in expected:
            expected[d] = r  # re-snapshot resurrects source rows
    assert_state_matches(spark, runner.table, expected)


# ---------------------------------------------------------------------------
# 2. crash between manifest swap and commit-log append must not stall
# ---------------------------------------------------------------------------
def test_crash_between_manifest_and_commit_log_resumes(spark, tmp_warehouse):
    spec = EventLogSpec(
        n_docs=60, n_events=200, n_segments=1, seed=7, num_buckets=NB
    )
    state = generate_initial_state(spec)
    state_path = os.path.join(tmp_warehouse, "source", "state.parquet")
    write_state(state_path, state)
    log_dir = os.path.join(tmp_warehouse, "source", "wal")
    os.makedirs(log_dir)

    runner1, cfg = _mk_runner(spark, tmp_warehouse, state_path, log_dir)
    runner1.start()
    generate_change_log(spec, out_dir=log_dir)
    assert runner1.tail_batch()["applied"]
    applied_wm = runner1.table.watermark_lsn()

    # simulate the crash window: the manifest carries the commit keys,
    # but the commit-log append never happened
    shutil.rmtree(
        os.path.join(cfg.warehouse, "_commit_log", cfg.target_table),
        ignore_errors=True,
    )

    # restart: a naive resume (commit log only) would reuse the stale
    # epoch key, see duplicate_commit_key forever, and never apply the
    # new events below
    runner2, _ = _mk_runner(spark, tmp_warehouse, state_path, log_dir)
    doc = state[0]["doc_id"]
    _write_events(
        spark,
        [_event_row(doc, applied_wm + 1, "u", tokens=[7, 7])],
        os.path.join(log_dir, "seg-99991.parquet"),
    )
    out = runner2.tail_batch()
    assert out["applied"], f"ingest stalled after crash window: {out}"
    got = (
        runner2.table.read(spark)
        .where(F.col("doc_id") == doc)
        .select("tokens")
        .collect()
    )
    assert list(got[0]["tokens"]) == [7, 7]

    # the resumed epoch produced a FRESH key past the crash window
    assert "p1:tail:2" in runner2.table.committed_keys()


# ---------------------------------------------------------------------------
# 3. stale CoW merge must conflict, not overwrite (lost update)
# ---------------------------------------------------------------------------
def _staged(spark, rows):
    """rows of (doc_id, bucket) -> minimal bucketed content df."""
    df = spark.createDataFrame(
        [(d, [1], 1, "s", 0, 1, b) for d, b in rows],
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "_lsn long, _op_rank int, _bucket int",
    )
    return df


def test_replace_buckets_detects_lost_update(spark, tmp_warehouse):
    from debezium_partial_snapshotter_spark.operators.upsert import with_system

    path = os.path.join(tmp_warehouse, "t")
    table = LakeTable.create(path, with_system(TOKENS_SCHEMA), num_buckets=NB)
    table.replace_buckets(_staged(spark, [("a", 0), ("b", 1)]), [0, 1])
    v = table.current_version()

    # a concurrent writer lands in bucket 0 after our read basis v
    table.replace_buckets(_staged(spark, [("c", 0)]), [0])

    # stale merge into bucket 0 must raise, not silently drop doc c
    with pytest.raises(CommitConflict):
        table.replace_buckets(_staged(spark, [("a", 0)]), [0], read_version=v)
    docs = {r["doc_id"] for r in table.read(spark, buckets=[0]).collect()}
    assert docs == {"c"}

    # disjoint buckets rebase cleanly
    assert table.replace_buckets(
        _staged(spark, [("d", 1)]), [1], read_version=v
    ) is True


def test_apply_batch_remerges_on_conflict(spark, tmp_warehouse):
    """End-to-end lost-update scenario: a second pipeline commits into
    the same bucket between our read and our commit; apply_batch must
    re-read and re-merge so BOTH writers' rows survive."""
    path = os.path.join(tmp_warehouse, "t")
    table = empty_table_for(path, TOKENS_SCHEMA, num_buckets=NB)

    # two keys in the SAME bucket
    docs = [f"k{i}" for i in range(200)]
    same = [d for d in docs if bucket_id_py(d, NB) == 0][:2]
    assert len(same) == 2
    ours = spark.createDataFrame(
        [_event_row(same[0], 10, "u", tokens=[1])], CHANGE_EVENT_SCHEMA
    )
    theirs = spark.createDataFrame(
        [_event_row(same[1], 11, "u", tokens=[2])], CHANGE_EVENT_SCHEMA
    )

    # interleave: when OUR commit is attempted, THEIR commit lands first
    other_handle = LakeTable(path)
    orig = table.replace_buckets
    fired = {"n": 0}

    def hook(*a, **kw):
        if fired["n"] == 0:
            fired["n"] = 1
            apply_batch(other_handle, theirs, commit_key="p2:0")
        return orig(*a, **kw)

    table.replace_buckets = hook
    stats = apply_batch(table, ours, commit_key="p1:0")
    table.replace_buckets = orig
    assert stats["applied"] is True
    assert stats["retries"] == 1  # one CommitConflict re-merge

    got = {
        r["doc_id"]: list(r["tokens"])
        for r in table.read(spark, buckets=[0]).collect()
    }
    assert got == {same[0]: [1], same[1]: [2]}, got


def test_crashed_snapshot_epoch_resumes_same_epoch(spark, tmp_warehouse):
    """A crash between the snapshot apply and the tracker release must
    resume the SAME epoch at the SAME recorded watermark — the retry is
    a duplicate-key no-op, not a second full snapshot at a new
    watermark."""
    spec = EventLogSpec(n_docs=40, n_events=100, n_segments=1, seed=13, num_buckets=NB)
    state = generate_initial_state(spec)
    state_path = os.path.join(tmp_warehouse, "source", "state.parquet")
    write_state(state_path, state)
    log_dir = os.path.join(tmp_warehouse, "source", "wal")
    os.makedirs(log_dir)

    runner1, cfg = _mk_runner(spark, tmp_warehouse, state_path, log_dir)

    # crash AFTER the apply, BEFORE the release
    orig_release = runner1.tracker.release

    def crash(*a, **kw):
        raise RuntimeError("simulated crash before release")

    runner1.tracker.release = crash
    try:
        runner1.snapshot_epoch()
    except RuntimeError:
        pass
    runner1.tracker.release = orig_release
    keys_before = set(runner1.table.committed_keys())
    assert any(k.startswith("p1:snapshot:") for k in keys_before)
    v_before = runner1.table.current_version()

    # restart: under_snapshot rows exist -> resume, not re-snapshot
    runner2, _ = _mk_runner(spark, tmp_warehouse, state_path, log_dir)
    out = runner2.snapshot_epoch()
    assert out.get("reason") != "nothing_claimed"
    assert runner2.table.current_version() == v_before  # no new commit
    assert set(runner2.table.committed_keys()) == keys_before
    # and the claim is now released
    st = runner2.tracker.state(cfg.pipeline_id)
    assert not st["under_snapshot"].any()


# ---------------------------------------------------------------------------
# 4. (r2) snapshot commit keys must survive MAX_COMMIT_KEYS eviction
# ---------------------------------------------------------------------------
def _snap_row(doc_id, lsn, tokens):
    b = bucket_id_py(doc_id, NB)
    return ("r", doc_id, lsn, "true", f"tokens/{b:04d}",
            (doc_id, tokens, len(tokens), "snap"))


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_snapshot_commit_key_pinned_past_eviction(
    spark, tmp_warehouse, monkeypatch, mode
):
    """ADVICE r2 (low, lake.py MAX_COMMIT_KEYS): snapshot-phase events
    carry lsn == the snapshot watermark, which the callers'
    lsn > watermark filter does NOT cover — so if the snapshot's commit
    key were evicted by the cap, a very late redelivery would re-merge
    (CoW) or append tied duplicate delta rows (MoR). Snapshot keys are
    pinned; WAL keys still rotate under the cap."""
    from debezium_partial_snapshotter_spark.plans import lake as lake_mod

    monkeypatch.setattr(lake_mod, "MAX_COMMIT_KEYS", 4)
    table = empty_table_for(
        os.path.join(tmp_warehouse, f"t_{mode}"), TOKENS_SCHEMA, num_buckets=NB
    )
    snap_rows = [_snap_row("doc-a", 100, [1, 2]), _snap_row("doc-b", 100, [3])]
    snap = spark.createDataFrame(snap_rows, CHANGE_EVENT_SCHEMA)
    s = apply_batch(
        table, snap, commit_key="p1:snapshot:0",
        write_mode=mode, watermark_kind="snapshot",
    )
    assert s["applied"]

    # way more WAL commits than the (patched) cap
    for i in range(6):
        ev = spark.createDataFrame(
            [_event_row("doc-a", 200 + i, "u", tokens=[7, i])],
            CHANGE_EVENT_SCHEMA,
        )
        assert apply_batch(
            table, ev, commit_key=f"p1:tail:{i}", write_mode=mode
        )["applied"]

    man = table.manifest()
    assert len(man["commit_keys"]) <= 4
    assert "p1:tail:0" not in man["commit_keys"]  # cap really evicted
    assert "p1:snapshot:0" in man.get("pinned_keys", [])  # but not this

    rows_before = table.read(spark).count()
    v_before = table.current_version()
    # the late snapshot redelivery: must be a keyed no-op, NOT a
    # re-merge/duplicate-append
    s2 = apply_batch(
        table, snap, commit_key="p1:snapshot:0",
        write_mode=mode, watermark_kind="snapshot",
    )
    assert not s2["applied"] and s2["reason"] == "duplicate_commit_key"
    assert table.current_version() == v_before
    assert table.read(spark).count() == rows_before
    got = table.read(spark).where(F.col("doc_id") == "doc-a").collect()
    assert len(got) == 1  # MoR read emits no tied duplicates
    assert got[0]["_lsn"] == 205


# ---------------------------------------------------------------------------
# 5. the one data commit: no leaked commit dir, lost-CAS rebase
# ---------------------------------------------------------------------------
COMMITS = ["replace_buckets", "append_deltas"]


def _new_table(tmp_warehouse):
    from debezium_partial_snapshotter_spark.operators.upsert import with_system

    path = os.path.join(tmp_warehouse, "t")
    return LakeTable.create(path, with_system(TOKENS_SCHEMA), num_buckets=NB)


def _commit(spark, table, method, docs, **kw):
    """Commit one row per doc id through ``method`` into its real bucket."""
    rows = [(d, bucket_id_py(d, NB)) for d in docs]
    df = _staged(spark, rows)
    if method == "append_deltas":  # a delta commit names its own buckets
        return table.append_deltas(df.withColumn("_is_delete", F.lit(False)), **kw)
    return table.replace_buckets(df, sorted({b for _, b in rows}), **kw)


def _commit_dirs(table):
    return sorted(d for d in os.listdir(table.data_dir) if d.startswith("c-"))


def _referenced_dirs(table):
    man = table.manifest()
    return sorted(
        {
            f.split(os.sep)[1]
            for kind in ("buckets", "deltas")
            for files in man.get(kind, {}).values()
            for f in files
        }
    )


def _two_buckets():
    """Two doc ids in different buckets."""
    by_bucket = {}
    for i in range(200):
        by_bucket.setdefault(bucket_id_py(f"k{i}", NB), f"k{i}")
    (_, ours), (_, theirs) = sorted(by_bucket.items())[:2]
    return ours, theirs


@pytest.mark.parametrize("failure", ["cas_lost", "validate_raises"])
@pytest.mark.parametrize("method", COMMITS)
def test_failed_commit_leaves_no_commit_dir(
    spark, tmp_warehouse, monkeypatch, method, failure
):
    """A data commit that lands no manifest must remove the files it
    wrote: neither exhausted CAS retries nor a raising validation may
    leave a ``c-*`` dir that only the ``sweep_orphans`` walk reclaims."""
    table = _new_table(tmp_warehouse)
    v = table.current_version()
    kw = {"commit_key": "p1:0"}
    if failure == "cas_lost":

        def lose(self, manifest):
            raise CommitConflict("forced CAS loss")

        monkeypatch.setattr(LakeTable, "_write_manifest", lose)
        expected = CommitConflict
    else:

        def validate():
            raise RuntimeError("validation failed to run")

        kw["validate"] = validate
        expected = RuntimeError
    with pytest.raises(expected):
        _commit(spark, table, method, ["a", "b"], **kw)
    assert _commit_dirs(table) == []
    assert table.current_version() == v
    assert "p1:0" not in table.committed_keys()


@pytest.mark.parametrize("same_key", [False, True], ids=["disjoint", "same_key"])
@pytest.mark.parametrize("method", COMMITS)
def test_lost_cas_rebases_on_competing_commit(
    spark, tmp_warehouse, monkeypatch, method, same_key
):
    """The first manifest CAS loses to a real competing commit. A
    disjoint competitor is rebased over: both keys, both buckets and
    both rows survive. A competitor that committed the SAME key makes
    the loser a keyed no-op that leaves no commit dir."""
    table = _new_table(tmp_warehouse)
    v0 = table.current_version()
    ours, theirs = _two_buckets()
    their_key = "p1:0" if same_key else "p2:0"
    orig = LakeTable._write_manifest
    raced = []

    def race(self, manifest):
        if not raced:
            raced.append(manifest["version"])
            assert _commit(
                spark, LakeTable(table.path), method, [theirs], commit_key=their_key
            ) is True
        return orig(self, manifest)  # the real CAS now loses

    monkeypatch.setattr(LakeTable, "_write_manifest", race)
    kw = {"read_version": v0} if method == "replace_buckets" else {}
    applied = _commit(spark, table, method, [ours], commit_key="p1:0", **kw)
    assert raced == [v0 + 1]
    got = {r["doc_id"] for r in table.read(spark).collect()}
    if same_key:
        assert applied is False
        assert table.current_version() == v0 + 1
        assert got == {theirs}
    else:
        assert applied is True
        assert table.current_version() == v0 + 2
        assert {"p1:0", "p2:0"} <= table.committed_keys()
        kind = "buckets" if method == "replace_buckets" else "deltas"
        files = table.manifest()[kind]
        for doc in (ours, theirs):
            assert files[str(bucket_id_py(doc, NB))]
        assert got == {ours, theirs}
    assert _commit_dirs(table) == _referenced_dirs(table)
