"""ChangefeedReader — the cursor-persisted incremental consumer over a
LakeTable (VERDICT r5 next-3): poll/commit cursor protocol, the O(batch)
delta-file fast path (pinned: no resolve, reads ONLY the new delta
files), the net fallback when the range holds a non-delta commit, MERGE
re-application via apply_feed reproducing the upstream state exactly,
and re-bootstrap after the cursor falls below the expiration horizon.

Reference analog: the connector's whole purpose is feeding incremental
consumers that resume from a persisted position (reference README.md:9-13,
the resume loop in PartialSnapshotter.java)."""

import os
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
import pytest

from debezium_partial_snapshotter_spark.operators.upsert import (
    apply_batch,
    empty_table_for,
)
from debezium_partial_snapshotter_spark.plans.changefeed import (
    ChangefeedReader,
    ConcurrentConsumerError,
    IneligibleRangeError,
    apply_feed,
)
from debezium_partial_snapshotter_spark.plans.lake import (
    LakeTable,
    VersionExpiredError,
)
from debezium_partial_snapshotter_spark.schemas import TOKENS_SCHEMA
from debezium_partial_snapshotter_spark.sources.eventlog import (
    EventLogSpec,
    generate_change_log,
    generate_initial_state,
    snapshot_read_events,
)
from tests.test_replay import load_events

NB = 4


def _local_path(uri: str) -> str:
    p = urlparse(uri)
    return unquote(p.path) if p.scheme else uri


def _build(spark, tmp_warehouse, write_mode="mor", n_events=700, seed=47):
    """snapshot + 4 WAL segments applied one commit each; returns
    (table, [versions after each apply])."""
    spec = EventLogSpec(
        n_docs=80, n_events=n_events, n_segments=4, seed=seed,
        num_buckets=NB, delete_frac=0.2,
    )
    state = generate_initial_state(spec)
    snap = snapshot_read_events(state, spec.start_lsn, spec)
    wal = generate_change_log(spec)
    table = empty_table_for(
        os.path.join(tmp_warehouse, "tokens"), TOKENS_SCHEMA, num_buckets=NB
    )
    versions = []
    for i, seg in enumerate([snap] + wal):
        d = os.path.join(tmp_warehouse, f"e{i}")
        os.makedirs(d)
        pq.write_table(seg, os.path.join(d, "s.parquet"))
        apply_batch(
            table, load_events(spark, d), commit_key=f"p:{i}",
            write_mode=write_mode,
        )
        versions.append(table.current_version())
    return table, versions


def _image(spark, table, version=None):
    return {
        r["doc_id"]: (r["_lsn"], r["_op_rank"], r["n_tok"])
        for r in table.read(spark, version=version).collect()
    }


def test_cursor_persists_and_poll_commit_advances(spark, tmp_warehouse):
    table, vs = _build(spark, tmp_warehouse)
    cdir = os.path.join(tmp_warehouse, "cursor")
    r = ChangefeedReader(table, cdir)
    assert r.cursor() is None
    with pytest.raises(RuntimeError, match="cursor"):
        r.poll(spark)
    r.start(from_version=vs[1])
    assert r.cursor() == vs[1]
    # start() is idempotent — a second start does not move the cursor
    assert r.start(from_version=vs[3]) == vs[1]

    b = r.poll(spark, mode="net")
    assert (b.from_version, b.to_version) == (vs[1], vs[-1])
    # poll does NOT advance: a crash before commit re-polls the same range
    b2 = r.poll(spark, mode="net")
    assert (b2.from_version, b2.to_version) == (vs[1], vs[-1])
    r.commit(b)
    # a NEW reader instance on the same dir resumes from the committed spot
    assert ChangefeedReader(table, cdir).cursor() == vs[-1]
    empty = r.poll(spark)
    assert empty.df.count() == 0 and empty.epochs == 0
    assert "_change_type" in empty.df.columns
    r.commit(empty)  # committing an empty range is a no-op advance
    assert r.cursor() == vs[-1]


def test_net_mode_poll_equals_read_changes(spark, tmp_warehouse):
    table, vs = _build(spark, tmp_warehouse)
    r = ChangefeedReader(table, os.path.join(tmp_warehouse, "c"))
    r.start(from_version=vs[2])
    got = r.poll(spark, mode="net").df
    want = table.read_changes(spark, vs[2], vs[-1])
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_delta_fast_path_reads_only_new_delta_files(
    spark, tmp_warehouse, monkeypatch
):
    """The headline 100-TB property: a pure-delta range is served
    STRAIGHT from the new delta files — LakeTable.read (the resolve)
    is never called and the scan inputs are a subset of the files the
    polled commits appended. O(rows changed), no base IO."""
    table, vs = _build(spark, tmp_warehouse, write_mode="mor")
    r = ChangefeedReader(table, os.path.join(tmp_warehouse, "c"))
    r.start(from_version=vs[1])

    old_man = table.manifest(vs[1])
    new_man = table.manifest(vs[-1])
    new_files = set()
    for b, files in new_man.get("deltas", {}).items():
        old = old_man.get("deltas", {}).get(b, [])
        new_files.update(
            os.path.realpath(os.path.join(table.path, f))
            for f in files[len(old):]
        )
    assert new_files  # the fixture genuinely appended deltas

    def _no_resolve(*a, **k):
        raise AssertionError("fast path must not resolve a version")

    monkeypatch.setattr(LakeTable, "read", _no_resolve)
    monkeypatch.setattr(LakeTable, "read_changes", _no_resolve)
    b = r.poll(spark, mode="delta")
    assert b.fast_path and b.epochs == len(vs) - 2
    rows = b.df.collect()  # executes with read()/read_changes() poisoned
    assert rows
    scanned = {
        os.path.realpath(_local_path(f)) for f in b.df.inputFiles()
    }
    assert scanned and scanned <= new_files


def test_delta_feed_content_matches_version_images(spark, tmp_warehouse):
    """Delta winners = per-key max over the range: upserts equal the
    to-version image for every surviving changed key; every net-deleted
    key surfaces a tombstone (at-least-delete allows extras for keys
    born AND deleted inside the range)."""
    table, vs = _build(spark, tmp_warehouse, write_mode="mor")
    r = ChangefeedReader(table, os.path.join(tmp_warehouse, "c"))
    r.start(from_version=vs[1])
    b = r.poll(spark, mode="delta")
    assert b.fast_path
    ups = {
        row["doc_id"]: (row["_lsn"], row["_op_rank"], row["n_tok"])
        for row in b.df.collect()
        if row["_change_type"] == "upsert"
    }
    dels = {
        row["doc_id"]
        for row in b.df.collect()
        if row["_change_type"] == "delete"
    }
    old_img, new_img = _image(spark, table, vs[1]), _image(spark, table)
    changed = {
        k: v
        for k, v in new_img.items()
        if k not in old_img or old_img[k] != v
    }
    assert ups == changed
    assert set(old_img) - set(new_img) <= dels
    assert dels.isdisjoint(ups)


def test_concurrent_consumers_detected(spark, tmp_warehouse):
    table, vs = _build(spark, tmp_warehouse)
    cdir = os.path.join(tmp_warehouse, "c")
    r1 = ChangefeedReader(table, cdir)
    r2 = ChangefeedReader(table, cdir)
    r1.start(from_version=vs[0])
    r2.start(from_version=vs[0])
    b1 = r1.poll(spark, mode="net")
    b2 = r2.poll(spark, mode="net")
    r1.commit(b1)
    with pytest.raises(ConcurrentConsumerError):
        r2.commit(b2)
    # the loser re-polls from the ADVANCED cursor and proceeds cleanly
    b3 = r2.poll(spark)
    assert b3.from_version == vs[-1]


def test_compaction_in_range_stays_on_fast_path(spark, tmp_warehouse):
    """Round 6: compaction is CONTENT-NEUTRAL (folds winners into the
    base), so a poll spanning one keeps the delta fast path — the
    runner compacts on the ingest cadence, so bailing would cost most
    production polls the O(batch) read. The feed content must be
    unchanged by the compaction."""
    table, vs = _build(spark, tmp_warehouse, write_mode="mor")
    r = ChangefeedReader(table, os.path.join(tmp_warehouse, "c"))
    r.start(from_version=vs[1])
    def rows(df):
        return {
            (r2["doc_id"], r2["_lsn"], r2["_op_rank"],
             r2["_change_type"], r2["n_tok"],
             tuple(r2["tokens"] or ()))
            for r2 in df.collect()
        }

    want = rows(r.poll(spark, mode="delta").df)
    assert table.compact(spark)["applied"] is True
    b = r.poll(spark, mode="delta", on_ineligible="error")  # must not raise
    assert b.fast_path
    assert rows(b.df) == want


def test_legacy_compaction_without_marker_falls_back(
    spark, tmp_warehouse
):
    """A pre-round-6 compaction manifest carries no "op" marker: the
    eligibility walk must treat it as an opaque rewrite and fall back,
    conservatively."""
    import json as _json

    table, vs = _build(spark, tmp_warehouse, write_mode="mor")
    r = ChangefeedReader(table, os.path.join(tmp_warehouse, "c"))
    r.start(from_version=vs[1])
    table.compact(spark)
    head = table.current_version()
    p = os.path.join(table.manifest_dir, f"v{head:08d}.json")
    with open(p) as fh:
        man = _json.load(fh)
    assert man.pop("op") == "compact"
    with open(p, "w") as fh:
        _json.dump(man, fh)
    with pytest.raises(IneligibleRangeError):
        r.poll(spark, mode="delta", on_ineligible="error")
    assert not r.poll(spark, mode="delta").fast_path


def test_cow_commit_in_range_falls_back_to_net(spark, tmp_warehouse):
    """A copy-on-write apply in the range is a real rewrite (not
    content-neutral): fall back to the net-derived shape — deletes
    carry tombstone shape (NULL payload)."""
    table, vs = _build(spark, tmp_warehouse, write_mode="mor")
    r = ChangefeedReader(table, os.path.join(tmp_warehouse, "c"))
    r.start(from_version=vs[1])
    # one more WAL-style batch applied CoW: rewrites buckets in place
    d = os.path.join(tmp_warehouse, "cow-extra")
    os.makedirs(d)
    spec2 = EventLogSpec(
        n_docs=80, n_events=120, n_segments=1, seed=99, num_buckets=NB,
        delete_frac=0.3, start_lsn=5_000_000,
    )
    seg = generate_change_log(spec2)[0]
    pq.write_table(seg, os.path.join(d, "s.parquet"))
    apply_batch(table, load_events(spark, d), commit_key="cow:1",
                write_mode="cow")
    with pytest.raises(IneligibleRangeError, match="contains a non-delta commit"):
        r.poll(spark, mode="delta", on_ineligible="error")
    b = r.poll(spark, mode="delta")  # default fallback: derive from net
    assert not b.fast_path
    kinds = {row["_change_type"] for row in b.df.collect()}
    assert kinds <= {"upsert", "delete"}
    # fallback deletes carry tombstone shape: NULL payload
    for row in b.df.collect():
        if row["_change_type"] == "delete":
            assert row["n_tok"] is None


def test_apply_feed_reproduces_upstream_exactly(spark, tmp_warehouse):
    """The end-to-end consumer story: poll -> apply_feed -> commit,
    epoch by epoch, reproduces the upstream table state exactly —
    including across a mid-stream compaction (net fallback) whose
    deletes must still BEAT the pre-image rows the downstream already
    applied (the re-ordinal fix), and under redelivery (commit_key)."""
    table, vs = _build(spark, tmp_warehouse, write_mode="mor")
    down = empty_table_for(
        os.path.join(tmp_warehouse, "down"), TOKENS_SCHEMA, num_buckets=3
    )
    r = ChangefeedReader(table, os.path.join(tmp_warehouse, "c"))
    r.start(from_version=1)

    # step 1: everything up to vs[2] via the fast path
    b1 = r.poll(spark, mode="delta", to_version=vs[2])
    assert b1.fast_path
    assert apply_feed(down, b1.df, commit_key="feed:1") is True
    # redelivery of the same batch is a no-op
    assert apply_feed(down, b1.df, commit_key="feed:1") is False
    r.commit(b1)

    # a compaction lands upstream: content-neutral, fast path holds
    table.compact(spark)
    b2 = r.poll(spark, mode="delta")
    assert b2.fast_path
    assert apply_feed(down, b2.df, commit_key="feed:2") is True
    r.commit(b2)

    # a CoW batch (rewrite, NOT content-neutral) forces the net
    # fallback — whose re-ordinaled deletes must still BEAT the
    # pre-image rows the downstream already applied
    d = os.path.join(tmp_warehouse, "cow-extra")
    os.makedirs(d)
    spec2 = EventLogSpec(
        n_docs=80, n_events=150, n_segments=1, seed=91, num_buckets=NB,
        delete_frac=0.3, start_lsn=5_000_000,
    )
    pq.write_table(
        generate_change_log(spec2)[0], os.path.join(d, "s.parquet")
    )
    apply_batch(table, load_events(spark, d), commit_key="cow:1",
                write_mode="cow")
    b3 = r.poll(spark, mode="delta")
    assert not b3.fast_path
    assert apply_feed(down, b3.df, commit_key="feed:3") is True
    r.commit(b3)

    up_img = _image(spark, table)
    down_img = {
        k: v[2] for k, v in _image(spark, down).items()
    }
    # payload equality per key; the fallback's re-ordinaled delete rows
    # mean downstream (_lsn, _op_rank) need not match upstream, but the
    # SET of live keys and their payloads must
    assert {k: v[2] for k, v in up_img.items()} == down_img


def test_bootstrap_after_horizon_expiration(spark, tmp_warehouse):
    table, vs = _build(spark, tmp_warehouse)
    r = ChangefeedReader(table, os.path.join(tmp_warehouse, "c"))
    r.start(from_version=vs[0])
    table.expire_versions(keep_last=1, min_age_sec=0, orphan_grace_sec=0)
    with pytest.raises(VersionExpiredError):
        r.poll(spark, mode="net").df.collect()
    boot = r.bootstrap(spark)
    assert {row["_change_type"] for row in boot.df.collect()} == {"upsert"}
    assert boot.df.count() == len(_image(spark, table))
    r.commit_bootstrap(boot)
    assert r.cursor() == table.current_version()
    nxt = r.poll(spark)
    assert nxt.df.count() == 0


def _upstream_image(spark, table):
    return {
        r["doc_id"]: tuple(r[f] for f in table.schema().fieldNames())
        for r in table.read(spark).collect()
    }


def _down_image(spark, table):
    return {
        r["doc_id"]: tuple(r[f] for f in table.schema().fieldNames())
        for r in table.read(spark).collect()
    }


def test_mirror_tracks_upstream_and_survives_crash(spark, tmp_warehouse):
    """ChangefeedMirror end-to-end, including the crash window the
    intent record exists for: a sync that applied but never advanced
    the cursor, with the UPSTREAM ADVANCING before the retry. The
    retry must replay EXACTLY the intent's range (commit-key no-op),
    then a further sync picks up the new commits — no duplicate rows,
    downstream byte-equal to upstream."""
    from debezium_partial_snapshotter_spark.plans.changefeed import (
        ChangefeedMirror,
        apply_feed,
    )

    spec = EventLogSpec(
        n_docs=80, n_events=900, n_segments=6, seed=13, num_buckets=NB,
        delete_frac=0.2,
    )
    state = generate_initial_state(spec)
    snap = snapshot_read_events(state, spec.start_lsn, spec)
    wal = generate_change_log(spec)
    segs = [snap] + wal
    table = empty_table_for(
        os.path.join(tmp_warehouse, "up"), TOKENS_SCHEMA, num_buckets=NB
    )
    dirs = []
    for i, seg in enumerate(segs):
        d = os.path.join(tmp_warehouse, f"e{i}")
        os.makedirs(d)
        pq.write_table(seg, os.path.join(d, "s.parquet"))
        dirs.append(d)

    def apply_seg(i):
        apply_batch(
            table, load_events(spark, dirs[i]), commit_key=f"p:{i}",
            write_mode="mor",
        )

    for i in (0, 1, 2):
        apply_seg(i)
    down = empty_table_for(
        os.path.join(tmp_warehouse, "down"), TOKENS_SCHEMA, num_buckets=3
    )
    sdir = os.path.join(tmp_warehouse, "mirror")
    m = ChangefeedMirror(table, down, sdir)
    s = m.sync(spark)
    assert s["applied"] is True and not s["bootstrapped"]
    assert _down_image(spark, down) == _upstream_image(spark, table)
    # idle sync is a clean no-op
    assert m.sync(spark)["applied"] is False

    # upstream advances; a sync CRASHES after apply, before cursor-commit
    apply_seg(3)
    cur = m.reader.cursor()
    to_v = table.current_version()
    assert m._cas_intent(cur, to_v)
    crashed = m.reader.poll(spark, mode="delta", to_version=to_v)
    assert apply_feed(down, crashed.df, commit_key=f"cf:{cur}:{to_v}") is True
    # ... and the upstream advances AGAIN before the retry
    apply_seg(4)

    m2 = ChangefeedMirror(table, down, sdir)  # restart
    s1 = m2.sync(spark)
    # the retry replayed EXACTLY the intent range; the apply was a
    # commit-key duplicate, not a second append
    assert (s1["from_version"], s1["to_version"]) == (cur, to_v)
    assert s1["applied"] is False
    s2 = m2.sync(spark)
    assert s2["applied"] is True and s2["to_version"] == table.current_version()
    apply_seg(5)
    m2.sync(spark)

    up_img, down_img = _upstream_image(spark, table), _down_image(spark, down)
    assert down_img == up_img
    rows = down.read(spark).collect()
    assert len(rows) == len({r["doc_id"] for r in rows})  # no dup rows

    # pruning direction (third review pass): an intent BELOW the cursor
    # is provably finished and removed; one ABOVE belongs to a NEWER
    # concurrent sync and must survive
    cur2 = m2.reader.cursor()
    assert m2._cas_intent(cur2 - 1, cur2)
    assert m2._cas_intent(cur2 + 7, cur2 + 9)
    m2._prune_stale_intents(cur2)
    assert m2._read_intent(cur2 - 1) is None
    assert m2._read_intent(cur2 + 7) == {"from": cur2 + 7, "to": cur2 + 9}
    m2._clear_intent(cur2 + 7)


def test_mirror_refuses_net_mode(tmp_warehouse):
    """mode='net' feed rows are not MERGE-apply-safe (pre-image delete
    ordinals tie at the downstream resolve); the mirror must refuse up
    front rather than silently lose deletes (round-6 review)."""
    import pytest as _pytest

    from debezium_partial_snapshotter_spark.plans.changefeed import (
        ChangefeedMirror,
    )

    with _pytest.raises(ValueError, match="delta"):
        ChangefeedMirror(None, None, os.path.join(tmp_warehouse, "m"),
                         mode="net")


def test_commit_refuses_cursor_rewind(spark, tmp_warehouse):
    """A hand-built batch whose to_version precedes from_version must
    be rejected (a rewound cursor re-delivers committed ranges), and a
    poll with a stale explicit to_version yields an empty batch pinned
    AT the cursor instead of one that would rewind it."""
    from debezium_partial_snapshotter_spark.plans.changefeed import (
        ChangefeedBatch,
    )

    table, vs = _build(spark, tmp_warehouse)
    r = ChangefeedReader(table, os.path.join(tmp_warehouse, "c"))
    r.start(from_version=vs[3])
    stale = r.poll(spark, mode="net", to_version=vs[1])
    assert stale.df.count() == 0
    assert (stale.from_version, stale.to_version) == (vs[3], vs[3])
    r.commit(stale)
    assert r.cursor() == vs[3]  # pinned, not rewound
    with pytest.raises(ValueError, match="rewind"):
        r.commit(ChangefeedBatch(stale.df, vs[3], vs[1], "net", False, 0))


def test_mirror_propagates_schema_evolution(spark, tmp_warehouse):
    """An upstream add-column + type-widen commit must evolve the
    DOWNSTREAM schema through the feed; pre-evolution mirror rows read
    back with NULL in the new column (the engine's standard up-cast)."""
    from pyspark.sql import functions as F  # noqa: F401

    from debezium_partial_snapshotter_spark.plans.changefeed import (
        ChangefeedMirror,
    )
    from debezium_partial_snapshotter_spark.schemas import (
        CHANGE_EVENT_SCHEMA_V2,
    )

    table, vs = _build(spark, tmp_warehouse, write_mode="mor")
    down = empty_table_for(
        os.path.join(tmp_warehouse, "down"), TOKENS_SCHEMA, num_buckets=2
    )
    m = ChangefeedMirror(table, down, os.path.join(tmp_warehouse, "mir"))
    m.sync(spark)

    v2_rows = [
        ("u", "evolved-1", 10_000_000, "false", "tokens:0",
         ("evolved-1", [1, 2], 2, "web", "en")),
        ("u", "evolved-2", 10_000_001, "false", "tokens:0",
         ("evolved-2", [3], 1, "web", "fr")),
    ]
    v2 = spark.createDataFrame(v2_rows, CHANGE_EVENT_SCHEMA_V2)
    st = apply_batch(table, v2, commit_key="v2:1", write_mode="mor")
    assert st["schema_evolved"]

    s = m.sync(spark)
    assert s["applied"] is True
    down_sch = down.schema()
    assert "lang" in down_sch.fieldNames()
    assert down_sch["n_tok"].dataType.typeName() == "long"  # widened
    got = {
        r["doc_id"]: (r["lang"], r["n_tok"])
        for r in down.read(spark).collect()
    }
    assert got["evolved-1"] == ("en", 2)
    assert got["evolved-2"] == ("fr", 1)
    # a pre-evolution key reads back with NULL lang downstream
    old_key = next(k for k in got if not k.startswith("evolved"))
    assert got[old_key][0] is None
    assert _down_image(spark, down) == _upstream_image(spark, table)


def test_mirror_bootstraps_after_expiration(spark, tmp_warehouse):
    """A mirror offline past the upstream's retention horizon cannot
    catch up incrementally; sync() must fall back to a full-image
    overwrite — which also REMOVES downstream keys the upstream
    deleted while the mirror was down (upserts alone could not)."""
    from debezium_partial_snapshotter_spark.plans.changefeed import (
        ChangefeedMirror,
    )

    spec = EventLogSpec(
        n_docs=60, n_events=700, n_segments=5, seed=29, num_buckets=NB,
        delete_frac=0.35,
    )
    state = generate_initial_state(spec)
    snap = snapshot_read_events(state, spec.start_lsn, spec)
    wal = generate_change_log(spec)
    table = empty_table_for(
        os.path.join(tmp_warehouse, "up"), TOKENS_SCHEMA, num_buckets=NB
    )
    segs = [snap] + wal
    dirs = []
    for i, seg in enumerate(segs):
        d = os.path.join(tmp_warehouse, f"e{i}")
        os.makedirs(d)
        pq.write_table(seg, os.path.join(d, "s.parquet"))
        dirs.append(d)
    for i in (0, 1):
        apply_batch(table, load_events(spark, dirs[i]), commit_key=f"p:{i}")
    down = empty_table_for(
        os.path.join(tmp_warehouse, "down"), TOKENS_SCHEMA, num_buckets=2
    )
    m = ChangefeedMirror(table, down, os.path.join(tmp_warehouse, "mir"))
    m.sync(spark)
    before = set(_down_image(spark, down))

    # mirror goes dark; upstream keeps moving (with deletes) and expires
    for i in (2, 3, 4):
        apply_batch(table, load_events(spark, dirs[i]), commit_key=f"p:{i}")
    table.expire_versions(keep_last=1, min_age_sec=0, orphan_grace_sec=0)

    s = m.sync(spark)
    assert s["bootstrapped"] is True
    up_img = _upstream_image(spark, table)
    assert _down_image(spark, down) == up_img
    # the fixture genuinely exercised the delete-removal property
    assert before - set(up_img)
    # and the mirror keeps tailing normally afterwards
    assert m.sync(spark)["applied"] is False


def test_mirror_maintains_downstream_storage(spark, tmp_warehouse):
    """Replica storage health rides the sync cadence: MoR deltas the
    MERGE applies append are compacted past the threshold, superseded
    versions are expired on the configured cadence (bytes genuinely
    reclaimed), and neither touches correctness — the mirror stays
    byte-equal to the upstream and a replayed feed batch is still
    suppressed by its commit key after expiration."""
    from debezium_partial_snapshotter_spark.plans.changefeed import (
        ChangefeedMirror,
        apply_feed,
    )

    spec = EventLogSpec(
        n_docs=60, n_events=900, n_segments=6, seed=37, num_buckets=NB,
        delete_frac=0.2,
    )
    state = generate_initial_state(spec)
    snap = snapshot_read_events(state, spec.start_lsn, spec)
    wal = generate_change_log(spec)
    table = empty_table_for(
        os.path.join(tmp_warehouse, "up"), TOKENS_SCHEMA, num_buckets=NB
    )
    down = empty_table_for(
        os.path.join(tmp_warehouse, "down"), TOKENS_SCHEMA, num_buckets=2
    )
    m = ChangefeedMirror(
        table, down, os.path.join(tmp_warehouse, "mir"),
        compact_threshold=2, expire_keep_last=1, expire_min_age_sec=0,
        expire_every_syncs=2,
    )

    def du(p):
        tot = 0
        for root, _, files in os.walk(p):
            tot += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return tot

    compactions = expirations = 0
    last_batch = None
    for i, seg in enumerate([snap] + wal):
        d = os.path.join(tmp_warehouse, f"e{i}")
        os.makedirs(d)
        pq.write_table(seg, os.path.join(d, "s.parquet"))
        apply_batch(
            table, load_events(spark, d), commit_key=f"p:{i}",
            write_mode="mor",
        )
        before = du(down.path)
        last_batch = m.reader.cursor(), table.current_version()
        s = m.sync(spark)
        assert s["applied"] is True
        if "compaction" in s:
            compactions += 1
            assert s["compaction"]["applied"] is True
        if "expiration" in s:
            expirations += 1
            assert s["expiration"]["applied"] is True
            if s["expiration"]["files_deleted"]:
                assert du(down.path) < before
    assert compactions >= 1 and expirations >= 1
    # replica still byte-equal to the upstream after maintenance
    assert _down_image(spark, down) == _upstream_image(spark, table)
    # exactly-once survives expiration: replaying the LAST feed batch
    # under its original commit key is still a no-op
    frm, to = last_batch
    replay = ChangefeedReader(
        table, os.path.join(tmp_warehouse, "replay_cursor")
    )
    replay.start(from_version=frm)
    rb = replay.poll(spark, mode="delta", to_version=to)
    assert apply_feed(down, rb.df, commit_key=f"cf:{frm}:{to}") is False


def test_cursor_seq_chain_is_garbage_collected(spark, tmp_warehouse):
    """VERDICT r6 item 2: the cursor directory must stay bounded —
    one JSON per commit forever is the unbounded-metadata class the
    manifest expire work already solved for the table itself."""
    table, vs = _build(spark, tmp_warehouse)
    cdir = os.path.join(tmp_warehouse, "cursor_gc")
    r = ChangefeedReader(table, cdir)
    r.start(from_version=vs[0])
    for _ in range(50):  # empty-range commits advance the seq chain
        r.commit(r.poll(spark, to_version=vs[0] + 0))
    files = [f for f in os.listdir(cdir) if f.endswith(".json")]
    assert len(files) <= ChangefeedReader.KEEP_SEQS
    # the retained window still serves reads and concurrent detection
    assert r.cursor() == vs[0]
    b = r.poll(spark)
    r2 = ChangefeedReader(table, cdir)
    r2.commit(r2.poll(spark))
    with pytest.raises(ConcurrentConsumerError):
        r.commit(b)


def test_far_behind_cursor_skips_manifest_walk(spark, tmp_warehouse):
    """VERDICT r6 item 4: a cursor more than max_delta_epochs behind
    must not pay one driver-side manifest read per epoch before the
    fallback."""
    table, vs = _build(spark, tmp_warehouse)
    cdir = os.path.join(tmp_warehouse, "cursor_cap")
    r = ChangefeedReader(table, cdir, max_delta_epochs=2)
    r.start(from_version=vs[0])

    def no_walk(*a, **k):
        raise AssertionError("eligibility probe walked the chain")

    r._chain = no_walk  # the cap must skip the probe outright
    # the error names the cap and the epoch count, not a non-delta commit
    n = vs[-1] - vs[0]
    with pytest.raises(
        IneligibleRangeError,
        match=rf"spans {n} epochs, more than max_delta_epochs=2$",
    ):
        r.poll(spark, mode="delta", on_ineligible="error")
    b = r.poll(spark, mode="delta")  # range spans 4 > 2 epochs
    assert b.fast_path is False
    assert b.epochs == vs[-1] - vs[0]
    # the capped poll is still correct: same rows as the net feed
    rows = {
        x["doc_id"]
        for x in b.df.where("_change_type = 'upsert'").collect()
    }
    net = {
        x["doc_id"]
        for x in table.read_changes(spark, vs[0], vs[-1])
        .where("_change_type <> 'delete'")
        .collect()
    }
    assert rows == net


def test_commit_bootstrap_refuses_rewind(spark, tmp_warehouse):
    """ADVICE r6: a concurrent instance that advanced the cursor past
    the bootstrap's to_version must not be rewound."""
    table, vs = _build(spark, tmp_warehouse)
    cdir = os.path.join(tmp_warehouse, "cursor_bt")
    r = ChangefeedReader(table, cdir)
    r.start(from_version=vs[1])
    boot = r.bootstrap(spark)
    # a concurrent consumer advances the cursor past the boot target
    r._write_seq(r._seqs()[-1] + 1, boot.to_version + 5)
    with pytest.raises(ConcurrentConsumerError, match="advanced"):
        r.commit_bootstrap(boot)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_winner_merges_are_sort_free(spark, tmp_warehouse):
    """The apply merge, the MoR read, the changefeed delta poll and
    apply_feed all resolve winners with the same kernel: a primitive
    HashAggregate max plus a ShuffledHashJoin back to the wide rows —
    never a SortAggregate or a SortMergeJoin."""
    table, vs = _build(spark, tmp_warehouse, write_mode="mor")
    plans = {"mor_read": _plan(table.read(spark))}
    r = ChangefeedReader(table, os.path.join(tmp_warehouse, "c"))
    r.start(from_version=vs[1])
    feed = r.poll(spark, mode="delta")
    assert feed.fast_path
    plans["delta_poll"] = _plan(feed.df)

    def capture(target, method, name):
        orig = getattr(target, method)

        def hook(df, **kw):
            plans[name] = _plan(df)
            return orig(df, **kw)

        setattr(target, method, hook)

    cow = empty_table_for(
        os.path.join(tmp_warehouse, "cow"), TOKENS_SCHEMA, num_buckets=NB
    )
    capture(cow, "replace_buckets", "apply_merge")
    for i in (0, 1):  # the second apply merges against stored rows
        events = load_events(spark, os.path.join(tmp_warehouse, f"e{i}"))
        assert apply_batch(cow, events, commit_key=f"c:{i}")["applied"]
    down = empty_table_for(
        os.path.join(tmp_warehouse, "down"), TOKENS_SCHEMA, num_buckets=NB
    )
    capture(down, "append_deltas", "apply_feed")
    assert apply_feed(down, feed.df, commit_key="d:0")

    assert set(plans) == {"mor_read", "delta_poll", "apply_merge", "apply_feed"}
    for name, plan in plans.items():
        assert "HashAggregate" in plan, (name, plan)
        assert "SortAggregate" not in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)
