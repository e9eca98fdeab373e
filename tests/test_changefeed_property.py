"""Randomized-schedule property for the changefeed consumer loop
(round 6): for ANY seeded interleaving of {MoR apply, CoW apply,
upstream compaction, mirror sync, mirror crash mid-sync (apply lands,
no cursor commit), mirror restart, upstream expiration} that ends with
a drain, the downstream replica is BYTE-EQUAL to the upstream image
with exactly one row per key — across fast-path polls, net fallbacks
(CoW in range), compaction-skips, syncs resuming from a crashed
apply's landed commit key, and full bootstraps when expiration
outruns the cursor.

Each op class maps to a branch of the protocol the ledger claims:
apply/compact exercise eligibility, apply_cow the re-ordinaled net
fallback, crash the landed-key resume, expire the bootstrap, restart
the cursor persistence. The invariant is the mirror contract
itself; the upstream image is trusted because the replay suite pins it
against oracle_apply independently."""

import os
import random

import pyarrow.parquet as pq

from debezium_partial_snapshotter_spark.operators.upsert import (
    apply_batch,
    empty_table_for,
)
from debezium_partial_snapshotter_spark.plans import changefeed, lake
from debezium_partial_snapshotter_spark.plans.changefeed import (
    ChangefeedMirror,
    apply_feed,
)
from debezium_partial_snapshotter_spark.schemas import TOKENS_SCHEMA
from debezium_partial_snapshotter_spark.sources.eventlog import (
    EventLogSpec,
    generate_change_log,
    generate_initial_state,
    snapshot_read_events,
)
from tests.test_replay import load_events

NB = 2
N_SCHEDULES = 8
OPS_PER_SCHEDULE = 9


class _Crash(Exception):
    """The consumer process dies at this point."""


def _image(spark, table):
    return {
        r["doc_id"]: (r["_lsn"], r["_op_rank"], r["n_tok"])
        for r in table.read(spark).collect()
    }


def test_random_consumer_schedules_converge(spark, tmp_warehouse, monkeypatch):
    # a replica bucket is due at its second delta, so syncs compact the
    # mirror inside every schedule
    monkeypatch.setattr(lake, "COMPACT_MAX_DELTAS", 2)
    for schedule in range(N_SCHEDULES):
        rng = random.Random(1000 + schedule)
        root = os.path.join(tmp_warehouse, f"s{schedule}")
        spec = EventLogSpec(
            n_docs=30, n_events=240, n_segments=6, seed=100 + schedule,
            num_buckets=NB, delete_frac=0.25,
        )
        state = generate_initial_state(spec)
        segs = [snapshot_read_events(state, spec.start_lsn, spec)]
        segs += generate_change_log(spec)
        seg_dirs = []
        for i, seg in enumerate(segs):
            d = os.path.join(root, f"e{i}")
            os.makedirs(d)
            pq.write_table(seg, os.path.join(d, "s.parquet"))
            seg_dirs.append(d)
        up = empty_table_for(os.path.join(root, "up"), TOKENS_SCHEMA, NB)
        down = empty_table_for(os.path.join(root, "down"), TOKENS_SCHEMA, NB)
        sdir = os.path.join(root, "mir")
        mirror = ChangefeedMirror(up, down, sdir)
        next_seg = 0
        log = []

        def apply_next(mode):
            nonlocal next_seg
            if next_seg >= len(seg_dirs):
                return
            apply_batch(
                up, load_events(spark, seg_dirs[next_seg]),
                commit_key=f"p:{next_seg}", write_mode=mode,
            )
            next_seg += 1

        def crash_sync():
            """A real sync() that 'crashes' right after its apply lands,
            before the cursor commit (or before a bootstrap writes)."""
            if mirror.reader.cursor() is None:
                return

            def apply_then_crash(*args, **kw):
                apply_feed(*args, **kw)
                raise _Crash

            def crash(*_):
                raise _Crash

            with monkeypatch.context() as mp:
                mp.setattr(changefeed, "apply_feed", apply_then_crash)
                mp.setattr(mirror, "_bootstrap", crash)
                try:
                    mirror.sync(spark)
                except _Crash:
                    pass

        ops = {
            "apply": lambda: apply_next("mor"),
            "apply_cow": lambda: apply_next("cow"),
            "compact": lambda: up.compact(spark),
            "sync": lambda: mirror.sync(spark),
            "crash_sync": crash_sync,
            "expire": lambda: up.expire_versions(
                keep_last=1, min_age_sec=0, orphan_grace_sec=0
            ),
            "restart": None,  # handled inline (rebinds `mirror`)
        }
        names = list(ops)
        weights = [4, 2, 2, 4, 2, 1, 2]
        for _ in range(OPS_PER_SCHEDULE):
            op = rng.choices(names, weights)[0]
            log.append(op)
            if op == "restart":
                mirror = ChangefeedMirror(up, down, sdir)
            else:
                ops[op]()

        # drain: apply whatever WAL remains, then sync to quiescence
        while next_seg < len(seg_dirs):
            apply_next("mor")
        # quiescence = an EMPTY sync at the upstream head. `applied is
        # False` alone is NOT quiescence: a range of content-neutral
        # commits (upstream compactions) applies nothing yet still
        # moves the cursor, so a sync can report False while it
        # advances.
        for _ in range(6):
            s = mirror.sync(spark)
            if (
                not s["bootstrapped"]
                and s["from_version"] == s["to_version"] == up.current_version()
            ):
                break
        else:
            raise AssertionError(f"schedule {schedule} never drained: {log}")

        up_img, down_img = _image(spark, up), _image(spark, down)
        assert down_img == up_img, (
            f"schedule {schedule} diverged after {log}: "
            f"only-up={set(up_img) - set(down_img)} "
            f"only-down={set(down_img) - set(up_img)} "
            f"diff={[k for k in up_img if down_img.get(k) != up_img[k]][:5]}"
        )
        rows = down.read(spark).collect()
        assert len(rows) == len(down_img), (
            f"schedule {schedule} produced duplicate rows after {log}"
        )
