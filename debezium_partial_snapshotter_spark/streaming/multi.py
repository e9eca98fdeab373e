"""MultiTableIngestRunner — the engine's lifecycle orchestrator, for
one or several source tables in ONE pipeline.

Spark re-expression of the reference connector's phase machine
(SURVEY.md §3.1/§3.3):

1. **bootstrap** — open/create tracker (A3); decide record-only mode
   (A9: ``skip_existing_connector`` and tracker-fresh-or-unseen,
   ``PostgresJdbcFilterHandler.java:64-68``).
2. **catch-up** — replay WAL written while the pipeline was down,
   BEFORE any new partial snapshot (B3; pinned by
   ``PartialSnapshotterTest.java:183-237``).
3. **snapshot epoch** — claim needs-snapshot partitions of ALL tables
   in one atomic tracker transition (A1/A4-A6), bounded scan of ONLY
   those buckets tagged 'r' at ONE shared snapshot watermark (B1),
   apply, then bulk release (A7). The reference infers snapshot-end by
   counting shouldStream() calls (A11 — a self-described HACK); here
   the phase machine is explicit.
4. **tail** — bounded micro-batches, or Structured Streaming with
   ``foreachBatch`` apply (B2) over one shared feed (``stream`` routes
   by the ``table_partition`` prefix). Exactly-once = checkpoint
   (deterministic batch replay) + idempotent commit keys in each
   table's manifest (B6) + a per-table LSN high-watermark filter, so
   re-reads after checkpoint loss cannot resurrect deleted keys or
   double-apply.

Several tables (reference: ``PartialSnapshotterTest.java:44-46`` uses
two; ``testFilterOneTablePartialSnapshot`` :82-102 snapshots one while
skipping the other) share one epoch counter and stamp per-table keys
``{pipeline}:{phase}:{epoch}:{table}``: a crash after committing table
A but before table B resumes the SAME epoch and skips A idempotently
while B applies. Per-table lakes stay independently committable and
readable. Every apply, on every path, goes through ``_apply``: the
upsert, then MoR compaction once the table reports it due
(``delta_stats()["compaction_due"]``), then expiration every
``expire_every_applies`` applies. Epoch numbering is monotonic across
restarts; each epoch writes per-bucket lineage and metrics rows (B9).
``streaming.runner.PartialIngestRunner`` is the one-table view.
"""

from __future__ import annotations

import re
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_partial_snapshotter_spark.config import PipelineConfig
from debezium_partial_snapshotter_spark.operators.upsert import (
    apply_batch,
    empty_table_for,
)
from debezium_partial_snapshotter_spark.plans.metrics import (
    COMMIT_LOG_ARROW,
    METRICS_ARROW,
    AppendLog,
)
from debezium_partial_snapshotter_spark.plans.tracker import SnapshotTracker
from debezium_partial_snapshotter_spark.schemas import TOKENS_SCHEMA

EPOCH_PHASES = ("catchup", "snapshot", "tail")


class MultiTableIngestRunner:
    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig,
        sources: dict,  # table name -> source (snapshot/wal_batch/current_lsn)
        payload_schemas=None,  # table name -> StructType, or one for all
        tables: dict | None = None,
    ):
        """``tables`` swaps the sink per table: any object implementing
        the LakeTable contract (tests/test_sink_contract.py pins it) —
        e.g. plans.iceberg.IcebergTable on a real cluster. Default: a
        LakeTable under ``{warehouse}/{table}``."""
        self.spark = spark
        self.cfg = cfg
        self.sources = dict(sources)
        if payload_schemas is None:
            payload_schemas = {t: TOKENS_SCHEMA for t in sources}
        elif not isinstance(payload_schemas, dict):
            payload_schemas = {t: payload_schemas for t in sources}
        tracker_existed = SnapshotTracker(cfg.tracker_path).exists()
        self.tracker = SnapshotTracker.create(cfg.tracker_path)
        # A9 record-only decision (PostgresJdbcFilterHandler.java:64-68):
        # skip flag AND (tracker fresh OR this pipeline unseen)
        self.record_only = cfg.skip_existing_connector and (
            not tracker_existed
            or not self.tracker.connector_is_tracked(cfg.pipeline_id)
        )
        self.tables = dict(tables or {})
        for t in self.sources:
            if t not in self.tables:
                self.tables[t] = empty_table_for(
                    f"{cfg.warehouse}/{t}", payload_schemas[t],
                    num_buckets=cfg.num_buckets,
                )
        log = self._log_name()
        self.metrics = AppendLog(f"{cfg.warehouse}/_metrics/{log}", METRICS_ARROW)
        self.commit_log = AppendLog(
            f"{cfg.warehouse}/_commit_log/{log}", COMMIT_LOG_ARROW
        )
        self._epoch = self._resume_epoch()
        self._expire_counters: dict[str, int] = {}  # per-table cadence
        # guards the epoch counter and the logs when a stream's
        # foreachBatch thread and a caller's thread record at once
        # (driver-side scalar work only)
        self._lock = threading.Lock()

    # ----------------------------------------------- one-table overrides
    def _log_name(self) -> str:
        return "__multi__"

    def _key(self, phase: str, n, table: str) -> str:
        return f"{self.cfg.pipeline_id}:{phase}:{n}:{table}"

    def _route(self, events: DataFrame, table: str) -> DataFrame:
        """Shared-WAL routing: only this table's change events."""
        return events.where(
            F.col("table_partition").startswith(table + "/")
        )

    def _total_partition(self, table: str) -> str:
        return f"{table}/*"

    # ------------------------------------------------------------ helpers
    def _resume_epoch(self) -> int:
        """Monotonic epoch resume. The commit log alone is NOT enough:
        a crash between the manifest swap and the commit-log append
        leaves the key committed in the MANIFEST but the epoch missing
        from the log — resuming from the log would reuse the stale key,
        apply_batch would return duplicate_commit_key forever, and
        ingest would silently stall. Resume from the max of both.
        Stream keys (``pid:stream:batch_id``) are checkpoint-scoped, not
        epoch-scoped, and are skipped."""
        df = self.commit_log.read_pandas()
        mine = df[df["pipeline_id"] == self.cfg.pipeline_id]
        best = int(mine["checkpoint_epoch"].max()) if len(mine) else -1
        prefix = f"{self.cfg.pipeline_id}:"
        for t, table in self.tables.items():
            for key in table.committed_keys():
                phase, n = (key[len(prefix):].split(":") + [""])[:2]
                if phase in EPOCH_PHASES and n.isdigit() and key == self._key(phase, n, t):
                    best = max(best, int(n))
        return best + 1

    def _fresh_epoch(self, phase: str) -> int:
        """The current epoch, skipping over any epoch whose key is
        already in a manifest (belt-and-braces against the crash window
        _resume_epoch describes)."""
        committed = {t: tbl.committed_keys() for t, tbl in self.tables.items()}
        while any(self._key(phase, self._epoch, t) in c for t, c in committed.items()):
            self._epoch += 1
        return self._epoch

    def discovered_partitions(self) -> list[str]:
        """The set of (table, bucket) work units — the analog of
        Debezium's monitored-tables discovery, with B7 include/exclude
        regex filtering applied here, BEFORE any scan is planned (the
        tracker itself is never in the data plane)."""
        parts = [
            f"{t}/{b:04d}"
            for t in sorted(self.sources)
            for b in range(self.cfg.num_buckets)
        ]
        if self.cfg.partition_include:
            inc = re.compile(self.cfg.partition_include)
            parts = [p for p in parts if inc.search(p)]
        if self.cfg.partition_exclude:
            exc = re.compile(self.cfg.partition_exclude)
            parts = [p for p in parts if not exc.search(p)]
        return parts

    def _wal_events(self, table: str, events: DataFrame | None = None) -> DataFrame:
        """This table's events past its LSN watermark; ``events=None``
        polls its source. since_lsn pushes the watermark into the SOURCE
        (JDBC: rows never leave the database); the filter is a no-op
        guard for sources that ignore the parameter."""
        wm = self.tables[table].watermark_lsn()
        if events is None:
            events = self.sources[table].wal_batch(since_lsn=wm)
        return self._route(events, table).where(F.col("lsn") > F.lit(wm))

    def _snapshot_watermark(self) -> int:
        """ONE consistency point for all tables in the epoch: at least
        every source's WAL head, STRICTLY above everything already
        applied AND above every previous snapshot watermark — a
        re-snapshot re-reads the source and must beat rows stored by a
        previous snapshot at the same LSN (reference:
        testResnapshotPartial), while still losing (op-rank) to WAL
        events at lsn >= watermark that arrive later. snapshot_lsn (not
        watermark_lsn) keeps this monotonic: partial snapshots do NOT
        advance the WAL replay filter (see apply_batch watermark_kind)."""
        return max(
            [src.current_lsn() for src in self.sources.values()]
            + [t.watermark_lsn() + 1 for t in self.tables.values()]
            + [t.snapshot_lsn() + 1 for t in self.tables.values()]
        )

    def _apply(self, t: str, events: DataFrame, phase: str, key: str) -> dict:
        """Upsert one table's batch, then its storage maintenance."""
        table = self.tables[t]
        stats = apply_batch(
            table,
            events,
            commit_key=key,
            salt_buckets=self.cfg.salt_buckets,
            write_mode=self.cfg.write_mode,
            watermark_kind="snapshot" if phase == "snapshot" else "wal",
        )
        stats["commit_key"] = key
        if not stats.get("applied"):
            return stats
        if self.cfg.write_mode == "mor" and table.delta_stats()["compaction_due"]:
            stats["compaction"] = table.compact(self.spark)
        if self.cfg.expire_keep_last:
            # storage reclamation rides the ingest loop: every
            # expire_every_applies applied batches, superseded versions
            # (including the bases a compaction just folded) give their
            # files back — without it one CoW commit per epoch strands
            # ~a touched-table copy per epoch forever
            c = self._expire_counters.get(t, 0) + 1
            if c >= self.cfg.expire_every_applies:
                c = 0
                stats["expiration"] = table.expire_versions(
                    keep_last=self.cfg.expire_keep_last,
                    min_age_sec=self.cfg.expire_min_age_sec,
                )
            self._expire_counters[t] = c
        return stats

    def _run_epoch(self, phase: str, batches, epoch: int | None = None) -> dict:
        """Apply each ``(table, events, key)`` batch, then record the
        applied ones under one epoch number (default: the current one,
        read under the lock) and advance past it."""
        out = {t: self._apply(t, events, phase, key) for t, events, key in batches}
        applied = {t: s for t, s in out.items() if s.get("applied")}
        if applied:
            with self._lock:
                epoch = self._epoch if epoch is None else epoch
                self._record(phase, epoch, applied)
                self._epoch = max(self._epoch, epoch + 1)
        return out

    def _record(self, phase: str, epoch: int, applied: dict) -> None:
        """Per-bucket lineage (north rule) plus one total row per table
        into the metrics log, one commit-log row per table."""
        rows, commits = [], []
        for t, stats in sorted(applied.items()):
            wall = max(stats.get("wall_ms") or 1, 1)
            n = stats.get("batch_keys")
            live = stats.get("rows_live")
            common = {
                "epoch": epoch,
                "phase": phase,
                "wall_ms": wall,
                "watermark_lsn": stats.get("watermark_lsn"),
            }
            rows += [
                {**common, "partition": f"{t}/{b:04d}", "rows_read": k,
                 "rows_applied": None, "events_per_sec": None}
                for b, k in (stats.get("bucket_rows") or {}).items()
            ]
            rows.append(
                {
                    **common,
                    "partition": self._total_partition(t),
                    "rows_read": n,
                    "rows_applied": int(live) if live is not None else None,
                    "events_per_sec": (n or 0) / (wall / 1000.0),
                }
            )
            commits.append(
                {
                    "pipeline_id": self.cfg.pipeline_id,
                    "checkpoint_epoch": epoch,
                    "commit_key": stats.get("commit_key"),
                    "phase": phase,
                    "batch_keys": n,
                    "watermark_lsn": stats.get("watermark_lsn"),
                    "table_version": self.tables[t].current_version(),
                    "committed_at": time.time(),
                }
            )
        self.metrics.append(rows)
        self.commit_log.append(commits)

    # ------------------------------------------------------------- phases
    def _wal_phase(self, phase: str, events: DataFrame | None = None) -> dict:
        """Drain each table's WAL past its watermark (or apply the
        caller's ``events``) as one epoch."""
        epoch = self._fresh_epoch(phase)
        quarantined = {}

        def batches():
            for t, src in sorted(self.sources.items()):
                batch = self._wal_events(t, events)
                # dead-letter visibility (VERDICT r3 next-5): sources with
                # a quarantine sink report how many envelopes this poll
                # rejected. Only when THIS phase polled: caller-supplied
                # events belong to some earlier poll.
                if events is None and getattr(src, "last_quarantined", None) is not None:
                    quarantined[t] = src.last_quarantined
                yield t, batch, self._key(phase, epoch, t)

        out = self._run_epoch(phase, batches(), epoch)
        for t, q in quarantined.items():
            out[t]["rows_quarantined"] = q
        return out

    def catchup(self) -> dict:
        """B3 — drain the WAL backlog before any snapshot work. Only
        events past each table's LSN high watermark apply (idempotent
        under overlapping re-reads)."""
        return self._wal_phase("catchup")

    def tail_batch(self, events: DataFrame | None = None) -> dict:
        """One bounded tail epoch (micro-batch outside Structured
        Streaming — used by tests and the bench replay loop)."""
        return self._wal_phase("tail", events)

    def snapshot_epoch(self) -> dict:
        """The partial-snapshot pass: claim -> bounded scan of claimed
        buckets only -> apply -> release (A1-A7, B1)."""
        # crash-resume: partitions still marked under_snapshot belong to
        # an epoch that died between claim and release (e.g. after
        # committing table A, before table B) — finish THAT epoch at ITS
        # recorded watermark; already-committed work is skipped by its
        # commit key.
        mine = self.tracker.state(self.cfg.pipeline_id)
        stale = mine[mine["under_snapshot"]] if len(mine) else mine
        if len(stale):
            epoch = int(stale["updated_epoch"].min())
            resumed_watermark = int(stale["watermark_lsn"].max())
        else:
            epoch = self._fresh_epoch("snapshot")
            resumed_watermark = None
        try:
            discovered = self.discovered_partitions()
            watermark = (
                resumed_watermark
                if resumed_watermark is not None
                else self._snapshot_watermark()
            )
            claimed = self.tracker.claim(
                discovered,
                self.cfg.pipeline_id,
                record_only=self.record_only,
                watermark_lsn=watermark,
                epoch=epoch,
            )
        except Exception:
            # fail-safe policy (reference: SQLException -> skip,
            # PostgresJdbcFilterHandler.java:142-145; threaded timeout ->
            # snapshot, ThreadedSnapshotFilter.java:51-58)
            if self.cfg.on_tracker_error == "fail":
                raise
            if self.cfg.on_tracker_error != "snapshot":
                return {"applied": False, "reason": "tracker_error_skip"}
            claimed = self.discovered_partitions()
            watermark = self._snapshot_watermark()

        if not claimed:
            # nothing needs a snapshot: still release any stale claims
            self.tracker.release(self.cfg.pipeline_id, epoch=epoch)
            return {"applied": False, "reason": "nothing_claimed", "claimed": []}

        by_table: dict[str, list[int]] = {}
        for p in claimed:
            t, b = p.rsplit("/", 1)
            by_table.setdefault(t, []).append(int(b))
        out = self._run_epoch(
            "snapshot",
            (
                (
                    t,
                    self.sources[t].snapshot(sorted(buckets), watermark),
                    self._key("snapshot", epoch, t),
                )
                for t, buckets in sorted(by_table.items())
            ),
            epoch,
        )
        self.tracker.release(self.cfg.pipeline_id, epoch=epoch)
        return {
            "applied": any(s.get("applied") for s in out.values()),
            "claimed": claimed,
            "snapshot_watermark": watermark,
            "tables": out,
        }

    # ---------------------------------------------------------- lifecycle
    def start(self) -> dict:
        """Full startup sequence: catch-up replay, then partial
        snapshot (order pinned by the reference's
        testReplayRecordsDuringResnapshot)."""
        return {"catchup": self.catchup(), "snapshot": self.snapshot_epoch()}

    def stream(
        self,
        process_all_available: bool = True,
        timeout_sec: float | None = 120.0,
        wal_stream_source: str | None = None,
    ):
        """B2 — Structured Streaming tail over the SHARED change feed:
        one readStream, each micro-batch routed per table inside
        foreachBatch and applied with that table's watermark filter and
        a per-table commit key ``pid:stream:{batch_id}:{table}``.
        Exactly-once: checkpointed source offsets give deterministic
        batch replay; the manifest commit key dedupes a re-delivered
        batch; the LSN high-watermark filter covers checkpoint-less
        re-reads. ``wal_stream_source`` names which source's log to
        stream (they share one feed; default: first table)."""
        name = wal_stream_source or sorted(self.sources)[0]
        if name not in self.sources:
            raise ValueError(
                f"wal_stream_source must be one of {sorted(self.sources)}, "
                f"got {name!r}"
            )

        def handle(batch_df: DataFrame, batch_id: int):
            self._run_epoch(
                "tail",
                (
                    (t, self._wal_events(t, batch_df), self._key("stream", batch_id, t))
                    for t in sorted(self.sources)
                ),
            )

        q = (
            self.sources[name]
            .wal_stream()
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", self.cfg.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        if process_all_available:
            q.awaitTermination(timeout_sec)
            if q.isActive:
                q.stop()
        return q
