"""SnapshotTracker — the partial-snapshot control table (SURVEY A1–A11).

Spark-native re-expression of the reference's ``snapshot_tracker``
(DDL ``PostgresJdbcFilterHandler.java:21-26``, README.md:66-83),
generalized per the north rule from per-*table* to per-*table-partition*
rows with a snapshot ``watermark_lsn``:

    table_partition  string   -- e.g. 'tokens/0007' (was: table_name)
    pipeline_id      string   -- was: server_name (multi-connector keying)
    needs_snapshot   boolean
    under_snapshot   boolean
    watermark_lsn    int64
    updated_epoch    int64

The reference mutates this table with SQL UPDATE/INSERT inside an
explicit transaction (``PostgresJdbcFilterHandler.java:73-137``). Our
equivalent transaction primitive is an optimistic-CAS versioned parquet
commit (hard-link create fails if the version exists) — the whole
claim/release read-modify-write lands in ONE atomic version swap.

The table is tiny (tables x buckets rows), so transitions run
driver-side in pyarrow/pandas — the same decision-off-the-hot-path
design as the reference's dedicated filter thread
(``ThreadedSnapshotFilter.java:23-34``); executors never touch it.
It remains a real table: each version is one plain parquet file that
any engine can read.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from debezium_partial_snapshotter_spark.plans.lake import (
    KEEP_VERSIONS,
    CommitConflict,
    VersionLog,
    _retry_conflicts,
)

ARROW_SCHEMA = pa.schema(
    [
        pa.field("table_partition", pa.string(), nullable=False),
        pa.field("pipeline_id", pa.string(), nullable=False),
        pa.field("needs_snapshot", pa.bool_(), nullable=False),
        pa.field("under_snapshot", pa.bool_(), nullable=False),
        pa.field("watermark_lsn", pa.int64()),
        pa.field("updated_epoch", pa.int64()),
    ]
)

_COLS = [f.name for f in ARROW_SCHEMA]

#: optimistic-CAS attempts per transition
_TRIES = 8


class SnapshotTracker:
    def __init__(self, path: str):
        self.path = path
        self._log = VersionLog(path, "v", ".parquet")

    # ------------------------------------------------------------ storage
    @classmethod
    def create(cls, path: str, if_not_exists: bool = True) -> "SnapshotTracker":
        """A3 — bootstrap DDL iff absent (reference existence probe via
        to_regclass, ``PostgresJdbcFilterHandler.java:27,206-234``)."""
        t = cls(path)
        if t.exists():
            if if_not_exists:
                return t
            raise FileExistsError(path)
        os.makedirs(path, exist_ok=True)
        empty = pd.DataFrame({c: pd.Series(dtype=o) for c, o in zip(
            _COLS, ["object", "object", "bool", "bool", "int64", "int64"]
        )})
        t._write_version(empty, 1)
        return t

    def exists(self) -> bool:
        return bool(self._log.versions())

    def current_version(self) -> int:
        vs = self._log.versions()
        if not vs:
            raise FileNotFoundError(f"tracker missing at {self.path}")
        return vs[-1]

    def load(self, version: int | None = None) -> pd.DataFrame:
        v = self.current_version() if version is None else version
        return pq.read_table(self._log.path(v)).to_pandas()

    def _write_version(self, df: pd.DataFrame, version: int) -> None:
        table = pa.Table.from_pandas(
            df[_COLS], schema=ARROW_SCHEMA, preserve_index=False
        )
        if not self._log.create(version, lambda tmp: pq.write_table(table, tmp)):
            raise CommitConflict(f"tracker version {version} exists")

    def _transact(self, fn):
        """BEGIN .. COMMIT analog (PostgresJdbcFilterHandler.java:73-137):
        optimistic read-modify-write with CAS retry. A committed
        transition prunes the log to the newest ``KEEP_VERSIONS``."""
        for attempt in range(_TRIES):
            v = self.current_version()
            df = self.load(v)
            new_df, result = fn(df.copy())
            if new_df is None:  # read-only transaction
                return result
            try:
                self._write_version(new_df, v + 1)
            except CommitConflict:
                _retry_conflicts(attempt, _TRIES)
            else:
                self._log.prune(KEEP_VERSIONS)
                return result

    # --------------------------------------------------------- operations
    def connector_is_tracked(self, pipeline_id: str) -> bool:
        """A8 — existing-connector detection
        (``PostgresJdbcFilterHandler.java:39-41,148-166``)."""
        df = self.load()
        return bool((df["pipeline_id"] == pipeline_id).any())

    def claim(
        self,
        discovered: list[str],
        pipeline_id: str,
        record_only: bool = False,
        watermark_lsn: int = -1,
        epoch: int = 0,
    ) -> list[str]:
        """A1+A4+A5+A6 in one atomic transition, set-based instead of the
        reference's per-table loop:

        - unseen partitions are registered: ``needs=under=True`` (or
          ``False,False`` in record-only mode — A9,
          ``PostgresJdbcFilterHandler.java:107-124``);
        - known partitions with ``needs ∧ ¬under`` are claimed
          (``under=True``, ``:126-133``);
        - returns the worklist: partitions this pipeline must snapshot
          now (``¬record_only ∧ needs``, ``:140``). The snapshot
          watermark is recorded on every claimed row (north rule).
        """

        def fn(df: pd.DataFrame):
            mine = df[df["pipeline_id"] == pipeline_id]
            known = set(mine["table_partition"])
            new_parts = [p for p in discovered if p not in known]
            needs0 = not record_only
            if new_parts:
                add = pd.DataFrame(
                    {
                        "table_partition": new_parts,
                        "pipeline_id": pipeline_id,
                        "needs_snapshot": needs0,
                        "under_snapshot": needs0,
                        "watermark_lsn": watermark_lsn if needs0 else -1,
                        "updated_epoch": epoch,
                    }
                )
                df = pd.concat([df, add], ignore_index=True)
            # claim existing needs-rows
            m = (
                (df["pipeline_id"] == pipeline_id)
                & df["table_partition"].isin(discovered)
                & df["needs_snapshot"]
                & ~df["under_snapshot"]
            )
            df.loc[m, "under_snapshot"] = True
            df.loc[m, "watermark_lsn"] = watermark_lsn
            df.loc[m, "updated_epoch"] = epoch
            if record_only:
                return df, []
            mine2 = df[
                (df["pipeline_id"] == pipeline_id)
                & df["table_partition"].isin(discovered)
                & df["needs_snapshot"]
                & df["under_snapshot"]
            ]
            return df, sorted(mine2["table_partition"].tolist())

        return self._transact(fn)

    def release(self, pipeline_id: str, epoch: int = 0) -> int:
        """A7 — snapshot-completed bulk release: ``needs=False,
        under=False WHERE under AND pipeline_id=?``
        (``PostgresJdbcFilterHandler.java:36-38,168-187``, invoked at
        snapshot close ``PartialSnapshotter.java:81-83``)."""

        def fn(df: pd.DataFrame):
            m = (df["pipeline_id"] == pipeline_id) & df["under_snapshot"]
            n = int(m.sum())
            df.loc[m, ["needs_snapshot", "under_snapshot"]] = False
            df.loc[m, "updated_epoch"] = epoch
            return df, n

        return self._transact(fn)

    def set_needs(
        self, partitions: list[str], pipeline_id: str, needs: bool = True
    ) -> int:
        """Operator-facing: request (or cancel) a re-snapshot — the
        reference's manual ``UPDATE ... SET needs_snapshot=true``
        (README.md:84-90, ``PartialSnapshotterTest.java:211-213``)."""

        def fn(df: pd.DataFrame):
            m = (df["pipeline_id"] == pipeline_id) & df[
                "table_partition"
            ].isin(partitions)
            df.loc[m, "needs_snapshot"] = needs
            return df, int(m.sum())

        return self._transact(fn)

    # ------------------------------------------------------------- views
    def state(self, pipeline_id: str | None = None) -> pd.DataFrame:
        df = self.load()
        if pipeline_id is not None:
            df = df[df["pipeline_id"] == pipeline_id]
        return df.sort_values(["pipeline_id", "table_partition"]).reset_index(
            drop=True
        )
