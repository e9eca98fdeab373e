"""LakeTable — bucketed copy-on-write table with atomic manifest commits.

Provides, without requiring the Iceberg runtime jar, the same contract the
engine needs from Iceberg (SURVEY.md §7 "Iceberg caveat"):

- **snapshot isolation**: readers pin a manifest version; a commit is a
  single atomic manifest swap (hard-link create fails if the version
  exists => optimistic CAS, like Iceberg's commit).
- **bucketed copy-on-write**: data files are laid out by
  ``bucket(num_buckets, key)``; a MERGE rewrites only the buckets that
  contain incoming keys — at 100 TB an epoch touching 1% of keys rewrites
  ~1% of files, never the table.
- **idempotent commits**: every commit may carry a ``commit_key``
  (``pipeline_id:epoch``); keys are recorded in the manifest, so the
  exactly-once marker commits atomically WITH the data (north rule:
  idempotent commits keyed by (checkpoint epoch, partition)).
- **transactional schema evolution**: the manifest owns the schema;
  add-column / type-widen swaps in the same commit as the data that needs
  it; old files are up-cast on read.

On a real cluster the same engine code runs against Iceberg by swapping
this class for a thin Iceberg adapter (MERGE INTO / RewriteFiles); the
operator layer only uses ``read / replace_buckets / committed_keys``.

Reference analog: the plugin's transactional tracker bookkeeping
(``PostgresJdbcFilterHandler.java:73-137``) — BEGIN/COMMIT around
read-modify-write — generalized to data-plane commits.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from debezium_partial_snapshotter_spark.functions import bucket_id, resolve_winners

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"

#: Commit-key retention (SCALING.md: unbounded manifest growth). WAL
#: keys are only ever re-presented by (a) the crashed-epoch retry —
#: always the newest key — or (b) a stream batch redelivered after
#: checkpoint loss, whose events the LSN watermark filter empties out
#: BEFORE the key matters (apply_batch returns empty_batch). Keeping
#: the most recent WAL keys therefore preserves exactly-once while
#: bounding the manifest; epoch resume parses max(epoch) which eviction
#: of OLDER keys cannot change.
#:
#: SNAPSHOT keys are exempt (``pin_key`` — ADVICE r2): snapshot-phase
#: events carry lsn == the snapshot watermark, which the callers'
#: ``lsn > watermark_lsn`` replay filter does NOT cover, so a snapshot
#: batch redelivered after >MAX_COMMIT_KEYS later commits would re-merge
#: (CoW: wasted rewrite + tie-guard churn) or append duplicate tied
#: delta rows (MoR: clause (d) of the _resolve_mor tie-free proof
#: violated). Pinned keys live in ``pinned_keys``, never evicted;
#: growth is one key per snapshot epoch — rare by construction.
MAX_COMMIT_KEYS = 512


class CommitConflict(Exception):
    pass


class VersionExpiredError(FileNotFoundError):
    """Time travel below the expiration horizon: the manifest (and the
    data files only it referenced) were reclaimed by
    ``expire_versions``. Carries the horizon so callers can re-pin."""

    def __init__(self, path: str, version: int, horizon: int):
        super().__init__(
            f"{path}: version {version} was expired by expire_versions "
            f"(horizon v{horizon}); the oldest readable version is "
            f"v{horizon}"
        )
        self.version = version
        self.horizon = horizon


def _atomic_create(tmp_path: str, final_path: str) -> bool:
    """Atomically create final_path from tmp_path; False if it exists.

    ``os.link`` is atomic on POSIX and fails with EEXIST when another
    writer won the race — the CAS primitive behind optimistic commits.
    """
    try:
        os.link(tmp_path, final_path)
        return True
    except FileExistsError:
        return False
    finally:
        try:
            os.unlink(tmp_path)
        except OSError:
            pass


def _resolve_mor(base: DataFrame, deltas: DataFrame, key: str = "doc_id") -> DataFrame:
    """Winner per key by (_lsn, _op_rank) over (base ∪ deltas), keeping
    delete tombstones until the caller drops them. Same sort-free kernel
    as the apply merge (``resolve_winners``).

    No tie guard: stored rows are tie-free BY CONSTRUCTION, so the
    join-back yields exactly one row per key. Proof: (a) within one
    commit, winners are validated tie-free before the manifest swap
    (apply_batch's pre-commit count check, retried with the guard on
    when a duplicate-delivery tie occurs); (b) across commits, two WAL
    commits never share a (key, lsn) — each batch filters
    lsn > watermark_lsn, which advances to the batch max before the
    next WAL commit — and two snapshot commits never share an lsn
    (snapshot_lsn keeps snapshot watermarks strictly increasing); (c) a
    WAL row and a snapshot row CAN share an lsn but never an _ord
    (op_rank 'r'=0 vs >=1); (d) exact redeliveries are blocked by the
    commit key before any file is written — clause (d) depends on
    snapshot keys being PINNED (never evicted by the MAX_COMMIT_KEYS
    cap): WAL redeliveries are additionally emptied by the watermark
    filter, snapshot redeliveries are not, so only the pinned key
    stands between a late snapshot redelivery and tied delta rows. A round-1 dropDuplicates
    here compiled to SortAggregate over wide token rows on EVERY
    delta-bucket read — the exact plan the write path paid to remove."""
    resolved = resolve_winners(base.unionByName(deltas), key)
    return resolved.where(~F.col("_is_delete"))


class LakeTable:
    """A path-addressed, bucketed, manifest-committed parquet table."""

    def __init__(self, path: str):
        self.path = path
        self.manifest_dir = os.path.join(path, MANIFEST_DIR)
        self.data_dir = os.path.join(path, DATA_DIR)

    # ---------------------------------------------------------------- DDL
    @classmethod
    def create(
        cls,
        path: str,
        schema: StructType,
        num_buckets: int = 32,
        bucket_key: str = "doc_id",
        if_not_exists: bool = True,
    ) -> "LakeTable":
        """CREATE TABLE [IF NOT EXISTS] — reference analog: tracker
        bootstrap DDL + to_regclass existence probe
        (``PostgresJdbcFilterHandler.java:21-27,206-234``)."""
        t = cls(path)
        if t.exists():
            if if_not_exists:
                return t
            raise FileExistsError(path)
        os.makedirs(t.manifest_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        manifest = {
            "version": 1,
            "schema": json.loads(schema.json()),
            "num_buckets": num_buckets,
            "bucket_key": bucket_key,
            "buckets": {},  # str(bucket) -> [relative file paths] (base)
            "deltas": {},  # str(bucket) -> [relative file paths] (MoR)
            "commit_keys": [],
            # watermark_lsn: highest WAL lsn fully APPLIED across all
            # partitions — the tail/catchup replay filter. Advanced ONLY
            # by WAL-applying commits: a partial snapshot must not move
            # it, or WAL events already in the log for UNclaimed
            # partitions would be filtered out forever (silent loss).
            "watermark_lsn": -1,
            # snapshot_lsn: highest snapshot consistency point ever
            # used. Advanced ONLY by snapshot commits; keeps successive
            # snapshot watermarks strictly increasing (a re-snapshot
            # must beat rows stored by a previous snapshot) without
            # touching the WAL replay filter above.
            "snapshot_lsn": -1,
            "parent": None,
            "ts": time.time(),
        }
        t._write_manifest(manifest)
        return t

    def exists(self) -> bool:
        return os.path.isdir(self.manifest_dir) and bool(self._versions())

    def drop(self) -> None:
        if os.path.isdir(self.path):
            shutil.rmtree(self.path)

    # ---------------------------------------------------------- manifests
    def _versions(self) -> list[int]:
        if not os.path.isdir(self.manifest_dir):
            return []
        out = []
        for f in os.listdir(self.manifest_dir):
            if f.startswith("v") and f.endswith(".json"):
                out.append(int(f[1:-5]))
        return sorted(out)

    def current_version(self) -> int:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"no manifest in {self.path}")
        return vs[-1]

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        try:
            with open(os.path.join(self.manifest_dir, f"v{v:08d}.json")) as fh:
                return json.load(fh)
        except FileNotFoundError:
            vs = self._versions()
            if vs and v < vs[0]:
                # below the expiration horizon — a clean, typed error
                # (VERDICT r4 next-1: "time travel beyond the horizon
                # raises cleanly"), not a bare missing-file trace
                horizon = self.manifest(vs[-1]).get("min_version", vs[0])
                raise VersionExpiredError(self.path, v, horizon) from None
            raise

    def _write_manifest(self, manifest: dict) -> None:
        v = manifest["version"]
        tmp = os.path.join(self.manifest_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        final = os.path.join(self.manifest_dir, f"v{v:08d}.json")
        if not _atomic_create(tmp, final):
            raise CommitConflict(f"version {v} already committed in {self.path}")

    # ------------------------------------------------------------- schema
    def schema(self, version: int | None = None) -> StructType:
        return StructType.fromJson(self.manifest(version)["schema"])

    @property
    def num_buckets(self) -> int:
        return self.manifest()["num_buckets"]

    @property
    def bucket_key(self) -> str:
        return self.manifest()["bucket_key"]

    def committed_keys(self) -> set[str]:
        man = self.manifest()
        return set(man["commit_keys"]) | set(man.get("pinned_keys", []))

    # ----------------------------------------------------- bucket layout
    @staticmethod
    def _layout_of(man: dict) -> str:
        """Opaque token identifying the EFFECTIVE bucketing: the bucket
        count plus, mid-incremental-rescale, the set of already-split
        buckets. Writers capture it at plan time and pass it as
        ``expected_layout``; a commit under a changed token would place
        rows in entries that disagree with the new bucket function, so
        it raises CommitConflict instead (re-bucket + re-merge). A
        rescale whose ``done`` set is still empty is behaviorally
        identical to the plain layout and keeps the plain token — in-
        flight writers are not spuriously conflicted by begin_rescale."""
        rs = man.get("rescale")
        if not rs or not rs.get("done"):
            return str(man["num_buckets"])
        done = ",".join(str(b) for b in sorted(rs["done"]))
        return f"{man['num_buckets']}->{rs['to']}:{done}"

    def layout_token(self) -> str:
        return self._layout_of(self.manifest())

    def bucket_plan(self, key: "F.Column"):
        """(num_buckets, bucket_expr, layout_token) from ONE manifest
        read. Appliers must take all three from here, not from separate
        ``num_buckets``/``bucket_expr()``/``layout_token()`` calls: a
        concurrent ``split_bucket`` landing between two reads would
        pair a STALE bucket expression with the NEW layout token, so
        the commit-time layout guard passes while rows are routed to
        wrong bucket entries — exactly the corruption the token exists
        to catch."""
        man = self.manifest()
        return (
            man["num_buckets"],
            self._bucket_expr_of(man, key),
            self._layout_of(man),
        )

    def _bucket_expr_of(self, man: dict, key: "F.Column"):
        nb = man["num_buckets"]
        rs = man.get("rescale")
        if not rs or not rs.get("done"):
            return bucket_id(key, nb)
        old = bucket_id(key, nb)
        new = bucket_id(key, rs["to"])
        return F.when(
            old.isin([int(b) for b in rs["done"]]), new
        ).otherwise(old)

    def bucket_expr(self, key: "F.Column"):
        """Effective bucket assignment, honoring an in-flight
        incremental rescale (linear-hashing style): keys whose OLD
        bucket has been split route to md5 % new_count, everyone else
        stays on md5 % old_count. Because the new count is a multiple
        of the old, a key's new bucket id is always ``old_b + i*nb`` —
        entry ids never collide across the two numberings.

        NOTE: pairs with a SEPARATE manifest read from
        ``layout_token()`` — when both the expression and the token are
        needed (any commit path), use ``bucket_plan`` instead."""
        return self._bucket_expr_of(self.manifest(), key)

    def watermark_lsn(self) -> int:
        return self.manifest().get("watermark_lsn", -1)

    def snapshot_lsn(self) -> int:
        return self.manifest().get("snapshot_lsn", -1)

    def _touched_between(
        self, from_version: int, to_version: int
    ) -> set[int] | None:
        """Union of ``touched`` buckets over every manifest in
        (from_version, to_version], walked down the parent chain — the
        ONE chain traversal behind both the concurrent-writer conflict
        check and the change feed. Returns None when any manifest in
        the range predates the ``touched`` field (conservative:
        everything). Propagates FileNotFoundError/VersionExpiredError
        when the chain crosses the expiration horizon — each caller
        owns its policy for that."""
        touched: set[int] = set()
        cur = self.manifest(to_version)
        while cur["version"] > from_version:
            t = cur.get("touched")
            if t is None:
                return None
            touched.update(int(b) for b in t)
            parent = cur.get("parent")
            if parent is None:
                break
            cur = self.manifest(parent)
        return touched

    def _conflicting_buckets(
        self, read_version: int, man: dict, affected: Iterable[int]
    ) -> set[int]:
        """Buckets in ``affected`` touched by any commit in
        (read_version, man.version]. Manifests written before
        ``touched`` existed count as touching everything
        (conservative); so does a chain that crosses the expiration
        horizon (the writer read BEFORE an expire_versions ran — it
        conflicts out and re-reads)."""
        wanted = {int(b) for b in affected}
        try:
            hit = self._touched_between(read_version, man["version"])
        except FileNotFoundError:
            return wanted
        if hit is None:
            return wanted
        return hit & wanted

    # --------------------------------------------------------------- read
    def _files(
        self,
        manifest: dict,
        buckets: Iterable[int] | None = None,
        kind: str = "buckets",
    ) -> list[str]:
        wanted = None if buckets is None else {str(b) for b in buckets}
        out: list[str] = []
        for b, files in manifest.get(kind, {}).items():
            if wanted is None or b in wanted:
                out.extend(os.path.join(self.path, f) for f in files)
        return out

    def _read_files(self, spark, files: list[str], schema: StructType) -> DataFrame:
        if not files:
            return spark.createDataFrame([], schema)
        # Explicit read schema serves files written before an add-column
        # or type-widen evolution: missing columns come back NULL and the
        # Spark 4 vectorized parquet reader up-casts int32->int64 /
        # float->double in place. (mergeSchema would REFUSE the widening
        # as a schema conflict.)
        return spark.read.schema(schema).parquet(*files)

    def read(
        self,
        spark: SparkSession,
        buckets: Iterable[int] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Resolved scan; bucket pruning = pass only the buckets a MERGE
        touches.

        Copy-on-write buckets are served directly. Buckets carrying
        merge-on-read deltas are resolved on the fly: winner per key by
        (_lsn, _op_rank) over (base ∪ deltas), delete tombstones dropped
        — Iceberg v2 MoR semantics. Old-schema files are up-cast to the
        current manifest schema (add-column -> NULL, int -> long).
        """
        man = self.manifest(version)
        schema = StructType.fromJson(man["schema"])
        base = self._read_files(spark, self._files(man, buckets, "buckets"), schema)
        delta_files = self._files(man, buckets, "deltas")
        if not delta_files:
            return base
        delta_schema = StructType(
            list(schema.fields) + [StructField("_is_delete", BooleanType(), False)]
        )
        deltas = self._read_files(spark, delta_files, delta_schema)
        return _resolve_mor(
            base.withColumn("_is_delete", F.lit(False)),
            deltas,
            key=man.get("bucket_key", "doc_id"),
        ).drop("_is_delete")

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Row-level change feed between two committed versions — the
        CDC-OUT side of the engine (Delta CDF / Iceberg changelog-scan
        analog): a downstream incremental consumer reads only what
        changed since the version it last processed, instead of
        re-scanning the table (round 5; driver row ``cdc_changefeed``).

        Returns the NET per-key effect over ``(from_version,
        to_version]`` with a ``_change_type`` column:

        - ``insert`` — key absent at from_version, present at to;
          row = post-image;
        - ``update`` — present in both with a different winning
          ``(_lsn, _op_rank)``; row = post-image (net effect: the
          intermediate images a multi-epoch range collapsed are not
          replayed — same contract as resolving the versions);
        - ``delete`` — present at from_version, absent at to;
          row = PRE-image (the only image that exists for it).

        100-TB cost model: both versions are resolved ONLY over the
        buckets the range actually touched (union of the ``touched``
        manifest field down the parent chain — the same metadata the
        conflict detector walks), so the scan is O(changed buckets) +
        one key-partitioned full-outer join, never a table scan. A
        manifest without ``touched`` (pre-upgrade) degrades to all
        buckets, conservative. Reading below the expiration horizon
        raises VersionExpiredError (the consumer re-bootstraps from a
        full read — Delta CDF behaves the same when history is
        vacuumed)."""
        to_v = self.current_version() if to_version is None else to_version
        if from_version > to_v:
            raise ValueError(
                f"from_version {from_version} > to_version {to_v}"
            )
        key = self.bucket_key
        empty_types = F.lit(None).cast("string")
        if from_version == to_v:
            sch = self.schema(to_v)
            return (
                self._read_files(spark, [], sch)
                .withColumn("_change_type", empty_types)
            )
        # touched buckets over (from_version, to_v] — the shared chain
        # walk; VersionExpiredError propagates (the consumer must
        # re-bootstrap), unlike the conflict check's conservative policy
        touched = self._touched_between(from_version, to_v)
        buckets = None if touched is None else sorted(touched)
        if buckets == []:
            sch = self.schema(to_v)
            return (
                self._read_files(spark, [], sch)
                .withColumn("_change_type", empty_types)
            )
        old = self.read(spark, buckets=buckets, version=from_version)
        new = self.read(spark, buckets=buckets, version=to_v)
        new_sch = self.schema(to_v)
        # BOTH sides re-projected to the manifest-schema column order:
        # the positional _old_{i} pairing below depends on it, and a
        # MoR-resolving read reorders columns (the resolve join puts
        # the bucket key FIRST) — on a table whose bucket_key is not
        # the first schema field, delete rows' pre-images would land
        # in the wrong columns (round-5 second review pass)
        new = new.select(*[f.name for f in new_sch.fields])
        # evolution-safe compare: up-cast the old image to the new
        # schema (add-column -> NULL, widen in place), same rule the
        # base reader applies to old files
        old = old.select(
            *[
                F.col(f.name).cast(f.dataType)
                if f.name in old.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in new_sch.fields
            ]
        )
        o = old.select(
            F.col(key).alias("_ck"),
            (F.col("_lsn") * 4 + F.col("_op_rank")).alias("_oord"),
            *[
                F.col(c).alias(f"_old_{i}")
                for i, c in enumerate(old.columns)
            ],
        )
        n = new.select(
            F.col(key).alias("_ck"),
            (F.col("_lsn") * 4 + F.col("_op_rank")).alias("_nord"),
            "*",
        )
        j = n.join(o, "_ck", "full_outer")
        ctype = (
            F.when(F.col("_nord").isNull(), F.lit("delete"))
            .when(F.col("_oord").isNull(), F.lit("insert"))
            .when(F.col("_nord") != F.col("_oord"), F.lit("update"))
        )
        j = j.withColumn("_change_type", ctype).where(
            F.col("_change_type").isNotNull()
        )
        # deletes surface the PRE-image (the post-image does not exist)
        out_cols = [
            F.when(
                F.col("_change_type") == "delete", F.col(f"_old_{i}")
            )
            .otherwise(F.col(c))
            .alias(c)
            for i, c in enumerate(new.columns)
        ]
        return j.select(*out_cols, "_change_type")

    # ------------------------------------------------------------- commit
    def _write_partitioned(
        self, df: DataFrame, affected_buckets: list[int]
    ) -> tuple[str, dict[str, list[str]]]:
        """Write df (carrying int ``_bucket``) under a fresh commit dir;
        returns (commit_dir, bucket -> relative file list).

        By default each bucket's rows are co-located by one extra
        shuffle on _bucket (one file per bucket — tight layout, cheap
        reads). DPS_WRITE_COALESCE=0 skips that shuffle: the merge
        output is already hash-partitioned by doc_id (a refinement of
        _bucket), so every task just fans its rows out to the buckets
        it holds — one less full pass of the wide rows over the
        network/memory bus per epoch, at the cost of up-to
        tasks x buckets files per commit (compaction folds them)."""
        commit_id = uuid.uuid4().hex[:12]
        commit_dir = os.path.join(self.data_dir, f"c-{commit_id}")
        n_out = max(1, len(affected_buckets))
        staged = df
        if os.environ.get("DPS_WRITE_COALESCE", "1") != "0":
            staged = df.repartition(n_out, "_bucket")
        (
            staged.write.partitionBy("_bucket")
            .option("maxRecordsPerFile", 0)
            .mode("overwrite")
            .parquet(commit_dir)
        )
        new_files: dict[str, list[str]] = {str(b): [] for b in affected_buckets}
        for entry in os.listdir(commit_dir):
            if not entry.startswith("_bucket="):
                continue
            b = entry.split("=", 1)[1]
            bdir = os.path.join(commit_dir, entry)
            rel = os.path.relpath(bdir, self.path)
            files = [
                os.path.join(rel, f)
                for f in os.listdir(bdir)
                if f.endswith(".parquet")
            ]
            new_files.setdefault(b, []).extend(sorted(files))
        return commit_dir, new_files

    def append_deltas(
        self,
        df: DataFrame,
        affected_buckets: list[int],
        commit_key: str | None = None,
        new_schema: StructType | None = None,
        watermark_lsn: int | None = None,
        snapshot_lsn: int | None = None,
        max_retries: int = 5,
        validate=None,
        expected_num_buckets: int | None = None,
        pin_key: bool = False,
        expected_layout: str | None = None,
    ) -> bool | str:
        """Merge-on-read commit: append ``df`` (batch winners INCLUDING
        delete tombstones, carrying ``_bucket`` and ``_is_delete``) as
        delta files — no base rewrite. Readers resolve winners on the
        fly; ``compact()`` folds deltas back into the base. This is the
        low-write-amplification path for epochs touching a small
        fraction of each bucket (Iceberg v2 MoR analog)."""
        if commit_key is not None and commit_key in self.committed_keys():
            return False
        commit_dir, new_files = self._write_partitioned(df, affected_buckets)
        if validate is not None and not validate():
            shutil.rmtree(commit_dir, ignore_errors=True)
            return "invalid"
        for attempt in range(max_retries):
            man = self.manifest()
            if (
                expected_num_buckets is not None
                and man["num_buckets"] != expected_num_buckets
            ):
                # a concurrent rescale changed the layout: this df was
                # bucketed under a stale num_buckets — committing would
                # scatter rows into wrong partitions undetected
                shutil.rmtree(commit_dir, ignore_errors=True)
                raise CommitConflict(
                    f"num_buckets changed {expected_num_buckets} -> "
                    f"{man['num_buckets']}; re-bucket and re-merge"
                )
            if (
                expected_layout is not None
                and self._layout_of(man) != expected_layout
            ):
                # an incremental split landed since this batch was
                # bucketed: its delta rows would sit in entries the new
                # bucket function no longer maps those keys to
                shutil.rmtree(commit_dir, ignore_errors=True)
                raise CommitConflict(
                    f"bucket layout changed {expected_layout} -> "
                    f"{self._layout_of(man)}; re-bucket and re-merge"
                )
            if commit_key is not None and commit_key in (
                set(man["commit_keys"]) | set(man.get("pinned_keys", []))
            ):
                shutil.rmtree(commit_dir, ignore_errors=True)
                return False
            new_man = {
                **man,
                "version": man["version"] + 1,
                "parent": man["version"],
                "op": "delta",
                "deltas": {**man.get("deltas", {})},
                "commit_keys": (
                    man["commit_keys"]
                    + ([commit_key] if commit_key and not pin_key else [])
                )[-MAX_COMMIT_KEYS:],
                "pinned_keys": man.get("pinned_keys", [])
                + ([commit_key] if commit_key and pin_key else []),
                "touched": sorted(int(b) for b in affected_buckets),
                "ts": time.time(),
            }
            for b, files in new_files.items():
                if files:
                    new_man["deltas"][b] = new_man["deltas"].get(b, []) + files
            if new_schema is not None:
                new_man["schema"] = json.loads(new_schema.json())
            if watermark_lsn is not None:
                new_man["watermark_lsn"] = max(
                    watermark_lsn, man.get("watermark_lsn", -1)
                )
            if snapshot_lsn is not None:
                new_man["snapshot_lsn"] = max(
                    snapshot_lsn, man.get("snapshot_lsn", -1)
                )
            try:
                self._write_manifest(new_man)
                return True
            except CommitConflict:
                if attempt == max_retries - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))
        return True

    def delta_stats(self) -> dict:
        man = self.manifest()
        return {
            "buckets_with_deltas": sorted(int(b) for b in man.get("deltas", {})),
            "delta_files": sum(len(v) for v in man.get("deltas", {}).values()),
        }

    def replace_buckets(
        self,
        df: DataFrame,
        affected_buckets: list[int],
        commit_key: str | None = None,
        new_schema: StructType | None = None,
        watermark_lsn: int | None = None,
        snapshot_lsn: int | None = None,
        max_retries: int = 5,
        validate=None,
        expected_version: int | None = None,
        read_version: int | None = None,
        new_num_buckets: int | None = None,
        expected_num_buckets: int | None = None,
        pin_key: bool = False,
        expected_layout: str | None = None,
        manifest_update: dict | None = None,
    ) -> bool | str:
        """Copy-on-write commit: atomically swap the file lists of
        ``affected_buckets`` for freshly-written parquet of ``df``.

        df must already be the complete new content of those buckets and
        must carry an integer ``_bucket`` column. Returns False when
        ``commit_key`` was already committed (idempotent replay —
        exactly-once under at-least-once delivery).

        ``expected_version`` turns the commit into strict
        compare-and-swap: if any other commit landed since the caller
        read that version, raise CommitConflict instead of retrying on
        top of it. Compaction uses this — its new base was computed FROM
        ``expected_version``, so committing over a newer manifest would
        silently drop the concurrent writer's deltas.

        ``read_version`` is the softer variant every MERGE writer should
        pass: the version its new bucket content was computed FROM. If a
        commit since then touched any of ``affected_buckets`` (per the
        ``touched`` field on each manifest), committing would silently
        drop that writer's rows/deltas — raise CommitConflict so the
        caller re-reads and re-merges. Commits to DISJOINT buckets
        rebase safely and do not conflict.
        """
        if commit_key is not None and commit_key in self.committed_keys():
            return False

        commit_dir, new_files = self._write_partitioned(df, affected_buckets)
        # post-write / pre-commit validation window: data files exist but
        # the manifest swap has NOT happened — a failed validation
        # abandons the commit dir with zero reader-visible effect.
        if validate is not None and not validate():
            shutil.rmtree(commit_dir, ignore_errors=True)
            return "invalid"

        for attempt in range(max_retries):
            man = self.manifest()
            if (
                expected_num_buckets is not None
                and man["num_buckets"] != expected_num_buckets
            ):
                shutil.rmtree(commit_dir, ignore_errors=True)
                raise CommitConflict(
                    f"num_buckets changed {expected_num_buckets} -> "
                    f"{man['num_buckets']}; re-bucket and re-merge"
                )
            if (
                expected_layout is not None
                and self._layout_of(man) != expected_layout
            ):
                shutil.rmtree(commit_dir, ignore_errors=True)
                raise CommitConflict(
                    f"bucket layout changed {expected_layout} -> "
                    f"{self._layout_of(man)}; re-bucket and re-merge"
                )
            if expected_version is not None and man["version"] != expected_version:
                shutil.rmtree(commit_dir, ignore_errors=True)
                raise CommitConflict(
                    f"expected v{expected_version}, found v{man['version']}"
                )
            if read_version is not None and man["version"] != read_version:
                overlap = self._conflicting_buckets(
                    read_version, man, affected_buckets
                )
                if overlap:
                    shutil.rmtree(commit_dir, ignore_errors=True)
                    raise CommitConflict(
                        f"buckets {sorted(overlap)} were modified since "
                        f"v{read_version}; caller must re-read and re-merge"
                    )
            if commit_key is not None and commit_key in (
                set(man["commit_keys"]) | set(man.get("pinned_keys", []))
            ):
                shutil.rmtree(commit_dir, ignore_errors=True)
                return False
            new_man = {
                **man,
                "version": man["version"] + 1,
                "parent": man["version"],
                # the commit-kind marker: copied-forward manifests must
                # not inherit an ancestor's kind, so every commit site
                # stamps its own. manifest_update below may override
                # (compact() stamps "compact", which the changefeed
                # fast path treats as content-neutral).
                "op": "replace",
                "buckets": {**man["buckets"]},
                "deltas": {**man.get("deltas", {})},
                "commit_keys": (
                    man["commit_keys"]
                    + ([commit_key] if commit_key and not pin_key else [])
                )[-MAX_COMMIT_KEYS:],
                "pinned_keys": man.get("pinned_keys", [])
                + ([commit_key] if commit_key and pin_key else []),
                "touched": sorted(int(b) for b in affected_buckets),
                "ts": time.time(),
            }
            for b, files in new_files.items():
                if files:
                    new_man["buckets"][b] = files
                else:
                    new_man["buckets"].pop(b, None)  # bucket emptied
                # a base replacement is fully resolved: deltas folded in
                new_man["deltas"].pop(b, None)
            if new_num_buckets is not None:
                new_man["num_buckets"] = int(new_num_buckets)
            if manifest_update:
                for k, v in manifest_update.items():
                    if v is None:
                        new_man.pop(k, None)
                    else:
                        new_man[k] = v
            if new_schema is not None:
                new_man["schema"] = json.loads(new_schema.json())
            if watermark_lsn is not None:
                new_man["watermark_lsn"] = max(
                    watermark_lsn, man.get("watermark_lsn", -1)
                )
            if snapshot_lsn is not None:
                new_man["snapshot_lsn"] = max(
                    snapshot_lsn, man.get("snapshot_lsn", -1)
                )
            try:
                self._write_manifest(new_man)
                return True
            except CommitConflict:
                if attempt == max_retries - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))
        return True

    def overwrite(
        self,
        df: DataFrame,
        new_schema: StructType | None = None,
        max_retries: int = 3,
    ) -> None:
        """Full rewrite (bootstrap loads / tiny control tables).

        ONE manifest read feeds the bucket count, the routing
        expression, AND the commit-time ``expected_layout`` guard — the
        separate ``num_buckets``/``bucket_expr()`` reads this replaced
        were exactly the stale-expression/fresh-state race the
        ``bucket_plan`` docstring forbids (a ``split_bucket`` landing
        between them misplaces rows with no CommitConflict; ADVICE r3).
        Like ``rescale``, the rewrite lands everything under the PLAIN
        layout and clears any in-flight incremental-rescale state in
        the same commit (``manifest_update={'rescale': None}``) —
        routing with the transitional expression while clearing the
        transition would strand rows in above-``nb`` entries that
        later merge writers never replace."""

        for attempt in range(max_retries):
            man = self.manifest()
            nb = man["num_buckets"]
            key = man.get("bucket_key", "doc_id")
            staged = df.withColumn("_bucket", bucket_id(F.col(key), nb))
            affected = sorted(
                set(range(nb))
                | {int(b) for b in man.get("buckets", {})}
                | {int(b) for b in man.get("deltas", {})}
            )
            try:
                self.replace_buckets(
                    staged,
                    affected_buckets=affected,
                    new_schema=new_schema,
                    expected_layout=self._layout_of(man),
                    manifest_update={"rescale": None},
                )
                return
            except CommitConflict:
                if attempt == max_retries - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))

    def rescale(
        self,
        spark: SparkSession,
        new_num_buckets: int,
        commit_key: str | None = None,
        max_retries: int = 3,
    ) -> dict:
        """Bucket split/merge for table growth (SCALING.md future-work
        item, landed round 2): rewrite the table into a new bucket
        count in ONE atomic commit — data + new ``num_buckets`` + the
        commit key swap together, CAS'd on the version the rewrite was
        computed from (a concurrent commit retries the whole rewrite,
        never silently drops it). MoR deltas are resolved and folded by
        the read. Readers pinned to older versions keep the old layout;
        the next claim() auto-registers the new partitions in the
        tracker (stale rows for vanished buckets are never discovered
        again). At 100 TB this is the escape hatch when buckets outgrow
        executor memory: double num_buckets, one table-scan-sized job."""

        for attempt in range(max_retries):
            base_version = self.current_version()
            man = self.manifest(base_version)
            old_nb = man["num_buckets"]
            key = man.get("bucket_key", "doc_id")
            df = self.read(spark, version=base_version).withColumn(
                "_bucket", bucket_id(F.col(key), new_num_buckets)
            )
            # cover every existing entry (an in-flight incremental
            # rescale may have entries above both bucket counts) and
            # clear any half-done transition state — the full rewrite
            # lands everything under the new layout in one commit
            affected = sorted(
                set(range(max(old_nb, new_num_buckets)))
                | {int(b) for b in man.get("buckets", {})}
                | {int(b) for b in man.get("deltas", {})}
            )
            try:
                applied = self.replace_buckets(
                    df,
                    affected_buckets=affected,
                    commit_key=commit_key,
                    expected_version=base_version,
                    new_num_buckets=new_num_buckets,
                    manifest_update={"rescale": None},
                )
                return {
                    "applied": applied,
                    "from_buckets": old_nb,
                    "to_buckets": new_num_buckets,
                }
            except CommitConflict:
                if attempt == max_retries - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))
        return {"applied": False}

    def begin_rescale(
        self, new_num_buckets: int, max_retries: int = 5
    ) -> dict:
        """Open an ONLINE incremental rescale (VERDICT r2 next-4): the
        table keeps serving reads and applying tail batches while
        ``split_bucket`` migrates one bucket per commit; the last split
        finalizes ``num_buckets`` automatically.

        Linear-hashing invariant making this safe: ``new_num_buckets``
        must be a multiple of the current count, so a key in old bucket
        b can only move to ``b + i*nb`` — entry ids from the two
        numberings never collide, and the effective bucket function
        (``bucket_expr``) is decidable per key from the ``done`` set
        alone. Concurrent appliers capture ``layout_token()`` at plan
        time; a split landing under them turns their commit into
        CommitConflict -> re-bucket + re-merge (never silent
        misplacement). Arbitrary bucket counts go through the offline
        full-rewrite ``rescale``."""
        nb = self.num_buckets
        new = int(new_num_buckets)
        if new == nb:
            return {"applied": False, "reason": "noop"}
        if new % nb != 0 or new < nb:
            raise ValueError(
                f"online rescale requires a multiple of {nb} (got {new}); "
                "use rescale() for arbitrary counts"
            )
        for attempt in range(max_retries):
            man = self.manifest()
            rs = man.get("rescale")
            if rs:
                if rs["to"] == new:
                    return {"applied": False, "reason": "in_progress"}
                raise CommitConflict(
                    f"another rescale to {rs['to']} is in progress"
                )
            new_man = {
                **man,
                "version": man["version"] + 1,
                "parent": man["version"],
                "op": "rescale-begin",
                "rescale": {"to": new, "done": []},
                "touched": [],  # metadata-only: conflicts with no one
                "ts": time.time(),
            }
            try:
                self._write_manifest(new_man)
                return {"applied": True, "from_buckets": nb, "to_buckets": new}
            except CommitConflict:
                if attempt == max_retries - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))
        return {"applied": False}

    def split_bucket(
        self,
        spark: SparkSession,
        bucket: int,
        commit_key: str | None = None,
        max_retries: int = 3,
    ) -> dict:
        """Migrate ONE bucket of an open incremental rescale: rewrite
        entry ``bucket`` (MoR deltas folded) into its ``to/nb`` child
        entries and mark it done — a bucket-sized job, CAS'd on the
        version it read, so tail batches into OTHER buckets commit
        concurrently without conflict. At 100 TB this replaces the
        table-sized offline rewrite with num_buckets independent
        bucket-sized commits interleaved with live ingest."""

        b = int(bucket)
        for attempt in range(max_retries):
            base_version = self.current_version()
            man = self.manifest(base_version)
            rs = man.get("rescale")
            if not rs:
                raise ValueError("no rescale in progress; call begin_rescale")
            nb = man["num_buckets"]
            to = rs["to"]
            if not 0 <= b < nb:
                raise ValueError(f"bucket {b} out of range 0..{nb - 1}")
            if b in rs["done"]:
                return {"applied": False, "reason": "already_split", "bucket": b}
            key = man.get("bucket_key", "doc_id")
            df = self.read(spark, buckets=[b], version=base_version).withColumn(
                "_bucket", bucket_id(F.col(key), to)
            )
            new_ids = sorted(b + i * nb for i in range(to // nb))
            done = sorted(set(rs["done"]) | {b})
            finalize = len(done) == nb
            try:
                applied = self.replace_buckets(
                    df,
                    affected_buckets=new_ids,  # includes b itself (i=0)
                    commit_key=commit_key,
                    read_version=base_version,
                    # the layout guard is LOAD-BEARING here, not just
                    # parity: manifest_update carries the done set
                    # computed at base_version, and replace_buckets'
                    # internal retry would otherwise re-apply it over a
                    # CONCURRENT split's manifest — erasing that
                    # split's done entry and hiding its child entries
                    # from bucket_expr routing. Any layout change since
                    # base therefore conflicts out to THIS loop, which
                    # recomputes done from the fresh manifest.
                    expected_layout=self._layout_of(man),
                    new_num_buckets=to if finalize else None,
                    manifest_update={
                        "rescale": None if finalize else {"to": to, "done": done}
                    },
                )
                return {
                    "applied": applied,
                    "bucket": b,
                    "new_ids": new_ids,
                    "finalized": finalize,
                }
            except CommitConflict:
                # a concurrent apply touched this bucket: re-read its
                # (new) content and retry the split
                if attempt == max_retries - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))
        return {"applied": False, "bucket": b}

    # ------------------------------------------------------------ utility
    def to_pandas(self, spark: SparkSession):
        return self.read(spark).toPandas()

    def compact(
        self, spark: SparkSession, min_files: int = 2, commit_key: str | None = None
    ) -> dict:
        """Small-file maintenance: rewrite every bucket holding >=
        min_files data files into one file each (Iceberg rewrite_data_files
        analog). A no-op when the layout is already tight."""
        base_version = self.current_version()
        man = self.manifest(base_version)
        targets = sorted(
            {
                int(b)
                for b, files in man["buckets"].items()
                if len(files) >= min_files
            }
            | {int(b) for b in man.get("deltas", {})}  # fold MoR deltas
        )
        if not targets:
            return {"compacted_buckets": [], "applied": False}
        df = self.read(spark, buckets=targets, version=base_version).withColumn(
            "_bucket", self.bucket_expr(F.col(self.bucket_key))
        )
        # strict CAS on the version the new base was computed from: a
        # concurrent delta commit makes this raise instead of being
        # silently dropped; callers re-run compaction.
        applied = self.replace_buckets(
            df, targets, commit_key=commit_key, expected_version=base_version,
            # content-neutral marker: compaction folds existing winners
            # into the base without changing logical content, so the
            # changefeed delta fast path may skip this commit
            manifest_update={"op": "compact"},
        )
        return {"compacted_buckets": targets, "applied": applied}

    def expire_versions(
        self,
        keep_last: int = 2,
        min_age_sec: float = 0.0,
        orphan_grace_sec: float = 3600.0,
        max_retries: int = 5,
        sweep_orphans: bool = False,
    ) -> dict:
        """Storage reclamation (VERDICT r4 top item): every CoW commit
        strands the replaced bucket files — one epoch per commit means
        storage grows by ~touched-table-size per epoch, forever. This
        is the Iceberg ``expire_snapshots`` + ``remove_orphan_files``
        analog for LakeTable, in two phases:

        1. **CAS the horizon**: commit a metadata-only manifest
           recording ``min_version`` (the oldest retained version).
           Serialized against concurrent commits by the same manifest
           CAS every writer uses; ``touched=[]`` so no writer is
           spuriously conflicted. Retained = the newest ``keep_last``
           versions plus every version SUPERSEDED less than
           ``min_age_sec`` ago (the in-flight-reader guard: a reader
           can only have pinned a version while it was current, so the
           protection clock starts when its successor committed — not
           at the version's own commit, which may be arbitrarily far
           in the past for a long-lived current version).
           When nothing falls below the horizon the call is a pure
           no-op — no manifest churn, no directory walk — unless
           ``sweep_orphans=True`` forces the orphan pass (crashed
           commits are otherwise reclaimed by the next sweep that
           does expire something).
        2. **Physical delete, after the CAS**: manifests below the
           horizon, then the files those EXPIRED manifests reference
           minus the files any retained manifest still references —
           an O(expired files) set computed purely from metadata
           already in hand (round 6, VERDICT r5 top item). The files
           a normal CoW / compaction supersession strands are exactly
           this set, so the routine path performs NO directory
           listing: at 100 TB (millions of files) a driver-side
           ``os.walk`` + per-file ``stat`` of the whole table per
           expiring sweep — on the ingest cadence — is a full-listing
           scale-killer. Orphans from CRASHED commits (files written,
           manifest swap never happened) appear in no manifest at
           all, so only the walk can find them: that walk runs ONLY
           under ``sweep_orphans=True``, the explicitly scheduled
           maintenance call (Iceberg ``remove_orphan_files`` analog),
           never on the ingest cadence; ``orphan_grace_sec`` protects
           a concurrent commit's files written pre-CAS
           (``_write_partitioned`` lands files BEFORE its manifest
           swap — committed files reaped by the routine path need no
           grace, their manifests prove they are not in-flight).
           Crash between 1 and 2 just leaves garbage for the
           next run: deletion is idempotent and never reader-visible.
           WITHIN phase 2 the order is load-bearing: expired
           manifests are read, their exclusive files reaped, and the
           manifests unlinked LAST — unlinking first would turn a
           mid-phase crash into a permanent leak on the routine path
           (the reclamation set is derived from exactly those
           manifests; round-6 review finding).

        Exactly-once is untouched BY CONSTRUCTION: ``commit_keys`` /
        ``pinned_keys`` ride the CURRENT manifest (copied forward on
        every commit, including this one) — expiring history cannot
        evict a key. Reference analog: bounded control state via bulk
        release (``PostgresJdbcFilterHandler.java:168-187``), applied
        to the data plane.

        Orphan cleanup doubles as failed-commit GC: a writer that
        crashed between ``_write_partitioned`` and its manifest swap
        left a ``c-*`` dir no manifest references — it ages past the
        grace and is reclaimed here.

        Returns ``{applied, horizon, expired_manifests, files_deleted,
        bytes_deleted}``.
        """
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        now = time.time()
        # -------- phase 1: CAS the new horizon into the manifest chain
        for attempt in range(max_retries):
            versions = self._versions()
            cur_v = versions[-1]
            man = self.manifest(cur_v)
            retained = set(versions[-keep_last:])
            if min_age_sec > 0 and len(versions) > 1:
                # a version is expirable only once it has been
                # SUPERSEDED for at least min_age_sec — the clock starts
                # at the SUCCESSOR's commit, not the version's own
                # (round-5 review: a version that stayed current for
                # hours would otherwise be reclaimed one minute after
                # being superseded, under a reader that pinned it while
                # it was still current). Commit timestamps are monotone
                # in version, so the age-protected set is a SUFFIX —
                # binary-search its start in O(log V) manifest reads
                # instead of reading one manifest per young version on
                # every sweep (second review pass: at 1 commit/min with
                # a 1 h floor that was ~60 full-manifest loads per
                # sweep on the ingest hot path).
                cutoff = now - min_age_sec
                lo, hi = 0, len(versions)  # first idx with ts > cutoff
                while lo < hi:
                    mid = (lo + hi) // 2
                    try:
                        m_mid = self.manifest(versions[mid])
                        # a manifest that EXISTS but predates the `ts`
                        # field (never produced by this code) gets the
                        # conservative reading for an unknown
                        # supersession clock: "committed now", i.e.
                        # young/protected (ADVICE r5 — treating it as
                        # epoch 0 would silently strip the in-flight-
                        # reader guard from its predecessor)
                        ts_mid = m_mid["ts"] if "ts" in m_mid else now
                    except FileNotFoundError:
                        ts_mid = 0  # already reclaimed: certainly old
                    if ts_mid > cutoff:
                        hi = mid
                    else:
                        lo = mid + 1
                # retain v_i iff its successor committed after the
                # cutoff: successor index i+1 >= lo  <=>  i >= lo-1
                retained.update(versions[max(0, lo - 1):])
            horizon = max(
                min(retained), man.get("min_version", versions[0])
            )
            if not any(v < horizon for v in versions):
                # nothing expirable: skip the CAS (no manifest churn on
                # a quiet table) and — unless an orphan-only sweep was
                # requested — the O(table files) directory walk too;
                # the runner calls this every few applies, so the no-op
                # path must cost ~one manifest read (round-5 review)
                if not sweep_orphans:
                    return {
                        "applied": False,
                        "reason": "nothing_to_expire",
                        "horizon": horizon,
                        "expired_manifests": 0,
                        "files_deleted": 0,
                        "bytes_deleted": 0,
                    }
                break  # orphan-only: no horizon change, straight to 2
            new_man = {
                **man,
                "version": cur_v + 1,
                "parent": cur_v,
                "op": "expire",
                "min_version": horizon,
                "touched": [],  # metadata-only: conflicts with no one
                "ts": time.time(),
            }
            try:
                self._write_manifest(new_man)
                break
            except CommitConflict:
                if attempt == max_retries - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))
        # -------- phase 2: physical delete (idempotent, post-CAS)
        def _refs(m: dict) -> set[str]:
            out: set[str] = set()
            for kind in ("buckets", "deltas"):
                for files in m.get(kind, {}).values():
                    out.update(
                        os.path.abspath(os.path.join(self.path, f))
                        for f in files
                    )
            return out

        expired = 0
        bytes_deleted = 0
        # Each expired manifest is READ (not yet unlinked): its file
        # list IS the routine reclamation set (metadata in hand — no
        # listing of the data directory). The manifests themselves are
        # unlinked ONLY AFTER their exclusive files are reaped: the
        # reverse order (round-6 review finding 5) permanently leaked
        # a crash window's files on the routine path — once the
        # manifests were gone, no retained metadata referenced them
        # and only the sweep_orphans walk could ever find them again.
        # With reap-first, a crash mid-phase-2 leaves sub-horizon
        # manifests for the next expiring sweep to re-process
        # (idempotent), and deletion stays never-reader-visible: the
        # horizon committed in phase 1, so those versions are already
        # outside the readable contract.
        expired_refs: set[str] = set()
        expired_paths: list[str] = []
        for v in versions:
            if v >= horizon:
                continue
            try:
                expired_refs |= _refs(self.manifest(v))
                expired_paths.append(
                    os.path.join(self.manifest_dir, f"v{v:08d}.json")
                )
            except FileNotFoundError:
                pass
        live: set[str] = set()
        for v in self._versions():
            if v < horizon:
                continue  # still on disk until the unlink pass below
            try:
                live |= _refs(self.manifest(v))
            except FileNotFoundError:
                continue
        files_deleted = 0
        # ancestor dirs of live files: data files sit under
        # c-<id>/_bucket=N/ while the _SUCCESS marker sits at the
        # c-<id>/ root, so marker liveness must look at the SUBTREE,
        # not the same directory (round-5 review)
        data_abs = os.path.abspath(self.data_dir)
        live_dirs: set[str] = set()
        for p in live:
            d = os.path.dirname(p)
            while d.startswith(data_abs):
                live_dirs.add(d)
                if d == data_abs:
                    break
                d = os.path.dirname(d)
        # ---- routine reclamation: (expired-manifest refs − live refs).
        # These files were COMMITTED (their manifests prove it), so no
        # in-flight grace applies; a racing writer cannot resurrect a
        # sub-horizon reference because its conflict check goes
        # full-overlap once its chain crosses the horizon.
        touched_dirs: set[str] = set()

        def _reap(path: str) -> None:
            nonlocal files_deleted, bytes_deleted
            try:
                st = os.stat(path)
                os.unlink(path)
                files_deleted += 1
                bytes_deleted += st.st_size
                touched_dirs.add(os.path.dirname(path))
            except FileNotFoundError:
                pass

        for p in sorted(expired_refs - live):
            _reap(p)
            # the Hadoop checksum side-file dies with its companion
            d, name = os.path.split(p)
            crc = os.path.join(d, f".{name}.crc")
            if os.path.exists(crc):
                _reap(crc)
        # expired manifests go LAST (see the reap-first note above): a
        # crash anywhere earlier re-expires them on the next sweep
        for p in expired_paths:
            try:
                sz = os.path.getsize(p)
                os.unlink(p)
                expired += 1
                bytes_deleted += sz
            except FileNotFoundError:
                pass
        # prune emptied dirs + commit-level markers, bottom-up, ONLY
        # along the dirs we actually deleted from — a live commit dir
        # (subtree still referenced) keeps its _SUCCESS
        for d in sorted(touched_dirs, key=len, reverse=True):
            while d.startswith(data_abs) and d != data_abs:
                if d in live_dirs:
                    break
                for marker in ("_SUCCESS", "._SUCCESS.crc"):
                    mp = os.path.join(d, marker)
                    if os.path.exists(mp):
                        _reap(mp)
                try:
                    os.rmdir(d)
                except OSError:
                    break  # non-empty (e.g. orphans await the sweep)
                d = os.path.dirname(d)
        if not sweep_orphans:
            return {
                "applied": True,
                "horizon": horizon,
                "expired_manifests": expired,
                "files_deleted": files_deleted,
                "bytes_deleted": bytes_deleted,
            }
        # ---- orphan / crashed-commit sweep (EXPLICIT maintenance only):
        # files no manifest ever referenced can only be found by
        # listing; O(table files) driver-side — schedule it, never run
        # it on the ingest cadence
        for root, _dirs, files in os.walk(self.data_dir, topdown=False):
            dir_has_live = os.path.abspath(root) in live_dirs
            for f in files:
                p = os.path.join(root, f)
                if os.path.abspath(p) in live:
                    continue
                # Hadoop side-files ride their companions' liveness:
                # a _SUCCESS marker lives while its commit dir holds
                # any live file; a .X.crc checksum lives while X does
                # (deleting a live file's crc would skip checksum
                # verification on every later read of that file)
                if f in ("_SUCCESS", "._SUCCESS.crc"):
                    if dir_has_live:
                        continue
                elif f.startswith(".") and f.endswith(".crc"):
                    companion = os.path.join(root, f[1:-4])
                    if os.path.abspath(companion) in live:
                        continue
                try:
                    st = os.stat(p)
                    if st.st_mtime > now - orphan_grace_sec:
                        continue  # possibly a concurrent pre-CAS write
                    os.unlink(p)
                    files_deleted += 1
                    bytes_deleted += st.st_size
                except FileNotFoundError:
                    continue
            if root != self.data_dir:
                try:
                    os.rmdir(root)  # prune dirs emptied above
                except OSError:
                    pass  # non-empty: still holds live files
        return {
            "applied": True,
            "horizon": horizon,
            "expired_manifests": expired,
            "files_deleted": files_deleted,
            "bytes_deleted": bytes_deleted,
        }
