"""B5 — MERGE-style upsert apply into the bucketed lake table.

Semantically ``MERGE INTO target ON t.doc_id = s.doc_id
WHEN MATCHED AND s.op='d' THEN DELETE / WHEN MATCHED THEN UPDATE /
WHEN NOT MATCHED AND s.op!='d' THEN INSERT`` — executed as bucketed
copy-on-write:

1. bucket pruning: only buckets containing incoming keys are read —
   the single most important scale property (an epoch touching 0.1% of
   keys reads/writes ~0.1% of a 100 TB table, never the table);
2. stored rows carry ``(_lsn, _op_rank)``, so in-batch dedup and the
   merge are ONE winner resolution over (current ∪ batch)
   (``functions.resolve_winners``) — a stored snapshot read at
   watermark W still loses to a late-arriving WAL event with lsn >= W,
   preserving reference conflict-resolution semantics across epochs;
3. one atomic manifest swap commits data + schema evolution + the
   exactly-once commit key together.

The merge shuffles each affected bucket's rows once (the per-key max
plus its hash join-back), and the commit's write shuffles the winners
once more on ``_bucket`` — no window over the whole table, no
driver-side row loops.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from debezium_partial_snapshotter_spark.functions import op_rank, resolve_winners
from debezium_partial_snapshotter_spark.operators.schema_evolution import (
    conform,
    merge_schemas,
    schemas_equal,
)
from debezium_partial_snapshotter_spark.plans.lake import CommitConflict, LakeTable

#: Diagnostic: how often commit validation had to recount because the
#: Observation metrics were unavailable (should stay 0 outside the
#: AQE-folded-empty-write edge case; a nonzero count on the hot path
#: means epochs are paying a full re-merge).
OBSERVATION_FALLBACKS = 0

#: CommitConflict re-merges ``apply_batch`` runs before it re-raises.
MERGE_RETRIES = 3

SYSTEM_FIELDS = [
    StructField("_lsn", LongType(), False),
    StructField("_op_rank", IntegerType(), False),
]
SYSTEM_NAMES = {f.name for f in SYSTEM_FIELDS}


def user_schema(table_schema: StructType) -> StructType:
    return StructType([f for f in table_schema.fields if f.name not in SYSTEM_NAMES])


def with_system(schema: StructType) -> StructType:
    return StructType(list(schema.fields) + SYSTEM_FIELDS)


def empty_table_for(path: str, payload_schema: StructType, num_buckets: int) -> LakeTable:
    return LakeTable.create(
        path, with_system(payload_schema), num_buckets=num_buckets
    )


def apply_batch(
    table: LakeTable,
    events: DataFrame,
    commit_key: str | None = None,
    salt_buckets: int = 0,
    write_mode: str = "cow",
    watermark_kind: str = "wal",
) -> dict:
    """Apply one micro-batch / epoch of change events. Idempotent under
    re-delivery of the same commit_key (returns ``applied=False``).

    write_mode:
      - 'cow' (default): resolve against current bucket content and
        rewrite affected buckets — reads stay cheap.
      - 'mor': write ONLY the batch winners (incl. delete tombstones)
        as delta files; readers resolve, ``LakeTable.compact`` folds.
        Cuts write amplification for epochs touching a small fraction
        of each bucket — at a 100 TB table this is the difference
        between rewriting ~1 TB and writing ~1 GB per epoch.

    watermark_kind:
      - 'wal' (default): the batch is replayed WAL — advance the
        manifest's global watermark_lsn (the tail/catchup filter).
      - 'snapshot': the batch is a snapshot scan — advance ONLY
        snapshot_lsn. A partial snapshot claiming some partitions must
        NOT advance the WAL filter, or log events not yet applied for
        UNclaimed partitions would be skipped forever (silent loss);
        the (lsn, op_rank) max-merge keeps re-applying the overlapping
        WAL events idempotent.

    The stats carry ``retries`` (CommitConflict re-merges, at most
    ``MERGE_RETRIES``) and ``tie_guard`` (whether the duplicate-delivery
    guard ran after a detected tie).
    """
    if write_mode not in ("cow", "mor"):
        raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")
    if watermark_kind not in ("wal", "snapshot"):
        raise ValueError(
            f"watermark_kind must be 'wal' or 'snapshot', got {watermark_kind!r}"
        )
    retries, tie_guard = 0, False
    while True:
        try:
            stats = _merge_and_commit(
                table, events, commit_key, salt_buckets, write_mode,
                tie_guard, watermark_kind,
            )
        except CommitConflict:
            # a concurrent writer committed into our buckets after we
            # read them, or a rescale changed num_buckets under us: the
            # merge is stale — re-plan, re-read and re-merge.
            if retries >= MERGE_RETRIES:
                raise
            retries += 1
            continue
        if stats["applied"] != "invalid":
            return {**stats, "retries": retries, "tie_guard": tie_guard}
        # a genuine duplicate-delivery tie: redo with the guard on
        tie_guard = True


def _merge_and_commit(
    table: LakeTable,
    events: DataFrame,
    commit_key: str | None,
    salt_buckets: int,
    write_mode: str,
    tie_guard: bool,
    watermark_kind: str,
) -> dict:
    """One attempt of :func:`apply_batch`. Raises CommitConflict when the
    merge went stale; ``applied == "invalid"`` reports a tie detected
    before the manifest swap."""
    t0 = time.time()
    spark = events.sparkSession
    if commit_key is not None and commit_key in table.committed_keys():
        return {"applied": False, "reason": "duplicate_commit_key"}

    # Effective bucket assignment + the layout token it was planned
    # under, from ONE metadata read (bucket_plan): during an ONLINE
    # incremental rescale the two differ from plain md5 % nb, and a
    # split landing between here and the commit turns the commit into
    # CommitConflict (re-bucket + re-merge) instead of silently
    # misplacing rows. Reading them separately would reintroduce the
    # race the token guards against (stale expression + fresh token).
    _, bexpr, layout = table.bucket_plan(F.col("doc_id"))

    # ---- 1. plan: per-bucket row counts + LSN ranges. A cheap scan —
    # column-pruned to (doc_id, lsn), partial-aggregated to <= nb rows
    # per map task. Feeds bucket pruning AND per-partition lineage.
    per_bucket = (
        events.groupBy(bexpr.alias("_b"))
        .agg(F.count(F.lit(1)).alias("n"), F.max("lsn").alias("mx"))
        .collect()
    )
    if not per_bucket:
        return {"applied": False, "reason": "empty_batch"}
    affected = sorted(int(r["_b"]) for r in per_bucket)
    batch_watermark = max(int(r["mx"]) for r in per_bucket)
    bucket_rows = {int(r["_b"]): int(r["n"]) for r in per_bucket}
    n_events = sum(bucket_rows.values())

    # ---- 2. schema evolution (add-column / type-widen), driver-side
    payload_schema: StructType = events.schema["after"].dataType
    cur_user = user_schema(table.schema())
    merged = merge_schemas(cur_user, payload_schema)
    evolved = not schemas_equal(merged, cur_user)

    # ---- 3+4. dedup and merge COLLAPSE into one max: max over
    # (current ∪ raw batch) == max(current, max(batch)) — associativity
    # makes the separate in-batch dedup pass and the MERGE conflict
    # resolution one single shuffle (resolve_winners).
    batch_cand = events.select(
        F.col("doc_id").alias("__key"),
        F.col("lsn").alias("_lsn"),
        op_rank(F.col("op")).alias("_op_rank"),
        (F.col("op") == "d").alias("_is_delete"),
        F.col("after.*"),
    )
    # after.doc_id is null for deletes; the envelope key is canonical
    batch_cand = batch_cand.drop("doc_id").withColumnRenamed("__key", "doc_id")
    batch_cand = conform(batch_cand, with_candidates_schema(merged))

    read_version = None
    if write_mode == "mor":
        # MoR: resolve within the batch only; global resolution happens
        # at read time (the reader's max covers any epoch ordering)
        all_cand = batch_cand
    else:
        # Pin the version the merge is computed FROM — the commit below
        # passes it as read_version so a concurrent commit into the same
        # buckets raises CommitConflict (re-read + re-merge) instead of
        # being silently overwritten by stale content.
        read_version = table.current_version()
        current = table.read(spark, buckets=affected, version=read_version)
        all_cand = conform(
            current.withColumn("_is_delete", F.lit(False)),
            with_candidates_schema(merged),
        ).unionByName(batch_cand)

    obs_keys = Observation()
    winners = resolve_winners(all_cand, "doc_id", salt_buckets, observe=obs_keys)
    if tie_guard:
        # a duplicate-delivered event ties with itself (same key, same
        # lsn, same rank, identical content) — keep exactly one copy.
        # dropDuplicates compiles to SortAggregate over the full winner
        # set (~45% of epoch cost at 32 cores), so the default hot path
        # skips it and instead VALIDATES tie-freeness pre-commit (below),
        # retrying with the guard on only when a tie actually occurred.
        winners = winners.dropDuplicates(["doc_id"])
    # ONE observation of the winners feeds both the tie check and
    # rows_live: a CoW write drops the tombstones after this point
    obs = Observation()
    winners = winners.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("_is_delete")).alias("n_deletes"),
    )

    def _obs_get(o):
        """Observation metrics can be unavailable when AQE folds the
        observed subtree away (seen on Spark 4.1 when a delete-only
        batch empties its buckets: the write plan propagates an empty
        relation and Observation.get dies in toPyRow). Return None and
        let callers fall back to an explicit recount."""
        try:
            return o.get
        except Exception:
            return None

    validate = None
    if not tie_guard:
        # winner rows observed during the write must equal the distinct
        # key count; checked AFTER the data files land but BEFORE the
        # manifest swap — a detected tie abandons the commit dir.
        def validate():
            rows, keys = _obs_get(obs), _obs_get(obs_keys)
            if rows is not None and keys is not None:
                return rows["n_rows"] == keys["n_keys"]
            # metrics lost to plan folding: recount explicitly (one
            # extra job, edge case only — never the hot path)
            global OBSERVATION_FALLBACKS
            OBSERVATION_FALLBACKS += 1
            return winners.count() == winners.select("doc_id").distinct().count()

    # ---- 5. atomic commit (data + schema + commit key + watermark)
    commit_kwargs = dict(
        commit_key=commit_key,
        new_schema=with_system(merged) if evolved else None,
        validate=validate,
        expected_layout=layout,
        # snapshot keys are pinned: their events escape the
        # lsn > watermark replay filter, so only the key blocks a very
        # late redelivery (see lake.MAX_COMMIT_KEYS)
        pin_key=watermark_kind == "snapshot",
        **(
            {"watermark_lsn": batch_watermark}
            if watermark_kind == "wal"
            else {"snapshot_lsn": batch_watermark}
        ),
    )
    if write_mode == "mor":
        # keep tombstones: a delta delete must shadow older base rows
        new_content = winners.withColumn("_bucket", bexpr)
        applied = table.append_deltas(new_content, **commit_kwargs)
    else:
        new_content = (
            winners.where(~F.col("_is_delete"))
            .drop("_is_delete")
            .withColumn("_bucket", bexpr)
        )
        applied = table.replace_buckets(
            new_content, affected_buckets=affected, read_version=read_version,
            **commit_kwargs,
        )

    if applied == "invalid":
        return {"applied": applied}
    wall = time.time() - t0
    obs_rows = _obs_get(obs) if applied else None
    live = None
    if obs_rows is not None:
        live = obs_rows["n_rows"]
        if write_mode == "cow":
            live -= obs_rows["n_deletes"]
    return {
        "applied": applied,
        "affected_buckets": affected,
        "bucket_rows": bucket_rows,
        "batch_keys": n_events,
        "watermark_lsn": batch_watermark,
        "schema_evolved": evolved,
        "rows_live": live,
        "wall_ms": int(wall * 1000),
    }


def with_candidates_schema(user: StructType) -> StructType:
    return StructType(
        list(user.fields)
        + SYSTEM_FIELDS
        + [StructField("_is_delete", BooleanType(), False)]
    )
