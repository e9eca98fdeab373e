"""Benchmark: CDC replay throughput + headline operator queries.

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...,
   "replay_events": N, "replay_events_per_sec": X, "parallelism": P}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS  (default 32),
     DPS_BENCH_EVENTS  (override replay event count).

The headline metric is the north-rule one: change-events/sec applied
replaying a deterministic event log through the full engine (snapshot
epoch + tail epochs, exactly-once commits). BENCH/BASELINE.md records
the scaling-efficiency evidence taken with it at two parallelism levels.

Note: `jaccard_pairs` re-entered the timed set in round 2 (LSH-gated
+ set-canonicalized). Round 3 found most of its round-2 cost was
shared-subplan RECOMPUTATION (fixed via localCheckpoint — see
BENCH/BASELINE.md round-3 log); the residual is the genuinely
Omega(output) expansion (~8.9M true pairs at sf0.1 on this ~40-word-
vocabulary corpus). `core_sec` reports the round-1-comparable
subtotal (explicit R1_CORE list).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# Off-heap Tungsten + off-heap parquet column vectors by default for
# the bench: measured +59% best / +68% median replay throughput at
# local[32] and neutral at local[8] (round-3 A/B, BENCH/BASELINE.md
# — the GC/allocation wall was the 32-thread bottleneck). Override with
# DPS_OFFHEAP=<size> or disable with DPS_OFFHEAP=0.
os.environ.setdefault("DPS_OFFHEAP", "20g")

BENCH_QUERIES = [
    "cdc_last_image",
    "cdc_upsert_final_state",
    "cdc_snapshot_wal_conflict",
    "bucket_assignment",
    "tracker_discovery",
    "catchup_backlog",
    "hot_key_histogram",
    "salted_agg",
    "window_rollup",
    "session_rollup",
    "session_rollup_chunked",
    "asof_join",
    "asof_join_chunked",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "quantile_stats",
    "range_join",
    "dedup_exact",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "jaccard_pairs",
    "near_dup_clusters",
    "simhash",
    "simhash_near_dup",
    "simhash_clusters",
    "token_count",
    "quality_score",
    "lang_id",
    "fingerprint",
    "cosine_topk",
    "ivf_topk",
    "embedding_near_dup",
    "embedding_near_dup_clusters",
    "multimodal_meta",
    "frame_sample",
]

# the queries that existed in round 1 — core_sec sums exactly these
R1_CORE = [
    "cdc_replay",
    "cdc_last_image",
    "cdc_upsert_final_state",
    "cdc_snapshot_wal_conflict",
    "bucket_assignment",
    "tracker_discovery",
    "catchup_backlog",
    "hot_key_histogram",
    "salted_agg",
    "dedup_exact",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash",
    "token_count",
    "quality_score",
    "lang_id",
    "fingerprint",
    "cosine_topk",
    "ivf_topk",
    "multimodal_meta",
    "frame_sample",
]


def guess_sf(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return 0.1


def run_replay(spark, sf: float) -> dict:
    """North-rule metric: replay a seeded change log through the full
    engine (snapshot + WAL tail epochs). Generation is NOT timed."""
    from debezium_partial_snapshotter_spark.config import PipelineConfig
    from debezium_partial_snapshotter_spark.sources.eventlog import (
        EventLogSpec,
        generate_change_log,
        generate_initial_state,
    )
    from debezium_partial_snapshotter_spark.sources.readers import ParquetWalSource
    from debezium_partial_snapshotter_spark.streaming.runner import (
        PartialIngestRunner,
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_events = int(os.environ.get("DPS_BENCH_EVENTS", int(8_000_000 * sf)))
    n_docs = max(1000, n_events // 20)
    n_segments = int(os.environ.get("DPS_BENCH_SEGMENTS", "4"))
    wh = tempfile.mkdtemp(prefix="dps_bench_")
    try:
        spec = EventLogSpec(
            n_docs=n_docs,
            n_events=n_events,
            n_segments=n_segments,
            seed=42,
            mean_tokens=48.0,
            hot_frac=0.001,
            hot_weight=100.0,
        )
        # deterministic input may be cached across runs (the scaling
        # bench replays the IDENTICAL bytes at both parallelism levels)
        cache_root = os.environ.get("DPS_BENCH_CACHE_DIR")
        key = f"e{n_events}_d{n_docs}_s{n_segments}_seed{spec.seed}"
        src_dir = (
            os.path.join(cache_root, key) if cache_root else os.path.join(wh, "source")
        )
        state_path = os.path.join(src_dir, "state.parquet")
        log_dir = os.path.join(src_dir, "wal")
        if not os.path.exists(state_path):
            os.makedirs(src_dir, exist_ok=True)
            from debezium_partial_snapshotter_spark.sources.eventlog import (
                initial_state_table,
            )

            pq.write_table(
                initial_state_table(spec),
                state_path + ".tmp",
                row_group_size=65_536,
            )
            generate_change_log(spec, out_dir=log_dir)
            os.rename(state_path + ".tmp", state_path)

        # bucket count is FIXED (not tied to parallelism) so the scaling
        # bench compares identical work at different core counts
        nb = int(os.environ.get("DPS_BENCH_BUCKETS", "32"))
        cfg = PipelineConfig(
            pipeline_id="bench",
            warehouse=os.path.join(wh, "wh"),
            num_buckets=nb,
        )
        # the live log starts EMPTY: the snapshot window must open before
        # the WAL "arrives", else the watermark filter correctly skips
        # every tail event (WAL lsn <= snapshot watermark = already
        # reflected in the snapshot) and nothing is measured
        live_log = os.path.join(wh, "live_wal")
        os.makedirs(live_log)
        cfg.write_mode = os.environ.get("DPS_BENCH_MODE", cfg.write_mode)
        src = ParquetWalSource(spark, state_path, live_log, num_buckets=nb)
        runner = PartialIngestRunner(spark, cfg, src)

        segs = sorted(
            os.path.join(log_dir, f)
            for f in os.listdir(log_dir)
            if f.endswith(".parquet")
        )
        t0 = time.time()
        runner.snapshot_epoch()
        for seg in segs:  # one tail epoch per arriving segment
            staged = os.path.join(live_log, os.path.basename(seg))
            os.symlink(seg, staged)
            runner.tail_batch(src.wal_batch([staged]))
        wall = time.time() - t0
        total_events = n_docs + n_events  # snapshot reads + WAL events
        return {
            "replay_sec": round(wall, 3),
            "replay_events": total_events,
            "replay_events_per_sec": round(total_events / wall, 1),
        }
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def main() -> None:
    from debezium_partial_snapshotter_spark.session import get_spark

    import __spark_entry__ as entry_mod

    sf = guess_sf(SF_DIR)
    spark = get_spark("dps-bench", parallelism=CPUS, shuffle_partitions=CPUS)

    replay_only = bool(os.environ.get("DPS_BENCH_REPLAY_ONLY"))
    # the headline replay number is median-of-n (VERDICT r3 item 8:
    # one parsed run is noise-exposed on a shared host — r3's "10%
    # in-bench regression" was run-to-run variance). Replay-only mode
    # (the scaling bench) keeps n=1: that script aggregates its own
    # repeats and interleaves run order itself.
    n_runs = max(
        1,
        int(
            os.environ.get(
                "DPS_BENCH_REPLAY_RUNS", "1" if replay_only else "3"
            )
        ),
    )
    runs = [run_replay(spark, sf) for _ in range(n_runs)]
    by_time = sorted(runs, key=lambda r: r["replay_sec"])
    replay = dict(by_time[len(runs) // 2])  # median by wall time
    # in-session repeats expose a large JVM-warmup effect (measured
    # ~27.6s cold -> ~8.4s warm at sf0.1/local[32]): the engine is a
    # LONG-RUNNING service, so the warm median is the steady-state
    # number, but rounds 1-3 reported a cold first run — keep both,
    # in run order, for round-over-round comparability.
    replay["replay_runs_sec"] = [r["replay_sec"] for r in runs]
    replay["replay_cold_sec"] = runs[0]["replay_sec"]
    replay["replay_cold_events_per_sec"] = runs[0]["replay_events_per_sec"]

    qtimes: dict[str, float] = {"cdc_replay": replay["replay_sec"]}
    qs = entry_mod.queries()
    if replay_only:
        out = {
            "metric": "cdc_replay",
            "value": replay["replay_sec"],
            "unit": "sec",
            "queries": qtimes,
            "sf": sf,
            "parallelism": CPUS,
            **replay,
        }
        spark.stop()
        print(json.dumps(out))
        return
    import gc

    for name in BENCH_QUERIES:
        fn = qs[name]
        t0 = time.time()
        df = fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        qtimes[name] = round(time.time() - t0, 3)
        # drop the query's DataFrame refs and force a JVM GC so
        # ContextCleaner actually releases its localCheckpoint blocks
        # before the next query is timed — python gc alone only
        # detaches the py4j refs; the JVM frees the blocks when ITS
        # collector fires the weak references. Otherwise checkpointed
        # RDDs from earlier near-dup queries stay in the block manager
        # and tax later queries (measured: embedding clusters 29.4s ->
        # 5.5s across a full run).
        del df
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    total = round(sum(qtimes.values()), 3)
    out = {
        "metric": "cdc_replay_plus_headline_queries",
        "value": total,
        "unit": "sec",
        "queries": qtimes,
        # round-1-comparable subtotal: an EXPLICIT sum over the round-1
        # query set, so queries added in later rounds (r2: jaccard/
        # embedding near-dup; r3: clusters, windows, asof, simhash
        # near-dup) never skew the round-over-round comparison
        # loud failure if R1_CORE ever drifts from the timed set — a
        # silent .get(q, 0) would skew the round-over-round comparison
        "core_sec": round(sum(qtimes[q] for q in R1_CORE), 3),
        # r1-r3 core_sec embedded a COLD replay; this is the
        # methodology-comparable variant after the median-of-n change
        "core_sec_cold_replay": round(
            sum(qtimes[q] for q in R1_CORE)
            - qtimes["cdc_replay"]
            + replay["replay_cold_sec"],
            3,
        ),
        "sf": sf,
        "parallelism": CPUS,
        **replay,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
