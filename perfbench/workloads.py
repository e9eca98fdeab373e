"""The closed-loop workloads. One client: each epoch, sync or query
starts after the previous one returns.

A workload owns its pipeline state and exposes ``bootstrap`` (a fresh
pipeline, repeated for the set-up median), ``warmup``, ``run(rec,
seconds)`` and ``finish`` (final checks and metrics). Only ``rec.op``
blocks are timed; the loop stops at the first pass or cycle boundary
after two of them and ``seconds`` of timed work, so every run times the
same mix.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import checks
import inputs

import __spark_entry__ as entry
from debezium_partial_snapshotter_spark.config import PipelineConfig
from debezium_partial_snapshotter_spark.operators.upsert import empty_table_for
from debezium_partial_snapshotter_spark.plans.changefeed import ChangefeedMirror
from debezium_partial_snapshotter_spark.schemas import CHANGE_EVENT_SCHEMA_V2, TOKENS_SCHEMA
from debezium_partial_snapshotter_spark.sources.readers import ParquetWalSource
from debezium_partial_snapshotter_spark.streaming.runner import PartialIngestRunner

HERE = os.path.dirname(os.path.abspath(__file__))


class Recorder:
    """Timed operations and check outcomes.

    In a traced run, whole passes (or cycles) alternate between traced
    and untraced, and every sample is filed under its flag, so the
    tracing overhead is measured in-process over the same mix of
    operations. Warm-up operations are never traced."""

    def __init__(self, tracer, trace_mode: bool, gc_probe):
        self.tracer = tracer
        self.trace_mode = trace_mode
        self.gc_probe = gc_probe
        self.warming = True
        self.samples: dict[str, list[tuple[float, bool]]] = {}
        self.gc_s: dict[str, float] = {}
        self.groups: list[str] = []
        self.tracing = False
        self.attempted = 0
        self.failed = 0
        self.checks_ok = True
        self.errors: list[str] = []
        self.measured = 0.0

    def start_measuring(self) -> None:
        self.warming = False
        self.samples.clear()
        self.measured = 0.0

    def alternate(self) -> None:
        """Start a pass: traced if the previous one was not."""
        self.tracing = self.trace_mode and not self.tracing

    def op(self, kind: str):
        return _Op(self, kind)

    def times(self, kind: str, traced: bool = False) -> list[float]:
        return [d for d, t in self.samples.get(kind, []) if t == traced]

    def p50(self, kind: str) -> float:
        """Median of the untraced samples of ``kind``, or of the traced
        ones when a traced run made none untraced; 0 without samples."""
        xs = self.times(kind) or self.times(kind, traced=True)
        return statistics.median(xs) if xs else 0.0

    def check(self, name: str, ok: bool, rejects_perturbed: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check failed: {name}")
        if not rejects_perturbed:
            self.checks_ok = False
            self.errors.append(f"check accepts a perturbed output: {name}")


class _Op:
    def __init__(self, rec: Recorder, kind: str):
        self.rec, self.kind = rec, kind
        self.seconds = 0.0
        self.traced = False

    def __enter__(self):
        rec = self.rec
        self.traced = rec.tracing and not rec.warming
        group = f"pb-{len(rec.groups)}-{self.kind}"
        if self.traced:
            rec.groups.append(group)
            self.gc0 = rec.gc_probe()
        rec.tracer.enabled = self.traced
        self.span = rec.tracer.operation(group, f"op.{self.kind}")
        self.span.__enter__()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, exc_type, exc, tb):
        rec = self.rec
        self.seconds = time.perf_counter() - self.t0
        self.span.__exit__(exc_type, exc, tb)
        rec.tracer.enabled = False
        if self.traced:
            rec.gc_s[self.kind] = rec.gc_s.get(self.kind, 0.0) + rec.gc_probe() - self.gc0
        rec.attempted += 1
        rec.measured += self.seconds
        if exc_type is not None:
            rec.failed += 1
            return False
        rec.samples.setdefault(self.kind, []).append((self.seconds, self.traced))
        return False


def tail_percentile(xs: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it:
    (percentile, value, sample count); (0, 0, n) when n < 11."""
    n = len(xs)
    if n < 11:
        return 0.0, 0.0, n
    pct = 100.0 * (n - 10) / n
    return pct, float(np.percentile(xs, pct)), n


class DirBytes:
    """Parquet files written under a directory since the last call,
    found by listing (committed files are immutable)."""

    def __init__(self, path: str):
        self.path = path
        self.seen: set[str] = set()

    def new(self) -> tuple[int, int]:
        nbytes = nfiles = 0
        for root, _dirs, files in os.walk(self.path):
            for f in files:
                p = os.path.join(root, f)
                if not f.endswith(".parquet") or p in self.seen:
                    continue
                self.seen.add(p)
                nbytes += os.path.getsize(p)
                nfiles += 1
        return nbytes, nfiles


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def referenced_bytes(table) -> int:
    """Bytes of the data files the table's current manifest references."""
    man = table.manifest()
    return sum(
        os.path.getsize(os.path.join(table.path, f))
        for kind in ("buckets", "deltas")
        for files in man.get(kind, {}).values()
        for f in files
    )


def stage(seg: dict, live_dir: str) -> str:
    """Make a WAL segment visible to the source, as its arrival."""
    dst = os.path.join(live_dir, os.path.basename(seg["path"]))
    os.symlink(seg["path"], dst)
    return dst


class Workload:
    MAIN_OPS: tuple[str, ...] = ()

    def __init__(self, spark, meta: dict, workdir: str, seed: int):
        self.spark, self.meta, self.workdir, self.seed = spark, meta, workdir, seed
        self.written_bytes = self.written_files = self.commits = 0

    def more(self, rec: Recorder, seconds: float, done: int) -> bool:
        """Keep going for at least two whole passes (or cycles) and
        ``seconds`` of timed work. Stopping after one on a slow host and
        two on a fast one would time colder operations exactly when the
        host is slow. A traced run so times a traced and an untraced one."""
        return done < 2 or rec.measured < seconds

    def op_samples(self, rec: Recorder, traced: bool) -> list[float]:
        return rec.times(self.MAIN_OPS[-1], traced)

    def evolved_per_pass(self) -> float:
        return 0.0

    def written(self) -> tuple[int, int, int]:
        return self.written_bytes, self.written_files, self.commits

    def traced_extra(self, rec: Recorder, cache_root: str) -> None:
        """Layers no operation of the workload reaches, run once after
        the measurement of a traced run."""


# ------------------------------------------------------------- bulk_replay
class BulkReplay(Workload):
    """Snapshot epoch, then one CoW tail epoch per WAL segment, each
    pass into a fresh warehouse; the later segments evolve the schema."""

    MAIN_OPS = ("snapshot_epoch", "tail_epoch")

    def __init__(self, *args):
        super().__init__(*args)
        self.p = None
        self.passes = 0
        self.input_bytes = os.path.getsize(self.meta["state"]) + sum(
            os.path.getsize(s["path"]) for s in self.meta["segments"]
        )
        self.write_amps: list[float] = []
        self.evolved: list[int] = []
        self.oracles: dict[tuple, object] = {}
        self.items = {False: 0, True: 0}  # rows and events replayed, by traced
        self.wall = {False: 0.0, True: 0.0}

    def count(self, op, items: int) -> None:
        self.items[op.traced] += items
        self.wall[op.traced] += op.seconds

    def throughput(self) -> float:
        return self.items[False] / self.wall[False]

    def bootstrap(self, log: dict | None = None) -> None:
        """A fresh pipeline over ``log`` (default: the measured input)."""
        log = log or self.meta
        if self.p is not None:
            shutil.rmtree(self.p["wh"], ignore_errors=True)
        wh = os.path.join(self.workdir, f"pass-{self.passes}")
        self.passes += 1
        live = os.path.join(wh, "live_wal")
        os.makedirs(live)
        cfg = PipelineConfig(
            pipeline_id="bulk",
            warehouse=os.path.join(wh, "wh"),
            num_buckets=inputs.NUM_BUCKETS,
            write_mode="cow",
        )
        state, nb = log["state"], inputs.NUM_BUCKETS
        src = ParquetWalSource(self.spark, state, live, num_buckets=nb)
        src_v2 = ParquetWalSource(
            self.spark, state, live, num_buckets=nb, event_schema=CHANGE_EVENT_SCHEMA_V2
        )
        runner = PartialIngestRunner(self.spark, cfg, src)
        self.p = {"wh": wh, "live": live, "src": src, "src_v2": src_v2, "runner": runner,
                  "log": log}

    def one_pass(self, rec: Recorder) -> int:
        """Replay into the bootstrapped pipeline; returns segments applied."""
        p = self.p
        runner, log = p["runner"], p["log"]
        with rec.op("snapshot_epoch") as o:
            runner.snapshot_epoch()
        self.count(o, log["snapshot_rows"])
        applied = evolved = 0
        for seg in log["segments"]:
            staged = stage(seg, p["live"])
            src = p["src_v2"] if seg["v2"] else p["src"]
            with rec.op("tail_epoch") as o:
                stats = runner.tail_batch(src.wal_batch([staged]))
            self.count(o, seg["events"])
            applied += 1
            evolved += bool(stats.get("schema_evolved"))
        nbytes, nfiles = DirBytes(runner.table.data_dir).new()
        self.written_bytes += nbytes
        self.written_files += nfiles
        self.commits += 1 + applied
        if applied == len(log["segments"]):
            self.evolved.append(evolved)
            if log is self.meta:
                self.write_amps.append(nbytes / self.input_bytes)
        return applied

    def check_pass(self, rec: Recorder, applied: int) -> None:
        log = self.p["log"]
        key = (log["state"], applied)
        if key not in self.oracles:
            self.oracles[key] = checks.oracle_image(log["state"], log["segments"][:applied])
        got = checks.engine_image(self.p["runner"].table.read(self.spark))
        rec.check("bulk_replay: table == oracle", *checks.image_check(got, self.oracles[key]))
        if applied == len(log["segments"]):
            rec.check(
                "bulk_replay: exactly one schema-evolving epoch", self.evolved[-1] == 1, True
            )
        shutil.rmtree(self.p["wh"], ignore_errors=True)
        self.p = None

    def warmup(self, rec: Recorder) -> float:
        """The cold pass: a full replay of the small warm-up log."""
        self.bootstrap(self.meta["warmup"])
        t0 = rec.measured
        self.check_pass(rec, self.one_pass(rec))
        return rec.measured - t0

    def run(self, rec: Recorder, seconds: float) -> None:
        """Whole passes, so every run times the same mix of epochs."""
        self.items, self.wall = {False: 0, True: 0}, {False: 0.0, True: 0.0}
        done = 0
        while self.more(rec, seconds, done):
            rec.alternate()
            self.bootstrap()
            self.check_pass(rec, self.one_pass(rec))
            done += 1

    def finish(self, rec: Recorder) -> tuple[dict, dict]:
        tails = rec.p50("tail_epoch")
        # The first full-size snapshot of a run is still warming up: over
        # ten seeds it took 1.09-1.38 times the next one. As one of two
        # samples it would set the run-to-run spread, so it is left out
        # when a later pass gives another.
        xs = rec.times("snapshot_epoch") or rec.times("snapshot_epoch", traced=True)
        snaps = statistics.median(xs[1:] or xs)
        e2e = {
            "throughput_per_s": (self.throughput(), "1/s"),
            "op_p50_s": (tails, "s"),
            "key_latency_s": (snaps, "s"),
        }
        named = {
            "replay_events_per_s": (self.throughput(), "1/s"),
            "tail_epoch_p50_s": (tails, "s"),
            "snapshot_epoch_s": (snaps, "s"),
            "write_amp": (statistics.median(self.write_amps), "ratio"),
        }
        return e2e, named

    def evolved_per_pass(self) -> float:
        return statistics.median(self.evolved)

    def traced_extra(self, rec: Recorder, cache_root: str) -> None:
        dedup_pass(self.spark, rec, self.seed, cache_root)


# ----------------------------------------------------------- trickle_mirror
class TrickleMirror(Workload):
    """A MoR base table, then cycles of a small tail epoch, a partial
    re-snapshot of 4 of the 32 partitions, another epoch and a mirror
    sync; version expiration is on. Runs stop only at cycle ends."""

    MAIN_OPS = ("epoch_commit",)
    CYCLE = ("epoch_commit", "resnapshot", "epoch_commit", "mirror_sync")
    RESNAPSHOT_PARTS = 4
    KEEP_LAST = 8
    # A smaller replica: a delta sync appends one file per mirror bucket,
    # so the mirror compacts every third one, never within a run.
    MIRROR_BUCKETS = 8

    def __init__(self, *args):
        super().__init__(*args)
        self.rng = np.random.default_rng(self.seed)
        self.segments = list(self.meta["segments"])
        self.applied: list[dict] = []
        self.pending: list[float] = []  # staged-at times not yet mirrored
        self.lags: list[float] = []
        self.input_bytes = os.path.getsize(self.meta["base"])
        self.p = None
        self.builds = 0

    def bootstrap(self) -> None:
        if self.p is not None:
            shutil.rmtree(self.p["wh"], ignore_errors=True)
        wh = os.path.join(self.workdir, f"pipeline-{self.builds}")
        self.builds += 1
        live = os.path.join(wh, "live_wal")
        os.makedirs(live)
        state = os.path.join(wh, "source_state.parquet")
        shutil.copyfile(self.meta["base"], state)
        cfg = PipelineConfig(
            pipeline_id="trickle",
            warehouse=os.path.join(wh, "wh"),
            num_buckets=inputs.NUM_BUCKETS,
            write_mode="mor",
            # A cycle commits 5 to 7 versions between two syncs (epochs,
            # their compactions, a re-snapshot, expiration horizons). With
            # fewer retained the mirror's cursor is always expired and
            # every sync re-bootstraps, so the change feed is never read.
            expire_keep_last=self.KEEP_LAST,
            expire_min_age_sec=0.0,
            # every second commit, so a short run reclaims space at all
            expire_every_applies=2,
        )
        src = ParquetWalSource(self.spark, state, live, num_buckets=inputs.NUM_BUCKETS)
        runner = PartialIngestRunner(self.spark, cfg, src)
        down = empty_table_for(
            os.path.join(wh, "mirror"), TOKENS_SCHEMA, num_buckets=self.MIRROR_BUCKETS
        )
        mirror = ChangefeedMirror(runner.table, down, os.path.join(wh, "mirror_state"))
        self.p = {"wh": wh, "live": live, "state": state, "runner": runner,
                  "mirror": mirror, "down": down}
        self.up_bytes = DirBytes(runner.table.data_dir)

    def _count_written(self) -> None:
        nbytes, nfiles = self.up_bytes.new()
        self.written_bytes += nbytes
        self.written_files += nfiles
        self.commits += 1

    # ------------------------------------------------------------- steps
    def epoch(self, rec: Recorder) -> None:
        seg = self.segments.pop(0)
        staged = stage(seg, self.p["live"])
        self.pending.append(time.perf_counter())
        runner = self.p["runner"]
        with rec.op("epoch_commit"):
            runner.tail_batch(runner.source.wal_batch([staged]))
        self.applied.append(seg)
        self._count_written()

    def sync(self, rec: Recorder) -> None:
        with rec.op("mirror_sync"):
            self.p["mirror"].sync(self.spark)
        now = time.perf_counter()
        self.lags += [now - t for t in self.pending]
        self.pending = []

    def resnapshot(self, rec: Recorder) -> None:
        # the source's true image at the current LSN, prepared untimed
        image = checks.oracle_image(self.meta["base"], self.applied)
        schema = pq.read_schema(self.meta["base"])
        pq.write_table(image.select(schema.names).cast(schema), self.p["state"] + ".tmp")
        os.replace(self.p["state"] + ".tmp", self.p["state"])
        runner = self.p["runner"]
        parts = runner.discovered_partitions()
        pick = sorted(self.rng.choice(len(parts), self.RESNAPSHOT_PARTS, replace=False))
        with rec.op("resnapshot"):
            runner.tracker.set_needs([parts[i] for i in pick], runner.cfg.pipeline_id)
            runner.snapshot_epoch()
        self._count_written()

    def warmup(self, rec: Recorder) -> float:
        """The base snapshot and the mirror's bootstrap sync."""
        t0 = rec.measured
        with rec.op("base_snapshot"):
            self.p["runner"].snapshot_epoch()
        self._count_written()
        self.sync(rec)
        return rec.measured - t0

    def run(self, rec: Recorder, seconds: float) -> None:
        self.lags = []
        steps = {"epoch_commit": self.epoch, "resnapshot": self.resnapshot,
                 "mirror_sync": self.sync}
        done = 0
        while self.more(rec, seconds, done) and len(self.segments) >= 2:
            rec.alternate()
            for kind in self.CYCLE:
                steps[kind](rec)
            done += 1

    def finish(self, rec: Recorder) -> tuple[dict, dict]:
        p = self.p
        p["mirror"].sync(self.spark)  # catch the mirror up, untimed
        want = checks.oracle_image(self.meta["base"], self.applied)
        up = checks.engine_image(p["runner"].table.read(self.spark))
        down = checks.engine_image(p["down"].read(self.spark))
        rec.check("trickle_mirror: upstream == oracle", *checks.image_check(up, want))
        rec.check("trickle_mirror: mirror == upstream", *checks.image_check(down, up))
        on_disk = du(p["runner"].table.path) + du(p["down"].path)
        referenced = referenced_bytes(p["runner"].table) + referenced_bytes(p["down"])
        seg_bytes = sum(os.path.getsize(s["path"]) for s in self.applied)
        epochs, lag = rec.p50("epoch_commit"), statistics.median(self.lags)
        # a cycle's time from the median of each of its operations, which
        # the still-cold first epoch of a run barely moves
        cycle_s = sum(rec.p50(kind) for kind in self.CYCLE)
        events = sum(s["events"] for s in self.applied) / len(self.applied)
        throughput = events * self.CYCLE.count("epoch_commit") / cycle_s
        e2e = {
            "throughput_per_s": (throughput, "1/s"),
            "op_p50_s": (epochs, "s"),
            "key_latency_s": (lag, "s"),
        }
        named = {
            "epoch_commit_p50_s": (epochs, "s"),
            "mirror_lag_p50_s": (lag, "s"),
            "resnapshot_s": (rec.p50("resnapshot"), "s"),
            "space_amp": (on_disk / referenced, "ratio"),
            "write_amp": (self.written_bytes / (self.input_bytes + seg_bytes), "ratio"),
        }
        return e2e, named


# ------------------------------------------------------------- dedup pass
# The dedup family, run through the repo's driver queries (the functions
# whose DuckDB twins produced expected.json), each with the span of the
# layer function it calls.
DEDUP_QUERIES = {
    "minhash_lsh_pairs": "dedup_docs.minhash_lsh_pairs",
    "jaccard_pairs": "dedup_docs.jaccard_pairs",
    "near_dup_clusters": "dedup_docs.near_dup_clusters",
    "simhash_clusters": "dedup_docs.simhash_clusters",
    "embedding_near_dup_clusters": "dedup_docs.embedding_near_dup_clusters",
    "cosine_topk": "similarity.cosine_topk",
}


def dedup_pass(spark, rec: Recorder, seed: int, cache_root: str) -> None:
    """One traced pass of the dedup queries over the fixed corpus, whose
    row order and file split follow ``seed``; each result is checked
    against ``expected.json``. It reaches ``operators.dedup_docs``,
    ``operators.graph`` and ``operators.similarity``, which no replay
    operation calls."""
    corpus = inputs.load_or_build(cache_root, "dedup_corpus", seed)
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    queries = entry.queries()
    rec.tracing = True
    for q in DEDUP_QUERIES:
        with rec.op(q):
            result = queries[q](spark, corpus["dir"]).toArrow()
        rec.check(f"dedup: {q} digest", *checks.digest_check(result, expected[q]))
    rec.tracing = False
    # release the queries' checkpointed blocks, as a long-running
    # service's collector eventually would
    gc.collect()
    spark.sparkContext._jvm.System.gc()


WORKLOADS = {
    "bulk_replay": BulkReplay,
    "trickle_mirror": TrickleMirror,
}
