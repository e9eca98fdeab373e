"""In-memory span recorder installed around the engine's public layer
functions, plus the Spark counters read at the same boundaries.

Nothing here edits engine code: ``Tracer.install`` replaces, in this
process only, the public functions and methods listed in ``LAYERS``
with wrappers. A span records name, parent, start and end; its
self time is its duration minus the part its child spans cover. Every
span also labels the Spark jobs it submits: the job group names the
closed-loop operation (epoch, sync or query) and the job description
names the innermost span, so per-operation job, stage, shuffle, spill,
GC and CPU figures come from Spark's own status store.
"""

from __future__ import annotations

import functools
import importlib
import time
from collections import defaultdict

PKG = "debezium_partial_snapshotter_spark"

# (module, owner class or None for a module function, attribute, span name)
LAYERS = [
    ("sources.readers", "ParquetWalSource", "snapshot", "readers.snapshot"),
    ("sources.readers", "ParquetWalSource", "wal_batch", "readers.wal_batch"),
    ("sources.readers", "ParquetWalSource", "current_lsn", "readers.current_lsn"),
    ("plans.tracker", "SnapshotTracker", "claim", "tracker.claim"),
    ("plans.tracker", "SnapshotTracker", "release", "tracker.release"),
    ("plans.tracker", "SnapshotTracker", "set_needs", "tracker.set_needs"),
    ("operators.upsert", None, "apply_batch", "upsert.apply_batch"),
    ("operators.schema_evolution", None, "merge_schemas", "schema_evolution.merge_schemas"),
    ("operators.schema_evolution", None, "conform", "schema_evolution.conform"),
    ("plans.lake", "LakeTable", "read", "lake.read"),
    ("plans.lake", "LakeTable", "replace_buckets", "lake.replace_buckets"),
    ("plans.lake", "LakeTable", "append_deltas", "lake.append_deltas"),
    ("plans.lake", "LakeTable", "compact", "lake.compact"),
    ("plans.lake", "LakeTable", "expire_versions", "lake.expire"),
    ("plans.lake", "LakeTable", "read_changes", "lake.read_changes"),
    ("plans.changefeed", "ChangefeedMirror", "sync", "changefeed.sync"),
    ("plans.changefeed", "ChangefeedReader", "poll", "changefeed.poll"),
    ("plans.changefeed", "ChangefeedReader", "commit", "changefeed.commit"),
    ("plans.changefeed", None, "apply_feed", "changefeed.apply_feed"),
    ("plans.metrics", "AppendLog", "append", "metrics.append"),
    ("streaming.runner", "PartialIngestRunner", "snapshot_epoch", "runner.snapshot_epoch"),
    ("streaming.runner", "PartialIngestRunner", "tail_batch", "runner.tail_batch"),
    ("operators.dedup_docs", None, "minhash_lsh_pairs", "dedup_docs.minhash_lsh_pairs"),
    ("operators.dedup_docs", None, "jaccard_pairs", "dedup_docs.jaccard_pairs"),
    ("operators.dedup_docs", None, "near_dup_clusters", "dedup_docs.near_dup_clusters"),
    ("operators.dedup_docs", None, "simhash_clusters", "dedup_docs.simhash_clusters"),
    ("operators.dedup_docs", None, "embedding_near_dup_clusters",
     "dedup_docs.embedding_near_dup_clusters"),
    ("operators.similarity", None, "cosine_topk", "similarity.cosine_topk"),
    ("operators.graph", None, "connected_components", "graph.connected_components"),
]

# Cheap metadata calls made many times per epoch: counted, not spanned.
COUNTED = [
    ("plans.lake", "LakeTable", "manifest", "lake.manifest_reads"),
    ("plans.lake", "LakeTable", "committed_keys", "lake.committed_keys_calls"),
]

# Modules that bind a layer function by name at import time; the wrapper
# must replace those bindings too or calls through them go unseen.
REBOUND = {
    "apply_batch": ["streaming.runner", "streaming.multi"],
    "merge_schemas": ["operators.upsert"],
    "conform": ["operators.upsert"],
}


class Tracer:
    """Span stack for one single-threaded driver. Disabled by default:
    wrappers then cost one attribute test per call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._stack: list[dict] = []
        self._group: str | None = None

    # ------------------------------------------------------------ install
    def install(self) -> None:
        for mod_name, owner_name, attr, span_name in LAYERS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner = getattr(mod, owner_name) if owner_name else mod
            orig = owner.__dict__[attr] if owner_name else getattr(mod, attr)
            wrapped = self._spanned(orig, span_name)
            setattr(owner, attr, wrapped)
            for other in REBOUND.get(attr, []) if owner_name is None else []:
                om = importlib.import_module(f"{PKG}.{other}")
                if getattr(om, attr, None) is orig:
                    setattr(om, attr, wrapped)
        for mod_name, owner_name, attr, counter in COUNTED:
            owner = getattr(importlib.import_module(f"{PKG}.{mod_name}"), owner_name)
            setattr(owner, attr, self._counted(owner.__dict__[attr], counter))

    def _spanned(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name) as sp:
                result = fn(*args, **kwargs)
            if isinstance(result, dict):  # keep a stats dict's scalars
                sp.rec["result"] = {
                    k: v for k, v in result.items()
                    if isinstance(v, (bool, int, float, str))
                }
            return result

        return wrapper

    def _counted(self, fn, counter):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.enabled:
                tracer.counts[counter] += 1
            return fn(*args, **kwargs)

        return wrapper

    # -------------------------------------------------------------- spans
    def operation(self, group: str, name: str):
        """Top-level span for one closed-loop operation; its Spark jobs
        carry ``group`` so they can be collected afterwards."""
        return _Span(self, name, group)

    def span(self, name: str):
        return _Span(self, name, None)

    def _enter(self, name: str, group: str | None) -> dict:
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "group": group or (parent["group"] if parent else None),
            "t0": time.perf_counter(),
            "t1": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._label(rec)
        return rec

    def _exit(self, rec: dict) -> None:
        rec["t1"] = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self._label(self._stack[-1])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._group = None

    def _label(self, rec: dict) -> None:
        if rec["group"] != self._group:
            self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
            self._group = rec["group"]
        self.sc.setLocalProperty("spark.job.description", rec["name"])


class _Span:
    def __init__(self, tracer: Tracer, name: str, group: str | None):
        self.tracer, self.name, self.group = tracer, name, group
        self.rec = None

    def __enter__(self):
        if self.tracer.enabled:
            self.rec = self.tracer._enter(self.name, self.group)
        return self

    def __exit__(self, *exc):
        if self.rec is not None:
            self.tracer._exit(self.rec)
        return False


# ---------------------------------------------------------------- analysis
def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and s["t1"] is not None:
            children[s["parent"]].append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        if s["t1"] is None:
            continue
        covered, end = 0.0, s["t0"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, end), min(b, s["t1"])
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (s["t1"] - s["t0"]) - covered
    return out


def by_name(spans: list[dict]) -> dict[str, list[dict]]:
    """Finished spans grouped by name, leaving out a span nested inside
    another span of the same name (a retry)."""
    index = {s["id"]: s for s in spans}
    out: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        if s["t1"] is None:
            continue
        p = s["parent"]
        while p is not None and index[p]["name"] != s["name"]:
            p = index[p]["parent"]
        if p is None:
            out[s["name"]].append(s)
    return out


def nested_count(spans: list[dict], name: str) -> int:
    """Calls of ``name`` made while another call of ``name`` was open."""
    total = sum(1 for s in spans if s["name"] == name and s["t1"] is not None)
    return total - len(by_name(spans)[name]) if total else 0


# ------------------------------------------------------------ spark store
def spark_operation_stats(spark, groups: list[str]) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, shuffle write bytes, spilled
    bytes, executor CPU and GC time, peak execution memory, and the job
    count per description, read from Spark's status store (present with
    the UI disabled)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty(10_000)
    except Exception:  # noqa: BLE001 - best effort: counters may lag
        pass
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = {}
    for g in groups:
        agg = defaultdict(float)
        per_desc: dict[str, int] = defaultdict(int)
        for job_id in tracker.getJobIdsForGroup(g):
            try:
                job = store.job(job_id)
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            agg["jobs"] += 1
            desc = job.description()
            per_desc[desc.get() if desc.isDefined() else ""] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                for sd in _stage_attempts(sc, store, stage_ids.apply(i)):
                    if sd.numTasks() == 0 or str(sd.status()) == "SKIPPED":
                        continue
                    agg["stages"] += 1
                    agg["tasks"] += sd.numCompleteTasks()
                    agg["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    agg["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    agg["executor_cpu_ns"] += sd.executorCpuTime()
                    agg["executor_gc_ms"] += sd.jvmGcTime()
                    agg["peak_execution_bytes"] = max(
                        agg["peak_execution_bytes"], sd.peakExecutionMemory()
                    )
        out[g] = {**agg, "jobs_by_description": dict(per_desc)}
    return out


def _stage_attempts(sc, store, stage_id):
    """Every attempt's StageData; the Scala defaults must be spelled out
    over py4j."""
    jvm = sc._jvm
    try:
        seq = store.stageData(
            stage_id, False, jvm.java.util.ArrayList(), False,
            sc._gateway.new_array(jvm.double, 0),
        )
    except Exception:  # noqa: BLE001 - evicted from the store
        return []
    return [seq.apply(i) for i in range(seq.size())]


def jvm_gc_seconds(spark) -> float:
    """Cumulative collector time of the driver JVM (local mode: it also
    hosts the executors)."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1000.0


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set of the Spark JVM, from its /proc status."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    try:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
