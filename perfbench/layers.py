"""Per-layer metrics of a traced run, from its spans, the span results,
and Spark's status store. Times are means per call of the outermost
span of that name; ``*_per_op`` and the spark figures are per traced
main operation of the workload (an epoch, re-snapshot or sync). The
dedup figures come from the one dedup pass of a traced ``bulk_replay``
run. A layer a workload never calls reports 0.
"""

from __future__ import annotations

import statistics

import spans
import workloads

def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _dur(s: dict) -> float:
    return s["t1"] - s["t0"]


def per_layer(spark, tracer, rec, wl, named: dict, fallbacks: int) -> dict[str, float]:
    sp = tracer.spans
    outer = spans.by_name(sp)
    selfs = spans.self_times(sp)
    index = {s["id"]: s for s in sp}

    def ancestor(s: dict, prefix: str) -> bool:
        p = s["parent"]
        while p is not None:
            if index[p]["name"].startswith(prefix):
                return True
            p = index[p]["parent"]
        return False

    def mean_s(name: str) -> float:
        return _mean(_dur(s) for s in outer.get(name, []))

    def results(name: str) -> list[dict]:
        return [s.get("result", {}) for s in outer.get(name, [])]

    main = wl.MAIN_OPS
    n_main = sum(len(rec.times(k, traced=True)) for k in main)

    def per(x: float) -> float:
        return x / n_main if n_main else 0.0

    def is_main(group: str | None) -> bool:
        return group is not None and group.split("-", 2)[2] in main

    stats = spans.spark_operation_stats(spark, rec.groups)
    main_stats = [st for g, st in stats.items() if is_main(g)]

    def total(key: str) -> float:
        return sum(st.get(key, 0.0) for st in main_stats)

    v: dict[str, float] = {}
    # ---- spark engine
    v["spark.jobs_per_op"] = per(total("jobs"))
    v["spark.stages_per_op"] = per(total("stages"))
    v["spark.tasks_per_op"] = per(total("tasks"))
    v["spark.shuffle_write_mb"] = per(total("shuffle_write_bytes")) / 2**20
    v["spark.spill_mb"] = per(total("spill_bytes")) / 2**20
    v["spark.executor_cpu_s"] = per(total("executor_cpu_ns")) / 1e9
    v["spark.jvm_gc_s"] = per(sum(rec.gc_s.get(k, 0.0) for k in main))
    v["spark.peak_execution_mb"] = max(
        [st.get("peak_execution_bytes", 0.0) for st in main_stats] or [0.0]
    ) / 2**20
    v["spark.jvm_peak_rss_mb"] = spans.jvm_peak_rss_mb(spark)

    # ---- operators.upsert / operators.schema_evolution
    applies = outer.get("upsert.apply_batch", [])
    v["upsert.apply_batch_s"] = mean_s("upsert.apply_batch")
    v["upsert.plan_s"] = _mean(selfs[s["id"]] for s in applies)
    v["upsert.retries"] = spans.nested_count(sp, "upsert.apply_batch")
    v["upsert.observation_fallbacks"] = fallbacks
    schema_s = sum(
        _dur(s) for s in sp
        if s["name"].startswith("schema_evolution.") and s["t1"] is not None
    )
    v["schema_evolution.merge_s"] = schema_s / len(applies) if applies else 0.0
    v["schema_evolution.evolved_epochs"] = wl.evolved_per_pass()

    # ---- plans.lake
    for name in ("read", "replace_buckets", "append_deltas", "compact", "expire"):
        v[f"lake.{name}_s"] = mean_s(f"lake.{name}")
    compacts = outer.get("lake.compact", [])
    # compactions after a tail epoch, over the tail epochs: the same set
    v["lake.compactions"] = sum(1 for s in compacts if ancestor(s, "runner.tail_batch"))
    v["lake.compaction_base_epochs"] = len(outer.get("runner.tail_batch", []))
    v["lake.expirations"] = len(outer.get("lake.expire", []))
    v["lake.files_deleted"] = sum(r.get("files_deleted", 0) for r in results("lake.expire"))
    v["lake.manifest_reads"] = per(tracer.counts["lake.manifest_reads"])
    v["lake.committed_keys_calls"] = per(tracer.counts["lake.committed_keys_calls"])
    written_bytes, written_files, epochs = wl.written()
    v["lake.bytes_written_mb"] = written_bytes / epochs / 2**20 if epochs else 0.0
    v["lake.files_written"] = written_files / epochs if epochs else 0.0
    v["lake.write_amp"] = named.get("write_amp", (0.0,))[0]
    v["lake.space_amp"] = named.get("space_amp", (0.0,))[0]

    # ---- plans.changefeed
    for name in ("sync", "poll", "apply_feed"):
        v[f"changefeed.{name}_s"] = mean_s(f"changefeed.{name}")
    syncs = [
        r for r in results("changefeed.sync")
        if r.get("to_version", 0) > r.get("from_version", 0)
    ]
    v["changefeed.polls"] = len(syncs)
    v["changefeed.fast_path_frac"] = (
        sum(bool(r.get("fast_path")) for r in syncs) / len(syncs) if syncs else 0.0
    )
    v["changefeed.bootstraps"] = sum(
        bool(r.get("bootstrapped")) for r in results("changefeed.sync")
    )
    v["changefeed.downstream_compactions"] = sum(
        1 for s in compacts if ancestor(s, "changefeed.sync")
    )

    # ---- plans.tracker / sources.readers / streaming.runner / plans.metrics
    for name in ("claim", "release", "set_needs"):
        v[f"tracker.{name}_s"] = mean_s(f"tracker.{name}")
    v["readers.current_lsn_s"] = mean_s("readers.current_lsn")
    v["readers.snapshot_rows"] = _mean(
        r.get("batch_keys", 0) for r in results("runner.snapshot_epoch")
    )
    v["runner.tail_batch_s"] = mean_s("runner.tail_batch")
    v["runner.snapshot_epoch_s"] = mean_s("runner.snapshot_epoch")
    v["runner.self_s"] = _mean(selfs[s["id"]] for s in outer.get("runner.tail_batch", []))
    v["metrics.append_s"] = mean_s("metrics.append")

    # ---- operators.dedup_docs / operators.similarity / operators.graph
    for q, span in workloads.DEDUP_QUERIES.items():
        build = mean_s(span)
        v[f"{span}_build_s"] = build
        op = rec.times(q, traced=True)
        v[f"{span}_write_s"] = _mean(op) - build if op else 0.0
    v["dedup_docs.total_s"] = sum(
        _mean(rec.times(q, traced=True))
        for q, span in workloads.DEDUP_QUERIES.items()
        if span.startswith("dedup_docs.") and rec.times(q, traced=True)
    )
    ccs = outer.get("graph.connected_components", [])
    v["graph.connected_components_s"] = mean_s("graph.connected_components")
    cc_jobs = sum(
        st["jobs_by_description"].get("graph.connected_components", 0)
        for st in stats.values()
    )
    v["graph.cc_jobs"] = cc_jobs / len(ccs) if ccs else 0.0

    # ---- the trace itself, and the end-to-end op tail
    untraced, traced = wl.op_samples(rec, False), wl.op_samples(rec, True)
    v["trace.overhead_frac"] = (
        statistics.median(traced) / statistics.median(untraced) - 1.0
        if traced and untraced else 0.0
    )
    v["trace.spans_per_op"] = per(sum(1 for s in sp if is_main(s["group"])))
    pct, val, n = workloads.tail_percentile(untraced + traced)
    v["op.tail_pct"], v["op.tail_s"], v["op.samples"] = pct, val, n
    v["op.cold_s"] = named["cold_s"][0]
    return v
