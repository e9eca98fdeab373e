"""Ingest benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 14 --trace 0

Run from the repository root. Starts Spark at local[<cores>] with
shuffle partitions equal to the core count, off-heap memory off and a
driver heap sized to a quarter of RAM (at most 4 GiB), generates (or
loads from ``perfbench/_cache``) the seeded inputs, sets up, warms up,
measures for ``--seconds``, checks the outputs, and prints one JSON
object as its last line: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. A traced run
then also runs, once, the layers its workload does not reach (for
``bulk_replay``: the dedup queries), and writes every span to
``perfbench/_out/``. The lines before the
JSON name the paper-level metrics of the workload with their units.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def box_settings() -> dict:
    cores = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_mb = int(min(4096, max(1024, ram // 4 // 2**20)))
    return {"cores": cores, "shuffle_partitions": cores, "driver_heap_mb": heap_mb,
            "ram_mb": ram // 2**20, "offheap": False}


def start_spark(box: dict, workdir: str, trace: bool):
    """A session through the engine's factory, with every scratch
    directory inside ``workdir``."""
    from debezium_partial_snapshotter_spark import session

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["DPS_DRIVER_MEM"] = f"{box['driver_heap_mb']}m"
    os.environ.pop("DPS_OFFHEAP", None)
    # the factory's sweep of a shared /dev/shm scratch root would reach
    # outside the checkout; this run's scratch lives under workdir
    session._sweep_stale_local_dirs = lambda root, max_age_sec=0: None
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.memory.offHeap.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return session.get_spark(
        "perfbench",
        parallelism=box["cores"],
        shuffle_partitions=box["shuffle_partitions"],
        extra_conf=conf,
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure to stop: force it
            proc.kill()
            proc.wait(timeout=30)


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(args) -> dict:
    import inputs
    import layers
    import spans
    import workloads

    spec = benchmark_spec()
    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}")
    from debezium_partial_snapshotter_spark.operators import upsert

    box = box_settings()
    workdir = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(box, workdir, bool(args.trace))
        session_s = time.perf_counter() - t0

        tracer = spans.Tracer(spark)
        if args.trace:
            tracer.install()
        rec = workloads.Recorder(tracer, bool(args.trace), lambda: spans.jvm_gc_seconds(spark))
        fallbacks0 = upsert.OBSERVATION_FALLBACKS

        cls = workloads.WORKLOADS[args.workload]
        reps, wl = [], None
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            meta = inputs.load_or_build(os.path.join(HERE, "_cache"), args.workload, args.seed)
            if wl is None:
                wl = cls(spark, meta, workdir, args.seed)
            wl.bootstrap()
            reps.append(time.perf_counter() - t)

        t = time.perf_counter()
        cold_s = wl.warmup(rec)
        warmup_wall = time.perf_counter() - t
        # what a restart costs before the first warm operation
        setup_s = session_s + statistics.median(reps) + cold_s
        cold_samples = {k: [d for d, _t in xs] for k, xs in rec.samples.items()}
        rec.start_measuring()
        t = time.perf_counter()
        wl.run(rec, args.seconds)
        measure_wall = time.perf_counter() - t
        t = time.perf_counter()
        e2e, named = wl.finish(rec)
        finish_wall = time.perf_counter() - t
        t = time.perf_counter()
        if args.trace:
            wl.traced_extra(rec, os.path.join(HERE, "_cache"))
        extra_wall = time.perf_counter() - t
        e2e["setup_s"] = (setup_s, "s")
        named = {"setup_s": (setup_s, "s"), "cold_s": (cold_s, "s"), **named}

        tag = f"{args.workload} seed={args.seed}"
        print(f"{tag} box " + " ".join(f"{k}={v}" for k, v in box.items()))
        print(
            f"{tag} phases [s]: session {session_s:.1f}, set-ups "
            + "/".join(f"{r:.1f}" for r in reps)
            + f", warm-up {warmup_wall:.1f}, measure {measure_wall:.1f}"
            + f" (timed {rec.measured:.1f}), finish {finish_wall:.1f}"
            + f", traced extra {extra_wall:.1f}"
        )
        for k, (v, unit) in named.items():
            print(f"{tag} {k} {v:.6g} {unit}")
        for kind, xs in cold_samples.items():
            print(f"{tag} warm-up {kind} [s]: " + " ".join(f"{d:.3f}" for d in xs))
        for kind, xs in rec.samples.items():
            times = " ".join(f"{d:.3f}{'*' if t else ''}" for d, t in xs)
            print(f"{tag} samples {kind} [s, *traced]: {times}")
        for err in rec.errors:
            print(f"{tag} {err}", file=sys.stderr)

        if args.trace:
            tracer.enabled = False
            values = layers.per_layer(
                spark, tracer, rec, wl, named, upsert.OBSERVATION_FALLBACKS - fallbacks0
            )
            out_dir = os.path.join(HERE, "_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
            with open(path, "w") as fh:
                json.dump(
                    {"workload": args.workload, "seed": args.seed, "box": box,
                     "end_to_end": {k: v for k, (v, _u) in named.items()},
                     "per_layer": values, "spans": tracer.spans},
                    fh,
                )
            print(f"{tag} spans written to {os.path.relpath(path, ROOT)}")
            wanted = spec["per_layer"]
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
        else:
            wanted = spec["end_to_end"]
            metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]} for m in wanted}
        return {
            "correct": rec.checks_ok and rec.failed == 0,
            "attempted": rec.attempted,
            "failed": rec.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    sys.path.insert(0, ROOT)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import debezium_partial_snapshotter_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine or its dependencies: {e}", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 - report the failure, print no result
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
