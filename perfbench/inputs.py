"""Seeded input generation, cached per (workload, seed).

Each workload's inputs are plain parquet files under
``<cache>/<workload>-<seed>-<sizes hash>/`` plus a ``meta.json`` describing them; a
directory without its ``meta.json`` is an interrupted build and is
rebuilt. The program under test only ever sees these files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from debezium_partial_snapshotter_spark.sources.eventlog import (
    EventLogSpec,
    generate_change_log,
    initial_state_table,
)

NUM_BUCKETS = 32

# bulk_replay: a full snapshot, then WAL tail epochs; the last
# V2_SEGMENTS carry the evolved payload (add-column + int widening).
BULK = {"n_docs": 8_000, "segments": 3, "segment_events": 15_000, "v2_segments": 2}
# a tenth of the size with one epoch of each kind (v1, schema-evolving
# v2), for the cold warm-up pass
BULK_WARMUP = {"n_docs": 800, "segments": 2, "segment_events": 1_500, "v2_segments": 1}
# trickle_mirror: a base table, then many small tail epochs.
TRICKLE = {"n_docs": 10_000, "segments": 64, "segment_events": 1_000}
# the dedup pass: one fixed corpus; the seed only permutes rows and files.
NEAR_DUP = {"n_docs": 1_000, "vocab": 2_000, "n_vecs": 1_000, "dim": 64}
CORPUS_SEED = 20_240_517


def event_spec(n_docs: int, n_events: int, n_segments: int, seed: int, v2=False):
    return EventLogSpec(
        n_docs=n_docs,
        n_events=n_events,
        n_segments=n_segments,
        seed=seed,
        mean_tokens=48.0,
        hot_frac=0.001,
        hot_weight=100.0,
        delete_frac=0.05,
        new_doc_frac=0.10,
        num_buckets=NUM_BUCKETS,
        schema_v2=v2,
    )


def load_or_build(cache_root: str, workload: str, seed: int) -> dict:
    """Return the input description, generating it on a cache miss. The
    cache key includes the sizes, so resized inputs are never stale."""
    sizes = json.dumps([BULK, BULK_WARMUP, TRICKLE, NEAR_DUP], sort_keys=True)
    d = os.path.join(
        cache_root, f"{workload}-{seed}-{hashlib.sha1(sizes.encode()).hexdigest()[:8]}"
    )
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return json.load(fh)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    meta = BUILDERS[workload](d, seed)
    with open(meta_path + ".tmp", "w") as fh:
        json.dump(meta, fh)
    os.replace(meta_path + ".tmp", meta_path)
    return meta


def _write_segments(tables, wal_dir, first_index, v2):
    out = []
    for i, t in enumerate(tables):
        p = os.path.join(wal_dir, f"seg-{first_index + i:05d}.parquet")
        pq.write_table(t, p, row_group_size=32_768)
        out.append({"path": p, "v2": v2, "events": t.num_rows})
    return out


def build_bulk(d: str, seed: int) -> dict:
    meta = _bulk_log(d, seed, BULK)
    meta["warmup"] = _bulk_log(os.path.join(d, "warmup"), seed, BULK_WARMUP)
    return meta


def _bulk_log(d: str, seed: int, c: dict) -> dict:
    os.makedirs(d, exist_ok=True)
    n_v1 = c["segments"] - c["v2_segments"]
    spec1 = event_spec(c["n_docs"], n_v1 * c["segment_events"], n_v1, seed)
    state = os.path.join(d, "state.parquet")
    pq.write_table(initial_state_table(spec1), state, row_group_size=65_536)
    wal = os.path.join(d, "wal")
    os.makedirs(wal)
    segs = _write_segments(generate_change_log(spec1), wal, 0, False)
    # the evolved tail continues the LSN sequence over the same key
    # space, including the keys the first part created
    n_created = int(spec1.n_events * spec1.new_doc_frac)
    spec2 = event_spec(
        c["n_docs"] + n_created,
        c["v2_segments"] * c["segment_events"],
        c["v2_segments"],
        seed + 1,
        v2=True,
    )
    last_lsn = spec1.start_lsn + spec1.n_events
    segs += _write_segments(
        generate_change_log(spec2, first_lsn=last_lsn), wal, n_v1, True
    )
    return {"state": state, "segments": segs, "snapshot_rows": c["n_docs"]}


def build_trickle(d: str, seed: int) -> dict:
    c = TRICKLE
    spec = event_spec(
        c["n_docs"], c["segments"] * c["segment_events"], c["segments"], seed
    )
    base = os.path.join(d, "base.parquet")
    pq.write_table(initial_state_table(spec), base, row_group_size=65_536)
    wal = os.path.join(d, "wal")
    os.makedirs(wal)
    segs = _write_segments(generate_change_log(spec), wal, 0, False)
    return {"base": base, "segments": segs, "snapshot_rows": c["n_docs"]}


def near_dup_corpus() -> pa.Table:
    """The fixed near-dup corpus: documents over a Zipf vocabulary with
    planted exact copies and edited copies (about 10% of words
    replaced)."""
    c = NEAR_DUP
    rng = np.random.default_rng(CORPUS_SEED)
    vocab = np.array([f"w{i:04d}" for i in range(c["vocab"])], dtype=object)
    zipf = 1.0 / np.arange(1, c["vocab"] + 1) ** 1.05
    zipf /= zipf.sum()
    words: list[np.ndarray] = []
    for i in range(c["n_docs"]):
        r = rng.random()
        if i and r < 0.05:  # exact copy
            w = words[int(rng.integers(i))].copy()
        elif i and r < 0.30:  # edited copy
            w = words[int(rng.integers(i))].copy()
            k = max(1, len(w) // 10)
            pos = rng.choice(len(w), size=k, replace=False)
            w[pos] = rng.choice(vocab, size=k, p=zipf)
        else:
            n = int(np.clip(rng.lognormal(np.log(40), 0.4), 8, 160))
            w = rng.choice(vocab, size=n, p=zipf)
        words.append(w)
    text = [" ".join(w) for w in words]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(c["n_docs"]), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(["en"] * c["n_docs"], pa.string()),
            "source": pa.array([f"src{i % 5}" for i in range(c["n_docs"])], pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def near_dup_embeddings() -> pa.Table:
    """The fixed embedding corpus: random unit-scale vectors with planted
    exact copies and noisy copies (cosine to the original about 0.99)."""
    c = NEAR_DUP
    rng = np.random.default_rng(CORPUS_SEED + 1)
    vecs = np.empty((c["n_vecs"], c["dim"]), dtype=np.float32)
    for i in range(c["n_vecs"]):
        r = rng.random()
        if i and r < 0.05:  # exact copy
            vecs[i] = vecs[int(rng.integers(i))]
        elif i and r < 0.25:  # noisy copy
            vecs[i] = vecs[int(rng.integers(i))] + rng.normal(0, 0.1, c["dim"])
        else:
            vecs[i] = rng.normal(0, 1, c["dim"])
    return pa.table(
        {
            "vec_id": pa.array(np.arange(c["n_vecs"]), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(np.zeros(c["n_vecs"]), pa.int32()),
        }
    )


def _split_write(t: pa.Table, d: str, name: str, rng, n_files: int) -> None:
    """``t`` in shuffled row order, split over ``<d>/<name>.parquet/``:
    the directory layout the driver queries read."""
    t = t.take(pa.array(rng.permutation(t.num_rows)))
    bounds = np.linspace(0, t.num_rows, n_files + 1).astype(int)
    os.makedirs(os.path.join(d, f"{name}.parquet"))
    for i in range(n_files):
        p = os.path.join(d, f"{name}.parquet", f"part-{i:03d}.parquet")
        pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]), p)


def build_dedup_corpus(d: str, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    _split_write(near_dup_corpus(), d, "documents", rng, 1 + seed % 4)
    _split_write(near_dup_embeddings(), d, "embeddings", rng, 1 + seed % 3)
    return {"dir": d}


BUILDERS = {
    "bulk_replay": build_bulk,
    "trickle_mirror": build_trickle,
    "dedup_corpus": build_dedup_corpus,
}
