"""Deterministic synthetic change-event log + sequential oracle (M0).

Plays the role of the reference's SQL fixtures + golden expected records
(``PartialSnapshotterTest.java:44-52,444-471``): a seeded generator
produces (a) an initial tokens-table state, (b) a WAL-style change-event
log with hot-key skew, inserts/updates/deletes, and optional
schema-evolution events; and the **oracle** applies the full event
sequence one row at a time in ``(lsn, op_rank)`` order — the engine's
distributed replay must reproduce the oracle's final state with
byte-equal token arrays (BASELINE.json per-row invariant).

Generation is vectorized numpy + pyarrow (no Spark dependency) so the
oracle side shares zero code with the engine under test.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from debezium_partial_snapshotter_spark.functions import bucket_id_py
from debezium_partial_snapshotter_spark.schemas import OP_RANK

VOCAB = 50257
SOURCES = ["cc", "web", "books", "code", "wiki"]


@dataclass
class EventLogSpec:
    n_docs: int = 1000
    n_events: int = 5000
    n_segments: int = 4
    seed: int = 42
    mean_tokens: float = 48.0
    max_tokens: int = 512
    hot_frac: float = 0.002  # fraction of docs that are hot keys
    hot_weight: float = 100.0  # relative update rate of a hot key
    delete_frac: float = 0.05
    new_doc_frac: float = 0.10  # events targeting brand-new doc_ids
    start_lsn: int = 1_000_000
    num_buckets: int = 32
    table: str = "tokens"
    schema_v2: bool = False  # emit evolved payload (lang col, n_tok int64)
    extra: dict = field(default_factory=dict)


def _doc_id(i: int) -> str:
    return f"doc{i:08d}"


def _token_lengths(rng: np.random.Generator, n: int, spec: EventLogSpec) -> np.ndarray:
    ln = rng.lognormal(mean=np.log(spec.mean_tokens), sigma=0.6, size=n)
    return np.clip(ln.astype(np.int64), 1, spec.max_tokens)


def _token_values(rng: np.random.Generator, total: int) -> np.ndarray:
    return rng.integers(0, VOCAB, size=total, dtype=np.int32)


def _rows_to_arrow(
    ops: list[str],
    doc_ids: list[str],
    lsns: list[int],
    snapshots: list[str | None],
    afters: list[dict | None],
    spec: EventLogSpec,
) -> pa.Table:
    v2 = spec.schema_v2
    after_fields = [
        pa.field("doc_id", pa.string()),
        pa.field("tokens", pa.list_(pa.int32())),
        pa.field("n_tok", pa.int64() if v2 else pa.int32()),
        pa.field("source", pa.string()),
    ]
    if v2:
        after_fields.append(pa.field("lang", pa.string()))
    after_type = pa.struct(after_fields)
    schema = pa.schema(
        [
            pa.field("op", pa.string()),
            pa.field("doc_id", pa.string()),
            pa.field("lsn", pa.int64()),
            pa.field("snapshot", pa.string()),
            pa.field("table_partition", pa.string()),
            pa.field("after", after_type),
        ]
    )
    tp = [
        f"{spec.table}/{bucket_id_py(d, spec.num_buckets):04d}" for d in doc_ids
    ]
    return pa.table(
        {
            "op": pa.array(ops, pa.string()),
            "doc_id": pa.array(doc_ids, pa.string()),
            "lsn": pa.array(lsns, pa.int64()),
            "snapshot": pa.array(snapshots, pa.string()),
            "table_partition": pa.array(tp, pa.string()),
            "after": pa.array(afters, after_type),
        },
        schema=schema,
    )


def initial_state_table(spec: EventLogSpec) -> pa.Table:
    """The source table's content at snapshot time, as a vectorized
    arrow table (payload schema)."""
    rng = np.random.default_rng(spec.seed)
    lens = _token_lengths(rng, spec.n_docs, spec)
    flat = _token_values(rng, int(lens.sum()))
    offs = np.concatenate([[0], np.cumsum(lens)])
    ids = np.array([_doc_id(i) for i in range(spec.n_docs)], dtype=object)
    src = np.array(SOURCES, dtype=object)[
        np.arange(spec.n_docs, dtype=np.int64) % len(SOURCES)
    ]
    cols = {
        "doc_id": pa.array(ids, pa.string()),
        "tokens": pa.ListArray.from_arrays(
            pa.array(offs, pa.int32()), pa.array(flat, pa.int32())
        ),
        "n_tok": pa.array(lens, pa.int64() if spec.schema_v2 else pa.int32()),
        "source": pa.array(src, pa.string()),
    }
    if spec.schema_v2:
        langs = np.array(["en", "de", "fr", "zh", "es"], dtype=object)
        cols["lang"] = pa.array(langs[lens % 5], pa.string())
    return pa.table(cols)


def generate_initial_state(spec: EventLogSpec) -> list[dict]:
    """Row-dict view of the initial state (oracle/test-sized inputs)."""
    return initial_state_table(spec).to_pylist()


def snapshot_read_events(
    state: list[dict],
    watermark_lsn: int,
    spec: EventLogSpec,
    buckets: set[int] | None = None,
) -> pa.Table:
    """Bounded snapshot scan of ``state`` as 'r' events at the snapshot
    watermark (reference B1: rows tagged source.snapshot='true'/'last',
    ``PartialSnapshotterTest.java:426-431``). Restricted to ``buckets``
    when a partial snapshot claims only some partitions."""
    rows = [
        r
        for r in state
        if buckets is None or bucket_id_py(r["doc_id"], spec.num_buckets) in buckets
    ]
    n = len(rows)
    ops = ["r"] * n
    snaps = ["true"] * n
    if snaps:
        snaps[-1] = "last"
    return _rows_to_arrow(
        ops,
        [r["doc_id"] for r in rows],
        [watermark_lsn] * n,
        snaps,
        rows,
        spec,
    )


def generate_change_log(
    spec: EventLogSpec,
    out_dir: str | None = None,
    first_lsn: int | None = None,
    doc_offset: int = 0,
) -> list[pa.Table]:
    """WAL-tail events: updates with hot-key skew, deletes, inserts of
    new docs. LSNs strictly increase across the whole log. Returns the
    segment tables; writes ``seg-%05d.parquet`` files when out_dir set."""
    rng = np.random.default_rng(spec.seed + 7919)
    n_ev = spec.n_events
    first_lsn = spec.start_lsn if first_lsn is None else first_lsn

    # skewed choice of existing docs: hot set gets hot_weight
    n_hot = max(1, int(spec.n_docs * spec.hot_frac))
    weights = np.ones(spec.n_docs, dtype=np.float64)
    weights[:n_hot] = spec.hot_weight
    weights /= weights.sum()

    n_new = int(n_ev * spec.new_doc_frac)
    new_ids = np.arange(spec.n_docs, spec.n_docs + n_new) + doc_offset
    exist_idx = rng.choice(spec.n_docs, size=n_ev - n_new, p=weights) + doc_offset

    # interleave new-doc creates uniformly through the log
    doc_idx = np.empty(n_ev, dtype=np.int64)
    new_pos = rng.choice(n_ev, size=n_new, replace=False)
    mask = np.zeros(n_ev, dtype=bool)
    mask[new_pos] = True
    doc_idx[mask] = new_ids
    doc_idx[~mask] = exist_idx

    is_delete = (rng.random(n_ev) < spec.delete_frac) & ~mask
    lsns = first_lsn + 1 + np.arange(n_ev, dtype=np.int64)

    lens = _token_lengths(rng, n_ev, spec)
    lens[is_delete] = 0
    flat = _token_values(rng, int(lens.sum()))
    offs = np.concatenate([[0], np.cumsum(lens)])

    # ---- fully vectorized arrow construction (no per-row python) ----
    uniq = np.unique(doc_idx)
    id_map = {int(u): _doc_id(int(u)) for u in uniq}
    bucket_map = {
        u: f"{spec.table}/{bucket_id_py(d, spec.num_buckets):04d}"
        for u, d in id_map.items()
    }
    dids = np.array([id_map[int(u)] for u in doc_idx], dtype=object)
    tparts = np.array([bucket_map[int(u)] for u in doc_idx], dtype=object)
    ops = np.where(is_delete, "d", np.where(mask, "c", "u"))

    n_tok_t = pa.int64() if spec.schema_v2 else pa.int32()
    src_names = np.array(SOURCES, dtype=object)
    langs = np.array(["en", "de", "fr", "zh", "es"], dtype=object)

    def build(lo: int, hi: int) -> pa.Table:
        # per-slice construction keeps list offsets within int32 range
        # (a 10^10-scale log would overflow one giant ListArray)
        sl = slice(lo, hi)
        o = offs[lo : hi + 1] - offs[lo]
        doc_id_arr = pa.array(dids[sl], pa.string())
        tokens_arr = pa.ListArray.from_arrays(
            pa.array(o, pa.int32()),
            pa.array(flat[offs[lo] : offs[hi]], pa.int32()),
        )
        children = [
            doc_id_arr,
            tokens_arr,
            pa.array(lens[sl], n_tok_t),
            pa.array(src_names[(doc_idx[sl] % len(SOURCES)).astype(np.int64)], pa.string()),
        ]
        names = ["doc_id", "tokens", "n_tok", "source"]
        if spec.schema_v2:
            children.append(pa.array(langs[lens[sl] % 5], pa.string()))
            names.append("lang")
        after_arr = pa.StructArray.from_arrays(
            children, names, mask=pa.array(is_delete[sl])
        )
        return pa.table(
            {
                "op": pa.array(ops[sl], pa.string()),
                "doc_id": doc_id_arr,
                "lsn": pa.array(lsns[sl], pa.int64()),
                "snapshot": pa.array(np.repeat("false", hi - lo), pa.string()),
                "table_partition": pa.array(tparts[sl], pa.string()),
                "after": after_arr,
            }
        )

    tables = []
    if out_dir:
        os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, n_ev, spec.n_segments + 1).astype(np.int64)
    # cap tokens per constructed chunk well under 2^31
    MAX_CHUNK_TOKENS = 1_500_000_000
    for si in range(spec.n_segments):
        lo, hi = int(bounds[si]), int(bounds[si + 1])
        chunks = []
        c_lo = lo
        while c_lo < hi:
            c_hi = hi
            while offs[c_hi] - offs[c_lo] > MAX_CHUNK_TOKENS:
                c_hi = c_lo + max(1, (c_hi - c_lo) // 2)
            chunks.append(build(c_lo, c_hi))
            c_lo = c_hi
        t = pa.concat_tables(chunks) if len(chunks) > 1 else chunks[0]
        tables.append(t)
        if out_dir:
            pq.write_table(
                t,
                os.path.join(out_dir, f"seg-{si:05d}.parquet"),
                row_group_size=32_768,  # splittable scans: one task per row group
            )
    return tables


# ----------------------------------------------------------------- oracle
def oracle_apply(
    tables: list[pa.Table], initial: dict[str, dict] | None = None
) -> dict[str, dict]:
    """Sequential single-threaded reference semantics: sort ALL events by
    (lsn, op_rank) and apply one at a time — last image wins, delete
    removes, snapshot read at watermark W loses to any WAL event with
    lsn >= W (OP_RANK['r']=0). The distributed engine must match this
    exactly (SURVEY.md B4/B5)."""
    events = []
    for t in tables:
        events.extend(t.to_pylist())
    events.sort(key=lambda e: (e["lsn"], OP_RANK.get(e["op"], 1)))
    state: dict[str, dict] = dict(initial or {})
    for e in events:
        if e["op"] == "d":
            state.pop(e["doc_id"], None)
        else:
            state[e["doc_id"]] = e["after"]
    return state
