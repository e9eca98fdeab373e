"""Derive ``expected.json``: the dedup pass's result digests, from the
DuckDB twins of its queries (``oracle_sql()`` in the repo's
``__spark_entry__.py``) run over the fixed near-dup corpus.

    python3 perfbench/make_expected.py

Run once from the repository root when the corpus or the queries
change; the twins are too slow to run per benchmark run. The corpus is
seed-independent, so one digest per query serves every seed.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402
import workloads  # noqa: E402


def main() -> None:
    oracles = entry.oracle_sql()
    out = {}
    with tempfile.TemporaryDirectory(dir=HERE) as d:
        con = duckdb.connect()
        for name, table in (
            ("documents", inputs.near_dup_corpus()),
            ("embeddings", inputs.near_dup_embeddings()),
        ):
            p = os.path.join(d, f"{name}.parquet")
            pq.write_table(table, p)
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        for q in workloads.DEDUP_QUERIES:
            t0 = time.perf_counter()
            out[q] = checks.result_digest(con.sql(oracles[q]).arrow())
            print(f"{q}: {out[q]} ({time.perf_counter() - t0:.1f} s)", flush=True)
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=2, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
