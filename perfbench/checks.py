"""Output checks that share no code with the engine.

Table images are compared against a DuckDB ``arg_max`` over the raw
input files (the same last-image rule as ``eventlog.oracle_apply``:
highest ``(lsn, op_rank)`` wins, deletes remove), with byte-equal token
arrays. Near-dup results are compared by order-insensitive digests
against ``expected.json``, derived once from the DuckDB twins of the
queries (see ``make_expected.py``). Every check also proves it rejects
a perturbed output.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pyarrow as pa

IMAGE_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int64()),
        ("source", pa.string()),
        ("lang", pa.string()),
    ]
)


def normalize_image(t: pa.Table) -> pa.Table:
    cols = []
    for f in IMAGE_SCHEMA:
        if f.name in t.column_names:
            cols.append(t[f.name].cast(f.type))
        else:
            cols.append(pa.nulls(t.num_rows, f.type))
    return pa.Table.from_arrays(cols, schema=IMAGE_SCHEMA).sort_by("doc_id").combine_chunks()


def engine_image(df) -> pa.Table:
    """A table image read through the engine (a DataFrame) as arrow."""
    keep = [c for c in IMAGE_SCHEMA.names if c in df.columns]
    return normalize_image(df.select(*keep).toArrow())


def oracle_image(state_path: str, segments: list[dict]) -> pa.Table:
    """Last image per key over the source state (as lsn -1 reads) and
    the given WAL segments, in DuckDB."""
    def lit(p):
        return "'" + p.replace("'", "''") + "'"

    rank = "CASE op WHEN 'r' THEN 0 WHEN 'c' THEN 1 WHEN 'u' THEN 2 ELSE 3 END"
    parts = [
        "SELECT doc_id, -4 AS o, 'r' AS op, tokens, CAST(n_tok AS BIGINT) AS n_tok,"
        f" source, NULL::VARCHAR AS lang FROM read_parquet({lit(state_path)})"
    ]
    for v2 in (False, True):
        paths = [s["path"] for s in segments if s["v2"] == v2]
        if not paths:
            continue
        lang = "after.lang" if v2 else "NULL::VARCHAR"
        parts.append(
            f"SELECT doc_id, lsn * 4 + {rank} AS o, op, after.tokens,"
            f" CAST(after.n_tok AS BIGINT), after.source, {lang}"
            f" FROM read_parquet([{', '.join(lit(p) for p in paths)}])"
        )
    sql = f"""
        WITH ev AS ({' UNION ALL '.join(parts)}),
        w AS (
          SELECT doc_id, arg_max({{'op': op, 'tokens': tokens, 'n_tok': n_tok,
                                   'source': source, 'lang': lang}}, o) AS v
          FROM ev GROUP BY doc_id
        )
        SELECT doc_id, v.tokens AS tokens, v.n_tok AS n_tok, v.source AS source,
               v.lang AS lang
        FROM w WHERE v.op <> 'd'
    """
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        return normalize_image(con.sql(sql).arrow())
    finally:
        con.close()


def flip_one_token(t: pa.Table) -> pa.Table:
    """Copy of an image with one token of its first non-empty row flipped."""
    tok = pa.concat_arrays(t["tokens"].chunks)
    values = tok.values.to_numpy(zero_copy_only=False).copy()
    offsets = tok.offsets.to_numpy()
    row = next(i for i in range(len(tok)) if offsets[i + 1] > offsets[i])
    values[offsets[row]] ^= 1
    flipped = pa.ListArray.from_arrays(tok.offsets, pa.array(values, pa.int32()))
    return t.set_column(t.schema.get_field_index("tokens"), "tokens", flipped)


def images_match(got: pa.Table, want: pa.Table) -> bool:
    return got.num_rows == want.num_rows and got.equals(want)


def image_check(got: pa.Table, want: pa.Table) -> tuple[bool, bool]:
    """(outputs match, the comparison rejects a one-token perturbation)."""
    ok = images_match(got, want)
    rejects = got.num_rows == 0 or not images_match(flip_one_token(got), want)
    return ok, rejects


# ----------------------------------------------------------- digests
def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    return str(v)


def result_digest(t: pa.Table) -> str:
    """Order-insensitive digest: columns by name, rows sorted, cells
    stringified (integral floats as integers, others to 6 digits)."""
    names = sorted(t.column_names)
    cols = [t[n].to_pylist() for n in names]
    rows = sorted("|".join(_cell(c[i]) for c in cols) for i in range(t.num_rows))
    h = hashlib.sha256(("\t".join(names) + "\n").encode())
    h.update("\n".join(rows).encode())
    return f"{t.num_rows}:{h.hexdigest()[:32]}"


def perturb_result(t: pa.Table) -> pa.Table:
    """Copy of a result with its first row dropped, or one fake row
    when the result is empty."""
    if t.num_rows:
        return t.slice(1)
    return pa.Table.from_pylist([{n: 0 for n in t.column_names}])


def digest_check(t: pa.Table, want: str) -> tuple[bool, bool]:
    return result_digest(t) == want, result_digest(perturb_result(t)) != want
