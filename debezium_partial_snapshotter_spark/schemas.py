"""Canonical schemas for the engine.

The change-event envelope mirrors the Debezium envelope the reference's
tests pin (``after`` struct + ``source.snapshot`` tag + LSN ordering:
reference ``PartialSnapshotterTest.java:424-438``, ``README.md:58,91``),
re-expressed as a flat Spark StructType. The payload is the north-rule
tokens table: ``doc_id:string, tokens:array<int32>, n_tok:int32,
source:string``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# --- payload: pre-tokenized training sequences (BASELINE.json input_hint) ---
TOKENS_FIELDS = [
    StructField("doc_id", StringType(), False),
    StructField("tokens", ArrayType(IntegerType()), True),  # int32 token ids
    StructField("n_tok", IntegerType(), True),
    StructField("source", StringType(), True),
]
TOKENS_SCHEMA = StructType(TOKENS_FIELDS)

# Evolved payload (schema-evolution scenario: add-column lang, widen n_tok)
TOKENS_SCHEMA_V2 = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", LongType(), True),  # widened int32 -> int64
        StructField("source", StringType(), True),
        StructField("lang", StringType(), True),  # added column
    ]
)

# --- change-event log (the stream input) ---
# op: 'r' snapshot read | 'c' create | 'u' update | 'd' delete
# snapshot: 'true' | 'last' | 'false' (reference source.snapshot tag)
CHANGE_EVENT_SCHEMA = StructType(
    [
        StructField("op", StringType(), False),
        StructField("doc_id", StringType(), False),
        StructField("lsn", LongType(), False),
        StructField("snapshot", StringType(), True),
        StructField("table_partition", StringType(), False),
        StructField("after", TOKENS_SCHEMA, True),  # null for deletes
    ]
)

CHANGE_EVENT_SCHEMA_V2 = StructType(
    [
        StructField("op", StringType(), False),
        StructField("doc_id", StringType(), False),
        StructField("lsn", LongType(), False),
        StructField("snapshot", StringType(), True),
        StructField("table_partition", StringType(), False),
        StructField("after", TOKENS_SCHEMA_V2, True),
    ]
)

#: Rank of an op when it ties with another event at the same LSN for the
#: same key. A snapshot read taken at watermark W must LOSE to any WAL
#: event with lsn >= W (reference semantics: snapshot rows are never
#: re-streamed and never overwrite concurrent WAL writes —
#: PartialSnapshotter.java:59-64, SURVEY.md B4). Deletes outrank
#: updates at the same LSN (a txn's final op wins).
OP_RANK = {"r": 0, "c": 1, "u": 2, "d": 3}
