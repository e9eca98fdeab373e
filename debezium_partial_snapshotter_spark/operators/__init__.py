from debezium_partial_snapshotter_spark.operators.upsert import apply_batch  # noqa: F401
