"""PartialIngestRunner — the lifecycle of ``streaming.multi`` run for
the one table ``cfg.target_table``.

The phases (bootstrap, catch-up, snapshot epoch, tail, streaming tail)
and their exactly-once rules live in :class:`MultiTableIngestRunner`.
This view keeps the one-table surface, so existing warehouses resume
unchanged:

- flat stats dicts (no per-table nesting);
- commit keys ``pid:phase:epoch`` and ``pid:stream:batch_id``, without a
  table suffix;
- the ``_metrics/<target_table>`` and ``_commit_log/<target_table>``
  logs, with per-bucket lineage rows plus an epoch-total row under
  partition ``*``;
- no shared-WAL routing: the source feeds this table only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from debezium_partial_snapshotter_spark.config import PipelineConfig
from debezium_partial_snapshotter_spark.schemas import TOKENS_SCHEMA
from debezium_partial_snapshotter_spark.sources.readers import ParquetWalSource
from debezium_partial_snapshotter_spark.streaming.multi import MultiTableIngestRunner


class PartialIngestRunner(MultiTableIngestRunner):
    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig,
        source: ParquetWalSource,
        payload_schema=TOKENS_SCHEMA,
        table=None,
    ):
        """``table`` swaps the sink: any object implementing the
        LakeTable contract (tests/test_sink_contract.py pins it) —
        e.g. plans.iceberg.IcebergTable on a real cluster. Default:
        a LakeTable under ``{warehouse}/{target_table}``."""
        t = cfg.target_table
        super().__init__(
            spark, cfg, {t: source}, payload_schema,
            tables=None if table is None else {t: table},
        )

    @property
    def table(self):
        return self.tables[self.cfg.target_table]

    @property
    def source(self):
        return self.sources[self.cfg.target_table]

    @source.setter
    def source(self, source) -> None:
        self.sources[self.cfg.target_table] = source

    def _log_name(self) -> str:
        return self.cfg.target_table

    def _key(self, phase: str, n, table: str) -> str:
        return f"{self.cfg.pipeline_id}:{phase}:{n}"

    def _route(self, events: DataFrame, table: str) -> DataFrame:
        return events

    def _total_partition(self, table: str) -> str:
        return "*"

    def catchup(self) -> dict:
        return super().catchup()[self.cfg.target_table]

    def snapshot_epoch(self) -> dict:
        out = super().snapshot_epoch()
        if "tables" not in out:
            return out
        return {
            **out["tables"][self.cfg.target_table],
            "claimed": out["claimed"],
            "snapshot_watermark": out["snapshot_watermark"],
        }

    def tail_batch(self, events: DataFrame | None = None) -> dict:
        return super().tail_batch(events)[self.cfg.target_table]
