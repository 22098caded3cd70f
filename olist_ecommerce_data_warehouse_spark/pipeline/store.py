"""Layered Parquet store shared by the medallion and corpus pipelines:
``{base}/{layer}/{name}`` tables written through the counting sink
(``sources.csv.write_table``).  A read of an unpartitioned table this
store wrote is pinned to the written schema, so it skips Spark's
one-task Parquet schema-inference job."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from olist_ecommerce_data_warehouse_spark.sources.audit import AuditLog
from olist_ecommerce_data_warehouse_spark.sources.csv import write_table


class LayerStore:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir.rstrip("/")
        self.audit = AuditLog(spark)
        self._schemas = {}  # path → schema of its last unpartitioned write

    def path(self, layer: str, name: str) -> str:
        return f"{self.base}/{layer}/{name}"

    def read(self, layer: str, name: str) -> DataFrame:
        schema = self._schemas.get(self.path(layer, name))
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self.path(layer, name))

    def write(
        self, df: DataFrame, layer: str, name: str, *,
        mode: str = "overwrite", partition_by: list[str] | None = None, **metrics,
    ) -> dict[str, int]:
        """:func:`write_table` into ``layer/name``; returns its observed counts."""
        path = self.path(layer, name)
        self._schemas.pop(path, None)
        counts = write_table(df, path, partition_by, mode=mode, **metrics)
        if not partition_by:
            self._schemas[path] = df.schema
        return counts

    def _audited_write(
        self, df: DataFrame, layer: str, name: str, source_object: str = ""
    ) -> int:
        with self.audit.run(source_object or name, layer, name) as run:
            run.rows = self.write(df, layer, name)["rows"]
        return run.rows
