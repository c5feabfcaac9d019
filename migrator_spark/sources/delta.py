"""Delta Lake source/sink — import-gated.

Reads, existence checks and whole-table writes over Delta tables under a
root path, so ``delta://`` DSNs work anywhere a Source does. It is not a
MERGE sink: the CDC loader (pipeline/loaders.py) treats it like any
file target — ``apply_cdc_batch`` followed by an overwrite, which Delta
commits atomically as a new table version.

Without delta-spark installed, construction raises ImportError that
points at the parquet:// and jdbc: sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class DeltaSource:
    """Source backed by Delta tables under a root path."""

    def __init__(self, root: str) -> None:
        try:
            from delta.tables import DeltaTable  # noqa: F401
        except ImportError as e:  # pragma: no cover - environment-dependent
            raise ImportError(
                "delta-spark is not installed; use parquet:// (atomic-swap) "
                "or jdbc: sinks in this environment"
            ) from e
        self.root = root.rstrip("/")

    def _path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def table(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.format("delta").load(self._path(name))

    def exists(self, spark: SparkSession, name: str) -> bool:
        from delta.tables import DeltaTable

        return DeltaTable.isDeltaTable(spark, self._path(name))

    def write(self, df: DataFrame, name: str, mode: str = "overwrite") -> None:
        df.write.format("delta").mode(mode).save(self._path(name))
