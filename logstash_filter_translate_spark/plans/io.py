"""Format-pluggable table IO — the S7 event-source/sink seam.

SURVEY §2.2 S7 names the event source "Iceberg/parquet table scan"
(reference event-source contract: the plugin consumes whatever pipeline
input feeds it, translate.rb:264; at the north-star scale that input is an
Iceberg table of Common-Crawl-style pages). This module is the seam that
makes the format a configuration, not a code path:

  - ``TableIO`` resolves read/write through one indirection — ``parquet``
    (always available; the sandbox default) or ``iceberg`` (used when the
    runtime ships the Iceberg Spark runtime jars and a catalog is
    configured). The pipeline's reads and writes go through it, so a
    cluster with Iceberg jars runs the identical pipeline with
    ``table_format="iceberg"``. The headline queries read the parquet
    testdata directly.
  - ``TableIO.write(..., partition_by=)`` states sink partitioning as
    identity-partition column names shared by both formats: for parquet
    they drive ``partitionBy`` (hive-style directory subtrees); for
    Iceberg they become the table's identity-partition spec via
    ``writeTo(...).partitionedBy(...)``. The route fan-out's
    ``ROUTED_SINK_PARTITIONS`` is therefore executable code, not a
    comment.

Why Iceberg is load-bearing at 100 TB (and why the seam exists even where
only parquet can run): hidden partitioning keeps (route, lang) pruning
without fragile directory conventions; snapshot isolation gives the
dictionary-refresh broadcast swap a consistent input view per batch and
makes the resumable checkpoint a table snapshot instead of a _SUCCESS
marker; compaction bounds small files from per-batch route writes.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

PARQUET = "parquet"
ICEBERG = "iceberg"


#: the route fan-out sink partitioning: each (route, lang) pair is one
#: identity partition — matched/fallback/failed and per-lang sub-routes
#: land in their own subtree/partition, pruned by sink readers
ROUTED_SINK_PARTITIONS = ("route", "lang")


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class TableIO:
    """One read/write indirection per table format.

    parquet: ``location`` is a filesystem path (directory of files).
    iceberg: ``location`` is a catalog table identifier
    (``catalog.db.table``); the catalog must be configured on the session
    (spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog + a
    warehouse) — the standard spark-submit deployment shape.
    """

    def __init__(self, spark: SparkSession, fmt: str = PARQUET):
        if fmt not in (PARQUET, ICEBERG):
            raise ValueError(f"unknown table format {fmt!r}")
        if fmt == ICEBERG and not iceberg_available(spark):
            raise RuntimeError(
                "format='iceberg' requires the iceberg-spark-runtime jars "
                "on the classpath (spark-submit --packages "
                "org.apache.iceberg:iceberg-spark-runtime-...)"
            )
        self.spark = spark
        self.fmt = fmt

    def loc(self, base: str, name: str) -> str:
        """Child location: path join for parquet, dotted identifier for
        iceberg (``warehouse_dir/routed`` vs ``catalog.db.routed``)."""
        if self.fmt == ICEBERG:
            return f"{base}.{name}"
        import os

        return os.path.join(base, name)

    # -- read ---------------------------------------------------------------
    def read(self, location: str) -> DataFrame:
        if self.fmt == ICEBERG:
            # catalog identifier; format("iceberg").load also accepts paths
            return self.spark.read.format(ICEBERG).load(location)
        return self.spark.read.parquet(location)

    # -- write --------------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        location: str,
        partition_by: Sequence[str] = (),
    ) -> None:
        """Overwrite ``location`` with ``df``, identity-partitioned by the
        ``partition_by`` columns: ``createOrReplace`` for Iceberg,
        overwrite mode for parquet."""
        if self.fmt == ICEBERG:
            from pyspark.sql import functions as F

            writer = df.writeTo(location).using(ICEBERG)
            if partition_by:
                writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
            writer.createOrReplace()
            return
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(location)
