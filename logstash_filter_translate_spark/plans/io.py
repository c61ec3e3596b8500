"""Format-pluggable table IO — the S7 event-source/sink seam.

SURVEY §2.2 S7 names the event source "Iceberg/parquet table scan"
(reference event-source contract: the plugin consumes whatever pipeline
input feeds it, translate.rb:264; at the north-star scale that input is an
Iceberg table of Common-Crawl-style pages). This module is the seam that
makes the format a configuration, not a code path:

  - ``TableIO`` resolves read/write through one indirection — ``parquet``
    (always available; the sandbox default) or ``iceberg`` (used when the
    runtime ships the Iceberg Spark runtime jars and a catalog is
    configured). Every query/pipeline call sites go through it, so a
    cluster with Iceberg jars runs the identical code with
    ``format="iceberg"``.
  - ``PartitionSpec`` states sink partitioning as a spec OBJECT shared by
    both formats: for parquet it drives ``partitionBy`` (hive-style
    directory subtrees); for Iceberg it becomes the table's
    identity-partition spec via ``writeTo(...).partitionedBy(...)``. The
    route fan-out's (route, lang) spec is therefore executable code, not a
    comment.

Why Iceberg is load-bearing at 100 TB (and why the seam exists even where
only parquet can run): hidden partitioning keeps (route, lang) pruning
without fragile directory conventions; snapshot isolation gives the
dictionary-refresh broadcast swap a consistent input view per batch and
makes the resumable checkpoint a table snapshot instead of a _SUCCESS
marker; compaction bounds small files from per-batch route writes.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Tuple

from pyspark.sql import DataFrame, SparkSession

PARQUET = "parquet"
ICEBERG = "iceberg"


@dataclass(frozen=True)
class PartitionSpec:
    """Identity-partition spec (the subset both formats express natively).

    Iceberg transforms (bucket/truncate/days) would extend this with a
    (transform, column) pair per field; the pipeline's sinks only need
    identity partitioning, so fields are plain column names.
    """

    fields: Tuple[str, ...] = ()

    def __bool__(self) -> bool:
        return bool(self.fields)


#: the route fan-out sink spec: each (route, lang) pair is one partition —
#: matched/fallback/failed and per-lang sub-routes land in their own
#: subtree/partition, pruned by sink readers (north_rule fan-out contract)
ROUTED_SINK_SPEC = PartitionSpec(("route", "lang"))


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
        spec: Optional[PartitionSpec] = None,
    ) -> None:
        """Overwrite ``location`` with ``df``: ``createOrReplace`` for
        Iceberg, overwrite mode for parquet."""
        spec = spec or PartitionSpec()
        if self.fmt == ICEBERG:
            from pyspark.sql import functions as F

            writer = df.writeTo(location).using(ICEBERG)
            if spec:
                writer = writer.partitionedBy(*[F.col(c) for c in spec.fields])
            writer.createOrReplace()
            return
        w = df.write.mode("overwrite")
        if spec:
            w = w.partitionBy(*spec.fields)
        w.parquet(location)
