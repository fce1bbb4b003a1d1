"""Catalog-sync layer (§2.A a11) — the reference's Glue-sync re-expressed.

The reference registers every staged Parquet prefix in the AWS Glue Data
Catalog so it is immediately queryable (SURVEY.md §0 [PK] profile). The
engine abstracts that behind ``CatalogSync``:

- ``SessionCatalogSync`` — the tested implementation: Spark session
  catalog / warehouse (``saveAsTable`` + ``spark.table``). On a real
  deployment with ``spark.sql.catalogImplementation=hive`` and the Glue
  Data Catalog client factory configured, the exact same code path
  lands tables in Glue — that is the idiomatic Spark-on-AWS wiring.
- ``GlueBoto3CatalogSync`` — thin, clearly-marked untested shim for
  environments that sync Glue out-of-band via boto3 (no AWS access in
  this environment; SURVEY.md §7 hard-list #5).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def drop_managed_table(spark: SparkSession, table: str) -> None:
    """Drop ``table`` and its warehouse directory.  A fresh (in-memory)
    metastore doesn't know about tables from a previous process, but
    their warehouse directories survive and block CREATE — so drop
    both, like the reference's idempotent create-or-update Glue
    sync."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    path = os.path.join(warehouse.removeprefix("file:"), table)
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)


class CatalogSync:
    """Register a staged DataFrame/location as a queryable table."""

    def sync_table(self, df: DataFrame, table: str, partition_cols: list[str] | None = None) -> None:
        raise NotImplementedError

    def read_table(self, spark: SparkSession, table: str) -> DataFrame:
        raise NotImplementedError


class SessionCatalogSync(CatalogSync):
    """Session-catalog (local warehouse / Hive metastore / Glue-via-Hive)
    implementation — the tested code path."""

    def sync_table(self, df, table, partition_cols=None):
        drop_managed_table(df.sparkSession, table)
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.saveAsTable(table)

    def read_table(self, spark, table):
        return spark.table(table)


class GlueBoto3CatalogSync(CatalogSync):
    """Direct Glue Data Catalog sync for non-Hive deployments (the
    public ``boto3`` Glue API: ``create_table`` / ``update_table`` with
    a TableInput document).

    The Glue client is INJECTABLE: production passes nothing and gets
    ``boto3.client('glue')``; tests pass a fake that records the API
    calls — so the whole adapter contract (Spark-schema -> Glue column
    mapping, partition-key split, parquet serde descriptor, idempotent
    create-or-update) is exercised offline (tests/test_glue_contract
    .py); only the wire client itself needs AWS. Against a real
    account this is the standard external-table registration shape."""

    _PARQUET_INPUT = "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat"
    _PARQUET_OUTPUT = "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat"
    _PARQUET_SERDE = "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe"

    def __init__(self, database: str, s3_location_root: str, client=None):
        self.database = database
        self.s3_location_root = s3_location_root.rstrip("/")
        self._client = client

    def _glue(self):
        if self._client is None:  # pragma: no cover - needs AWS
            try:
                import boto3
            except ImportError as e:
                raise NotImplementedError(
                    "GlueBoto3CatalogSync requires boto3/AWS access (offline "
                    "env); use SessionCatalogSync, or Hive+Glue catalog wiring"
                ) from e
            self._client = boto3.client("glue")
        return self._client

    def table_input(self, df: DataFrame, table: str, partition_cols=None) -> dict:
        """Build the Glue TableInput for a staged DataFrame. Spark's
        ``DataType.simpleString()`` already emits Hive/Glue-compatible
        type names (bigint, double, array<double>, struct<...>), so the
        schema maps 1:1; partition columns move from Columns to
        PartitionKeys exactly as Hive-layout parquet requires."""
        pcols = list(partition_cols or [])
        fields = {f.name: f for f in df.schema.fields}
        missing = [c for c in pcols if c not in fields]
        if missing:
            raise ValueError(f"partition columns not in schema: {missing}")
        data_cols = [
            {"Name": f.name, "Type": f.dataType.simpleString()}
            for f in df.schema.fields
            if f.name not in pcols
        ]
        part_keys = [
            {"Name": c, "Type": fields[c].dataType.simpleString()} for c in pcols
        ]
        return {
            "Name": table,
            "TableType": "EXTERNAL_TABLE",
            "Parameters": {"classification": "parquet"},
            "PartitionKeys": part_keys,
            "StorageDescriptor": {
                "Columns": data_cols,
                "Location": f"{self.s3_location_root}/{table}",
                "InputFormat": self._PARQUET_INPUT,
                "OutputFormat": self._PARQUET_OUTPUT,
                "SerdeInfo": {"SerializationLibrary": self._PARQUET_SERDE},
            },
        }

    def sync_table(self, df, table, partition_cols=None):
        """Idempotent create-or-update (the same semantics as
        SessionCatalogSync's drop-and-recreate, expressed the Glue way:
        update when the table exists, create when it doesn't)."""
        glue = self._glue()
        ti = self.table_input(df, table, partition_cols)
        try:
            glue.get_table(DatabaseName=self.database, Name=table)
        except glue.exceptions.EntityNotFoundException:
            glue.create_table(DatabaseName=self.database, TableInput=ti)
            return
        glue.update_table(DatabaseName=self.database, TableInput=ti)

    def read_table(self, spark, table):
        return spark.table(f"{self.database}.{table}")
