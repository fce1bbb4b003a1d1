"""Manifest-based incremental file ingestion (§2.A a12).

The reference's unit of work is "a new object landed in S3"
(BASELINE.json:6). Batch-side, the engine reproduces those semantics
with a processed-files manifest: each ``process_new`` call lists the
landing prefix, reads only files not yet in the manifest, and records
them. This is the same contract as Structured Streaming's file-source
checkpoint (streaming/, a13) in a batch-pull shape.

The manifest is a JSON list of processed file paths, committed through
the one commit protocol (``fs.write_json_replace``): a kill while it is
rewritten leaves the previous list or the new one.  Landing dir and
manifest may be URIs (``file://``, ``s3a://``), reached through the
Hadoop FileSystem gateway of the session ``process_new`` receives.

Scale: listing is driver-side metadata only (same as any file index);
data reads are fully parallel parquet scans of just the new files. At
100 TB the manifest would live in a transactional store, and listing
would use S3 inventory/notifications — the interface is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from data_lake_staging_engine_spark.fs import (
    filesystem_for,
    read_json_replaced,
    write_json_replace,
)


class IncrementalLoader:
    def __init__(self, landing_dir: str, manifest_path: str):
        self.landing_dir = landing_dir
        self.manifest_path = manifest_path
        self._spark: SparkSession | None = None  # set by process_new

    def _seen(self) -> set[str]:
        fs = filesystem_for(self.manifest_path, self._spark)
        return set(read_json_replaced(fs, self.manifest_path, []))

    def _record(self, files: set[str]) -> None:
        fs = filesystem_for(self.manifest_path, self._spark)
        write_json_replace(fs, self.manifest_path, sorted(files))

    def list_new_files(self) -> list[str]:
        fs = filesystem_for(self.landing_dir, self._spark)
        current = {
            os.path.join(self.landing_dir, f)
            for f in fs.listdir(self.landing_dir)
            if f.endswith(".parquet")
        }
        return sorted(current - self._seen())

    def process_new(self, spark: SparkSession) -> DataFrame | None:
        """Read only files that arrived since the last call; returns None
        when there is nothing new."""
        self._spark = spark
        new = self.list_new_files()
        if not new:
            return None
        df = spark.read.parquet(*new)
        self._record(self._seen() | set(new))
        return df
