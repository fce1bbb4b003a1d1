"""SparkSession factory with deterministic, scale-aware defaults.

Local test/bench runs use ``local[N]``; on a real cluster the same
builder config applies unchanged — nothing here depends on local mode.

Config rationale (SURVEY.md §4, §5.4):

- ``session.timeZone=UTC``: pinned on both engines (DuckDB oracle runs
  ``SET TimeZone='UTC'``) so timestamp-derived values hash-match.
- AQE on (default in Spark 4): runtime join-strategy switch, skew-join
  split, shuffle-partition coalescing — the 100 TB levers that don't
  need code changes.
- ``shuffle.partitions=32``: right-sized for local[32] test SFs; at
  cluster scale AQE coalescing makes the static number mostly moot, and
  a real deployment would raise it to ~2-3x total cores.
- Arrow enabled: vectorized JVM<->Python transfer for pandas UDFs and
  ``toPandas`` (10-100x over row-at-a-time pickling).
- timestamps: the fixtures are tz-naive parquet; events.ts is
  NANOS-precision which Spark cannot read as a timestamp at all
  ([PARQUET_TYPE_ILLEGAL], verified) — so ``nanosAsLong`` reads it as
  an int64 and the table loader converts with ``timestamp_micros(ns div
  1000)``, the same truncation DuckDB applies reading ns parquet
  (verified value-equal). ``inferTimestampNTZ=false`` keeps the ms-
  precision TPC-H timestamps as plain TimestampType so the engine has
  one timestamp type; under the UTC session its values equal DuckDB's
  naive TIMESTAMP.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _pin_process_utc() -> None:
    """Pin the PYTHON PROCESS timezone to UTC, not just the session.

    ``spark.sql.session.timeZone`` governs SQL semantics, but pyspark's
    non-Arrow ``collect()`` renders each TimestampType instant via
    ``datetime.fromtimestamp`` — the C library's LOCAL time. On a UTC
    host the two coincide; on any other host every collected timestamp
    shifts by the host offset while a DuckDB oracle (``SET
    TimeZone='UTC'``) keeps UTC, so hash comparison fails. Found by a
    round-7 TZ=Pacific/Kiritimati registry sweep: exactly the 13
    timestamp-emitting queries failed, every other query held. Pinning
    at the process level makes collection deterministic wherever the
    contract wrapper runs; ``tzset`` is POSIX-only, hence the guard
    (on platforms without it the env var alone still covers newly
    spawned workers)."""
    os.environ["TZ"] = "UTC"
    if hasattr(time, "tzset"):
        time.tzset()


def fixture_split_bytes() -> str:
    """Scan-split size for the LOCAL single-file-per-table fixtures.

    A 30 MB lineitem at sf0.1 is ONE input split at Spark's 128 MB
    default, so a scan-bound query runs on 1 of 32 cores; 8 MB splits
    parallelize the fixtures 2-3x (measured: b10 0.67->0.36 s, d05
    0.78->0.26 s). This is a test/bench entry-point setting ONLY — the
    library default stays at Spark's 128m, which is also the 128-256 MB
    rule DEPLOYMENT.md documents for a real lake (splits ~=
    file-size/parallelism, not a fixed constant). Override with
    SPARK_GRAFT_MAX_PARTITION_BYTES."""
    return os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m")


#: Runtime-settable confs every engine session carries, whoever built
#: it: ``get_spark`` builds with them and ``tune_session`` applies them
#: to a driver-supplied session.  UTC session time, AQE, Arrow transfer,
#: no TIMESTAMP_NTZ inference, and NANOS parquet read as longs (the
#: fixture ``events.ts``).
_SESSION_CONFS = (
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
)


def get_spark(
    app_name: str = "data-lake-staging-engine-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    max_partition_bytes: str | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``max_partition_bytes`` sizes file-scan splits; the library default
    is Spark's own 128m (right for a real lake's 100 MB+ files). Local
    test/bench entry points pass ``fixture_split_bytes()`` explicitly
    because the tiny single-file fixtures need far smaller splits to
    parallelize — see that helper's docstring (ADVICE r05: the 8m
    fixture tuning must not leak into library defaults)."""
    _pin_process_utc()
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cores
    max_partition_bytes = max_partition_bytes or os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", max_partition_bytes)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for key, val in _SESSION_CONFS:
        builder = builder.config(key, val)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable determinism/perf settings to an
    externally-provided session (the driver passes its own ``spark``).

    maxPartitionBytes is only touched when SPARK_GRAFT_MAX_PARTITION_BYTES
    is explicitly set: an externally-built session (including one from
    ``get_spark(max_partition_bytes=...)``) keeps its own split sizing
    otherwise (ADVICE r05: no silent clobbering).

    Also pins the calling PROCESS's timezone to UTC (see
    ``_pin_process_utc``): the driver collects query results in its own
    process, and collection renders timestamps in the process-local
    zone — session-level UTC alone is not enough on a non-UTC host."""
    _pin_process_utc()
    settings = list(_SESSION_CONFS)
    env_split = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    if env_split is not None:
        settings.append(("spark.sql.files.maxPartitionBytes", env_split))
    for key, val in settings:
        try:
            spark.conf.set(key, val)
        except Exception:
            pass  # static-only conf on some builds
    return spark


def _n_shuffle_parts(spark: SparkSession) -> int:
    """The session's shuffle-partition conf, falling back to the
    cluster's default parallelism on platforms whose AQE auto-optimized
    shuffle reports the conf as the non-numeric string 'auto' (ADVICE
    r12)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def release_local_checkpoint(df) -> None:
    """Free the block-manager storage behind a ``localCheckpoint``-ed
    DataFrame once nothing will read it again.

    ``Dataset.unpersist()`` is a NO-OP for checkpoints — they never
    register with the CacheManager — so the one operator family that
    checkpoints per round (the g26/g28 components delta-iteration)
    would otherwise hold every superseded round's blocks until session
    end (ADVICE r07).  The other iterative operators (g13 k-means,
    g03e's IVF build) re-derive their loop state lazily and take a
    SINGLE final checkpoint that the caller still needs — nothing to
    release there (ADVICE r08 premise probed round 9). The checkpointed RDD lives inside the analyzed plan's
    ``LogicalRDD``; unpersisting THAT rdd releases the blocks (verified
    against ``sc.getRDDStorageInfo`` on pyspark 4.1.2).

    Best-effort by design: storage is bounded (max_rounds-capped) even
    if a future Spark hides the internals, so failure to release must
    never fail the query."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass
