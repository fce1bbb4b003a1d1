"""Structured-Streaming execution helpers for the §2.E surface.

Every streaming query runs with ``Trigger.AvailableNow`` over a
deterministic landing copy of the fixture table, so its result equals
the batch run over the same data — the incrementalization-correctness
property of Structured Streaming (PAPERS.md: SIGMOD'18) that the DuckDB
batch oracle can check.

``landing_copy`` re-encodes through Spark, which also normalizes
events.ts from NANOS to regular microsecond parquet timestamps — so the
streaming readers exercise the plain file-source path a production
landing bucket would have.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from data_lake_staging_engine_spark.session import _n_shuffle_parts


def _tmpdir(tag: str) -> str:
    return tempfile.mkdtemp(prefix=f"dlse_stream_{tag}_")


_LANDING_CACHE: dict[tuple, tuple] = {}


@atexit.register
def _remove_landing_copies() -> None:
    """Remove this process's landing copies when the interpreter exits:
    the cache is per process, so no later process can reuse them."""
    for landing, _schema in _LANDING_CACHE.values():
        shutil.rmtree(landing, ignore_errors=True)
    _LANDING_CACHE.clear()


def landing_copy(
    spark: SparkSession, sf_dir: str, table: str, n_files: int = 1, copies: int = 1
):
    """Write a deterministic landing-dir copy of a fixture table; returns
    (landing_dir, schema). ``copies>1`` duplicates rows (for dedup
    tests); ``n_files`` controls micro-batch granularity.

    Copies are content-immutable once written (streaming queries only
    READ them; each query keeps its own checkpoint), so identical
    (sf_dir, table, n_files, copies) requests reuse one directory per
    process — one write job instead of one per streaming query — and
    are removed when the process exits."""
    from data_lake_staging_engine_spark.sources import load

    key = (sf_dir, table, n_files, copies)
    cached = _LANDING_CACHE.get(key)
    if cached is not None and os.path.isdir(cached[0]):
        return cached
    df = load(spark, sf_dir, table)
    for _ in range(copies - 1):
        df = df.unionByName(load(spark, sf_dir, table))
    landing = _tmpdir(f"landing_{table}")
    df.repartition(n_files).write.mode("overwrite").parquet(landing)
    _LANDING_CACHE[key] = (landing, df.schema)
    return landing, df.schema


def scaled_state_partitions(spark: SparkSession, landing: str) -> int:
    """State-partition count sized to the landing data, not the session.

    Stateful operators pay a per-partition per-micro-batch fixed cost
    (state-store open/commit/snapshot) that dwarfs row work on small
    inputs: e08 at sf0.1 measured 3.6 s with 8 state partitions vs
    13.2 s with 64 — same answer, 4x the overhead. The scale rule is
    ~one state partition per 32 MB of input, floored at 8 for
    parallelism and capped at the session's shuffle partitions (a real
    cluster sets that to thousands, so 100 TB inputs still fan out
    fully). State partitioning is fixed by the checkpoint at first
    start, so contract queries (fresh checkpoint per call) can pick it
    per input."""
    total = 0
    for root, _dirs, files in os.walk(landing):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    session_cap = _n_shuffle_parts(spark)
    return max(min(8, session_cap), min(session_cap, total // (32 << 20) + 1))


def drain(spark: SparkSession, writer, timeout_s: float):
    """Run ``writer`` (a configured DataStreamWriter) to completion
    under an AvailableNow trigger; returns the terminated query.

    A drain still running after ``timeout_s`` seconds raises
    ``TimeoutError``, and a drain that raises for any reason is stopped
    first: its output is partial, and a query left running keeps
    writing to its sink and checkpoint while the caller reads or
    deletes them (ADVICE r02).  The session's terminated-query record
    is reset either way, so a long-lived session running many drains
    does not accumulate it."""
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(timeout_s):
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not drain within "
                f"{timeout_s}s"
            )
    finally:
        if q.isActive:
            q.stop()
        spark.streams.resetTerminated()
    return q


def run_to_memory(
    writer_builder,
    spark: SparkSession,
    output_mode: str,
    timeout_s: int = 180,
    state_partitions: int | None = None,
    no_data_batches: bool = True,
) -> DataFrame:
    """Start ``writer_builder`` (a function stream_df -> DataStreamWriter
    precursor, i.e. the transformed streaming DataFrame), drain it with
    AvailableNow into a uniquely-named memory sink, and return the sink
    contents as a local-relation DataFrame.

    The sink's temp view, the terminated-query handle, and the checkpoint
    dir are all released before returning, and also when the drain
    raises: a long-lived session running many streaming queries (the
    driver's 133-query correctness sweep, bench) would otherwise
    accumulate memory-sink rows + state-store references per query and
    degrade over the sweep (measured: e06 ran 4s fresh but 30.7s after
    130 prior queries before this cleanup).

    ``no_data_batches=False`` skips the trailing micro-batch that only
    advances the watermark and evicts state.  Pass it only for a query
    whose output never comes from eviction (an inner join emits on
    match); outer joins and append-mode window aggregates emit exactly
    there.  The checkpoint is deleted after the drain, so the evicted
    state is never read again.

    Concurrency contract (ADVICE r03): ``state_partitions`` (as
    ``spark.sql.shuffle.partitions``) and ``no_data_batches`` (as
    ``spark.sql.streaming.noDataMicroBatches.enabled``) temporarily
    override session-global confs for the drain; both are restored
    after.  Callers are assumed single-threaded per SparkSession — the
    driver sweep, pytest, and bench all are.  A host embedding this
    runner in a multi-threaded session must serialize calls or hand
    each drain its own ``SparkSession.newSession()`` so a
    concurrently-planned query can't observe the temporary values."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    checkpoint = _tmpdir("ckpt")
    # The streaming query reads these at (micro-batch) planning time;
    # restore the session values only after the drain.
    overrides = {}
    if state_partitions is not None:
        overrides["spark.sql.shuffle.partitions"] = str(state_partitions)
    if not no_data_batches:
        overrides["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    saved = {key: spark.conf.get(key) for key in overrides}
    for key, value in overrides.items():
        spark.conf.set(key, value)
    try:
        q = drain(
            spark,
            writer_builder.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", checkpoint),
            timeout_s,
        )
        _capture_run_stats(q, checkpoint)
        # Freeze the sink contents JVM-side (round 17): the old
        # collect() + createDataFrame(rows, schema) decoupled the
        # returned frame from the about-to-be-dropped temp view by
        # shipping EVERY output row JVM -> Python -> JVM — pickled both
        # ways, paid by all 13 streaming queries per invocation (guide
        # §4: don't cross the Python boundary with data the computation
        # never needed there).  An eager localCheckpoint decouples
        # identically — the frame owns its blocks, so the view drop and
        # checkpoint cleanup below cannot invalidate it — with zero
        # Python traffic and the same schema and row order.
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        for key, value in saved.items():
            spark.conf.set(key, value)
        spark.catalog.dropTempView(name)
        shutil.rmtree(checkpoint, ignore_errors=True)


#: Stats of the most recent ``run_to_memory`` drain — state-store rows
#: (from the progress events) and on-disk state dir bytes (measured
#: before the checkpoint is released).  Consumed by
#: scripts/state_growth_study.py; best-effort and never raises.
LAST_RUN_STATS: dict | None = None


def _capture_run_stats(q, checkpoint: str) -> None:
    global LAST_RUN_STATS
    try:
        state_rows = 0
        batches = 0
        for p in q.recentProgress:
            # PySpark returns progress entries as dicts on some
            # versions and StreamingQueryProgress objects on others
            # (ADVICE r13) — normalize through the JSON form so a
            # non-dict entry degrades to parsed stats, not to the
            # blanket-except None that state_growth_study would
            # silently record as a measured zero.  `json` is a METHOD
            # on some PySpark versions and a str PROPERTY on others
            # (ADVICE r14) — handle both shapes.
            if not isinstance(p, dict):
                j = p.json
                p = json.loads(j() if callable(j) else j)
            batches += 1
            for so in p.get("stateOperators") or []:
                state_rows = max(state_rows, int(so.get("numRowsTotal") or 0))
        state_bytes = 0
        sdir = os.path.join(checkpoint, "state")
        for root, _dirs, files in os.walk(sdir):
            for f in files:
                try:
                    state_bytes += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        LAST_RUN_STATS = {
            "state_rows": state_rows,
            "state_dir_bytes": state_bytes,
            "batches": batches,
        }
    except Exception:  # pragma: no cover - diagnostics only
        LAST_RUN_STATS = None
