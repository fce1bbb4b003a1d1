"""Checkpoint kill/restart recovery — exactly-once across a restart
(VERDICT r10 #3: the one production streaming behavior previously
asserted by architecture rather than test).

Shape of every test here (deterministic since round 13 — VERDICT r12
item #1): land ONLY the first file, run the query with
``maxFilesPerTrigger=1`` on a ProcessingTime trigger, ``stop()`` it
after the FIRST committed micro-batch, land the REMAINING files, then
restart from the SAME checkpoint over the grown landing with
``Trigger.AvailableNow`` and assert the final output equals the batch
oracle over the full landing: nothing reprocessed, nothing skipped.

Landing the later files only after the stop makes "work remained after
run 1" true by construction.  The original shape (land everything up
front, race ``stop()`` against a 3-file drain) was flaky on a fast box:
three tiny micro-batches drained inside the poll interval, tripping the
tests' own mid-stream precondition even though the engine output was
exactly-once-correct.  The recovery semantics under test are unchanged
— a restarted query lists the landing fresh and must consume the new
files with the checkpoint-restored state (seen-keys, GroupState, sink
metadata log), exactly the deploy-restart / spot-kill sequence where a
producer keeps landing files while the consumer is down.

Each test still asserts run 1 stopped before the full landing existed
(partial output strictly between 0 and the total) — now deterministic
rather than timing-dependent.

Recovery-hardening these tests pinned into the engine:

- StagingPipeline's staged write is idempotent per batch (the batch id
  is a partition column written with dynamic partition overwrite), so
  even a kill after a partial parquet append but before the checkpoint
  commit replays cleanly — pipeline.py:_stage_batch.
- a19's keyed upsert publishes each merged state as a VersionedTable
  version: a kill before the manifest flip leaves the pre-batch state
  (and an orphan dir the next vacuum sweeps), a kill after it replays
  onto the post-batch state — staging.py:make_keyed_upsert.
- The keyed-dedup test relies on the parquet STREAMING sink's own
  transactional _spark_metadata log plus dropDuplicates state restored
  from the checkpoint: the post-restart batches see the pre-kill seen-
  keys, so a duplicate landed after the restart is still suppressed.
"""

import os
import tempfile
import time

import pytest
# Slow tier (pytest.ini): hard-kill / restart recovery suite.
pytestmark = pytest.mark.slow

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_lake_staging_engine_spark.sources import load
from data_lake_staging_engine_spark.streaming.runner import landing_copy


_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


@pytest.fixture(params=["hdfs", "rocksdb"])
def state_backend(request, spark):
    """Run a STATEFUL recovery test under both state-store providers
    (VERDICT r11 #4): DEPLOYMENT.md prescribes RocksDB at 100 TB key
    cardinalities, and recovery-from-checkpoint is exactly where a
    backend differs (HDFS store restores from delta files in memory;
    RocksDB from SST snapshots + changelog).  Spark pins the provider
    class in the checkpoint's offset metadata at FIRST start, so
    setting the session conf before the first start covers the restart
    leg too.  Only applied to tests that instantiate state — the
    pipeline/upsert/compaction tests are foreachBatch + file-source
    only and never construct a state store, so parametrizing them
    would run identical code twice."""
    if request.param == "rocksdb":
        spark.conf.set(_PROVIDER_KEY, _ROCKSDB)
    try:
        yield request.param
    finally:
        spark.conf.unset(_PROVIDER_KEY)


def _stop_after_first_commit(q, timeout_s=120):
    """Wait for the first committed micro-batch with input rows, then
    stop the query.  Returns that batch's id.  Scans ``recentProgress``
    (not just ``lastProgress``) so a 0-row idle trigger emitted after
    the data batch cannot mask it.  Callers land only the first input
    file before starting the query, so run 1 cannot drain past batch 0
    regardless of box speed."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        for p in q.recentProgress:
            if p is not None and p.get("numInputRows", 0) > 0:
                q.stop()
                q.awaitTermination(60)
                return p["batchId"]
        time.sleep(0.05)
    q.stop()
    raise AssertionError("no micro-batch committed before timeout")


def _split_landing(spark, df, n_parts, key, prefix):
    """Write part 0 of ``df`` (split by ``key % n_parts``) into a fresh
    landing dir and return ``(landing, land_rest)`` where ``land_rest()``
    appends the remaining parts.  Recovery tests call ``land_rest`` only
    AFTER stopping run 1, so the restart provably has new work."""
    parts = [
        df.filter(F.col(key) % n_parts == i).coalesce(1)
        for i in range(n_parts)
    ]
    landing = tempfile.mkdtemp(prefix=prefix)
    parts[0].write.mode("append").parquet(landing)

    def land_rest():
        for p in parts[1:]:
            p.write.mode("append").parquet(landing)

    return landing, land_rest


def _assert_frames_equal(actual, expected):
    assert actual.exceptAll(expected).count() == 0
    assert expected.exceptAll(actual).count() == 0


def test_pipeline_kill_restart_exactly_once(spark, sf_dir):
    """a13's StagingPipeline: kill after batch 1 of 4, restart from the
    same checkpoint, staged table equals the batch transform of the
    full landing — no duplicates, no gaps."""
    from data_lake_staging_engine_spark.operators.staging import (
        derive_date_partitions,
        normalize_columns,
    )
    from data_lake_staging_engine_spark.pipeline import StagingPipeline

    e = load(spark, sf_dir, "events")
    schema = e.schema
    landing, land_rest = _split_landing(
        spark, e, n_parts=4, key="event_id", prefix="dlse_rec13_landing_"
    )
    staged = tempfile.mkdtemp(prefix="dlse_rec13_staged_")
    ckpt = tempfile.mkdtemp(prefix="dlse_rec13_ckpt_")
    pipe = StagingPipeline(
        spark,
        landing_dir=landing,
        staged_dir=staged,
        checkpoint_dir=ckpt,
        table="staged_events_recovery",
        schema=schema,
        reader_options={"maxFilesPerTrigger": 1},
    )
    q = pipe.start(processing_time="3 seconds")
    _stop_after_first_commit(q)
    land_rest()  # files keep landing while the consumer is down

    total = spark.read.schema(schema).parquet(landing).count()
    partial = spark.read.schema(pipe.staged_schema()).parquet(staged).count()
    assert 0 < partial < total, "stop was not mid-stream"

    # Restart: SAME checkpoint, SAME landing; AvailableNow drains the
    # remaining files exactly once.
    final = pipe.run_available_now(timeout_s=180).drop("_ingest_batch")
    expected = derive_date_partitions(
        normalize_columns(spark.read.schema(schema).parquet(landing)), "ts"
    )
    _assert_frames_equal(final, expected)


def test_pipeline_batch_replay_is_idempotent(spark, sf_dir):
    """The staged write's exactly-once claim under the WORSE failure:
    a batch's parquet write completed but the checkpoint commit did not
    (simulated by re-invoking _stage_batch with the same batch id, which
    is exactly what a post-kill replay does).  Dynamic overwrite on the
    _ingest_batch partition makes the replay a no-op instead of a
    duplication — the failure blind append cannot survive."""
    from data_lake_staging_engine_spark.pipeline import StagingPipeline

    landing, schema = landing_copy(spark, sf_dir, "events", n_files=4)
    staged = tempfile.mkdtemp(prefix="dlse_rep13_staged_")
    pipe = StagingPipeline(
        spark,
        landing_dir=landing,
        staged_dir=staged,
        checkpoint_dir=tempfile.mkdtemp(prefix="dlse_rep13_ckpt_"),
        table="staged_events_replay",
        schema=schema,
    )
    from data_lake_staging_engine_spark.operators.staging import (
        derive_date_partitions,
        normalize_columns,
    )

    batch = spark.read.schema(schema).parquet(landing).limit(500)
    pipe._stage_batch(batch, 7)
    n_once = spark.read.schema(pipe.staged_schema()).parquet(staged).count()
    pipe._stage_batch(batch, 7)  # replay (overwrites its own partitions)
    again = spark.read.schema(pipe.staged_schema()).parquet(staged)
    assert again.count() == n_once == batch.count()
    expected = derive_date_partitions(normalize_columns(batch), "ts")
    _assert_frames_equal(again.drop("_ingest_batch"), expected)


def test_upsert_kill_restart_converges(spark, sf_dir):
    """a19's CDC-style keyed upsert: kill after batch 1 of 4, restart
    from the same checkpoint, final state equals the batch keep-latest
    (a07 semantics) over the full landing."""
    from data_lake_staging_engine_spark.operators.staging import (
        make_keyed_upsert,
    )
    from data_lake_staging_engine_spark.versioning import VersionedTable

    e = load(spark, sf_dir, "events")
    schema = e.schema
    landing, land_rest = _split_landing(
        spark, e, n_parts=4, key="event_id", prefix="dlse_rec19_landing_"
    )
    state_dir = tempfile.mkdtemp(prefix="dlse_rec19_state_")
    ckpt = tempfile.mkdtemp(prefix="dlse_rec19_ckpt_")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    # THE production body (a19 builds its foreachBatch from the same
    # factory) — the recovery behavior under test is the shipped code,
    # not a copy that could drift (round-11 review finding).
    upsert = make_keyed_upsert(spark, state_dir)

    def writer():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
        )

    q = writer().trigger(processingTime="3 seconds").start()
    _stop_after_first_commit(q)
    state = VersionedTable(state_dir)
    assert state.latest() is not None
    n_partial = spark.read.schema(schema).parquet(
        state.entry()["path"]
    ).count()
    land_rest()
    assert 0 < n_partial < e.count(), "stop was not mid-stream"

    q2 = writer().trigger(availableNow=True).start()
    q2.awaitTermination(180)

    final = spark.read.schema(schema).parquet(state.entry()["path"])
    expected = (
        spark.read.schema(schema)
        .parquet(landing)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    _assert_frames_equal(final, expected)


@pytest.mark.parametrize("kill", ["before_flip", "after_flip"])
def test_upsert_kill_points_converge(spark, sf_dir, monkeypatch, kill):
    """a19's keyed upsert commits each batch through VersionedTable.
    Fail batch 1 (of 4) once before its manifest flip and once after it
    (before its vacuum): the drain dies with the pre-batch or the
    post-batch state published, and a restart from the same checkpoint
    converges on the batch keep-latest, with the orphan swept."""
    from data_lake_staging_engine_spark.operators.staging import (
        make_keyed_upsert,
    )
    from data_lake_staging_engine_spark.streaming.runner import drain
    from data_lake_staging_engine_spark.versioning import VersionedTable

    e = load(spark, sf_dir, "events")
    schema = e.schema
    landing, land_rest = _split_landing(
        spark, e, n_parts=4, key="event_id", prefix="dlse_rec19k_landing_"
    )
    land_rest()
    state_dir = tempfile.mkdtemp(prefix="dlse_rec19k_state_")
    ckpt = tempfile.mkdtemp(prefix="dlse_rec19k_ckpt_")
    upsert = make_keyed_upsert(spark, state_dir)

    def writer():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
        )

    # Batch 0 calls _flip once (its publish; its vacuum has nothing to
    # prune) and vacuum once, so the second call of either is batch 1's.
    target = "_flip" if kill == "before_flip" else "vacuum"
    real = getattr(VersionedTable, target)
    calls = []

    def failing(self, *args):
        calls.append(args)
        if len(calls) == 2:
            raise RuntimeError(f"injected kill {kill}")
        return real(self, *args)

    with monkeypatch.context() as m:
        m.setattr(VersionedTable, target, failing)
        with pytest.raises(Exception, match=f"injected kill {kill}"):
            drain(spark, writer(), 180)
    state = VersionedTable(state_dir)
    assert state.latest() == (1 if kill == "before_flip" else 2)

    drain(spark, writer(), 180)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    expected = (
        spark.read.schema(schema)
        .parquet(landing)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    _assert_frames_equal(
        spark.read.schema(schema).parquet(state.entry()["path"]), expected
    )
    assert [d for d in os.listdir(state_dir) if d.startswith("v")] == [
        os.path.basename(state.entry()["path"])
    ]


def test_dedup_state_survives_restart(spark, sf_dir, state_backend):
    """e05-family keyed dedup: duplicates of batch-1 rows land in a
    LATER file, the query is killed after batch 1, and the restarted
    query must still suppress them — i.e. the dropDuplicates seen-keys
    state really is restored from the checkpoint, and the parquet
    streaming sink's _spark_metadata log keeps the output exactly-once
    across the kill.  Parametrized over both state-store providers."""
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    half = e.agg(F.expr("percentile(event_id, 0.5)")).collect()[0][0]
    first = e.filter(F.col("event_id") <= half)
    rest = e.filter(F.col("event_id") > half)

    landing = tempfile.mkdtemp(prefix="dlse_rec05_landing_")
    # File 1: first half — the ONLY file visible to run 1, so run 1
    # deterministically commits exactly one data batch.  Files 2 and 3
    # land only after the stop: file 2 is the second half, file 3 the
    # first half AGAIN — exact duplicate rows that only the
    # checkpoint-restored seen-keys state can suppress after restart.
    first.coalesce(1).write.mode("append").parquet(os.path.join(landing, "f1"))

    def land_rest():
        rest.coalesce(1).write.mode("append").parquet(
            os.path.join(landing, "f2")
        )
        first.coalesce(1).write.mode("append").parquet(
            os.path.join(landing, "f3")
        )

    sink = tempfile.mkdtemp(prefix="dlse_rec05_sink_")
    ckpt = tempfile.mkdtemp(prefix="dlse_rec05_ckpt_")

    def writer():
        s = (
            spark.readStream.schema(first.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(landing)
        )
        return (
            s.dropDuplicates(["event_id"])
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
        )

    q = writer().trigger(processingTime="3 seconds").start()
    _stop_after_first_commit(q)
    land_rest()

    emitted_partial = spark.read.schema(first.schema).parquet(sink).count()
    assert 0 < emitted_partial < e.count(), "stop was not mid-stream"

    q2 = writer().trigger(availableNow=True).start()
    q2.awaitTermination(180)

    final = spark.read.schema(first.schema).parquet(sink)
    # Exactly-once + state recovery: every event exactly once despite
    # the duplicate file and the kill.
    assert final.groupBy("event_id").count().filter("count > 1").count() == 0
    _assert_frames_equal(final, e)


def test_stateful_fold_survives_restart(spark, sf_dir, state_backend):
    """e06-family CUSTOM stateful operator (applyInPandasWithState):
    per-user running event count, landed as 3 files with
    maxFilesPerTrigger=1, killed after the first committed batch,
    restarted from the same checkpoint with AvailableNow.  The latest
    emitted state per user must equal the batch groupBy count — if the
    custom GroupState were NOT restored, every user seen before the
    kill would restart from zero and undercount.  Runs under both
    state-store providers; emitted updates land through foreachBatch
    into batch-id-stamped parquet (update-mode streams cannot write
    file sinks directly), and the checkpoint continues batch numbering
    across the restart so max(_batch_id) per user is the final state."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    e = load(spark, sf_dir, "events").select("event_id", "user_id")
    third = e.count() // 3
    assert third > 0
    landing, land_rest = _split_landing(
        spark, e, n_parts=3, key="event_id", prefix="dlse_rec06_landing_"
    )

    sink = tempfile.mkdtemp(prefix="dlse_rec06_sink_")
    ckpt = tempfile.mkdtemp(prefix="dlse_rec06_ckpt_")
    out_schema = StructType(
        [StructField("user_id", LongType()), StructField("n_events", LongType())]
    )
    state_schema = StructType([StructField("n", LongType())])

    def count_user(key, pdf_iter, state: GroupState):
        import pandas as pd

        (n,) = state.get if state.exists else (0,)
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    def writer():
        s = (
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(landing)
            .select("user_id")
        )
        stateful = s.groupBy("user_id").applyInPandasWithState(
            count_user,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

        def sink_batch(bdf, bid):
            bdf.withColumn("_batch_id", F.lit(bid)).write.mode(
                "append"
            ).parquet(sink)

        return (
            stateful.writeStream.outputMode("update")
            .foreachBatch(sink_batch)
            .option("checkpointLocation", ckpt)
        )

    q = writer().trigger(processingTime="3 seconds").start()
    _stop_after_first_commit(q)
    land_rest()

    partial = spark.read.parquet(sink)
    total_users = e.select("user_id").distinct().count()
    assert partial.select("user_id").distinct().count() > 0
    assert (
        partial.select("_batch_id").distinct().count() < 3
    ), "stop was not mid-stream"

    q2 = writer().trigger(availableNow=True).start()
    q2.awaitTermination(180)

    emitted = spark.read.parquet(sink)
    w = Window.partitionBy("user_id").orderBy(F.col("_batch_id").desc())
    latest = (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "n_events")
    )
    expected = e.groupBy("user_id").agg(F.count("*").alias("n_events"))
    assert latest.count() == total_users
    _assert_frames_equal(latest, expected)


def test_compaction_folds_batch_leaves_and_ingest_resumes(spark, sf_dir):
    """The idempotent staged layout grows one leaf per (date, batch);
    compact_staged folds them to one per date under the reserved
    epoch _ingest_batch=-1, preserving rows exactly — and a SUBSEQUENT
    incremental drain from the same checkpoint still lands new batches
    alongside the compacted epoch with nothing lost or duplicated."""
    import shutil

    from data_lake_staging_engine_spark.pipeline import StagingPipeline

    src, schema = landing_copy(spark, sf_dir, "events", n_files=4)
    landing = tempfile.mkdtemp(prefix="dlse_cmp_landing_")
    files = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet")
    )
    for f in files[:3]:
        shutil.copy(os.path.join(src, f), os.path.join(landing, f))

    staged = tempfile.mkdtemp(prefix="dlse_cmp_staged_")
    pipe = StagingPipeline(
        spark,
        landing_dir=landing,
        staged_dir=staged,
        checkpoint_dir=tempfile.mkdtemp(prefix="dlse_cmp_ckpt_"),
        table="staged_events_compaction",
        schema=schema,
        reader_options={"maxFilesPerTrigger": 1},
    )
    pipe.run_available_now(timeout_s=180)
    before = pipe._staged_view()
    n_before = before.count()
    ids_before = set(
        r._ingest_batch
        for r in before.select("_ingest_batch").distinct().collect()
    )
    assert len(ids_before) == 3  # one leaf set per micro-batch

    compacted = pipe.compact_staged()
    assert compacted.count() == n_before
    assert set(
        r._ingest_batch
        for r in compacted.select("_ingest_batch").distinct().collect()
    ) == {-1}
    # really fewer leaves on disk: the snapshot holds only epoch
    # leaves, and the folded live leaves are gone
    def leaves(root_dir):
        return [
            root
            for root, dirs, fs in os.walk(root_dir)
            if "_ingest_batch=" in root
            and any(f.endswith(".parquet") for f in fs)
        ]

    snapshot = leaves(pipe._versions_root)
    assert snapshot
    assert all(root.endswith("_ingest_batch=-1") for root in snapshot)
    assert leaves(staged) == []

    # incremental ingest resumes against the compacted table
    shutil.copy(os.path.join(src, files[3]), os.path.join(landing, files[3]))
    final = pipe.run_available_now(timeout_s=180).drop("_ingest_batch")
    from data_lake_staging_engine_spark.operators.staging import (
        derive_date_partitions,
        normalize_columns,
    )

    expected = derive_date_partitions(
        normalize_columns(spark.read.schema(schema).parquet(src)), "ts"
    )
    _assert_frames_equal(final, expected)


def test_compaction_excludes_uncommitted_batches(spark, sf_dir):
    """Round-11 review finding: a batch whose staged write completed
    but whose checkpoint commit did not WILL replay, and its replay's
    dynamic overwrite can only replace its own positive id — so
    compaction must not fold it into the -1 epoch (that would turn the
    replay into a duplication).  Simulate the kill window by deleting
    the last commit marker, compact, and prove (a) that batch's leaves
    keep their id and (b) a replay leaves the table unchanged."""
    from data_lake_staging_engine_spark.pipeline import StagingPipeline

    landing, schema = landing_copy(spark, sf_dir, "events", n_files=3)
    staged = tempfile.mkdtemp(prefix="dlse_cmp3_staged_")
    ckpt = tempfile.mkdtemp(prefix="dlse_cmp3_ckpt_")
    pipe = StagingPipeline(
        spark,
        landing_dir=landing,
        staged_dir=staged,
        checkpoint_dir=ckpt,
        table="staged_events_compaction3",
        schema=schema,
        reader_options={"maxFilesPerTrigger": 1},
    )
    pipe.run_available_now(timeout_s=180)
    n_total = pipe._staged_view().count()

    # the kill window: batch 2's staged write survives, its commit is gone
    os.remove(os.path.join(ckpt, "commits", "2"))
    compacted = pipe.compact_staged()
    epochs = set(
        r._ingest_batch
        for r in compacted.select("_ingest_batch").distinct().collect()
    )
    assert epochs == {-1, 2}
    assert compacted.count() == n_total

    # the replay: rewriting batch 2 (same pinned data — the offsets WAL
    # guarantees that) replaces its own leaves, duplicating nothing
    raw_cols = [f.name for f in schema.fields]
    replay = (
        pipe._staged_view()
        .filter(F.col("_ingest_batch") == 2)
        .select(*raw_cols)
    )
    pipe._stage_batch(replay, 2)
    after = pipe._staged_view()
    assert after.count() == n_total


def test_compaction_is_idempotent(spark, sf_dir):
    """compact_staged twice yields the same table (the epoch folds onto
    itself)."""
    from data_lake_staging_engine_spark.pipeline import StagingPipeline

    landing, schema = landing_copy(spark, sf_dir, "events", n_files=2)
    staged = tempfile.mkdtemp(prefix="dlse_cmp2_staged_")
    pipe = StagingPipeline(
        spark,
        landing_dir=landing,
        staged_dir=staged,
        checkpoint_dir=tempfile.mkdtemp(prefix="dlse_cmp2_ckpt_"),
        table="staged_events_compaction2",
        schema=schema,
        reader_options={"maxFilesPerTrigger": 1},
    )
    pipe.run_available_now(timeout_s=180)
    once = pipe.compact_staged()
    n = once.count()
    twice = pipe.compact_staged()
    assert twice.count() == n
    assert set(
        r._ingest_batch
        for r in twice.select("_ingest_batch").distinct().collect()
    ) == {-1}


_KILL_DRIVER = r"""
import os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from data_lake_staging_engine_spark.pipeline import StagingPipeline
from data_lake_staging_engine_spark.operators.staging import (
    derive_date_partitions, normalize_columns,
)

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
schema = spark.read.parquet({landing!r}).schema

def slow_transform(df):
    # Driver-side marker so the parent can SIGKILL this process while
    # a batch's staged write is provably in flight; the sleep holds
    # the batch open long enough for the signal to land mid-write.
    n = len(os.listdir({markers!r}))
    open(os.path.join({markers!r}, str(n)), "w").close()
    if n >= 1:
        time.sleep(30)
    return derive_date_partitions(normalize_columns(df), "ts")

pipe = StagingPipeline(
    spark,
    landing_dir={landing!r},
    staged_dir={staged!r},
    checkpoint_dir={ckpt!r},
    table="kill_victim",
    schema=schema,
    transform=slow_transform,
    reader_options={{"maxFilesPerTrigger": 1}},
)
q = pipe.start()
q.awaitTermination(300)
"""


def test_hard_kill_mid_batch_then_restart_exactly_once(spark, sf_dir, tmp_path):
    """The strongest recovery evidence: SIGKILL a SEPARATE driver
    process while micro-batch 2's staged write is in flight (no
    cleanup, no checkpoint commit — exactly a spot reclamation), then
    restart from the same checkpoint in this process and assert the
    staged table equals the batch transform: the killed batch's
    partial leaves are replaced by its replay, nothing is lost or
    doubled."""
    import signal
    import subprocess
    import sys

    landing, schema = landing_copy(spark, sf_dir, "events", n_files=3)
    staged = str(tmp_path / "staged")
    ckpt = str(tmp_path / "ckpt")
    markers = str(tmp_path / "markers")
    os.makedirs(markers)

    script = _KILL_DRIVER.format(
        repo=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        landing=landing,
        staged=staged,
        ckpt=ckpt,
        markers=markers,
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", script],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            if len(os.listdir(markers)) >= 2:
                break
            if proc.poll() is not None:
                raise AssertionError("victim driver exited prematurely")
            time.sleep(0.2)
        else:
            raise AssertionError("batch 2 never started in the victim")
        time.sleep(3)  # let batch 2's write provably begin
        proc.send_signal(signal.SIGKILL)
        proc.wait(30)
    finally:
        if proc.poll() is None:
            proc.kill()

    # batch 1 committed (its marker exists and the victim survived past
    # it); batch 2 died mid-flight. Restart from the SAME checkpoint.
    from data_lake_staging_engine_spark.operators.staging import (
        derive_date_partitions,
        normalize_columns,
    )
    from data_lake_staging_engine_spark.pipeline import StagingPipeline

    pipe = StagingPipeline(
        spark,
        landing_dir=landing,
        staged_dir=staged,
        checkpoint_dir=ckpt,
        table="kill_survivor",
        schema=schema,
        reader_options={"maxFilesPerTrigger": 1},
    )
    final = pipe.run_available_now(timeout_s=180).drop("_ingest_batch")
    expected = derive_date_partitions(
        normalize_columns(spark.read.schema(schema).parquet(landing)), "ts"
    )
    _assert_frames_equal(final, expected)


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))
