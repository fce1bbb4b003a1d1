"""Round-12 pipeline misuse guards (ADVICE r11).

The round-11 advisory found ways to misuse the staging pipeline
silently: compacting under an active ingest stream, a domain bound
without its column list, and the round-11 reject-sink layout break
going unnoticed on an old-layout directory.  Every one of those must
fail LOUDLY — these tests pin each refusal and the matching happy
path, plus the staged-table read on a pipeline that has staged nothing
yet and the refusal to run over a crash leftover of the rename-swap
compaction older releases ran.
"""

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from data_lake_staging_engine_spark.contracts import validate_ingest
from data_lake_staging_engine_spark.pipeline import StagingPipeline
from data_lake_staging_engine_spark.streaming.runner import landing_copy


def _events_pipe(spark, sf_dir, tmp, **kw):
    landing, schema = landing_copy(spark, sf_dir, "events", n_files=4)
    staged = os.path.join(tmp, "staged")
    ckpt = os.path.join(tmp, "ckpt")
    pipe = StagingPipeline(
        spark,
        landing_dir=landing,
        staged_dir=staged,
        checkpoint_dir=ckpt,
        table="staged_events_guards",
        schema=schema,
        **kw,
    )
    return pipe, landing, schema


def test_nothing_staged_yet_reads_empty(spark, sf_dir, tmp_path):
    """Before the first drain there is neither a staged dir nor a
    snapshot: sync and compact_staged see an empty table of the staged
    schema (they used to fail with PATH_NOT_FOUND), and a later drain
    lands on top of the empty snapshot."""
    src, schema = landing_copy(spark, sf_dir, "events", n_files=1)
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    pipe = StagingPipeline(
        spark,
        landing_dir=landing,
        staged_dir=str(tmp_path / "staged"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        table="t_nothing_staged",
        schema=schema,
    )
    assert pipe.sync().count() == 0
    compacted = pipe.compact_staged()
    assert compacted.count() == 0
    assert set(compacted.columns) == set(pipe.staged_schema().fieldNames())

    for name in [n for n in os.listdir(src) if n.endswith(".parquet")]:
        shutil.copyfile(os.path.join(src, name), os.path.join(landing, name))
    n = spark.read.schema(schema).parquet(src).count()
    assert pipe.run_available_now(timeout_s=180).count() == n


def test_timed_out_drain_is_stopped_and_raises(spark, sf_dir, tmp_path):
    """A drain that outlives its timeout raises TimeoutError instead of
    syncing a partial table, and no query is left running on the
    checkpoint.  ``awaitTermination`` rejects a zero timeout, so 1 ms
    stands in for "no time at all"; the rejected zero must not leave a
    query running either."""
    pipe, landing, schema = _events_pipe(spark, sf_dir, str(tmp_path))
    before = {str(q.id) for q in spark.streams.active}
    with pytest.raises(TimeoutError):
        pipe.run_available_now(timeout_s=0.001)
    with pytest.raises(ValueError):
        pipe.run_available_now(timeout_s=0)
    assert pipe._active_query_on_checkpoint() is None
    assert {str(q.id) for q in spark.streams.active} <= before


def test_timed_out_memory_drain_releases_sink(spark, sf_dir, monkeypatch):
    """run_to_memory drops its sink view and temp checkpoint also when
    the drain times out."""
    from data_lake_staging_engine_spark.streaming import runner

    landing, schema = landing_copy(spark, sf_dir, "events", n_files=4)
    made = []
    tmpdir = runner._tmpdir

    def spy(tag):
        made.append(tmpdir(tag))
        return made[-1]

    monkeypatch.setattr(runner, "_tmpdir", spy)
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    with pytest.raises(TimeoutError):
        runner.run_to_memory(
            spark.readStream.schema(schema).parquet(landing),
            spark,
            "append",
            timeout_s=0.001,
        )
    assert len(made) == 1 and not os.path.exists(made[0])
    assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == views


def test_e08_drains_in_one_micro_batch(spark, sf_dir):
    """e08's inner join emits on match, never on state eviction, so its
    drain skips the no-data micro-batch that would only evict state:
    one micro-batch runs, and the session's conf is restored after."""
    from data_lake_staging_engine_spark.registry import registry
    from data_lake_staging_engine_spark.streaming import runner

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(key)
    assert registry()["e08_stream_stream_join"].fn(spark, sf_dir).count() > 0
    assert runner.LAST_RUN_STATS["batches"] == 1
    assert spark.conf.get(key) == before


def test_legacy_precompact_leftover_is_refused_not_healed(spark, sf_dir, tmp_path):
    """A table parked beside staged_dir by a crashed rename-swap
    compaction (older releases) stops every pipeline entry with an
    error naming the dir; nothing moves or deletes it."""
    pipe, landing, schema = _events_pipe(spark, sf_dir, str(tmp_path))
    parked = pipe.staged_dir + ".precompact"
    os.makedirs(os.path.join(parked, "year=2024"))
    for entry in (pipe.sync, pipe.compact_staged, pipe.run_available_now):
        with pytest.raises(RuntimeError, match=r"staged\.precompact"):
            entry()
    assert os.path.isdir(os.path.join(parked, "year=2024"))
    assert not os.path.exists(pipe.staged_dir)


def test_compact_refuses_active_ingest_stream(spark, sf_dir, tmp_path):
    """Compacting while the ingest stream drains this checkpoint could
    delete a partition dir the in-flight micro-batch is writing into
    (the sweep removes the dirs it empties); the pipeline matches the
    checkpoint metadata query id against spark.streams.active and
    refuses."""
    pipe, landing, schema = _events_pipe(
        spark, sf_dir, str(tmp_path), reader_options={"maxFilesPerTrigger": 1}
    )
    q = pipe.start(processing_time="2 seconds")
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            p = q.lastProgress
            if p is not None and p.get("numInputRows", 0) > 0:
                break
            time.sleep(0.05)
        with pytest.raises(RuntimeError, match="ACTIVE"):
            pipe.compact_staged()
    finally:
        q.stop()
        q.awaitTermination(60)
    # Stopped stream: compaction proceeds and folds committed leaves.
    compacted = pipe.compact_staged()
    epochs = [
        r["_ingest_batch"]
        for r in pipe._staged_view().select("_ingest_batch").distinct().collect()
    ]
    assert -1 in epochs
    assert compacted.count() > 0


def test_bound_without_columns_raises(spark):
    """measure_max_abs / vector_max_abs without the matching column
    list previously validated NOTHING (silent no-op); now ValueError."""
    df = spark.range(3).select(
        F.col("id").cast("double").alias("value"),
        F.array(F.lit(1.0)).alias("vec"),
    )
    with pytest.raises(ValueError, match="finite_measures"):
        validate_ingest(df, measure_max_abs=1e12)
    with pytest.raises(ValueError, match="finite_vectors"):
        validate_ingest(df, vector_max_abs=100.0)
    # With the lists present the bounds apply as before.
    rep = validate_ingest(
        df, finite_measures=("value",), measure_max_abs=1e12,
        finite_vectors=("vec",), vector_max_abs=100.0,
    )
    assert rep.clean.count() == 3


def test_rejects_sink_refuses_pre_r11_append_layout(spark, sf_dir, tmp_path):
    """An old append-layout rejects dir (part-* files directly under
    <rejects_dir>/<reason>, _batch_id as a DATA column) must not be
    silently mixed with the partitioned layout."""
    landing, schema = landing_copy(spark, sf_dir, "events", n_files=2)
    rejects = str(tmp_path / "rejects")
    contracts = {"join_keys": ("user_id",)}

    # Fabricate the pre-round-11 layout for the null_keys reason.
    old = spark.range(2).select(
        F.lit(None).cast("long").alias("user_id"),
        F.lit(0).cast("long").alias("_batch_id"),
    )
    old.coalesce(1).write.parquet(f"{rejects}/null_keys")
    assert any(
        n.startswith("part-") for n in os.listdir(f"{rejects}/null_keys")
    )

    pipe = StagingPipeline(
        spark,
        landing_dir=landing,
        staged_dir=str(tmp_path / "staged"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        table="t_rejects_layout",
        schema=schema,
        contracts=contracts,
        rejects_dir=rejects,
    )
    batch = spark.read.schema(schema).parquet(landing).limit(100)
    with pytest.raises(RuntimeError, match="APPEND-layout"):
        pipe._stage_batch(batch, 0)

    # A fresh rejects_dir passes and writes the partitioned layout.
    pipe2 = StagingPipeline(
        spark,
        landing_dir=landing,
        staged_dir=str(tmp_path / "staged2"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
        table="t_rejects_layout2",
        schema=schema,
        contracts=contracts,
        rejects_dir=str(tmp_path / "rejects2"),
    )
    pipe2._stage_batch(batch, 0)
