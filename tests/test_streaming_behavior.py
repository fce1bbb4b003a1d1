"""Rows-only streaming semantics the DuckDB oracle can't check
(SURVEY.md §2.E e04/e07 behavior half): watermark late-drop across
micro-batches, and the removal of the per-process landing copies at
interpreter exit.

Determinism technique: two AvailableNow runs sharing one checkpoint.
Run 1 drains the recent half of events and commits its watermark
(max_ts - 1h) to the checkpoint; the old half lands afterwards, so run 2
restores that watermark and must drop every old row (all of them are
far behind it). This avoids relying on file-listing order within a
single run, which is not contractual.
"""

import os
import subprocess
import sys
import tempfile
import time

from pyspark.sql import functions as F

from data_lake_staging_engine_spark.sources import load


def _drain(spark, landing, schema, ckpt, sink_dir):
    # parquet sink (not memory): file sinks support checkpoint recovery,
    # which run 2 depends on
    s = spark.readStream.schema(schema).parquet(landing)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.select(F.col("window.start").alias("ws"), "n")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return q


def test_watermark_drops_late_rows(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    cutoff = e.agg(F.expr("percentile(unix_micros(ts), 0.5)")).collect()[0][0]
    landing = tempfile.mkdtemp(prefix="dlse_late_landing_")
    ckpt = tempfile.mkdtemp(prefix="dlse_late_ckpt_")
    recent = e.filter(F.unix_micros("ts") > cutoff)
    old = e.filter(F.unix_micros("ts") <= cutoff)

    sink_dir = tempfile.mkdtemp(prefix="dlse_late_sink_")
    recent.coalesce(1).write.mode("append").parquet(landing)
    q1 = _drain(spark, landing, e.schema, ckpt, sink_dir)

    time.sleep(1.1)
    old.coalesce(1).write.mode("append").parquet(landing)  # arrives LATE
    q2 = _drain(spark, landing, e.schema, ckpt, sink_dir)

    def dropped(q):
        total = 0
        for p in q.recentProgress:
            d = p if isinstance(p, dict) else __import__("json").loads(p.json)
            for op in d.get("stateOperators", []):
                total += op.get("numRowsDroppedByWatermark", 0)
        return total

    n_old_windows = old.select(F.date_trunc("hour", "ts")).distinct().count()
    assert dropped(q1) == 0  # nothing late in the first run
    # run 2 restores the run-1 watermark (recent_max - 1h); every old row
    # is weeks behind it => all dropped. The drop counter sits after
    # map-side partial aggregation, so it counts window-partials (one per
    # distinct old hour), not raw rows.
    assert dropped(q2) == n_old_windows
    try:
        emitted = spark.read.parquet(sink_dir)
        min_ws_emitted = emitted.agg(F.min("ws")).collect()[0][0]
    except Exception:
        min_ws_emitted = None
    recent_min = recent.agg(F.min("ts")).collect()[0][0]
    assert min_ws_emitted is None or min_ws_emitted >= recent_min.replace(
        minute=0, second=0, microsecond=0
    )


def test_capture_run_stats_handles_both_progress_json_shapes(tmp_path):
    """ADVICE r14: ``StreamingQueryProgress.json`` is a METHOD on the
    installed PySpark (the class subclasses dict, so the non-dict
    branch is dead here) but a str PROPERTY on other versions — the
    branch this normalization targets.  Calling ``p.json()`` on the
    property shape raises TypeError, falls into the blanket except,
    and records the exact None the ADVICE r13 fix claimed to
    eliminate.  Pin both shapes plus the plain-dict one with fakes;
    no Spark needed."""
    import json as _json

    from data_lake_staging_engine_spark.streaming import runner

    class PropShape:  # json is a str property (older/other PySpark)
        @property
        def json(self):
            return _json.dumps({"stateOperators": [{"numRowsTotal": 7}]})

    class MethodShape:  # json is a zero-arg method
        def json(self):
            return _json.dumps({"stateOperators": [{"numRowsTotal": 3}]})

    class Q:
        recentProgress = [
            PropShape(),
            MethodShape(),
            {"stateOperators": [{"numRowsTotal": 5}]},
        ]

    runner._capture_run_stats(Q(), str(tmp_path / "no-such-ckpt"))
    assert runner.LAST_RUN_STATS == {
        "state_rows": 7,
        "state_dir_bytes": 0,
        "batches": 3,
    }


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_LANDING = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[2]").getOrCreate()
from data_lake_staging_engine_spark.streaming.runner import landing_copy
landing, _schema = landing_copy(spark, {sf!r}, "events", n_files=2)
print("LANDING", landing)
"""


def test_landing_copies_are_removed_at_exit(sf_dir, tmp_path):
    """``landing_copy`` reuses one copy per request within a process;
    a process that made one and exits leaves none of its
    ``dlse_stream_landing_*`` dirs behind."""
    env = dict(os.environ, TMPDIR=str(tmp_path))
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, "-c", _LANDING.format(repo=_REPO, sf=sf_dir)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    landing = proc.stdout.split("LANDING ", 1)[1].split()[0]
    assert landing.startswith(str(tmp_path)), landing  # not vacuous
    assert not os.path.exists(landing)
    assert not list(tmp_path.glob("dlse_stream_landing_*"))
