"""The staging layer's one commit protocol (``fs.write_json_replace`` /
``fs.read_json_replaced`` plus ``VersionedTable``) as its users see it.

- a12's ``IncrementalLoader`` keeps its processed-files list through
  the protocol: a write torn mid-way leaves the previous list readable,
  and lists older releases wrote still read.
- a19's ``make_keyed_upsert`` publishes each merged state as a
  ``VersionedTable`` version; it refuses a state dir in the rename-swap
  layout older releases wrote, and a19 leaves no state dir behind.
- Both run on ``file://`` roots through the Hadoop FileSystem gateway.
- A reader of a ``VersionedTable`` root nothing was published to
  creates nothing.

The upsert's kill points (before and after the manifest flip) are
driven through a real stream in tests/test_streaming_recovery.py.
"""

import builtins
import json
import os
import tempfile

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_lake_staging_engine_spark.operators.staging import (
    a19_stream_upsert,
    make_keyed_upsert,
)
from data_lake_staging_engine_spark.sources.incremental import IncrementalLoader
from data_lake_staging_engine_spark.versioning import VersionedTable


class Kill(Exception):
    pass


class _TornFile:
    """A file whose first write lands half its text, then dies."""

    def __init__(self, f):
        self._f = f

    def write(self, text):
        self._f.write(text[: len(text) // 2])
        self._f.flush()
        raise Kill("killed mid-write")

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._f.close()


def test_loader_manifest_survives_a_torn_record(tmp_path, monkeypatch):
    """Interrupt ``_record`` after it has begun writing: a fresh loader
    still reads the previous processed set, and a retried record lands."""
    manifest = str(tmp_path / "manifest.json")
    loader = IncrementalLoader(str(tmp_path), manifest)
    loader._record({"a.parquet"})

    real_open = builtins.open

    def torn_open(path, mode="r", *args, **kwargs):
        f = real_open(path, mode, *args, **kwargs)
        if "w" in mode and str(path).startswith(manifest):
            return _TornFile(f)
        return f

    with monkeypatch.context() as m:
        m.setattr(builtins, "open", torn_open)
        with pytest.raises(Kill):
            loader._record({"a.parquet", "b.parquet"})

    assert IncrementalLoader(str(tmp_path), manifest)._seen() == {"a.parquet"}
    loader._record({"a.parquet", "b.parquet"})
    assert IncrementalLoader(str(tmp_path), manifest)._seen() == {
        "a.parquet",
        "b.parquet",
    }


def test_loader_reads_a_manifest_older_releases_wrote(tmp_path):
    """Older releases wrote the list with a plain ``json.dump``."""
    manifest = tmp_path / "manifest.json"
    manifest.write_text(json.dumps(["/landing/x.parquet", "/landing/y.parquet"]))
    loader = IncrementalLoader(str(tmp_path), str(manifest))
    assert loader._seen() == {"/landing/x.parquet", "/landing/y.parquet"}


def test_loader_runs_on_file_uris(spark, tmp_path):
    landing = f"file://{tmp_path}/landing"
    manifest = f"file://{tmp_path}/state/manifest.json"
    df = spark.range(40).select(F.col("id").alias("k"))
    df.filter("k < 25").coalesce(1).write.mode("append").parquet(landing)
    loader = IncrementalLoader(landing, manifest)
    first = loader.process_new(spark)
    df.filter("k >= 25").coalesce(1).write.mode("append").parquet(landing)
    second = loader.process_new(spark)
    assert loader.process_new(spark) is None
    assert sorted(r.k for r in first.unionByName(second).collect()) == list(range(40))
    assert all(p.startswith("file://") for p in loader._seen())


def _keep_latest(df):
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def test_keyed_upsert_runs_on_a_file_uri(spark, sf_dir, tmp_path):
    """Two batches upserted into a ``file://`` state dir: the latest
    version is the keep-latest of both, and the vacuum left one version
    dir on disk."""
    from data_lake_staging_engine_spark.sources import load

    e = load(spark, sf_dir, "events")
    root = f"file://{tmp_path}/state"
    upsert = make_keyed_upsert(spark, root)
    upsert(e.filter(F.col("event_id") % 2 == 0), 0)
    upsert(e.filter(F.col("event_id") % 2 == 1), 1)
    state = VersionedTable(root, spark)
    assert state.latest() == 2
    final = spark.read.schema(e.schema).parquet(state.entry()["path"])
    expected = _keep_latest(e)
    assert final.exceptAll(expected).count() == 0
    assert expected.exceptAll(final).count() == 0
    assert [d for d in os.listdir(tmp_path / "state") if d.startswith("v")] == [
        os.path.basename(state.entry()["path"])
    ]


@pytest.mark.parametrize("leftover", ["current", "old3"])
def test_keyed_upsert_refuses_the_rename_swap_layout(spark, tmp_path, leftover):
    state_dir = str(tmp_path / "state")
    os.makedirs(os.path.join(state_dir, leftover))
    with pytest.raises(RuntimeError, match="older releases wrote") as err:
        make_keyed_upsert(spark, state_dir)
    assert state_dir in str(err.value) and leftover in str(err.value)


def test_a19_leaves_no_state_dir(spark, sf_dir):
    """a19 checkpoints its answer and removes its state dir, so calls
    leave no ``dlse_upsert_state_*`` dir behind."""

    def leftovers():
        return {
            n
            for n in os.listdir(tempfile.gettempdir())
            if n.startswith("dlse_upsert_state_")
        }

    before = leftovers()
    for _ in range(2):
        assert a19_stream_upsert(spark, sf_dir).collect()
    assert leftovers() == before


def test_reader_of_an_unpublished_root_creates_nothing(tmp_path):
    root = str(tmp_path / "vt")
    table = VersionedTable(root)
    assert table.latest() is None
    assert table.vacuum(1) == []
    assert not os.path.exists(root)
