"""compact_staged — the staged table's one compaction protocol.

The folded snapshot is written to a fresh ``<staged>.versions/v<N>``
dir, the VersionedTable manifest is flipped over it, then the covered
live leaves are DELETED: no directory rename anywhere, so object
stores (s3a://, where rename is copy+delete) pay no whole-table copy
and no wide crash window.  Pinned here:

- rows preserved across compact → new batches → compact again (the
  manifest snapshot unions with live leaves above compacted_through);
- kill BEFORE the flip: old state fully intact (orphan version dir
  only), retry succeeds;
- kill AFTER the flip, before the leaf sweep: readers never double-
  count (stale leaves are excluded by predicate), next compact heals;
- the sweep leaves no empty partition dir behind;
- keep_versions vacuums superseded snapshots (default: one copy);
- epoch leaves an older rename-swap compaction left live are folded
  and reclaimed;
- the whole protocol runs through the Hadoop FS gateway (file://).
"""

import os
import shutil

import pytest
# Slow tier (pytest.ini): kill-point / crash-recovery suite.
pytestmark = pytest.mark.slow


from data_lake_staging_engine_spark.pipeline import StagingPipeline
from data_lake_staging_engine_spark.streaming.runner import landing_copy
from data_lake_staging_engine_spark.versioning import VersionedTable


def _private_landing(spark, sf_dir, tmp, n_files=2):
    """A mutable copy of the shared landing fixture (tests that stage
    extra files must never touch landing_copy's cached dir)."""
    src, schema = landing_copy(spark, sf_dir, "events", n_files=n_files)
    dst = os.path.join(tmp, "landing")
    shutil.copytree(src, dst)
    return dst, schema


def _pipe(spark, landing, schema, tmp, staged_prefix=""):
    return StagingPipeline(
        spark,
        landing_dir=landing,
        staged_dir=f"{staged_prefix}{tmp}/staged",
        checkpoint_dir=f"{staged_prefix}{tmp}/ckpt",
        table="t_versioned_compact",
        schema=schema,
        reader_options={"maxFilesPerTrigger": 1},
    )


def _live_batch_dirs(staged_dir):
    """All _ingest_batch=<id> leaf dirs under the live staged tree."""
    found = []
    for root, dirs, _files in os.walk(staged_dir):
        for d in dirs:
            if d.startswith("_ingest_batch="):
                found.append(int(d.split("=", 1)[1]))
    return sorted(found)


def _empty_dirs(staged_dir):
    """Dirs under the live staged tree (not the root) that hold
    nothing — what a sweep that deletes only leaves would leave."""
    return [
        root
        for root, dirs, files in os.walk(staged_dir)
        if root != staged_dir and not dirs and not files
    ]


def test_versioned_compact_rows_and_incremental(spark, sf_dir, tmp_path):
    landing, schema = _private_landing(spark, sf_dir, str(tmp_path))
    pipe = _pipe(spark, landing, schema, str(tmp_path))
    n = pipe.run_available_now(timeout_s=180).count()
    assert n > 0
    parts = sorted(os.listdir(landing))

    compacted = pipe.compact_staged()
    assert compacted.count() == n
    vt = VersionedTable(pipe._versions_root, spark)
    assert vt.latest() == 1
    assert vt.entry()["compacted_through"] >= 0
    # covered live leaves are GONE (pure deletes, no renames), and so
    # are the date partition dirs they emptied
    assert _live_batch_dirs(pipe.staged_dir) == []
    assert _empty_dirs(pipe.staged_dir) == []
    # view reads the snapshot: one epoch, all rows
    view = pipe._staged_view()
    assert view.count() == n
    assert {r["_ingest_batch"] for r in view.select("_ingest_batch").distinct().collect()} == {-1}

    # new file lands -> new micro-batch appends live leaves on top of
    # the snapshot; the view is snapshot UNION fresh leaves
    extra_src = os.path.join(landing, [p for p in parts if p.endswith(".parquet")][0])
    n_extra = spark.read.parquet(extra_src).count()
    shutil.copyfile(extra_src, os.path.join(landing, "late-extra.parquet"))
    assert pipe.run_available_now(timeout_s=180).count() == n + n_extra
    assert _live_batch_dirs(pipe.staged_dir) != []

    # second compact folds the union into v2 and, by default, vacuums
    # v1: one compacted copy on disk
    compacted2 = pipe.compact_staged()
    assert compacted2.count() == n + n_extra
    assert vt.latest() == 2
    assert vt.versions() == [2]
    assert _live_batch_dirs(pipe.staged_dir) == []
    assert _empty_dirs(pipe.staged_dir) == []
    vdirs = sorted(
        d for d in os.listdir(pipe._versions_root) if d.startswith("v")
    )
    assert len(vdirs) == 1 and vdirs[0].startswith("v2")

    # keep_versions retains superseded snapshots for slow readers
    assert pipe.compact_staged(keep_versions=2).count() == n + n_extra
    assert vt.versions() == [2, 3]


def test_kill_before_flip_leaves_old_state_intact(spark, sf_dir, tmp_path, monkeypatch):
    landing, schema = _private_landing(spark, sf_dir, str(tmp_path))
    pipe = _pipe(spark, landing, schema, str(tmp_path))
    n = pipe.run_available_now(timeout_s=180).count()
    live_before = _live_batch_dirs(pipe.staged_dir)
    assert live_before

    def boom(self, meta):
        raise RuntimeError("simulated kill before manifest flip")

    monkeypatch.setattr(VersionedTable, "_flip", boom)
    with pytest.raises(RuntimeError, match="simulated kill"):
        pipe.compact_staged()
    monkeypatch.undo()

    # old version (= no version at all) intact: no manifest, live
    # leaves untouched, the view reads exactly the pre-compact rows
    assert not os.path.exists(os.path.join(pipe._versions_root, "manifest.json"))
    assert _live_batch_dirs(pipe.staged_dir) == live_before
    assert pipe._staged_view().count() == n
    # the orphan v1 data dir is harmless: retry publishes v1 to a
    # fresh dir, completes the protocol, and its vacuum sweeps the
    # orphan
    assert pipe.compact_staged().count() == n
    assert VersionedTable(pipe._versions_root, spark).latest() == 1
    vdirs = [d for d in os.listdir(pipe._versions_root) if d.startswith("v")]
    assert len(vdirs) == 1


def test_kill_after_flip_never_double_counts(spark, sf_dir, tmp_path, monkeypatch):
    landing, schema = _private_landing(spark, sf_dir, str(tmp_path))
    pipe = _pipe(spark, landing, schema, str(tmp_path))
    n = pipe.run_available_now(timeout_s=180).count()

    def boom(self, committed):
        raise RuntimeError("simulated kill before leaf sweep")

    monkeypatch.setattr(StagingPipeline, "_sweep_folded_leaves", boom)
    with pytest.raises(RuntimeError, match="simulated kill"):
        pipe.compact_staged()
    monkeypatch.undo()

    # manifest flipped, stale covered leaves still on disk — the view
    # must exclude them by predicate, not double-count
    assert VersionedTable(pipe._versions_root, spark).latest() == 1
    assert _live_batch_dirs(pipe.staged_dir) != []
    assert pipe._staged_view().count() == n
    # next compact re-sweeps and stays at exactly the same rows
    assert pipe.compact_staged().count() == n
    assert _live_batch_dirs(pipe.staged_dir) == []
    assert _empty_dirs(pipe.staged_dir) == []


def test_versioned_compact_on_uri_paths(spark, sf_dir, tmp_path):
    """file:// exercises the same Hadoop FileSystem gateway code path
    hdfs:///s3a:// take on a cluster — the manifest flip, the version
    write, and the leaf sweep all run through it."""
    landing, schema = _private_landing(spark, sf_dir, str(tmp_path))
    pipe = _pipe(spark, landing, schema, str(tmp_path), staged_prefix="file://")
    n = pipe.run_available_now(timeout_s=180).count()
    assert pipe.compact_staged().count() == n
    # local view of the URI tree: leaves swept, snapshot present
    assert _live_batch_dirs(f"{tmp_path}/staged") == []
    assert _empty_dirs(f"{tmp_path}/staged") == []
    assert any(
        d.startswith("v1")
        for d in os.listdir(f"{tmp_path}/staged.versions")
    )


def test_versioned_view_prunes_live_leaves_by_partition(spark, sf_dir, tmp_path):
    """The 100 TB read shape: after a versioned compact, the staged
    view is snapshot-scan UNION live-scan, and the compacted_through
    predicate reaches the LIVE scan as a PARTITION filter on
    _ingest_batch — folded-but-unswept leaves are pruned at planning
    time, never read and discarded row-by-row."""
    from data_lake_staging_engine_spark.plans.inspect import physical_plan, scans

    landing, schema = _private_landing(spark, sf_dir, str(tmp_path))
    pipe = _pipe(spark, landing, schema, str(tmp_path))
    pipe.run_available_now(timeout_s=180)
    pipe.compact_staged()
    # a late batch puts live leaves next to the snapshot
    parts = [p for p in sorted(os.listdir(landing)) if p.endswith(".parquet")]
    shutil.copyfile(
        os.path.join(landing, parts[0]),
        os.path.join(landing, "late.parquet"),
    )
    pipe.run_available_now(timeout_s=180)
    plan = physical_plan(pipe._staged_view())
    # two parquet scans: the snapshot version dir and the live tree
    assert len(scans(plan)) == 2
    assert ".versions/v1" in plan.replace("\n", "")
    # the live side carries the partition filter (planning-time prune)
    part_filters = [
        line for line in plan.splitlines() if "PartitionFilters" in line
    ]
    assert any(
        "_ingest_batch" in line and ">" in line for line in part_filters
    ), part_filters


def _fold_live_leaves_into_epoch(staged_dir):
    """Rewrite a drained staged tree into the layout an older
    release's rename-swap compaction left: every committed row under a
    live ``_ingest_batch=-1`` leaf per date, and no manifest."""
    for root, dirs, _files in list(os.walk(staged_dir)):
        leaves = [d for d in dirs if d.startswith("_ingest_batch=")]
        if not leaves:
            continue
        epoch = os.path.join(root, "_ingest_batch=-1")
        os.makedirs(epoch)
        for leaf in leaves:
            src = os.path.join(root, leaf)
            for name in os.listdir(src):
                os.rename(os.path.join(src, name), os.path.join(epoch, name))
            os.rmdir(src)


def test_versioned_compact_sweeps_rename_mode_epoch_leaves(spark, sf_dir, tmp_path):
    """ADVICE r14: older releases' rename-swap compaction left its
    folded rows under live ``_ingest_batch=-1`` leaves.  Compacting
    such a table folds those rows into the snapshot, and the sweep
    must reclaim the epoch leaves too — left alone they would be
    permanent dead storage (view-invisible via the > compacted_through
    predicate, but never deleted)."""
    landing, schema = _private_landing(spark, sf_dir, str(tmp_path))
    pipe = _pipe(spark, landing, schema, str(tmp_path))
    n = pipe.run_available_now(timeout_s=180).count()
    assert n > 0

    # the legacy layout: everything folded under the live epoch
    _fold_live_leaves_into_epoch(pipe.staged_dir)
    assert set(_live_batch_dirs(pipe.staged_dir)) == {-1}
    assert pipe._staged_view().count() == n

    # a fresh micro-batch lands on top of the epoch leaves
    parts = sorted(p for p in os.listdir(landing) if p.endswith(".parquet"))
    extra_src = os.path.join(landing, parts[0])
    n_extra = spark.read.parquet(extra_src).count()
    shutil.copyfile(extra_src, os.path.join(landing, "late-extra.parquet"))
    assert pipe.run_available_now(timeout_s=180).count() == n + n_extra

    # compaction folds epoch + committed leaves into v1 and reclaims
    # BOTH: no live leaf of any id survives
    compacted = pipe.compact_staged()
    assert compacted.count() == n + n_extra
    assert _live_batch_dirs(pipe.staged_dir) == []
    assert _empty_dirs(pipe.staged_dir) == []
    assert pipe._staged_view().count() == n + n_extra
