"""User-facing engine facade.

``Engine`` is the session-level entry point a user of the reference
project would reach for: load/register the staged tables, run SQL or
any named query from the registry, and construct staging pipelines.

``StagingPipeline`` is the reference's ingestion loop as a reusable
object (SURVEY.md §3.2 EP1): a landing directory is drained by a
Structured Streaming file source (the S3-notification replacement),
each micro-batch is normalized/cast/partition-derived and appended to a
date-partitioned Parquet prefix (the Lambda-body replacement), and the
result is synced to a catalog (the Glue-sync replacement). Running with
``Trigger.AvailableNow`` makes the drain batch-deterministic; running
with ``start()`` leaves a continuous micro-batch loop. The registered
query ``a13_stream_ingest_foreachbatch`` is this pipeline driven
end-to-end under the driver's oracle check.

At cluster scale nothing here changes: the file-source checkpoint
tracks S3 listings, the partitioned append is executor-parallel, and
the catalog sync is a driver-side metadata call per batch.
"""

from __future__ import annotations

import json
import os
import warnings
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_lake_staging_engine_spark.catalog import CatalogSync, SessionCatalogSync
from data_lake_staging_engine_spark.contracts import validate_ingest
from data_lake_staging_engine_spark.operators.staging import (
    derive_date_partitions,
    normalize_columns,
)
from data_lake_staging_engine_spark.registry import registry
from data_lake_staging_engine_spark.session import DEFAULT_SF_DIR, get_spark, tune_session
from data_lake_staging_engine_spark.sources import TABLES, load, register_views
from data_lake_staging_engine_spark.fs import filesystem_for


class StagingPipeline:
    """landing dir -> readStream -> transform -> partitioned parquet +
    catalog sync."""

    def __init__(
        self,
        spark: SparkSession,
        landing_dir: str,
        staged_dir: str,
        checkpoint_dir: str,
        table: str,
        schema: StructType,
        fmt: str = "parquet",
        ts_col: str = "ts",
        partition_cols: tuple[str, ...] = ("year", "month", "day"),
        transform: Callable[[DataFrame], DataFrame] | None = None,
        catalog: CatalogSync | None = None,
        contracts: dict | None = None,
        rejects_dir: str | None = None,
        reader_options: dict | None = None,
        observe_metrics: dict | None = None,
    ) -> None:
        self.spark = spark
        self.landing_dir = landing_dir
        self.staged_dir = staged_dir
        self.checkpoint_dir = checkpoint_dir
        self.table = table
        self.schema = schema
        self.fmt = fmt
        self.ts_col = ts_col
        self.partition_cols = partition_cols
        self.transform = transform or self._default_transform
        self.catalog = catalog or SessionCatalogSync()
        # Input-contract checkpoint (contracts.validate_ingest kwargs,
        # e.g. {"finite_measures": ("value",), "event_time_col": "ts"}).
        # Applied per micro-batch BEFORE the transform; rejected rows
        # append to <rejects_dir>/<reason>/ tagged with the batch id —
        # the a14-style audit sink, so contract violations are
        # preserved and attributable, never silently dropped.
        self.contracts = contracts or {}
        self.rejects_dir = rejects_dir
        # Reader-side stream options (e.g. {"maxFilesPerTrigger": 1} to
        # throttle drain granularity — also what the kill/restart
        # recovery tests use to force a multi-batch run).
        self.reader_options = reader_options or {}
        # Per-micro-batch reject counts from observe() metrics,
        # {batch_id: {reason: n}} — piggybacked on each reject sink's
        # write action (no extra count jobs), so contract violations
        # are MEASURED per batch, not just routed to the audit sinks.
        self.reject_metrics: dict[int, dict[str, int]] = {}
        # Caller-defined per-batch observations over the TRANSFORMED
        # output (VERDICT r13 #5): {name: [agg Column, ...]} — each
        # rides the staging write via observe() (no second scan) and
        # lands in ``batch_observations[batch_id][name]``.  The
        # motivating consumer is the multimodal quarantine rate
        # (operators.udfs.quarantine_observation): a corrupt landing
        # should page someone, not silently shrink the corpus.
        self.observe_metrics: dict = observe_metrics or {}
        self.batch_observations: dict[int, dict[str, dict]] = {}
        # Reject-sink layout validated once per reason per pipeline
        # instance (see _check_rejects_layout).
        self._rejects_layout_ok: set[str] = set()
        # Maintenance-op filesystem backends (round 13, VERDICT r12
        # #9): bare paths -> POSIX primitives (unchanged behavior);
        # URI paths (hdfs://, s3a://, file://) -> the Hadoop
        # FileSystem gateway, so compact/restore/commit-listing run
        # where the data actually lives.  Resolved LAZILY: only the
        # maintenance ops need them, and an eager FileSystem.get would
        # make pipeline CONSTRUCTION fail on schemes whose connector
        # jars are absent from this deployment even when the user
        # never compacts.
        self._fs_cache: dict[str, object] = {}
        if self.contracts and not rejects_dir:
            raise ValueError(
                "contracts require a rejects_dir — rejected rows must "
                "land in an audit sink, not vanish"
            )

    @property
    def _staged_fs(self):
        if "staged" not in self._fs_cache:
            self._fs_cache["staged"] = filesystem_for(
                self.staged_dir, self.spark
            )
        return self._fs_cache["staged"]

    @property
    def _ckpt_fs(self):
        if "ckpt" not in self._fs_cache:
            self._fs_cache["ckpt"] = filesystem_for(
                self.checkpoint_dir, self.spark
            )
        return self._fs_cache["ckpt"]

    def _default_transform(self, df: DataFrame) -> DataFrame:
        return derive_date_partitions(normalize_columns(df), self.ts_col)

    def _reader(self):
        r = self.spark.readStream.schema(self.schema)
        for k, v in self.reader_options.items():
            r = r.option(k, v)
        if self.fmt == "parquet":
            return r.parquet(self.landing_dir)
        if self.fmt == "json":
            return r.json(self.landing_dir)
        if self.fmt == "csv":
            return r.option("header", True).csv(self.landing_dir)
        raise ValueError(f"unsupported landing format {self.fmt!r}")

    #: retained reject-metric entries (continuous ingest must not grow
    #: driver memory without bound — keep the most recent window)
    REJECT_METRICS_KEEP = 1024

    def _check_rejects_layout(self, reason: str) -> None:
        """Refuse to mix reject-sink layouts (ADVICE r11).

        Before round 11 the reject sinks blind-APPENDED parquet with
        ``_batch_id`` as a data column (``part-*`` files directly under
        ``<rejects_dir>/<reason>``); since round 11 ``_batch_id`` is a
        PARTITION directory written with dynamic overwrite.  Writing
        the new layout into an old-layout directory produces a mixed
        tree that misreads (readers see ``_batch_id`` only via
        partitioning and old rows lack the dir), so fail loudly instead
        — migrate by rewriting the old sink with ``partitionBy``, or
        point ``rejects_dir`` somewhere fresh.  Checked once per reason
        per pipeline instance; since round 13 URI-schemed dirs are
        listed through the Hadoop FileSystem gateway like local ones.
        """
        if reason in self._rejects_layout_ok:
            return
        root = os.path.join(self.rejects_dir, reason)
        rfs = filesystem_for(self.rejects_dir, self.spark)
        if rfs.isdir(root):
            flat = [n for n in rfs.listdir(root) if n.startswith("part-")]
            if flat:
                raise RuntimeError(
                    f"reject sink {root!r} holds pre-round-11 APPEND-"
                    f"layout parquet directly under the reason dir "
                    f"({flat[:3]}...); writing the _batch_id-partitioned "
                    "layout into it would produce a mixed tree that "
                    "misreads.  Rewrite the old sink partitioned by "
                    "_batch_id or use a fresh rejects_dir."
                )
        self._rejects_layout_ok.add(reason)

    def _stage_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        persisted = None
        try:
            if self.contracts:
                # One batch feeds up to len(contracts) reject sinks plus
                # the staging write; persist it once instead of
                # re-reading (and re-normalizing) the landing files per
                # sink (ADVICE r10).  The try/finally opens BEFORE any
                # job over the persisted frame so a failing reject write
                # (or validate_ingest itself) cannot leak the cache
                # across micro-batch retries.
                batch_df = persisted = batch_df.persist()
                rep = validate_ingest(batch_df, **self.contracts)
                counts: dict[str, int] = {}
                for reason, frame in rep.rejects().items():
                    self._check_rejects_layout(reason)
                    # observe() rides the write action below — the per-
                    # contract reject count is a metric of the batch,
                    # not a separate count job.
                    obs = Observation(f"{reason}_b{batch_id}")
                    frame = frame.observe(obs, F.count(F.lit(1)).alias("n"))
                    # Idempotent on _batch_id: a micro-batch RETRY after
                    # a partial failure (one reject sink written,
                    # staging write failed) replaces that batch's
                    # partition instead of blind-appending the same
                    # audit rows twice.
                    (
                        frame.withColumn("_batch_id", F.lit(batch_id))
                        .write.mode("overwrite")
                        .option("partitionOverwriteMode", "dynamic")
                        .partitionBy("_batch_id")
                        .parquet(f"{self.rejects_dir}/{reason}")
                    )
                    counts[reason] = obs.get["n"]
                self.reject_metrics[batch_id] = counts
                while len(self.reject_metrics) > self.REJECT_METRICS_KEEP:
                    self.reject_metrics.pop(next(iter(self.reject_metrics)))
                batch_df = rep.clean
            out = self.transform(batch_df).withColumn(
                "_ingest_batch", F.lit(batch_id).cast("long")
            )
            # Caller observations ride the staging write below — the
            # CollectMetrics node adds no job, no shuffle, no second
            # scan of the batch.
            obs_handles: dict[str, Observation] = {}
            for oname, exprs in self.observe_metrics.items():
                ob = Observation(f"{oname}_b{batch_id}")
                out = out.observe(ob, *exprs)
                obs_handles[oname] = ob
            # Idempotent per batch: the batch id is a partition column
            # and the write is a DYNAMIC partition overwrite, so a
            # replayed micro-batch (kill after a partial parquet append
            # but before the checkpoint commit — the failure mode plain
            # blind-append cannot survive) REPLACES its own
            # (date..., _ingest_batch) leaves and touches nothing else.
            # Replays rewrite identical data: the file source pins a
            # batch's file set in the offsets WAL before running it,
            # and the transform is deterministic.  Exactly-once on
            # plain parquet costs one subdir per (date, batch) —
            # compact_staged folds them; a transactional table format
            # (Delta/Iceberg) replaces this dance with a real commit
            # protocol.
            # repartition keeps one task per output date => one file
            # per (date, batch) leaf, not tasks x dirs (the
            # small-files guard).
            (
                out.repartition(*self.partition_cols)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*self.partition_cols, "_ingest_batch")
                .parquet(self.staged_dir)
            )
            if obs_handles:
                self.batch_observations[batch_id] = {
                    n: dict(ob.get) for n, ob in obs_handles.items()
                }
                while len(self.batch_observations) > self.REJECT_METRICS_KEEP:
                    self.batch_observations.pop(
                        next(iter(self.batch_observations))
                    )
        finally:
            if persisted is not None:
                persisted.unpersist()

    def _restore_precompact(self) -> None:
        """Heal the compact_staged crash window (kill between its two
        renames leaves the WHOLE table under <staged>.precompact and no
        staged_dir) before anything can recreate staged_dir: called at
        every pipeline entry that reads or writes the staged table, so
        a restarted ingest cannot silently start a fresh truncated
        table while the real one sits in the sibling dir.

        A ``.precompact`` ALONGSIDE a live staged_dir is the post-swap
        crash shape (staged already holds the compacted table) — it is
        discarded HERE, at every entry point, not just at the next
        ``compact_staged`` (ADVICE r11): left around, a later operator
        deleting staged_dir to restart ingest from scratch would have
        this restore resurrect the obsolete pre-compaction snapshot as
        the live table.

        Runs on every backend (round 13): bare paths through POSIX,
        URI dirs through the Hadoop FileSystem gateway.
        """
        fs = self._staged_fs
        old = self.staged_dir + ".precompact"
        if not fs.isdir(old):
            return
        if fs.isdir(self.staged_dir):
            warnings.warn(
                f"discarding stale {old!r} left by a post-swap "
                "compaction crash (staged_dir already holds the "
                "compacted table)",
                stacklevel=2,
            )
            fs.rmtree(old)
        else:
            fs.rename(old, self.staged_dir)

    def _writer(self):
        self._restore_precompact()
        return (
            self._reader()
            .writeStream.foreachBatch(self._stage_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )

    def run_available_now(self, timeout_s: int = 300) -> DataFrame:
        """Drain everything currently in the landing dir (deterministic,
        batch-equivalent), sync the catalog, return the staged table."""
        q = self._writer().trigger(availableNow=True).start()
        q.awaitTermination(timeout_s)
        return self.sync()

    def start(self, processing_time: str | None = None):
        """Continuous micro-batch ingestion; returns the StreamingQuery.
        Call ``sync()`` after (or from a scheduler) to refresh the
        catalog entry.  ``processing_time`` (e.g. ``"2 seconds"``) sets
        a ProcessingTime trigger — micro-batches fire on that cadence
        instead of back-to-back."""
        w = self._writer()
        if processing_time is not None:
            w = w.trigger(processingTime=processing_time)
        return w.start()

    def staged_schema(self) -> StructType:
        """Schema of the staged table, derived by running the transform
        over an empty frame of the landing schema.  Read-back must NOT
        rely on inference: a zero-row drain (empty landing partition —
        routine at scale) writes no parquet files, and inference over
        the file-less staged dir throws UNABLE_TO_INFER_SCHEMA
        (round-9 empty-input audit)."""
        empty = self.spark.createDataFrame([], self.schema)
        return (
            self.transform(empty)
            .withColumn("_ingest_batch", F.lit(0).cast("long"))
            .schema
        )

    def sync(self) -> DataFrame:
        staged = self._staged_view()
        self.catalog.sync_table(staged, self.table, list(self.partition_cols))
        return self.catalog.read_table(self.spark, self.table)

    # -- versioned staged layout (round 14, VERDICT r13 #6) ---------------
    @property
    def _versions_root(self) -> str:
        return self.staged_dir + ".versions"

    def _versions_manifest_exists(self) -> bool:
        fs = self._staged_fs
        manifest = os.path.join(self._versions_root, "manifest.json")
        return fs.exists(manifest) or fs.exists(manifest + ".tmp")

    def _versioned_table(self):
        from data_lake_staging_engine_spark.versioning import VersionedTable

        return VersionedTable(self._versions_root, self.spark)

    def _staged_view(self) -> DataFrame:
        """The staged table as readers must see it.

        Plain layout (default): the staged_dir leaves, healed of any
        compact crash window first.  Versioned layout (after a
        ``compact_staged(versioned=True)``): the latest manifest
        snapshot UNION the live leaves with ``_ingest_batch`` above
        the snapshot's ``compacted_through`` — so folded leaves whose
        delete has not happened yet (crash between flip and sweep) are
        excluded by predicate, never double-counted."""
        self._restore_precompact()
        schema = self.staged_schema()
        if not self._versions_manifest_exists():
            return self.spark.read.schema(schema).parquet(self.staged_dir)
        entry = self._versioned_table().entry()
        snap = self.spark.read.schema(schema).parquet(entry["path"])
        if not self._staged_fs.exists(self.staged_dir):
            return snap
        live = self.spark.read.schema(schema).parquet(self.staged_dir)
        return snap.unionByName(
            live.filter(
                F.col("_ingest_batch") > int(entry.get("compacted_through", -1))
            )
        )

    def _sweep_folded_leaves(self, committed: int) -> None:
        """Delete live ``_ingest_batch=<id>`` leaves the snapshot now
        covers: id in [0, committed] plus the ``-1`` compaction-epoch
        leaves an earlier RENAME-MODE compaction left behind (ADVICE
        r14: the versioned fold includes them in the snapshot, and the
        view excludes them forever after by the ``> compacted_through``
        predicate, so not deleting them was permanent dead storage).
        Pure deletes — no renames, so object stores pay one DELETE per
        leaf, never a copy.  Runs AFTER the manifest flip: a crash
        mid-sweep leaves stale dirs the view already excludes by
        predicate; the next compaction re-sweeps them."""
        fs = self._staged_fs

        def sweep(d: str) -> None:
            for name in fs.listdir(d):
                path = os.path.join(d, name)
                if name.startswith("_ingest_batch="):
                    try:
                        bid = int(name.split("=", 1)[1])
                    except ValueError:
                        continue
                    if bid == -1 or 0 <= bid <= committed:
                        fs.rmtree(path)
                elif fs.isdir(path):
                    sweep(path)

        if fs.isdir(self.staged_dir):
            sweep(self.staged_dir)

    def _active_query_on_checkpoint(self):
        """The active StreamingQuery draining ``self.checkpoint_dir``,
        or None.  The checkpoint's ``metadata`` file records the query
        id at first start; any active query with that id IS this
        pipeline's ingest stream (query ids are stable across
        restarts of the same checkpoint).  Scans only THIS session's
        ``spark.streams.active`` — a drain from another session or
        process is invisible here (see compact_staged)."""
        meta = os.path.join(self.checkpoint_dir, "metadata")
        # ADVICE r13: only the not-found / invalid-content cases mean
        # "no query ever started here".  A transient gateway failure
        # (s3a throttle, auth, Py4J) on an EXISTING metadata file must
        # propagate — swallowing it would bypass the active-stream
        # guard and let compact_staged discard a live micro-batch.
        if not self._ckpt_fs.exists(meta):
            return None
        try:
            qid = json.loads(self._ckpt_fs.read_text(meta)).get("id")
        except (ValueError, AttributeError):
            # metadata exists but is not valid JSON / not an object —
            # a half-written first-start file; no query id to match
            return None
        for q in self.spark.streams.active:
            if str(q.id) == str(qid):
                return q
        return None

    def _last_committed_batch(self) -> int:
        """Highest micro-batch id the streaming checkpoint has COMMITTED
        (the ``commits/`` write-ahead markers); -1 when none.  Batches
        above this may still REPLAY after a crash, so compaction must
        leave their leaves under their own ids."""
        commits = os.path.join(self.checkpoint_dir, "commits")
        ids = [-1]
        if self._ckpt_fs.isdir(commits):
            for name in self._ckpt_fs.listdir(commits):
                try:
                    ids.append(int(name))
                except ValueError:
                    continue  # .crc / temp files
        return max(ids)

    def compact_staged(
        self, versioned: bool = False, keep_versions: int | None = None
    ) -> DataFrame:
        """Fold the per-(date, micro-batch) leaves the exactly-once
        staged write accumulates into one leaf per date partition —
        the a10-style companion that keeps the idempotent layout's
        file and partition counts bounded over a long-running ingest.

        Folded rows land under the reserved compaction epoch
        ``_ingest_batch=-1`` (real batch ids are non-negative).  Only
        batches the streaming checkpoint has COMMITTED are folded:
        a batch whose staged write completed but whose checkpoint
        commit did not (kill in that window) will REPLAY on restart,
        and its replay's dynamic overwrite can only replace its own
        positive id — folding it into the epoch first would duplicate
        every one of its rows.  Uncommitted leaves pass through the
        rewrite unchanged under their original ids (round-11 review
        finding).

        The rewrite goes to a sibling directory and is swapped in by
        rename, so a reader never sees a half-compacted table; the
        pipeline must be STOPPED (between drains) — an active ingest
        stream on this checkpoint is REFUSED (ADVICE r11: a micro-batch
        written between compact's read and the rename swap would be
        silently discarded by the swap, and the rename would pull
        staged_dir out from under the in-flight writer).  That refusal
        is SAME-SESSION scope only (ADVICE r12): it scans
        ``spark.streams.active``, so an ingest stream draining this
        checkpoint from another SparkSession or process is invisible to
        it — cross-process safety relies on the orchestrator's
        one-writer rule (DEPLOYMENT.md), same as every file-based
        maintenance op here.  A kill
        between the two renames parks the table at
        ``<staged>.precompact``; every pipeline entry point
        (``_writer``/``sync``/here) restores it before anything can
        recreate a fresh truncated staged_dir.  A ``.precompact``
        leftover ALONGSIDE staged_dir is the post-swap crash shape
        (staged already holds the compacted table) and is discarded at
        every entry point.

        Storage backends (round 13, VERDICT r12 #9): bare paths use
        the POSIX primitives (unchanged behavior); URI paths (hdfs://,
        s3a://, file://) run through the Hadoop FileSystem gateway —
        the commit-marker listing and the dir-swap renames use the
        scheme's own FileSystem.  The swap's crash discipline holds
        wherever rename-to-fresh-destination is atomic (HDFS, local);
        on S3A rename is copy+delete — correct but slower and with a
        wider crash window.  ``versioned=True`` (round 14, VERDICT r13
        #6) is the mode built for those stores: the folded snapshot is
        WRITTEN to a fresh ``<staged>.versions/v<N>`` dir and the
        VersionedTable manifest is FLIPPED over it — no data rename
        anywhere; live leaves the snapshot covers are then deleted
        (pure deletes).  Crash discipline: a kill before the flip
        leaves an orphan version dir and the old manifest intact (the
        next publish overwrites the orphan); a kill after the flip but
        before the sweep leaves stale leaves that ``_staged_view``
        already excludes by the ``compacted_through`` predicate — no
        window in which a reader sees a half state or double rows.
        Version dirs accumulate per compaction; pass ``keep_versions``
        to vacuum down to the newest N (same retention contract as
        VersionedTable.vacuum).  The two layouts must not mix: once a
        manifest exists, rename-mode compaction is refused.
        """
        active = self._active_query_on_checkpoint()
        if active is not None:
            raise RuntimeError(
                f"refusing to compact {self.staged_dir!r} while the "
                f"ingest stream on checkpoint {self.checkpoint_dir!r} "
                f"is ACTIVE (query id {active.id}): a micro-batch "
                "landing between the compaction read and the rename "
                "swap would be silently lost.  Stop the stream first."
            )
        self._restore_precompact()
        if versioned:
            return self._compact_versioned(keep_versions)
        if self._versions_manifest_exists():
            raise RuntimeError(
                f"{self.staged_dir!r} is manifest-versioned (a "
                "compact_staged(versioned=True) ran here): rename-mode "
                "compaction would fold only the live leaves and "
                "double-count the snapshot.  Keep using versioned=True."
            )
        staged = self.spark.read.schema(self.staged_schema()).parquet(
            self.staged_dir
        )
        committed = self._last_committed_batch()
        foldable = (F.col("_ingest_batch") == -1) | (
            F.col("_ingest_batch") <= committed
        )
        rewritten = staged.withColumn(
            "_ingest_batch",
            F.when(foldable, F.lit(-1).cast("long")).otherwise(
                F.col("_ingest_batch")
            ),
        )
        fs = self._staged_fs
        tmp = self.staged_dir + ".compacting"
        old = self.staged_dir + ".precompact"
        fs.rmtree(tmp)
        (
            rewritten.repartition(*self.partition_cols)
            .write.mode("overwrite")
            .partitionBy(*self.partition_cols, "_ingest_batch")
            .parquet(tmp)
        )
        fs.rmtree(old)
        fs.rename(self.staged_dir, old)
        fs.rename(tmp, self.staged_dir)
        fs.rmtree(old)
        return self.sync()

    def _compact_versioned(self, keep_versions: int | None) -> DataFrame:
        """The rename-free compaction path (see compact_staged).

        Order of operations IS the crash contract:
        1. write the folded snapshot to a fresh version dir;
        2. flip the manifest (publish does 1+2 with its own
           orphan-on-crash discipline);
        3. delete the folded live leaves (view-invisible by then);
        4. optional vacuum of superseded versions.
        """
        committed = self._last_committed_batch()
        view = self._staged_view()
        folded = view.filter(
            (F.col("_ingest_batch") == -1)
            | (F.col("_ingest_batch") <= committed)
        ).withColumn("_ingest_batch", F.lit(-1).cast("long"))
        vt = self._versioned_table()
        vt.publish(
            folded.repartition(*self.partition_cols),
            partition_by=(*self.partition_cols, "_ingest_batch"),
            extra={"compacted_through": committed},
        )
        self._sweep_folded_leaves(committed)
        if keep_versions is not None:
            vt.vacuum(keep_versions)
        return self.sync()


class Engine:
    """Session-level facade over the whole surface.

    >>> eng = Engine(data_dir="/root/testdata/sf0.01")
    >>> eng.sql("SELECT COUNT(*) FROM lineitem").show()
    >>> eng.query("b20_agg_groupby").show()
    >>> pipe = eng.staging_pipeline(landing, staged, ckpt, "events_staged", schema)
    """

    def __init__(
        self, spark: SparkSession | None = None, data_dir: str = DEFAULT_SF_DIR
    ) -> None:
        self.spark = tune_session(spark) if spark is not None else get_spark()
        self.data_dir = data_dir
        self._views_registered = False

    # -- query surface ----------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return load(self.spark, self.data_dir, name)

    def register_views(self) -> None:
        register_views(self.spark, self.data_dir, *TABLES)
        self._views_registered = True

    def sql(self, statement: str) -> DataFrame:
        if not self._views_registered:
            self.register_views()
        return self.spark.sql(statement)

    def query(self, name: str) -> DataFrame:
        """Run a named query from the registry (SURVEY.md §2)."""
        return registry()[name].fn(self.spark, self.data_dir)

    @staticmethod
    def query_names() -> list[str]:
        return list(registry())

    # -- staging surface --------------------------------------------------
    def staging_pipeline(self, *args, **kwargs) -> StagingPipeline:
        return StagingPipeline(self.spark, *args, **kwargs)

    # -- LLM-data surface -------------------------------------------------
    def incremental_dedup(
        self, newdocs: DataFrame, corpus: DataFrame, threshold: float = 0.8
    ) -> DataFrame:
        """Batch-vs-corpus dedup on caller-supplied (doc_id, text)
        frames — the input-parameterized core behind g30 (see
        operators.llmops.incremental_dedup for semantics and the
        100 TB posture)."""
        from data_lake_staging_engine_spark.operators.llmops import (
            incremental_dedup,
        )

        return incremental_dedup(newdocs, corpus, threshold=threshold)

    def band_index(self, root: str):
        """The persisted MinHash band-signature store for the
        incremental near-dup loop (round 14): ``build(corpus)`` once,
        then ``probe(newdocs, corpus)`` from any session — see
        operators.llmops.BandSignatureIndex for the full contract."""
        from data_lake_staging_engine_spark.operators.llmops import (
            BandSignatureIndex,
        )

        return BandSignatureIndex(root, self.spark)

    def versioned_table(self, root: str):
        """Manifest-versioned parquet table (a22's shape as a reusable
        surface) — publish/read/time-travel/vacuum; see
        versioning.VersionedTable."""
        from data_lake_staging_engine_spark.versioning import VersionedTable

        return VersionedTable(root, self.spark)
