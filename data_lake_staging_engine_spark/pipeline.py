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

At cluster scale the file-source checkpoint tracks S3 listings and
the partitioned append is executor-parallel.  The catalog sync is NOT
a metadata call yet: ``SessionCatalogSync.sync_table`` drops the
catalog table and rewrites the whole staged view into the warehouse on
every ``sync()`` (each drain ends in one), O(table) per drain.  Making
it metadata-only is ROADMAP open item 1.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from functools import reduce

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
from data_lake_staging_engine_spark.streaming.runner import drain
from data_lake_staging_engine_spark.fs import filesystem_for
from data_lake_staging_engine_spark.versioning import VersionedTable


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
        # FileSystem gateway, so compact/commit-listing run
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

    def _refuse_legacy_swap_leftover(self) -> None:
        """Refuse to read or write the staged table while a crash
        leftover of the old rename-swap compaction sits next to it.

        Older releases compacted by renaming staged_dir aside and a
        rewritten copy in; a kill between the two renames parked the
        table (or, after the swap, an obsolete copy of it) in a sibling
        dir.  Which one it is only an operator can tell, so it is never
        healed here: the error names the dir and the manual fix.
        """
        old = self.staged_dir + ".precompact"
        if self._staged_fs.isdir(old):
            raise RuntimeError(
                f"{old!r} is a crash leftover of the rename-swap "
                "compaction older releases ran.  If "
                f"{self.staged_dir!r} is missing, rename {old!r} back to "
                "it; if both exist, staged_dir already holds the "
                f"compacted table, so delete {old!r}.  Then rerun."
            )

    def _writer(self):
        self._refuse_legacy_swap_leftover()
        return (
            self._reader()
            .writeStream.foreachBatch(self._stage_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )

    def run_available_now(self, timeout_s: float = 300) -> DataFrame:
        """Drain everything currently in the landing dir (deterministic,
        batch-equivalent), sync the catalog, return the staged table.
        A drain that outlives ``timeout_s`` is stopped and raises
        ``TimeoutError`` before anything is synced."""
        drain(self.spark, self._writer(), timeout_s)
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

    # -- compacted layout: manifest snapshot + live leaves ----------------
    @property
    def _versions_root(self) -> str:
        return self.staged_dir + ".versions"

    def _versioned_table(self):
        return VersionedTable(self._versions_root, self.spark)

    def _staged_view(self) -> DataFrame:
        """The staged table as readers must see it — the one read path.

        The latest compacted snapshot (if one was published) UNION the
        live staged_dir leaves (if staged_dir exists).  Under a
        snapshot only live leaves with ``_ingest_batch`` above its
        ``compacted_through`` count, so folded leaves whose delete has
        not happened yet (crash between flip and sweep) are excluded by
        a partition filter, never double-counted.  Neither (nothing
        drained or compacted yet): an empty frame of the staged
        schema."""
        self._refuse_legacy_swap_leftover()
        schema = self.staged_schema()
        read = self.spark.read.schema(schema).parquet
        frames: list[DataFrame] = []
        through = None
        vt = self._versioned_table()
        if vt.latest() is not None:
            entry = vt.entry()
            frames.append(read(entry["path"]))
            through = int(entry.get("compacted_through", -1))
        if self._staged_fs.isdir(self.staged_dir):
            live = read(self.staged_dir)
            if through is not None:
                live = live.filter(F.col("_ingest_batch") > through)
            frames.append(live)
        if not frames:
            return self.spark.createDataFrame([], schema)
        return reduce(DataFrame.unionByName, frames)

    def _sweep_folded_leaves(self, committed: int) -> None:
        """Delete the live leaves the snapshot now covers —
        ``_ingest_batch=<id>`` dirs with id in [0, committed], plus the
        ``-1`` epoch leaves older releases' rename-swap compaction left
        in place — and every partition dir those deletes leave empty,
        so later syncs do not list dead dirs.  Pure deletes — no
        renames, so object stores pay one DELETE per dir, never a copy.
        Runs AFTER the manifest flip: a crash mid-sweep leaves stale
        dirs the view already excludes by predicate; the next
        compaction re-sweeps them."""
        fs = self._staged_fs

        def sweep(d: str) -> bool:
            """Sweep the partition tree under ``d``; True if it is left
            empty."""
            kept = 0
            for name in fs.listdir(d):
                path = os.path.join(d, name)
                if name.startswith("_ingest_batch="):
                    try:
                        covered = -1 <= int(name.split("=", 1)[1]) <= committed
                    except ValueError:
                        covered = False
                    if covered:
                        fs.rmtree(path)
                        continue
                elif "=" in name and fs.isdir(path) and sweep(path):
                    fs.rmtree(path)
                    continue
                kept += 1
            return kept == 0

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

    def compact_staged(self, keep_versions: int = 1) -> DataFrame:
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
        every one of its rows.  Uncommitted leaves stay live under
        their original ids (round-11 review finding).

        Order of operations IS the crash contract (Structured
        Streaming's commit-log discipline, applied to the table):
        1. write the folded view (previous snapshot plus the committed
           live leaves) to a fresh ``<staged>.versions/v<N>-<token>``;
        2. flip the VersionedTable manifest over it, recording
           ``compacted_through`` (publish does 1+2);
        3. delete the folded live leaves and the partition dirs they
           leave empty (view-invisible by then);
        4. vacuum down to the newest ``keep_versions`` snapshots — the
           default keeps one compacted copy on disk; keep more while
           readers may still scan a superseded one.
        A kill before the flip leaves an orphan version dir and the old
        manifest intact; a kill after it leaves stale leaves that
        ``_staged_view`` excludes by the ``compacted_through``
        predicate — no reader ever sees a half state or double rows.
        No directory is renamed, so object stores (s3a://) pay no
        whole-table copy: bare paths use POSIX primitives, URI paths
        run the listing, flip and sweep through the Hadoop FileSystem
        gateway.

        The pipeline must be STOPPED (between drains): an active
        ingest stream on this checkpoint is REFUSED (ADVICE r11), since
        the sweep's empty-dir removal could delete a partition dir the
        in-flight micro-batch is writing into.  That refusal is
        SAME-SESSION scope only (ADVICE r12): it scans
        ``spark.streams.active``, so an ingest stream draining this
        checkpoint from another SparkSession or process is invisible to
        it — cross-process safety relies on the orchestrator's
        one-writer rule (DEPLOYMENT.md), same as every file-based
        maintenance op here.
        """
        active = self._active_query_on_checkpoint()
        if active is not None:
            raise RuntimeError(
                f"refusing to compact {self.staged_dir!r} while the "
                f"ingest stream on checkpoint {self.checkpoint_dir!r} "
                f"is ACTIVE (query id {active.id}): the leaf sweep could "
                "delete a partition dir the in-flight micro-batch is "
                "writing into.  Stop the stream first."
            )
        # committed >= -1, so the filter keeps the epoch rows too
        committed = self._last_committed_batch()
        folded = (
            self._staged_view()
            .filter(F.col("_ingest_batch") <= committed)
            .withColumn("_ingest_batch", F.lit(-1).cast("long"))
        )
        vt = self._versioned_table()
        vt.publish(
            folded.repartition(*self.partition_cols),
            partition_by=(*self.partition_cols, "_ingest_batch"),
            extra={"compacted_through": committed},
        )
        self._sweep_folded_leaves(committed)
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
        return VersionedTable(root, self.spark)
