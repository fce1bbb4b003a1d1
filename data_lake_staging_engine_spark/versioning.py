"""Snapshot-versioned staging layout (time travel lite) + retention.

``VersionedTable`` is the manifest-over-plain-Parquet isolation idea
the a22 query demonstrates (SURVEY.md §2.A), promoted to a reusable
surface with the lifecycle piece the round-11 review flagged as
missing: immutable version dirs accumulate unboundedly without a
``vacuum``.

Design (same discipline as the table formats it miniaturizes):

- Each ``publish`` writes an IMMUTABLE ``v<N>`` directory, then flips
  the manifest pointer through ``fs.write_json_replace`` (the one
  commit protocol, see ``fs``).  Readers resolve every access through
  the manifest, so an in-progress publish can never be half-read and
  old versions stay queryable.
- ``vacuum(keep_last=N)`` prunes old versions MANIFEST-FIRST: the
  pruned manifest is flipped in atomically BEFORE any directory is
  deleted.  A crash mid-vacuum therefore leaves only orphan dirs no
  manifest entry points to — invisible to readers, re-collected by the
  next vacuum (which sweeps unreferenced ``v*`` dirs) — never a
  manifest entry whose data is gone.
- Concurrent-reader safety is the same contract as Delta/Iceberg
  VACUUM: a reader that RESOLVED a version before the vacuum may still
  be scanning its files when they are deleted.  Retention must exceed
  the longest running query (``keep_last`` of a publish cadence is the
  knob); the current and previous versions are always retained
  (``keep_last`` is floored at 1, and ``latest`` is always kept).

Users: the compacted staged table (``StagingPipeline.compact_staged``),
the band index (``llmops.BandSignatureIndex``), a19's keyed-upsert state
(``operators.staging.make_keyed_upsert``) and a22.  The root is created
by the first ``publish``; reading a root nothing was published to
creates nothing.  URI-schemed roots (hdfs://, s3a://, file://) go
through ``fs.HadoopFS`` and need a live SparkSession.  Single-writer
discipline is the contract on every backend: ``publish`` and
``vacuum`` DETECT a concurrent writer (``ConcurrentWriterError``), they
do not serialize it.
"""

from __future__ import annotations

import os
import re
import uuid
import warnings
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_lake_staging_engine_spark.fs import (
    filesystem_for,
    read_json_replaced,
    write_json_replace,
)

# Version data dirs: "v<N>-<8 hex>" since round 16 (each publish writes
# a collision-free dir, ADVICE r15); bare "v<N>" accepted for sweeping
# stores written before the suffix existed.
_VDIR = re.compile(r"^v(\d+)(?:-[0-9a-f]{8})?$")


class ConcurrentWriterError(RuntimeError):
    """Another writer changed the manifest between this operation's
    snapshot and its flip (VERDICT r14 #4).

    This DETECTS concurrent writers, it does not serialize them: the
    re-read-then-flip is not atomic, so two writers that interleave
    inside that last window can still land last-wins — the check turns
    the COMMON contention shapes (a racing rebuild, a forgotten second
    job, a vacuum cron overlapping a publish) from a silent clobber
    into a loud error.  For true multi-writer commits use a
    transactional table format; the documented contract here stays
    single-writer."""


class ConcurrentPublishError(ConcurrentWriterError):
    """A publish lost the detection race (see ConcurrentWriterError)."""


def _manifest_state(meta: dict) -> tuple:
    """The CAS comparison key: latest pointer plus the retained
    version numbers.  Comparing BOTH catches the vacuum-vs-publish
    interleave that a latest-only check misses — a vacuum does not
    move ``latest``, but a publish flipping a pre-vacuum snapshot
    would resurrect manifest entries whose data dirs are gone."""
    return (meta["latest"], tuple(v["version"] for v in meta["versions"]))


class VersionedTable:
    """Manifest-pointer versioned parquet table rooted at ``root``."""

    def __init__(self, root: str, spark: SparkSession | None = None) -> None:
        self.root = root
        # URI roots (hdfs://, s3a://, file://) go through the Hadoop
        # FileSystem gateway and need a live session; bare paths keep
        # the POSIX primitives and need none (pre-round-13 behavior).
        self._fs = filesystem_for(root, spark)
        self.manifest = os.path.join(root, "manifest.json")

    # -- manifest ---------------------------------------------------------
    def _meta(self) -> dict:
        return read_json_replaced(
            self._fs, self.manifest, {"latest": None, "versions": []}
        )

    def _flip(self, meta: dict) -> None:
        write_json_replace(self._fs, self.manifest, meta)

    def versions(self) -> list[int]:
        return [v["version"] for v in self._meta()["versions"]]

    def latest(self) -> int | None:
        return self._meta()["latest"]

    # -- publish / read ---------------------------------------------------
    def publish(
        self,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
        extra: dict | Callable[[], dict] | None = None,
        sidecars: dict[str, DataFrame] | None = None,
    ) -> int:
        """Write the next version directory, then flip the pointer.
        The data write completes before the manifest references it, so
        a crash mid-write leaves an orphan dir (swept by vacuum), never
        a readable half-version.

        ``partition_by`` lays the version out as a partitioned tree
        (the compaction consumer keeps its date layout for pruning);
        ``extra`` records caller metadata on the version entry (e.g.
        ``compacted_through`` — the highest micro-batch folded in); a
        function there is called after the data writes, so the entry
        can record what they observed.  ``sidecars`` maps
        ``_``-prefixed names to frames written as parquet dirs INSIDE
        the version dir after the main frame and before the flip:
        Spark's reader of the version skips them (the leading ``_``),
        and pinning, the orphan sweep and ``vacuum`` cover them with
        the version (the band index stores its vocab this way).

        Contention (VERDICT r14 #4): the manifest is re-read after the
        data write and the flip REFUSES (``ConcurrentPublishError``)
        if ``latest`` moved since this publish's snapshot — a
        best-effort CAS that detects, not serializes, a concurrent
        second publisher (see the exception's docstring).  Each publish
        writes its own collision-free directory (``v<N>-<token>``,
        ADVICE r15): two racers that both compute version N write
        DISJOINT dirs, so the loser's overwrite can never touch data
        the winner's manifest already references — the loser's dir is
        genuinely an orphan the next vacuum sweeps, and the winner's
        version is untouched.  Readers resolve paths only through the
        manifest entry, never by constructing ``v<N>`` names."""
        sidecars = sidecars or {}
        if any(not name.startswith("_") for name in sidecars):
            raise ValueError(
                f"sidecar names {sorted(sidecars)} must start with '_', or "
                "a read of the version would scan them as table data"
            )
        meta = self._meta()
        version = (meta["latest"] or 0) + 1
        self._fs.makedirs(self.root)
        vdir = os.path.join(self.root, f"v{version}-{uuid.uuid4().hex[:8]}")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(vdir)
        for name, side in sidecars.items():
            side.write.mode("overwrite").parquet(os.path.join(vdir, name))
        current = self._meta()
        if _manifest_state(current) != _manifest_state(meta):
            raise ConcurrentPublishError(
                f"manifest moved during publish at {self.root}: state "
                f"was {_manifest_state(meta)} at snapshot, is "
                f"{_manifest_state(current)} now — a concurrent writer "
                f"(publisher or vacuum) won; this publish's data dir "
                f"{vdir} is an orphan the next vacuum sweeps.  Retry to "
                "publish on top of the current manifest."
            )
        entry = {"version": version, "path": vdir}
        entry.update((extra() if callable(extra) else extra) or {})
        meta["versions"].append(entry)
        meta["latest"] = version
        self._flip(meta)
        return version

    def entry(self, version: int | None = None) -> dict:
        """The manifest entry for ``version`` (latest when None) —
        path plus any ``extra`` metadata recorded at publish."""
        meta = self._meta()
        version = meta["latest"] if version is None else version
        for v in meta["versions"]:
            if v["version"] == version:
                return dict(v)
        raise ValueError(
            f"version {version} not in manifest (retained: "
            f"{[v['version'] for v in meta['versions']]}) — it may have "
            "been vacuumed"
        )

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        return spark.read.parquet(self.entry(version)["path"])

    # -- retention --------------------------------------------------------
    def vacuum(self, keep_last: int) -> list[int]:
        """Drop all but the newest ``keep_last`` versions; returns the
        pruned version numbers.

        Manifest-first: readers resolving AFTER the flip can no longer
        reach a pruned version, so the directory deletes that follow
        (and any orphan ``v*`` dirs from earlier crashes) are invisible
        to them.  A reader that resolved BEFORE the flip races the
        delete — size ``keep_last`` so retention exceeds the longest
        query, exactly the Delta/Iceberg VACUUM contract.

        Concurrent PUBLISHES are safe too: the orphan sweep only
        touches version numbers <= the latest this vacuum observed, so
        a publish mid-write at ``v{latest+1}`` is never deleted out
        from under its upcoming manifest flip (ADVICE r12).  And a
        publish whose FLIP lands between this vacuum's snapshot and
        its own flip is detected (round 15, VERDICT r14 #4): the
        manifest is re-read before the vacuum flip, which refuses
        (``ConcurrentWriterError``) rather than silently erasing the
        fresh version's manifest entry while its data dir — above the
        observed latest — survives the sweep.
        """
        keep_last = max(1, int(keep_last))
        meta = self._meta()
        if meta["latest"] is None:
            return []
        keep = meta["versions"][-keep_last:]
        pruned = meta["versions"][:-keep_last]
        if pruned:
            current = self._meta()
            if _manifest_state(current) != _manifest_state(meta):
                raise ConcurrentWriterError(
                    f"manifest moved during vacuum at {self.root}: state "
                    f"was {_manifest_state(meta)} at snapshot, is "
                    f"{_manifest_state(current)} now — a concurrent "
                    "writer flipped it; retry the vacuum against the "
                    "current manifest (no directory was deleted)."
                )
            self._flip({"latest": meta["latest"], "versions": keep})
        kept_dirs = {os.path.basename(v["path"]) for v in keep}
        pruned_dirs = {os.path.basename(v["path"]) for v in pruned}
        dropped: list[int] = [v["version"] for v in pruned]
        # Sweep unreferenced dirs: just-pruned dirs plus orphans from
        # crashed/lost publishes and interrupted vacuums — but ONLY at
        # version numbers <= the latest this vacuum read (ADVICE r12):
        # a v{latest+1} dir may be a CONCURRENT publish mid-write, and
        # deleting it would flip a manifest entry whose data is gone.
        # A crashed publish above latest is harmless — its uniquely-
        # named dir is never referenced and is swept here once the
        # pointer passes its number.
        latest = meta["latest"]
        for name in sorted(self._fs.listdir(self.root)):
            m = _VDIR.match(name)
            if m and name not in kept_dirs and int(m.group(1)) <= latest:
                self._fs.rmtree(os.path.join(self.root, name))
                if name not in pruned_dirs:
                    warnings.warn(
                        f"vacuum swept orphan version dir {name!r} "
                        "(crashed or CAS-losing publish, or an "
                        "interrupted vacuum)",
                        stacklevel=2,
                    )
        return dropped
