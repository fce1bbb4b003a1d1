"""The two workloads: ``ingest`` and ``analytics``.

Each workload drives the engine from one process through its public
functions, as a single closed-loop client: the next op starts when the
previous one returned.  A workload provides

- ``generate()``: its inputs, from the seed (gen.py), before any timing;
- ``setup()``: the engine-side set-up after session start;
- ``warmup()``: one untimed op after the last set-up, so JIT and lazy
  initialization finish before timing;
- ``ops()``: the timed ops in order, as ``Op`` records the runner executes;
- ``done()``: whether the timed phase may stop here (after the deadline);
- ``check()``: the correctness check, run after the timed phase;
- ``layers()``: the workload's per-layer facts for the traced run.

Ops return their results to the client (``toArrow``), and the check
compares those very results, so no op is run twice.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from tracing import MB
from check import counts_match, frame_vs_sql, rows_vs_sql

from data_lake_staging_engine_spark.catalog import CatalogSync, SessionCatalogSync
from data_lake_staging_engine_spark.contracts import default_contracts
from data_lake_staging_engine_spark.operators.llmops import BandSignatureIndex
from data_lake_staging_engine_spark.pipeline import StagingPipeline
from data_lake_staging_engine_spark.registry import registry
from data_lake_staging_engine_spark.testing import duck_connection

@dataclass
class Op:
    """One unit of work.  ``latency`` ops feed op_gmean_s/op_tail_s;
    ``units`` feed work_per_s; ``in_bytes`` feed write_amp."""

    name: str
    fn: Callable[[], object]
    units: float = 0.0
    in_bytes: float = 0.0
    latency: bool = True
    # filled by the runner
    start: float = 0.0
    end: float = 0.0
    error: str | None = None
    spark: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    sf = 0.0  # default scale factor of the generated fixture

    def __init__(self, bench, sf: float | None = None) -> None:
        self.bench = bench
        self.inputs = os.path.join(bench.work, "inputs")
        if sf is not None:
            self.sf = sf

    @property
    def spark(self):
        return self.bench.spark

    @property
    def tracer(self):
        return self.bench.tracer

    def done(self) -> bool:
        return True

    def corrupt(self) -> None:
        """Damage one output the check reads (shows the check can fail)."""
        raise NotImplementedError

    def layers(self) -> dict[str, float]:
        return {}


# -- ingest --------------------------------------------------------------------

INGEST_SF = 0.1
#: a block is one round of the delivery size classes and a compaction;
#: it outlasts the run length, so a run times one block
COMPACT_EVERY = len(gen.SIZE_CLASSES)
EVENTS_COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "props")


class TimedCatalog(CatalogSync):
    """Delegates to the engine's default catalog and, when tracing, times
    each sync and records the bytes it leaves on disk (the walk counts as
    tracing cost)."""

    def __init__(self, bench, warehouse: str) -> None:
        self.inner = SessionCatalogSync()
        self.bench = bench
        self.warehouse = warehouse
        self.sync_s = 0.0
        self.written = 0

    def sync_table(self, df, table, partition_cols=None) -> None:
        with self.bench.tracer.span("catalog.sync_table") as sp:
            self.inner.sync_table(df, table, partition_cols)
        if sp is not None:
            self.sync_s += sp.dur
            t = time.perf_counter()
            self.written += dir_bytes(os.path.join(self.warehouse, table))
            self.bench.tracer.cost += time.perf_counter() - t

    def read_table(self, spark, table):
        return self.inner.read_table(spark, table)


class Ingest(Workload):
    """Deliveries land one at a time and are each drained by
    ``StagingPipeline.run_available_now`` with the default events
    contracts, then read back by catalog name; ``compact_staged`` runs
    after every block of COMPACT_EVERY deliveries, and the timed phase
    ends on a block boundary."""

    name = "ingest"
    sf = INGEST_SF

    def generate(self) -> None:
        """The deliveries, written to an outbox next to the landing dir;
        an op lands one by renaming its files, so the benchmark writes no
        bytes while the engine is timed (write_amp counts the engine's)."""
        events = gen.fixture_tables(self.sf, ("events",))["events"]
        self.deliveries = gen.deliveries(events, self.bench.seed)
        self.landed: list[gen.Delivery] = []
        self.root = os.path.join(self.bench.work, "ingest")
        self.landing = os.path.join(self.root, "landing")
        outbox = os.path.join(self.root, "outbox")
        os.makedirs(self.landing)
        os.makedirs(outbox)
        self.outbox: list[list[str]] = []
        for n, d in enumerate(self.deliveries):
            paths = []
            for i, tab in enumerate(d.files):
                paths.append(os.path.join(outbox, f"d{n:04d}-part-{i}.parquet"))
                pq.write_table(tab, paths[-1])
            self.outbox.append(paths)

    def _land(self, n: int) -> int:
        """Land delivery ``n``; returns its bytes."""
        nbytes = 0
        for path in self.outbox[n]:
            nbytes += os.path.getsize(path)
            os.rename(path, os.path.join(self.landing, os.path.basename(path)))
        self.landed.append(self.deliveries[n])
        return nbytes

    def setup(self) -> None:
        from pyspark.sql import types as T

        root = self.root
        self.table = "events_staged"
        self.catalog = TimedCatalog(self.bench, self.bench.warehouse)
        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
        self.pipe = StagingPipeline(
            self.spark,
            landing_dir=self.landing,
            staged_dir=os.path.join(root, "staged"),
            checkpoint_dir=os.path.join(root, "ckpt"),
            table=self.table,
            schema=schema,
            contracts=default_contracts("events"),
            rejects_dir=os.path.join(root, "rejects"),
            catalog=self.catalog,
        )

    def warmup(self) -> None:
        """The warm-up delivery and one round of the size classes, each
        drained and read back, then a compaction: the first round's
        drains run 20-40 % slower than later ones."""
        self.next = 0
        for _ in range(1 + len(gen.SIZE_CLASSES)):
            self._land(self.next)
            self.next += 1
            self._drain()
        self._compact()

    def _drain(self) -> int:
        with self.tracer.span("pipeline.run_available_now"):
            self.pipe.run_available_now()
        with self.tracer.span("catalog.read_back"):
            return self.spark.table(self.table).count()

    def _compact(self) -> None:
        with self.tracer.span("pipeline.compact_staged"):
            self.pipe.compact_staged()
        self.compacted = self.next

    def ops(self) -> Iterator[Op]:
        while self.next < len(self.deliveries):
            d = self.deliveries[self.next]
            nbytes = self._land(self.next)
            self.next += 1
            yield Op("drain", self._drain, units=d.rows, in_bytes=nbytes)
            if self.next - self.compacted == COMPACT_EVERY:
                yield Op("compact", self._compact, latency=False)

    def done(self) -> bool:
        return self.compacted == self.next

    def corrupt(self) -> None:
        table_dir = os.path.join(self.bench.warehouse, self.table)
        victim = next(
            os.path.join(r, f)
            for r, _d, fs in sorted(os.walk(table_dir))
            for f in sorted(fs)
            if f.endswith(".parquet")
        )
        os.remove(victim)
        self.spark.catalog.refreshTable(self.table)

    def injected(self) -> dict[str, list[int]]:
        out: dict[str, list[int]] = {r: [] for r in gen.REJECT_REASONS}
        for d in self.landed:
            for r, ids in d.injected.items():
                out[r].extend(ids)
        return out

    def reject_totals(self) -> dict[str, int]:
        totals = {r: 0 for r in gen.REJECT_REASONS}
        for counts in self.pipe.reject_metrics.values():
            for r, n in counts.items():
                totals[r] = totals.get(r, 0) + n
        return totals

    def check(self) -> list[str]:
        """Staged table (read through the catalog) == DuckDB over the
        landing files minus the injected rows; reject counts == injected
        counts, per reason."""
        bad_ids = sorted(i for ids in self.injected().values() for i in ids)
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.register("injected", pa.table({"event_id": pa.array(bad_ids, pa.int64())}))
        cols = ", ".join(EVENTS_COLUMNS)
        sql = (
            f"SELECT {cols} FROM read_parquet('{self.landing}/*.parquet') "
            "WHERE event_id NOT IN (SELECT event_id FROM injected)"
        )
        staged = self.spark.table(self.table).select(*EVENTS_COLUMNS)
        errors = frame_vs_sql("ingest.staged", staged, con, sql)
        expected = {r: len(v) for r, v in self.injected().items()}
        errors += counts_match("ingest.rejects", self.reject_totals(), expected)
        return errors

    def layers(self) -> dict[str, float]:
        t = self.tracer
        rejects = self.reject_totals()
        out = {
            "pipeline.compact_s": t.total("pipeline.compact_staged"),
            "pipeline.files_staged": float(
                sum(len(d.files) for d in self.landed)
            ),
            "catalog.sync_s": self.catalog.sync_s,
            "catalog.written_mb": self.catalog.written / MB,
            "contracts.reject_mb": dir_bytes(os.path.join(self.root, "rejects")) / MB,
        }
        # run_available_now minus the syncs that ran inside it
        sync_in_drain = sum(
            s.dur
            for s in t.spans
            if s.name == "catalog.sync_table"
            and s.parent is not None
            and t.spans[s.parent].name == "pipeline.run_available_now"
        )
        out["pipeline.drain_s"] = t.total("pipeline.run_available_now") - sync_in_drain
        for r in gen.REJECT_REASONS:
            out[f"contracts.rejected_rows.{r}"] = float(rejects.get(r, 0))
        return out


# -- analytics -----------------------------------------------------------------

ANALYTICS_SF = 0.1
#: the headline's batch queries and its stateful stream-stream join, less
#: the four a run's time budget cannot carry: e12, a15, g03b and e01 cost
#: 15 s of a 48 s pass on a contended 4-core host (e01 still runs in
#: warm-up, for the streaming machinery)
QUERIES = (
    "b20_agg_groupby", "b10_join_inner", "b15_join_broadcast", "b18_join_asof",
    "b41_topk_per_group", "c03_win_running_sum", "c05_win_range_interval",
    "d05_fn_array", "d13_fn_url", "g05_text_tokenize", "g07_text_tfidf",
    "e08_stream_stream_join",
)
DEDUP_DOCS_SF = 0.1  # 5,000 base documents -> a 15,000-document replica
PROBE_RECALL_FLOOR = 0.90

#: exact incremental-dedup verdicts of ``newdocs`` against ``corpus``
#: (g30's oracle, over caller-supplied views): the probe's reference
_EXACT_VERDICTS_SQL = """
WITH ex AS (
  SELECT n.doc_id, MIN(c.doc_id) AS m
  FROM newdocs n JOIN corpus c
    ON md5(lower(trim(n.text))) = md5(lower(trim(c.text)))
  GROUP BY 1
),
alld AS (SELECT doc_id, text FROM newdocs UNION ALL SELECT doc_id, text FROM corpus),
toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM alld),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
nt AS (SELECT t.* FROM toks t SEMI JOIN newdocs USING (doc_id)),
ct AS (SELECT t.* FROM toks t SEMI JOIN corpus USING (doc_id)),
pairs AS (
  SELECT a.doc_id AS nd, b.doc_id AS cd, COUNT(*) AS shared
  FROM nt a JOIN ct b ON a.tok = b.tok GROUP BY 1, 2
),
nearm AS (
  SELECT nd, MIN(cd) AS m FROM pairs
  JOIN sizes s1 ON nd = s1.doc_id JOIN sizes s2 ON cd = s2.doc_id
  WHERE shared * 1.0 / (s1.n + s2.n - shared) >= 0.8
  GROUP BY 1
)
SELECT n.doc_id,
       CASE WHEN ex.m IS NOT NULL THEN 'exact'
            WHEN nearm.m IS NOT NULL THEN 'near' ELSE 'unique' END AS verdict,
       COALESCE(ex.m, nearm.m) AS match_id
FROM newdocs n LEFT JOIN ex USING (doc_id) LEFT JOIN nearm ON n.doc_id = nearm.nd
"""


def query_layer(name: str) -> str:
    """The engine module a registered query lives in, package prefix
    dropped: operators.relational, operators.windows, functions, ..."""
    mod = registry()[name].fn.__module__.split(".", 1)[1]
    return "functions" if mod.startswith("functions.") else mod


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    return con


class Analytics(Workload):
    """One client runs the query mix and the per-batch index probe
    over a seeded, row-permuted, multi-file copy of the fixture and a
    seeded corpus/batch split of a documents replica, reshuffling the
    order every pass; the timed phase ends on a pass boundary.  The band
    signature index is built once, after set-up, and probed by every
    pass (build once, probe many)."""

    name = "analytics"
    sf = ANALYTICS_SF

    def generate(self) -> None:
        self.base = os.path.join(self.inputs, "base")
        self.data = os.path.join(self.inputs, "shuffled")
        gen.write_fixture(self.base, self.sf)
        gen.shuffled_copy(self.base, self.data, self.bench.seed)
        self.reg = registry()
        self.pass_bytes = float(dir_bytes(self.data))
        self.last: dict[str, pa.Table] = {}
        self.in_pass = 0
        # dedup inputs: the replica, split into corpus + batches
        docs = gen.fixture_tables(DEDUP_DOCS_SF, ("documents",))["documents"]
        self.d = gen.dedup_inputs(docs, self.bench.seed)
        self.corpus_path = os.path.join(self.inputs, "corpus.parquet")
        pq.write_table(self.d.corpus, self.corpus_path)
        self.batch_paths = []
        for i, b in enumerate(self.d.batches):
            path = os.path.join(self.inputs, f"batch{i}.parquet")
            pq.write_table(b, path)
            self.batch_paths.append(path)
        self.probe_bytes = float(os.path.getsize(self.batch_paths[0]))

    def setup(self) -> None:
        """The registry's view of the inputs: the corpus and batch frames."""
        self.corpus = self.spark.read.parquet(self.corpus_path).select("doc_id", "text")
        self.batches = [
            self.spark.read.parquet(p).select("doc_id", "text") for p in self.batch_paths
        ]

    def warmup(self) -> None:
        """As bench.py does: JVM/codegen via the flagship agg (collected
        like every timed op, which also initializes the Arrow transfer);
        the shared events landing copy that e08 reuses (streaming.runner
        caches it per process); the one-time streaming machinery via e01.
        Then the band-signature index over the corpus, built once and
        probed by every pass."""
        from data_lake_staging_engine_spark.streaming.runner import landing_copy

        self.reg["b20_agg_groupby"].fn(self.spark, self.data).toArrow()
        landing_copy(self.spark, self.data, "events")
        _noop(self.reg["e01_stream_tumbling"].fn(self.spark, self.data))
        self.index_root = os.path.join(self.bench.work, "index")
        self.index = BandSignatureIndex(self.index_root, self.spark)
        t = time.perf_counter()
        self.index.build(self.corpus)
        self.build_s = time.perf_counter() - t

    def _query(self, name: str) -> None:
        layer = query_layer(name)
        with self.tracer.span(f"{layer}.{name}.call"):
            df = self.reg[name].fn(self.spark, self.data)
        with self.tracer.span(f"{layer}.{name}.exec"):
            self.last[name] = df.toArrow()

    def _probe(self, batch: int) -> None:
        with self.tracer.span("llmops.probe"):
            df = self.index.probe(self.batches[batch], self.corpus)
            self.last["probe"] = df.toArrow()
        self.last_batch = batch

    def ops(self) -> Iterator[Op]:
        names = QUERIES + ("probe",)
        p = 0
        while True:
            batch = p % len(self.batch_paths)
            order = np.random.default_rng((self.bench.seed, p)).permutation(len(names))
            for j, i in enumerate(order):
                self.in_pass = j + 1
                name = names[i]
                if name == "probe":
                    yield Op(name, lambda: self._probe(batch), units=1.0,
                             in_bytes=self.probe_bytes)
                else:
                    yield Op(name, lambda name=name: self._query(name), units=1.0,
                             in_bytes=self.pass_bytes / len(QUERIES))
            p += 1

    def done(self) -> bool:
        return self.in_pass == len(QUERIES) + 1

    def corrupt(self) -> None:
        name = next(k for k, v in self.last.items() if v.num_rows)
        self.last[name] = self.last[name].slice(1)

    def probe_scores(self) -> tuple[float, float]:
        """(precision, recall) of the last probe's flagged docs against the
        exact incremental verdicts on the same batch, computed by DuckDB."""
        con = self._dedup_duck(self.last_batch)
        exact = {r[0] for r in con.execute(
            f"SELECT doc_id FROM ({_EXACT_VERDICTS_SQL}) WHERE verdict <> 'unique'").fetchall()}
        probe = self.last["probe"]
        flagged = {
            d for d, v in zip(probe.column("doc_id").to_pylist(),
                              probe.column("verdict").to_pylist())
            if v != "unique"
        }
        hit = len(flagged & exact)
        return (hit / len(flagged) if flagged else 1.0,
                hit / len(exact) if exact else 1.0)

    def _dedup_duck(self, batch: int) -> duckdb.DuckDBPyConnection:
        con = _duck()
        con.execute(f"CREATE VIEW corpus AS SELECT doc_id, text FROM read_parquet('{self.corpus_path}')")
        con.execute(f"CREATE VIEW newdocs AS SELECT doc_id, text FROM read_parquet('{self.batch_paths[batch]}')")
        return con

    def check(self) -> list[str]:
        """Every query of the last pass == its registry DuckDB oracle over
        the original single-file fixture; the probe keeps precision 1 and
        recall >= 0.90 against the exact verdicts on the same batch."""
        fixture = duck_connection(self.base)
        errors: list[str] = []
        for name, res in sorted(self.last.items()):
            if name in QUERIES:
                errors += rows_vs_sql(name, res, fixture, self.reg[name].oracle)
            else:
                prec, rec = self.probe_scores()
                if prec < 1.0 or rec < PROBE_RECALL_FLOOR:
                    errors.append(f"probe: precision {prec:.4f}, recall {rec:.4f}")
        return errors

    def layers(self) -> dict[str, float]:
        t = self.tracer

        def mean(span: str) -> float:
            n = t.count(span)
            return t.total(span) / n if n else 0.0

        out: dict[str, float] = {}
        for name in QUERIES:
            layer = query_layer(name)
            for part in ("call", "exec"):
                out[f"{layer}.{name}.{part}_s"] = mean(f"{layer}.{name}.{part}")
        out.update({
            "llmops.index_build_s": self.build_s,
            "llmops.probe_s": mean("llmops.probe"),
            "llmops.probe_recall": self.probe_scores()[1] if "probe" in self.last else 0.0,
            "versioning.index_mb": dir_bytes(self.index_root) / MB,
        })
        return out


WORKLOADS = {w.name: w for w in (Ingest, Analytics)}
