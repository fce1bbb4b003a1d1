#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE JSON line:
  {"metric": "headline_total", "value": N, "unit": "sec",
   "queries": {"b20_agg_groupby": sec, ...},
   "original17_total": M, "sf": 0.1}

``value`` is the full current headline (22 queries); ``original17_total``
is the round-1-comparable subset's subtotal, so the 35.3 s baseline gate
reads off one number with no per-query subtraction (VERDICT r06 #3).
Additions-only context keys ride alongside: the host load and CPU
steal, per-query GC time, and ``spark.master`` / ``defaultParallelism``
(the cores the run actually had, so runs on different hosts are not
compared blind).

Materialization uses the noop sink (full execution, no write cost, no
driver collect bottleneck). A warm-up query runs first so JVM/codegen
startup isn't attributed to the first measured query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_lake_staging_engine_spark.registry import registry  # noqa: E402
from data_lake_staging_engine_spark.session import (  # noqa: E402
    fixture_split_bytes,
    get_spark,
)

ORIGINAL_17 = [
    "b20_agg_groupby",          # flagship TPC-H-Q1-shape aggregation
    "b10_join_inner",           # fact-dim shuffle join
    "b15_join_broadcast",       # star join, broadcast dims
    "b18_join_asof",            # as-of join (window technique)
    "b41_topk_per_group",       # per-group top-k window
    "c03_win_running_sum",      # running window aggregation
    "c05_win_range_interval",   # time-range frame
    "d05_fn_array",             # higher-order array functions
    "g02_dedup_near",           # near-dup self-join (exact jaccard)
    "g03b_simsearch_knn",       # vector knn (broadcast brute force)
    "g05_text_tokenize",        # tokenization
    "g07_text_tfidf",           # tf-idf pipeline
    "a09_sink_parquet_partitioned",  # partitioned staging sink
    "a15_bucketed_join",        # co-located bucketed join (no shuffle)
    "e01_stream_tumbling",      # streaming tumbling agg (AvailableNow)
    "e08_stream_stream_join",   # watermarked stream-stream interval join
    "g02d_dedup_ngram",         # char 3-gram shingle jaccard
]
HEADLINE = ORIGINAL_17 + [
    # round-6 additions (headline grows; cross-round totals compare on
    # the shared per-query table + the original17 subtotal)
    "g31_dedup_segments",       # sub-document segment dedup + reassembly
    "e12_stream_outer_join",    # watermarked left-outer interval join
    "d13_fn_url",               # parse_url scalar pack
    # round-15 additions (VERDICT r14 #6): the flagship incremental-
    # dedup path gets a per-round perf row
    "g30_dedup_incremental",    # exact incremental batch-vs-corpus dedup
    "g32_probe_amortized",      # band-index PROBE against a prebuilt store
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _proc_stat_jiffies() -> tuple[int, int] | None:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat.

    Round 16 measured original17_total tracking hypervisor CPU steal
    monotonically (29.1 s at 0.14% steal -> 87.8 s at 6.8% on
    byte-identical code), but the artifact only carried loadavg — which
    barely moves under steal.  Recording the steal delta across the run
    makes the artifact explain its own variance (VERDICT r16 #2).
    Additions-only: contract fields are untouched."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return sum(vals), vals[7] if len(vals) > 7 else 0
    except Exception:
        return None


def _jvm_gc_ms(spark) -> int | None:
    """Cumulative GC milliseconds of the driver JVM (== the executor in
    local mode), via the management MX beans.  Per-query deltas separate
    'the query allocated hard' from 'the host was stormy' in one read."""
    try:
        beans = (
            spark._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        return sum(
            beans.get(i).getCollectionTime() for i in range(beans.size())
        )
    except Exception:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0
    # 8 MB scan splits: bench runs against the tiny single-file
    # fixtures; the library default stays at Spark's 128m.
    spark = get_spark(
        cores=cpus,
        shuffle_partitions=cpus,
        max_partition_bytes=fixture_split_bytes(),
    )
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    # Measurement-conditions context: this host suffers EXTERNAL load
    # storms (r9/r10 both recorded 1.2-4x drift at 1-min load 4-8 with
    # nothing of ours running), so the artifact records the load it was
    # taken under — a reader can tell a code regression from a noisy
    # host without forensics.  Extra JSON keys ride alongside the
    # contract fields exactly like original17_total/sf already do.
    load_start = round(os.getloadavg()[0], 2)
    stat_start = _proc_stat_jiffies()

    # Warm-up (excluded from timings): JVM/codegen startup via the
    # flagship agg; then the streaming fixed costs the r02 verdict
    # flagged on e01 — the shared events landing copy (reused by
    # e01/e08 through runner._LANDING_CACHE) and the one-time
    # streaming machinery (state store, memory sink, checkpoint
    # classes) via a full drain at the smoke SF.
    from data_lake_staging_engine_spark.streaming.runner import landing_copy

    materialize(reg["b20_agg_groupby"].fn(spark, sf_dir))
    landing_copy(spark, sf_dir, "events")
    # Derive the streaming-warm-up smoke dir from sf_dir's root rather
    # than hardcoding /root/testdata (ADVICE r03): any layout that
    # carries the bench SF carries its siblings, and if the smoke SF is
    # absent we just skip the streaming warm-up.
    smoke_dir = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf0.001")
    if os.path.isdir(smoke_dir):
        reg["e01_stream_tumbling"].fn(spark, smoke_dir).count()

    # Amortized band-index probe (VERDICT r14 #6): a standing pipeline
    # builds the signature store once per corpus version and probes it
    # every batch — the BUILD happens here in warm-up (untimed, like
    # the landing copy it parallels) so g32_probe_amortized measures
    # the probe alone.  The registered g32 (driver coverage) keeps its
    # self-contained build-then-probe shape.
    import tempfile

    from data_lake_staging_engine_spark.operators.llmops import (
        g32_dedup_band_probe,
    )

    g32_root = tempfile.mkdtemp(prefix="dlse_bench_bandidx_")
    g32_dedup_band_probe(spark, sf_dir, index_root=g32_root).write.format(
        "noop"
    ).mode("overwrite").save()

    def g32_probe_amortized(spark, sf_dir):
        return g32_dedup_band_probe(spark, sf_dir, index_root=g32_root)

    extra = {"g32_probe_amortized": g32_probe_amortized}

    # 3x-documents replica row (VERDICT r16 #8): every real dedup win
    # of rounds 16-17 lives on the strategy core's prefix-filtered
    # branch, which only activates past _ALLPAIRS_MAX_REPS (8192)
    # distinct token sets — above the bench SF, so the driver's
    # instrument never saw it.  A 3x key-remapped, vocabulary-disjoint
    # replica of the documents table (built UNTIMED here, like the g32
    # index) crosses that threshold at sf0.1 and gives the scale-path
    # code one driver-measured row.  Additions-only: a NEW queries
    # entry; every pre-existing entry and both totals are computed
    # exactly as before.
    replica_dir = None
    try:
        import importlib.util

        _spec = importlib.util.spec_from_file_location(
            "make_replicated_copy",
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "scripts",
                "make_replicated_copy.py",
            ),
        )
        _mrc = importlib.util.module_from_spec(_spec)
        _spec.loader.exec_module(_mrc)
        import pyarrow.parquet as pq

        src_tab = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
        replica_dir = tempfile.mkdtemp(prefix="dlse_bench_docs3x_")
        ddir = os.path.join(replica_dir, "documents.parquet")
        os.makedirs(ddir, exist_ok=True)
        for i in range(3):
            pq.write_table(
                _mrc.replicate(src_tab, "documents", i),
                os.path.join(ddir, f"part-{i}.parquet"),
            )
    except Exception:
        replica_dir = None  # missing table/layout: skip the row, keep the contract

    if replica_dir is not None:

        def g02_dedup_near_3x(spark, _sf_dir):
            return reg["g02_dedup_near"].fn(spark, replica_dir)

        extra["g02_dedup_near_3x"] = g02_dedup_near_3x
        HEADLINE.append("g02_dedup_near_3x")

    # Final untimed re-warm (VERDICT r15 #4): the g32 index build above
    # is the heaviest warm-up job and runs LAST, so without this the
    # first TIMED query (b20) starts from a post-build JVM/page-cache
    # state — r15's b20 read 2.61 s against a 1.2-1.9 s 14-round
    # history in the same run where 15 of 20 shared queries got
    # faster, exactly when the build moved adjacent to the loop.
    # Re-running the flagship agg settles codegen, GC, and the
    # lineitem scan cache right before measurement begins.
    materialize(reg["b20_agg_groupby"].fn(spark, sf_dir))

    timings: dict[str, float] = {}
    gc_ms: dict[str, int] = {}
    for name in HEADLINE:
        fn = extra[name] if name in extra else reg[name].fn
        gc0 = _jvm_gc_ms(spark)
        t0 = time.perf_counter()
        materialize(fn(spark, sf_dir))
        timings[name] = round(time.perf_counter() - t0, 3)
        gc1 = _jvm_gc_ms(spark)
        if gc0 is not None and gc1 is not None:
            gc_ms[name] = gc1 - gc0

    total = round(sum(timings.values()), 3)
    stat_end = _proc_stat_jiffies()
    steal_pct = None
    if stat_start is not None and stat_end is not None:
        dt = stat_end[0] - stat_start[0]
        if dt > 0:
            steal_pct = round(100.0 * (stat_end[1] - stat_start[1]) / dt, 3)
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "original17_total": round(
                    sum(timings[n] for n in ORIGINAL_17), 3
                ),
                "sf": sf,
                "load_1m_start": load_start,
                "load_1m_end": round(os.getloadavg()[0], 2),
                "cpu_steal_pct": steal_pct,
                "queries_gc_ms": gc_ms,
                "spark.master": spark.sparkContext.master,
                "defaultParallelism": spark.sparkContext.defaultParallelism,
            }
        )
    )


if __name__ == "__main__":
    main()
