#!/usr/bin/env python
"""Dump each named query's plans and an order-independent row digest.

Per query, three files land in ``--out``:

- ``<query><suffix>.txt``: the initial plan (``explain("formatted")``
  at construction time, AdaptiveSparkPlan isFinalPlan=false) — the
  shape the code determines.
- ``<query><suffix>.executed.txt``: the final executed plan after the
  query ran (AQE's runtime joins and coalesced reads included).
- ``<query><suffix>.rows.txt``: the row count and the decimal
  ``sum(xxhash64(*cols))`` — equal for equal row multisets, in any
  order, without collecting the rows.

Both plans are normalized: expression ids (``#123``), the counters
PySpark appends to lambda variable names (``x_96``), ``plan_id=``,
query-stage and RDD numbers, ``*(12)`` codegen stage ids (they follow
AQE's stage order, which varies run to run), UUIDs (observation names)
and ``/tmp/...`` paths are replaced by placeholders.  Run once against
a copy of the parent commit and once against the change, with the
SAME sf dir and suffix, and ``diff -r <parent_out> <change_out>`` is
the whole plan-and-rows check.

Usage:
    python scripts/dump_plans.py --repo <parent_copy> --sf-dir <sf_dir> \
        --out <parent_out> g03_simsearch_topk g28_semantic_dedup ...
    python scripts/dump_plans.py --repo . --sf-dir <sf_dir> \
        --out <change_out> g03_simsearch_topk g28_semantic_dedup ...
    diff -r <parent_out> <change_out>

Queries that execute work during construction (eager checkpoints,
streaming drains) pay that work here; their returned relation's plan
is what gets dumped, matching the PLANS.md convention.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

_NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(QueryStage) \d+"), r"\1 N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"(?m)^\(\d+\) "), "(N) "),
    (re.compile(r"(?m) \(\d+\)$"), " (N)"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "/tmp/<path>"),
]


def normalize(plan: str) -> str:
    for pat, rep in _NORMALIZE:
        plan = pat.sub(rep, plan)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", required=True, help="repo root to import from")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--suffix", default="", help="e.g. _before / _after")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    sys.path.insert(0, os.path.abspath(args.repo))
    from pyspark.sql import functions as F

    from data_lake_staging_engine_spark.plans.inspect import physical_plan
    from data_lake_staging_engine_spark.registry import registry
    from data_lake_staging_engine_spark.session import (
        fixture_split_bytes,
        get_spark,
    )

    spark = get_spark(max_partition_bytes=fixture_split_bytes())
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    os.makedirs(args.out, exist_ok=True)
    for name in args.queries:
        try:
            df = reg[name].fn(spark, args.sf_dir)
            plan = physical_plan(df)
            digest = df.agg(
                F.count(F.lit(1)).alias("n"),
                # decimal: an int64 sum of hashes overflows under ANSI
                F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
            )
            row = digest.collect()[0]
            rows = f"rows={row['n']} hash={row['h']}"
            executed = digest._jdf.queryExecution().executedPlan().toString()
            executed = executed.split("== Initial Plan ==")[0]
        except Exception as exc:  # noqa: BLE001 - evidence must report all
            plan = executed = rows = f"ERROR {type(exc).__name__}: {exc}"
        head = f"# {name}{args.suffix} — sf_dir={args.sf_dir}\n\n"
        for ext, body in (
            ("", plan),
            (".executed", executed),
            (".rows", rows),
        ):
            path = os.path.join(args.out, f"{name}{args.suffix}{ext}.txt")
            with open(path, "w") as f:
                f.write(head + normalize(body) + "\n")
        print(f"{name}: {rows}", flush=True)


if __name__ == "__main__":
    main()
