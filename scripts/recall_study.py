#!/usr/bin/env python
"""Recall study for the approximate scale paths (VERDICT r12 #4).

The banding/bucketed operators are the prescribed 100 TB posture for
near-dup and ANN; their PRECISION is pinned (exact verify => subset of
the exact result), but "use banding at 100 TB" is only trustworthy
with a measured RECALL floor at a real data step.  This script
measures, at each SF dir of a ladder:

- g02b_dedup_lsh   recall vs exact g02_dedup_near   (token Jaccard>=0.8)
- g02e_dedup_lsh_shingle recall vs exact g02d (3-gram Jaccard>=0.8,
  forced exact by raising _DEGENERATE_ABS_COLLISIONS to inf — the
  auto-route must not hand the study an approximate ground truth)
- g02c_dedup_simhash CANDIDATE recall vs the same g02d anchor (simhash
  emits unverified candidate pairs; recall counts anchor pairs present)
- g03c_simsearch_lsh recall vs the exact cos>=0.4 pair anchor
- g03e_simsearch_ivf recall@5 vs exact g03b top-5

All recalls are computed DISTRIBUTED (join + count, never a driver
collect of the pair sets — at sf1 the exact near-dup output is tens of
millions of pairs).  Subset (precision-1) properties are asserted with
exceptAll counts for the verified families.

Usage:
    python scripts/make_replicated_copy.py /root/testdata/sf0.1 \
        /tmp/sf1_replica --copies 10
    python scripts/recall_study.py \
        --sf-dirs sf0.01=/root/testdata/sf0.01,sf0.1=/root/testdata/sf0.1,sf1=/tmp/sf1_replica

Prints one JSON line; the human table goes to stderr.  Measured
round-13 numbers live in BASELINE.md; tests/test_dedup_recall.py pins
the floors (fixture SF always; the sf1 replica when present).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_lake_staging_engine_spark.operators import llmops as L  # noqa: E402
from data_lake_staging_engine_spark.registry import registry  # noqa: E402
from data_lake_staging_engine_spark.session import (  # noqa: E402
    fixture_split_bytes,
    get_spark,
)
from data_lake_staging_engine_spark.sources import load  # noqa: E402


def _pairs(df, c1="d1", c2="d2"):
    return df.select(F.col(c1).alias("d1"), F.col(c2).alias("d2"))


def _recall_pairs(approx, exact, assert_subset=True):
    """|approx ∩ exact| / |exact| over (d1, d2) pair frames, computed
    distributed.  When ``assert_subset`` the approx side must be a
    subset of exact (precision 1) — a violation is a bug, not noise."""
    n_exact = exact.count()
    n_hit = approx.join(exact, ["d1", "d2"]).count()
    if assert_subset:
        extra = approx.join(exact, ["d1", "d2"], "left_anti").count()
        assert extra == 0, f"approx emitted {extra} pairs outside exact"
    return n_hit / n_exact if n_exact else float("nan"), n_exact


def _exact_cos_pairs(spark, sf_dir, threshold):
    e = load(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id",
        "embedding",
        F.sqrt(L._dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
    )
    a, b = v.alias("a"), v.alias("b")
    cos = F.col("dot") / (F.col("a.norm") * F.col("b.norm"))
    return (
        a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("dot", L._dot(F.col("a.embedding"), F.col("b.embedding")))
        .filter(cos >= threshold)
        .select(F.col("a.vec_id").alias("d1"), F.col("b.vec_id").alias("d2"))
    )


def measure(spark, reg, sf_dir: str) -> dict[str, float]:
    out: dict[str, float] = {}
    d = load(spark, sf_dir, "documents")

    # token near-dup: banding vs exact (fixture vocab keeps g02 exact
    # at every ladder step — tokens never trip the collision budget)
    exact_tok = _pairs(reg["g02_dedup_near"].fn(spark, sf_dir))
    band_tok = _pairs(reg["g02b_dedup_lsh"].fn(spark, sf_dir))
    out["g02b_vs_g02"], out["n_pairs_tok"] = _recall_pairs(
        band_tok, exact_tok
    )

    # shingle near-dup: force the exact anchor past the auto-route
    abs_collisions = L._DEGENERATE_ABS_COLLISIONS
    L._DEGENERATE_ABS_COLLISIONS = math.inf
    try:
        exact_sh = _pairs(
            L._jaccard_pairs(L._shingles(d), 0.8, probe=L._shingles_raw(d))
        )
    finally:
        L._DEGENERATE_ABS_COLLISIONS = abs_collisions
    band_sh = _pairs(reg["g02e_dedup_lsh_shingle"].fn(spark, sf_dir))
    out["g02e_vs_g02d"], out["n_pairs_shingle"] = _recall_pairs(
        band_sh, exact_sh
    )
    # simhash emits unverified CANDIDATES — recall only (no subset)
    sim = _pairs(reg["g02c_dedup_simhash"].fn(spark, sf_dir))
    out["g02c_cand_vs_g02d"], _ = _recall_pairs(
        sim, exact_sh, assert_subset=False
    )

    # ANN: hyperplane LSH vs the cos>=0.4 exact pair anchor
    exact_ann = _exact_cos_pairs(spark, sf_dir, 0.4)
    lsh = reg["g03c_simsearch_lsh"].fn(spark, sf_dir)
    lsh_pairs = lsh.select(
        F.least("qid", "cid").alias("d1"), F.greatest("qid", "cid").alias("d2")
    )
    out["g03c_vs_exact_cos04"], out["n_pairs_ann"] = _recall_pairs(
        lsh_pairs, exact_ann, assert_subset=False
    )

    # IVF recall@5 vs exact top-5 (per-query mean == global hit ratio
    # because every query has exactly 5 exact neighbors)
    knn = reg["g03b_simsearch_knn"].fn(spark, sf_dir).select("qid", "cid")
    ivf = reg["g03e_simsearch_ivf"].fn(spark, sf_dir).select("qid", "cid")
    n_knn = knn.count()
    out["g03e_at5_vs_g03b"] = (
        ivf.join(knn, ["qid", "cid"]).count() / n_knn if n_knn else float("nan")
    )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dirs",
        type=str,
        default=(
            "sf0.01=/root/testdata/sf0.01,sf0.1=/root/testdata/sf0.1"
        ),
        help="comma-separated label=path ladder, smallest first",
    )
    args = ap.parse_args()
    sf_dirs = []
    for spec in args.sf_dirs.split(","):
        label, _, path = spec.partition("=")
        if not path:
            raise SystemExit(f"--sf-dirs entry {spec!r} is not label=path")
        sf_dirs.append((label.strip(), path.strip()))

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        cores=cpus,
        shuffle_partitions=cpus,
        max_partition_bytes=fixture_split_bytes(),
    )
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()

    results: dict[str, dict[str, float]] = {}
    for label, sf_dir in sf_dirs:
        print(f"-- {label} ({sf_dir})", file=sys.stderr)
        results[label] = {
            k: (round(v, 4) if isinstance(v, float) else v)
            for k, v in measure(spark, reg, sf_dir).items()
        }
        for k, v in results[label].items():
            print(f"  {k}: {v}", file=sys.stderr)
    print(json.dumps({"metric": "recall_study", "results": results}))


if __name__ == "__main__":
    main()
