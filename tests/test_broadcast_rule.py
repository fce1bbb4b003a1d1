"""The dedup family's one broadcast rule (``llmops._fits_broadcast``):
the row-width model on each gated site's broadcast schema (Spark-free),
and every shuffle fallback the rule can select, run at a zero budget
against the default run's rows."""

from collections import Counter
from types import SimpleNamespace

import pytest
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

import data_lake_staging_engine_spark.operators.llmops as llmops
from data_lake_staging_engine_spark.operators.llmops import row_bytes
from data_lake_staging_engine_spark.registry import registry


def _longs(*names: str) -> StructType:
    return StructType([StructField(n, LongType()) for n in names])


def _masks(side: str, words: int) -> list[str]:
    return [f"{side}_w{i}" for i in range(words)]


@pytest.mark.parametrize(
    "schema, width",
    [
        # prefix collision join, plain tier: (r2, n2, i2, tok_id)
        (_longs("r2", "n2", "i2", "tok_id"), 8 + 4 * 8),
        # prefix collision join, inline tier: the side plus its masks
        (_longs("r2", "n2", "i2", "tok_id", *_masks("b", 2)), 8 + 6 * 8),
        (_longs("r2", "n2", "i2", "tok_id", *_masks("b", 64)), 16 + 68 * 8),
        # verify rep table (r1, a_w*)
        (_longs("r1", *_masks("a", 2)), 8 + 3 * 8),
        (_longs("r1", *_masks("a", 64)), 16 + 65 * 8),
        # banding: signature build side and the rep-size side
        (
            StructType(
                [
                    StructField("doc_id", LongType()),
                    StructField("sig", LongType()),
                    StructField("n", IntegerType()),
                ]
            ),
            8 + 3 * 8,
        ),
        (_longs("doc_id", "n"), 8 + 2 * 8),
        # rep-id semi join
        (_longs("doc_id"), 8 + 8),
        # components frontier (node, label)
        (_longs("node", "label"), 8 + 2 * 8),
    ],
)
def test_row_bytes_fixed_width_sites(schema, width):
    assert row_bytes(schema) == width


_G21_SIDE = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("v", ArrayType(DoubleType())),
        StructField("norm", DoubleType()),
    ]
)


@pytest.mark.parametrize(
    "array_len, width",
    [
        # fixed part 8 + 3*8, then length word + element null words + 8 B each
        (0, 32 + 8),
        (64, 32 + 8 + 8 + 64 * 8),
        (65, 32 + 8 + 16 + 65 * 8),
    ],
)
def test_row_bytes_counts_the_array_at_its_length(array_len, width):
    assert row_bytes(_G21_SIDE, array_len) == width


def test_fits_broadcast_is_inclusive_at_the_budget(monkeypatch):
    side = SimpleNamespace(schema=_longs("node", "label"))  # 24 B rows
    monkeypatch.setattr(llmops, "_BROADCAST_BYTES", 24 * 1000)
    assert llmops._fits_broadcast(side, 1000)
    assert not llmops._fits_broadcast(side, 1001)
    array_side = SimpleNamespace(schema=_G21_SIDE)  # 560 B rows at 64
    monkeypatch.setattr(llmops, "_BROADCAST_BYTES", 560)
    assert llmops._fits_broadcast(array_side, 1, 64)
    assert not llmops._fits_broadcast(array_side, 1, 65)


# Hinted broadcasts the rule does not decide, so they stay in the final
# plan at a zero budget: g30's two batch-id frames.  g32 returns a local
# checkpoint of its answer (it removes its temporary index before
# returning), so its final plan holds none; its probe's hinted
# broadcasts (the vocab and the batch side of the verifying band join)
# are bounded by construction, and the stored rep space leaves it no
# size-gated side.  g12's label sides carry no hint (one row per
# document), so Spark's estimate decides.
_UNGATED = {
    "g02_dedup_near": 0,
    "g02b_dedup_lsh": 0,
    "g02d_dedup_ngram": 0,
    "g12_contamination": 0,
    "g21_dedup_agreement": 0,
    "g26_dedup_clusters": 0,
    "g30_dedup_incremental": 2,
    "g32_dedup_band_probe": 0,
}


@pytest.mark.slow  # ~100 s for the eight queries, twice each
@pytest.mark.parametrize("name", sorted(_UNGATED))
def test_zero_budget_fallbacks_keep_rows(spark, sf_dir, monkeypatch, name):
    """At ``_BROADCAST_BYTES = 0`` every gated join takes its shuffle
    fallback.  ``_ALLPAIRS_MAX_REPS = 0`` sends the bitmap routes past
    the all-pairs join (bounded, so never gated) to the prefix
    collision join and the verify tail the budget decides.  Auto
    broadcast is off for that run, so every broadcast left in the
    executed plan is a hinted one."""
    fn = registry()[name].fn
    expected = Counter(map(tuple, fn(spark, sf_dir).collect()))
    monkeypatch.setattr(llmops, "_BROADCAST_BYTES", 0)
    monkeypatch.setattr(llmops, "_ALLPAIRS_MAX_REPS", 0)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = fn(spark, sf_dir)
        got = Counter(map(tuple, df.collect()))
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]  # the final plan only
    finally:
        spark.conf.set(key, old)
    assert got == expected
    assert plan.count("BroadcastExchange") == _UNGATED[name], plan
    if name == "g21_dedup_agreement":
        # over budget, the embedding lookups keep their shuffled-hash hint
        assert "ShuffledHashJoin" in plan, plan
