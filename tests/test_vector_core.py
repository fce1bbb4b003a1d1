"""The vector core every embedding query runs on (operators/llmops.py):
`_unit_vectors`, `_mean_vectors` and the one nearest-centroid
assignment (`_ivf_codebook` + `_ivf_top_lists`), pinned on hand-built
frames small enough to check by eye."""

import numpy as np
from pyspark.sql import functions as F

from data_lake_staging_engine_spark.operators.llmops import (
    _dot,
    _ivf_codebook,
    _ivf_top_lists,
    _l2_score,
    _mean_vectors,
    _unit_vectors,
)


def test_unit_vectors_drop_zero_norm_and_null(spark):
    e = spark.createDataFrame(
        [(0, [3.0, 4.0]), (1, [0.0, 0.0]), (2, None), (3, [0.0, -2.0])],
        "vec_id long, embedding array<float>",
    )
    vn, n = _unit_vectors(e)
    assert n == 2
    got = {r["vec_id"]: r["u"] for r in vn.collect()}
    assert got == {0: [0.6, 0.8], 3: [0.0, -1.0]}


def test_mean_vectors_match_numpy_and_skip_null(spark):
    rows = [
        (0, [1.0, 2.0, -4.0]),
        (0, [3.0, 5.0, 0.5]),
        (0, None),
        (1, [2.0, 2.0, 2.0]),
        (1, [0.1, 0.2, 0.3]),
    ]
    df = spark.createDataFrame(rows, "key long, vec array<double>")
    got = {r["key"]: r["c"] for r in _mean_vectors(df, "key", "vec").collect()}
    want = {
        k: np.mean([v for key, v in rows if key == k and v is not None], axis=0)
        for k in (0, 1)
    }
    # two-term means: sum then divide, the same IEEE ops on both sides
    assert got == {k: w.tolist() for k, w in want.items()}


def _top_ids(spark, vec, cents, k, score):
    """List ids of `vec`'s top-k entries against codebook `cents`."""
    row = spark.createDataFrame([(vec,)], "u array<double>")
    cent = spark.createDataFrame(cents, "list_id long, c array<double>")
    top = row.join(_ivf_codebook(cent)).select(
        _ivf_top_lists(k, lambda c: score(F.col("u"), c)).alias("top")
    )
    return [t["list_id"] for t in top.first()["top"]]


def test_top_lists_break_cosine_ties_to_lowest_id(spark):
    cents = [(7, [1.0, 0.0]), (2, [1.0, 0.0]), (5, [0.0, 1.0]), (4, [1.0, 0.0])]
    assert _top_ids(spark, [1.0, 0.0], cents, 3, _dot) == [2, 4, 7]
    assert _top_ids(spark, [0.0, 1.0], cents, 2, _dot) == [5, 2]


def test_top_lists_break_l2_ties_to_lowest_id(spark):
    # [1, 1] and [-1, -1] are both at squared distance 2 from the origin
    cents = [
        (9, [1.0, 1.0]),
        (3, [-1.0, -1.0]),
        (8, [0.5, 0.0]),
        (6, [0.5, 0.0]),
        (1, [3.0, 0.0]),
    ]
    assert _top_ids(spark, [0.0, 0.0], cents, 4, _l2_score) == [6, 8, 3, 9]
    # two exact hits both score -0.0 (the negated +0.0 fold) and tie
    assert _top_ids(spark, [0.5, 0.0], cents, 3, _l2_score) == [6, 8, 9]


def test_l2_score_ranks_nan_last_and_null_first(spark):
    """As d2 sorts ascending in SQL: NULL first, NaN last."""
    nan = float("nan")
    cents = [(0, [nan, 0.0]), (1, [5.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0])]
    # list 3 is one dim short: zip_with pads NULL, so its d2 is NULL
    assert _top_ids(spark, [0.0, 0.0], cents, 4, _l2_score) == [3, 2, 1, 0]
    # a NaN vector is NaN-distant from every list: all tie, lowest id first
    assert _top_ids(spark, [nan, 0.0], cents[:3], 3, _l2_score) == [0, 1, 2]
