"""Property-based spot checks (SURVEY.md §5.3 #3) for the pure helpers
the determinism story leans on — no Spark session needed, so these are
fast and run wide."""

import math

import duckdb
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from data_lake_staging_engine_spark.functions.determinism import (
    make_cents,
    make_py_duck_round,
)
from data_lake_staging_engine_spark.operators.staging import normalize_name

_pyduck_round = make_py_duck_round()
_cents = make_cents()


@settings(max_examples=500, deadline=None)
@example(0.49999999999999994, 0)   # largest double < 0.5: +0.5 rounds UP
@example(-0.49999999999999994, 0)
@example(-0.0, 0)                  # sign of zero survives (std::round)
@example(-0.3, 2)                  # small negative -> -0.0, not 0.0
@example(0.004999999999999999, 2)  # scaled twin of the same boundary
@example(2.675, 2)                 # x*100 lands EXACTLY on 267.5 -> 2.68
@example(101112.72499999999, 2)    # the documented DuckDB half-up case
@given(
    st.floats(
        min_value=-1e9,
        max_value=1e9,
        allow_nan=False,
        allow_infinity=False,
    ),
    st.integers(min_value=0, max_value=6),
)
def test_pyduck_round_matches_duckdb(x, n):
    """The python/duck_round formula must equal DuckDB ROUND bit-for-bit
    — this is the foundation of every hash-matched double output.

    The @example pins are the round-8 finding: ``floor(y + 0.5)`` is NOT
    std::round when y sits one ulp below a half-integer (the + 0.5
    addition rounds up to the half), so the formula now splits the
    integer part before comparing the fraction. 500 random examples
    never hit that measure-zero class — targeted probes did."""
    con = test_pyduck_round_matches_duckdb._con
    # Bind as a parameter: a repr() literal in SQL text parses as DECIMAL,
    # and the decimal->double cast is lossy once the mantissa digits exceed
    # 2^53 (verified: 900719925.5078125 via literal lands below the .5 tie).
    # Parquet-sourced doubles — the only path the driver exercises — are
    # bit-exact, which parameter binding reproduces.
    expected = con.execute("SELECT ROUND(CAST(? AS DOUBLE), ?)", [x, n]).fetchone()[0]
    got = _pyduck_round(x, n)
    assert got == expected or (math.isnan(got) and math.isnan(expected))
    # == treats -0.0 and 0.0 as equal; the driver's exact-repr hash does
    # NOT, so pin the sign of zero too (std::round emits -0.0 for -0.0
    # and for small negatives — round-8 fuzz catch)
    if got == 0 and not math.isnan(got):
        assert math.copysign(1.0, got) == math.copysign(1.0, expected), (
            repr(got),
            repr(expected),
        )


test_pyduck_round_matches_duckdb._con = duckdb.connect()

# every value test_fuzz_parity's cents contract test pins, plus 1e12
_CENTS_PINS = [
    0.004999999999999999, 0.005, 2.675, 101112.72499999999, 0.0, -0.0,
    123.456, -0.001, 2.5, 0.015, 0.025, 1.005, 1e12,
]


def test_cents_matches_duckdb_decimal_cast():
    """``cents`` is DuckDB's ``CAST(x AS DECIMAL(18,2)) * 100`` — the
    per-row cast of every money oracle — on both signs of the half-cent
    ladders (c + 0.5) / 100 for c < 200,000, where a doubled midpoint
    sits just above or just below the half and the naive
    ``floor(|x|*100 + 0.5)`` misses 18,346 of the 400,000."""
    xs = [(c + 0.5) / 100.0 for c in range(200_000)] + _CENTS_PINS
    xs += [-x for x in xs]
    con = duckdb.connect()
    want = [
        int(r[0])
        for r in con.execute(
            "SELECT CAST(CAST(x AS DECIMAL(18,2)) * 100 AS BIGINT) "
            "FROM (SELECT UNNEST(?) AS x, generate_subscripts(?, 1) AS i) "
            "ORDER BY i",
            [xs, xs],
        ).fetchall()
    ]
    bad = [(x, _cents(x), w) for x, w in zip(xs, want) if _cents(x) != w]
    assert not bad, (len(bad), bad[:5])
    assert _cents(1.005) == 101 and _cents(-1.005) == -101


@settings(max_examples=300, deadline=None)
@given(st.text(min_size=1, max_size=60))
def test_normalize_name_idempotent(s):
    once = normalize_name(s)
    assert normalize_name(once) == once
    assert " " not in once and once == once.lower()


@settings(max_examples=200, deadline=None)
@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=8), max_size=20))
def test_jaccard_symmetry_and_bounds(tokens):
    """Token-set jaccard (the g02 formula) is symmetric and in [0,1]."""
    a = set(tokens[: len(tokens) // 2])
    b = set(tokens[len(tokens) // 2 :])
    if not a or not b:
        return
    shared = len(a & b)
    jab = shared / (len(a) + len(b) - shared)
    jba = shared / (len(b) + len(a) - shared)
    assert jab == jba
    assert 0.0 <= jab <= 1.0


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.frozensets(st.integers(min_value=0, max_value=30), min_size=1, max_size=12),
        min_size=2,
        max_size=8,
    ),
    st.sampled_from([0.5, 0.7, 0.8, 0.9]),
)
# 0.55 * 100 == 55.00000000000001: without the 1e-9 guard the 100-token
# side's prefix is one token short and this J = 0.55 pair is missed
@example([frozenset(range(100)), frozenset(range(55))], 0.55)
def test_prefix_filter_lemma(sets, t):
    """The AllPairs prefix-filtering principle behind _g02_token_join
    and the bitmap prefix branch: with tokens in a global total order,
    any pair with Jaccard >= t shares a token within each side's first
    n - ceil(t*n - 1e-9) + 1 tokens (``llmops._prefix_len``; the guard
    stops a float overshoot of an exact t*n from rounding UP).
    A counterexample here would mean the Spark candidate join can MISS
    qualifying pairs (a correctness bug, not a perf bug)."""
    import math as m

    # global order: by ascending frequency then token (as in the impl)
    freq = {}
    for s in sets:
        for tok in s:
            freq[tok] = freq.get(tok, 0) + 1
    order = {tok: (freq[tok], tok) for tok in freq}

    def prefix(s):
        n = len(s)
        p = n - m.ceil(t * n - 1e-9) + 1
        return set(sorted(s, key=lambda x: order[x])[:p])

    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            a, b = sets[i], sets[j]
            jac = len(a & b) / len(a | b)
            if jac >= t:
                assert prefix(a) & prefix(b), (
                    f"prefix filter would miss pair with jaccard {jac}: {a} {b}"
                )


# --------------------------------------------------------------------------
# g30 completeness property (VERDICT r05 #6): incremental dedup over batch
# B vs corpus C must equal full-corpus dedup restricted to B x C pairs.
# The pure-Python truth below IS that restriction (it scores every
# new-vs-corpus pair exhaustively with the same digest/jaccard formulas),
# so equality pins the engine's broadcast bipartite filter against the
# self-join ground truth over arbitrary synthetic corpora.
# --------------------------------------------------------------------------

from hypothesis import HealthCheck, example


def _incremental_truth(new, corpus, threshold=0.8):
    out = {}
    for nid, ntext in new:
        nkey = ntext.strip().lower()
        ex = [cid for cid, ct in corpus if ct.strip().lower() == nkey]
        ntok = set(ntext.split(" "))
        nr = []
        for cid, ct in corpus:
            ctok = set(ct.split(" "))
            shared = len(ntok & ctok)
            if shared and shared * 1.0 / (len(ntok) + len(ctok) - shared) >= threshold:
                nr.append(cid)
        if ex:
            out[nid] = ("exact", min(ex))
        elif nr:
            out[nid] = ("near", min(nr))
        else:
            out[nid] = (
                "unique",
                None,
            )
    return out


_corpora = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=1, max_size=5
    ).map(" ".join),
    min_size=2,
    max_size=10,
)


@pytest.mark.slow  # 40+ s hypothesis drive — slow tier (pytest.ini)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@example(["aa bb cc dd", "aa bb cc dd", "aa bb cc", "ee", "aa bb cc dd ee"])
# docs 0 and 3 are both NEW (i%3==0) and identical with no corpus match:
# a true batch-internal duplicate, which must stay 'unique' (only
# new x corpus edges count — g01/g02 own within-corpus dedup)
@example(["aa", "bb", "cc", "aa"])
@example(["aa", "aa", "aa", "bb"])  # exact corpus match for doc 0
@given(_corpora)
def test_g30_incremental_equals_full_dedup_restricted(spark, texts):
    from data_lake_staging_engine_spark.operators.llmops import incremental_dedup

    docs = list(enumerate(texts))
    new = [(i, t) for i, t in docs if i % 3 == 0]
    corpus = [(i, t) for i, t in docs if i % 3 != 0]
    got = {
        r.doc_id: (r.verdict, r.match_id)
        for r in incremental_dedup(
            spark.createDataFrame(new, "doc_id long, text string"),
            spark.createDataFrame(corpus, "doc_id long, text string"),
        ).collect()
    }
    assert got == _incremental_truth(new, corpus)


def test_b23_hll_tolerance_and_determinism(spark, sf_dir):
    """b23 stays R-tier by design (a sketch never hash-matches another
    engine), so pin its semantic contract engine-side instead: the
    HLL++ estimate is (a) DETERMINISTIC — same input => same estimate,
    independent of partitioning — and (b) within the configured rsd
    neighborhood of the exact per-group distinct count (5 sigma at
    rsd=0.01 on the fixture cardinalities; the round-8 probe measured
    151/150 at sf0.01 and 1507/1500 at sf0.1)."""
    from pyspark.sql import functions as F

    from data_lake_staging_engine_spark.registry import registry
    from data_lake_staging_engine_spark.sources import load

    fn = registry()["b23_agg_approx_cd"].fn
    est1 = {r.event_type: r.approx_users for r in fn(spark, sf_dir).collect()}
    # same aggregation over a reshuffled INPUT layout: the sketch merge
    # is commutative/associative, so the estimate may not depend on how
    # rows are partitioned before the partial aggregates
    est2 = {
        r.event_type: r.approx_users
        for r in load(spark, sf_dir, "events")
        .repartition(7, "user_id")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("approx_users"))
        .collect()
    }
    assert est1 == est2  # deterministic, layout-independent
    exact = {
        r.event_type: r.exact
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    assert set(est1) == set(exact)
    for etype, est in est1.items():
        assert abs(est - exact[etype]) <= max(2, 0.05 * exact[etype]), (
            etype,
            est,
            exact[etype],
        )
