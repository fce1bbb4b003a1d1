"""Money parity off the fixtures' value domain: the cents-accumulating
closures (f03, f10, e06, e10 batch twin) must keep the sign of negative
values (ADVICE r01) and must round a value between two cents exactly as
their oracles' DECIMAL(18,2) cast does.  The fixture ``events.value``
domain is non-negative and exact at 2 decimals, so both latent
divergences need a synthetic corpus to surface.  Each query runs
against its REGISTERED oracle SQL on the same synthetic parquet,
exactly like the driver's sweep."""

import datetime as dt
import os

import duckdb
import pytest

from data_lake_staging_engine_spark.registry import registry
from data_lake_staging_engine_spark.testing import compare

_REG = registry()

# values chosen exact-at-2-decimals, mixed sign, with a sign flip inside
# every user's stream so an unsigned accumulation visibly diverges
_VALUES = [-1.23, 4.56, -1000.01, 0.0, 2.5, -2.5, 777.77, -0.01]


def _money_corpus(spark, d, values):
    """Write 64 events over five users (``value`` cycling through
    ``values``) and the five users' customer rows as parquet under
    ``d``; return ``d``."""
    base = dt.datetime(2024, 1, 1)
    events = [
        (
            i,
            base + dt.timedelta(minutes=7 * i),
            i % 5,
            "purchase" if i % 2 else "refund",
            values[i % len(values)],
            "{}",
        )
        for i in range(64)
    ]
    spark.createDataFrame(
        events,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
    cust = [
        (i, f"Customer#{i}", "BUILDING" if i % 2 else "MACHINERY")
        for i in range(5)
    ]
    spark.createDataFrame(
        cust, "c_custkey long, c_name string, c_mktsegment string"
    ).coalesce(1).write.parquet(os.path.join(d, "customer.parquet"))
    return d


def _money_duck(sf_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("events", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet/*.parquet')"
        )
    return con


@pytest.fixture(scope="module")
def neg_sf_dir(spark, tmp_path_factory):
    return _money_corpus(spark, str(tmp_path_factory.mktemp("neg_sf")), _VALUES)


@pytest.fixture(scope="module")
def neg_duck(neg_sf_dir):
    con = _money_duck(neg_sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    ["f03_pandas_udf_grouped_agg", "f10_cogroup_in_pandas", "e06_stream_stateful",
     "e10_batch_twin"],
)
def test_signed_cents_parity(name, spark, neg_sf_dir, neg_duck):
    rq = _REG[name]
    df = rq.fn(spark, neg_sf_dir)
    res = compare(name, df, neg_duck, rq.oracle)
    assert res.ok, f"{name}: {res.detail} {res.mismatches[:3]}"


# Every value has a third decimal 5, so its double sits just above or
# just below the half cent.  DuckDB's DECIMAL(18,2) cast gives 1.005
# 101 cents where rounding the scaled double itself gives 100; most of
# these values split the two rules that way, in both signs, in every
# user's and every event type's stream.  No value sits one ulp below a
# half cent (0.004999999999999999): Spark's own decimal cast rounds
# those down and DuckDB's rounds them up, which would fail the
# Spark-side controls e09 and a20 for a reason of their own.
_HALF_CENT_VALUES = [
    1.005, 4.015, -1.005, 0.015, 0.145, 0.285, 2.675, -4.015, 1.005, 0.565,
]


@pytest.fixture(scope="module")
def half_cent_sf_dir(spark, tmp_path_factory):
    return _money_corpus(
        spark, str(tmp_path_factory.mktemp("half_cent_sf")), _HALF_CENT_VALUES
    )


@pytest.fixture(scope="module")
def half_cent_duck(half_cent_sf_dir):
    con = _money_duck(half_cent_sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    ["f03_pandas_udf_grouped_agg", "f10_cogroup_in_pandas", "e06_stream_stateful",
     "e10_batch_twin",
     # Spark-side controls: sums through Spark's own decimal cast
     "e09_stream_static_join", "a20_observed_metrics"],
)
def test_half_cent_parity(name, spark, half_cent_sf_dir, half_cent_duck):
    rq = _REG[name]
    res = compare(name, rq.fn(spark, half_cent_sf_dir), half_cent_duck, rq.oracle)
    assert res.ok, f"{name}: {res.detail} {res.mismatches[:3]}"


# --------------------------------------------------------------------------
# Edge-domain parity for the ADVICE r05 fixes: c10's epoch bucketing must
# FLOOR (not truncate toward zero) so pre-1970 timestamps with fractional
# seconds bucket identically to DuckDB's //, and d11's bitwise ops must be
# width-independent for values far beyond the fixture's 0..149 user_ids.
# Same shape as the signed-cents suite: registered query + registered
# oracle over a synthetic adversarial corpus.
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def edge_sf_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("edge_sf"))
    base = dt.datetime(1969, 12, 31, 12, 0, 0)  # crosses the epoch
    rows, offset = [], dt.timedelta(0)
    for i in range(48):
        # mostly-in-session gaps with periodic >30min session breaks;
        # thirds carry .5s so pre-1970 micros are non-multiples of 1e6
        # (the exact inputs where truncation != floor)
        offset += dt.timedelta(minutes=95 if i % 4 == 0 else 25)
        frac = dt.timedelta(milliseconds=500) if i % 3 == 0 else dt.timedelta(0)
        rows.append(
            (
                i,
                base + offset + frac,
                (i % 3) * (2**40 + 7) + i,  # ~1.1e12: far beyond int32
                "purchase" if i % 2 else "refund",
                1.0,
                "{}",
            )
        )
    # Targeted session-boundary flip: a 1800.5 s gap from a fractional
    # pre-1970 start. Floor bucketing gives seconds -2 -> 1799 (gap
    # 1801, NEW session, matching DuckDB //); truncation gives -1 ->
    # 1799 (gap 1800, same session) — so the pre-fix code produces a
    # DIFFERENT session_seq here, proving the test is not vacuous.
    rows.append(
        (1000, dt.datetime(1969, 12, 31, 23, 59, 58, 500000), 999, "purchase", 1.0, "{}")
    )
    rows.append(
        (1001, dt.datetime(1970, 1, 1, 0, 29, 59), 999, "purchase", 1.0, "{}")
    )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
    return d


@pytest.fixture(scope="module")
def edge_duck(edge_sf_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        "CREATE VIEW events AS "
        f"SELECT * FROM read_parquet('{edge_sf_dir}/events.parquet/*.parquet')"
    )
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "c10_win_sessionize",
        "d11_fn_bitwise",
        # e02: Spark window() floors to the slide boundary; the oracle
        # must floor too (DuckDB // truncates — the c10 class)
        "e02_stream_sliding",
        # c05: RANGE frame over epoch-seconds — `div`//`//` both
        # TRUNCATE toward zero, so pre-1970 fractional timestamps must
        # land on identical sort keys on both engines (VERDICT r06 #4)
        "c05_win_range_interval",
        # a06: calendar-field partition derivation for pre-1970 dates
        "a06_partition_derive",
    ],
)
def test_edge_domain_parity(name, spark, edge_sf_dir, edge_duck):
    rq = _REG[name]
    res = compare(name, rq.fn(spark, edge_sf_dir), edge_duck, rq.oracle)
    assert res.ok, f"{name}: {res.detail} {res.mismatches[:3]}"


# --------------------------------------------------------------------------
# g25 sequence packing: seq_id = start_off div capacity must be computed
# in pure int64 (double division loses exactness past 2^53 — the c10
# arithmetic class, VERDICT r06 #4).  The adversarial corpus hits the
# exact capacity-boundary offsets (start_off == k*256), a doc longer
# than a whole sequence, empty text, and 2^40-magnitude doc_ids whose
# window ordering must agree across engines.
#
# Round-7 audit of the remaining floor/div sites (none need this suite):
# g25 was the only division of an UNBOUNDED accumulator (a per-lang
# running token sum).  b36/g18's floor((x-lo)/width) operate on bounded
# value domains (prices, embedding coords) with the identical double
# expression in their oracles; llmops' bitmap word index floors
# tok_id/64 where tok_id = row_number()-1 is vocab-bounded; every money
# sum is DECIMAL-cast before accumulation (order-independent, exact).
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs_sf_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("docs_sf"))
    rows = []
    for lang, base_id in (("en", 2**40 + 7), ("de", 3 * 2**40 + 1)):
        # token counts chosen so running offsets hit pack boundaries
        # exactly: 255+1 = 256 (third doc STARTS on a boundary),
        # then 700 (> capacity, straddles three 256-sequences), then
        # 1-token docs around the straddler, then an empty text
        # (split('') -> [''] -> 1 token on both engines).
        for j, n_tok in enumerate((255, 1, 256, 700, 1, 1)):
            rows.append(
                (
                    base_id + j,
                    " ".join("t%d" % k for k in range(n_tok)) if n_tok else "",
                    lang,
                    "edge",
                    n_tok,
                )
            )
    rows.append((5 * 2**40, "", "fr", "edge", 0))  # lone empty doc
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    return d


@pytest.fixture(scope="module")
def docs_duck(docs_sf_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{docs_sf_dir}/documents.parquet/*.parquet')"
    )
    yield con
    con.close()


def test_g25_pack_boundaries_parity(spark, docs_sf_dir, docs_duck):
    rq = _REG["g25_sequence_pack"]
    res = compare("g25_sequence_pack", rq.fn(spark, docs_sf_dir), docs_duck, rq.oracle)
    assert res.ok, f"g25: {res.detail} {res.mismatches[:3]}"
    # Boundary sanity, independent of the oracle: the 'en' doc with
    # start_off exactly 256 must open seq 1, and the 700-token doc is
    # ASSIGNED to the sequence containing its start offset (concat-and-
    # chunk places docs by start), so seq counts reflect starts only.
    out = {
        (r.lang, r.seq_id): (r.n_docs, r.total_tokens)
        for r in rq.fn(spark, docs_sf_dir).collect()
    }
    # start offsets per doc: 0, 255, 256, 512, 1212, 1213
    assert out[("en", 0)] == (2, 256)  # 255 + 1 fill sequence 0 exactly
    assert out[("en", 1)] == (1, 256)  # boundary doc STARTS seq 1 (off 256)
    assert out[("en", 2)] == (1, 700)  # straddler assigned by start (off 512)
    assert out[("en", 4)] == (2, 2)    # 1-token docs at offs 1212/1213 -> seq 4
    assert ("en", 3) not in out        # no doc STARTS in seq 3 (straddled over)
    assert out[("fr", 0)] == (1, 1)    # empty text -> [''] -> 1 token
