"""Tests of the benchmark itself: input determinism, the metric
contract, the checker, and a small smoke run of every workload.

    python -m pytest perfbench/tests -q

The smoke runs start Spark (about a minute each); the other tests do not.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import duckdb
import pyarrow as pa
import pyarrow.compute  # noqa: F401
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from check import counts_match, rows_vs_sql  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _digests(d: str) -> dict[str, str]:
    out = {}
    for root, _dirs, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _parquet_bytes(tab: pa.Table) -> bytes:
    buf = pa.BufferOutputStream()
    pq.write_table(tab, buf)
    return buf.getvalue().to_pybytes()


def test_fixture_is_byte_identical(tmp_path):
    gen.write_fixture(str(tmp_path / "a"), 0.001)
    gen.write_fixture(str(tmp_path / "b"), 0.001)
    a, b = _digests(str(tmp_path / "a")), _digests(str(tmp_path / "b"))
    assert len(a) == len(gen.TABLES) and a == b


@pytest.mark.parametrize("sf,users", [(0.001, 15), (0.01, 150)])
def test_fixture_matches_measured_facts(sf, users):
    """Facts measured on the shipped fixtures (gen.py names them): one
    user per ten customers, microsecond event and order times, mean event
    value near 50, Poisson(4) lines per order, 5 % near-duplicate
    documents with `` dup`` appended, unit-length embeddings."""
    t = gen.fixture_tables(sf)
    events = t["events"]
    con = duckdb.connect()
    con.register("events", events)
    assert con.execute("SELECT COUNT(DISTINCT user_id), MIN(user_id), MAX(user_id) FROM events"
                       ).fetchone() == (users, 0, users - 1)
    assert events.schema.field("ts").type == pa.timestamp("us")
    assert t["orders"].schema.field("o_orderdate").type == pa.timestamp("us")
    assert 45 < pa.compute.mean(events.column("value")).as_py() < 55
    lines = t["lineitem"].num_rows / t["orders"].num_rows
    assert lines == 4
    texts = t["documents"].column("text").to_pylist()
    assert 0.03 < sum(x.endswith(" dup") for x in texts) / len(texts) < 0.07
    emb = t["embeddings"].column("embedding").to_pylist()[:50]
    assert all(abs(sum(v * v for v in e) - 1.0) < 1e-5 for e in emb)


def test_shuffled_copy_same_seed_identical_other_seed_same_answers(tmp_path):
    base = str(tmp_path / "base")
    gen.write_fixture(base, 0.001)
    for name, seed in (("s1", 1), ("s1b", 1), ("s2", 2)):
        gen.shuffled_copy(base, str(tmp_path / name), seed)
    s1, s1b, s2 = (_digests(str(tmp_path / n)) for n in ("s1", "s1b", "s2"))
    assert s1 == s1b
    assert s1 != s2
    con = duckdb.connect()
    sql = ("SELECT l_returnflag, COUNT(*), ROUND(SUM(l_extendedprice), 2) "
           "FROM read_parquet('{}/lineitem.parquet/*.parquet') GROUP BY 1 ORDER BY 1")
    assert (con.execute(sql.format(tmp_path / "s1")).fetchall()
            == con.execute(sql.format(tmp_path / "s2")).fetchall())


def test_deliveries_deterministic_and_injection_exact():
    events = gen.fixture_tables(0.01, ("events",))["events"]
    a, b, c = (gen.deliveries(events, s) for s in (3, 3, 4))
    def files(ds):
        return [_parquet_bytes(f) for d in ds for f in d.files]

    assert files(a) == files(b)
    assert [d.rows for d in a] != [d.rows for d in c]
    ids = [i for d in a for f in d.files for i in f.column("event_id").to_pylist()]
    assert len(ids) == len(set(ids)) == sum(d.rows for d in a) <= events.num_rows
    con = duckdb.connect()
    for d in a[:5]:
        tab = pa.concat_tables(d.files)
        con.register("t", tab)
        got = {
            "nonfinite": con.execute("SELECT COUNT(*) FROM t WHERE isnan(value) OR isinf(value)").fetchone()[0],
            "out_of_time": con.execute(
                "SELECT COUNT(*) FROM t WHERE ts < TIMESTAMP '2000-01-01' OR ts >= TIMESTAMP '2100-01-01'"
            ).fetchone()[0],
            "null_keys": con.execute("SELECT COUNT(*) FROM t WHERE user_id IS NULL").fetchone()[0],
        }
        assert got == {r: len(ids) for r, ids in d.injected.items()}


def test_dedup_inputs_deterministic():
    docs = gen.fixture_tables(0.01, ("documents",))["documents"]
    a, b, c = (gen.dedup_inputs(docs, s) for s in (5, 5, 6))
    assert a.corpus.equals(b.corpus) and all(x.equals(y) for x, y in zip(a.batches, b.batches))
    assert not a.batches[0].equals(c.batches[0])
    ids = set(a.corpus.column("doc_id").to_pylist())
    for batch in a.batches:
        assert ids.isdisjoint(batch.column("doc_id").to_pylist())


def test_spec_metrics_have_units_and_unique_names():
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in SPEC[k]]
    assert len(names) == len(set(names))
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert {"setup_s"} <= {m["name"] for m in SPEC["end_to_end"]}


def test_checkers_catch_corruption():
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS k, CAST(range AS DOUBLE) * 0.5 AS v FROM range(100)")
    sql = "SELECT k, v FROM t"
    good = con.execute(sql).arrow()
    if isinstance(good, pa.RecordBatchReader):
        good = good.read_all()
    assert rows_vs_sql("ok", good, con, sql) == []
    dropped = good.slice(1)
    changed = good.set_column(1, "v", pa.array([0.5] + good.column("v").to_pylist()[1:]))
    for bad in (dropped, changed):
        assert rows_vs_sql("bad", bad, con, sql)
    assert counts_match("c", {"a": 1}, {"a": 1}) == []
    assert counts_match("c", {"a": 1}, {"a": 2})


def _run(workload: str, trace: int, *extra: str) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_reports_every_metric(workload, trace):
    code, res = _run(workload, trace)
    assert code == 0 and res is not None
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_corrupted_output_fails_the_run(workload):
    code, res = _run(workload, 0, "--corrupt")
    assert code != 0
    assert res is not None and res["correct"] is False


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the run
    exits non-zero and prints no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
