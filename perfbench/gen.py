"""Seeded benchmark inputs, generated with pyarrow and numpy (never Spark).

The base fixture has the shape of the engine's test fixtures (the ten
tables and schemas FIXTURES.md lists) at a chosen scale factor, and is a
pure function of ``BASE_SEED`` and the scale, so every workload seed sees
the same underlying rows.  The value domains, key cardinalities and
distributions below were measured on the shipped sf0.001, sf0.01 and
sf0.1 fixtures with DuckDB, and the generator matches them; where the
measurement and FIXTURES.md disagree, the measurement is followed and
named at the table it concerns.  A workload seed then only permutes, splits,
corrupts or selects those rows:

- ``ingest``: the events rows cut into time-contiguous deliveries of
  skewed sizes, rows shuffled within each, a stated share corrupted to
  violate one events contract each;
- ``analytics``: a row-permuted multi-file copy (scripts/make_shuffled_copy.py
  with the seed as its permutation seed) — same multiset, so the oracle
  answers do not depend on the seed — and a 3-copy vocabulary-disjoint
  documents replica (scripts/make_replicated_copy.py) split into a corpus
  and new batches for the index probe.

The same seed gives byte-identical parquet files.
"""

from __future__ import annotations

import contextlib
import os
import sys
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from scripts import make_replicated_copy, make_shuffled_copy  # noqa: E402

BASE_SEED = 20240101
TABLES = make_shuffled_copy.TABLES

# sf1 row counts of the fixture family (sf0.1 has a tenth of these);
# documents/embeddings have a 500-row floor like the shipped fixtures.
SF1_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
DOC_FLOOR = 500

_US = pa.timestamp("us")


def _epoch_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _rows(name: str, sf: float) -> int:
    n = max(1, int(round(SF1_ROWS[name] * sf)))
    if name in ("documents", "embeddings"):
        n = max(n, DOC_FLOOR)
    return n


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


#: the fixture documents' vocabulary: 30 equiprobable database words
#: (plus the ``dup`` marker of planted near-duplicates)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _documents(rng, n: int) -> pa.Table:
    """Texts of 10-100 tokens drawn uniformly from WORDS — dense
    near-duplicate structure like the shipped fixture — with 5 % planted
    near-duplicates: an earlier text with `` dup`` appended, as in the
    shipped fixture (250 of its 5,000 sf0.1 texts, 243 of them an earlier
    text plus `` dup``).  Exact duplicates arise only when two near-
    duplicates copy the same text (8 at sf0.1, none at sf0.01)."""
    vocab = np.array(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 100)))))
    langs = rng.choice(
        np.array(["en", "de", "es", "fr", "zh"], dtype=object),
        n,
        p=[0.4, 0.15, 0.15, 0.15, 0.15],
    )
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _region(rng, sf):
    return pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )


def _nation(rng, sf):
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def _strings(rng, choices, n):
    return pa.array(rng.choice(np.array(choices, dtype=object), n), pa.string())


def _customer(rng, sf):
    nc = _rows("customer", sf)
    return pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _strings(
                rng,
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                nc,
            ),
        }
    )


def _supplier(rng, sf):
    ns = _rows("supplier", sf)
    return pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )


def _part(rng, sf):
    n = _rows("part", sf)
    adj = ["red", "large", "hot", "cold", "small", "new", "blue", "old"]
    noun = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
    names = [
        f"{a} {b}" for a, b in zip(rng.choice(adj, n), rng.choice(noun, n))
    ]
    return pa.table(
        {
            "p_partkey": np.arange(n, dtype=np.int64),
            "p_name": pa.array(names, pa.string()),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()
            ),
            "p_type": _strings(
                rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n
            ),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
        }
    )


_DAY_US = 86_400_000_000


def _days(rng, lo: str, hi: str, n: int):
    """``n`` midnights drawn uniformly from [lo, hi], as timestamp[us]."""
    first = _epoch_us(lo)
    span = (_epoch_us(hi) - first) // _DAY_US
    return pa.array(first + rng.integers(0, span + 1, n) * _DAY_US, _US)


def _orders(rng, sf):
    no = _rows("orders", sf)
    return pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, _rows("customer", sf), no).astype(np.int64),
            "o_orderstatus": _strings(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": _strings(
                rng,
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                no,
            ),
        }
    )


def _lineitem(rng, sf):
    """Four lines per order on average, each drawn to a uniform random
    order (so lines per order are Poisson(4) and ~2 % of orders have
    none: measured 1-17 lines, mean 4.08, 147,236 of 150,000 orders at
    sf0.1), with l_linenumber and l_shipdate drawn independently of the
    order, as in the shipped fixture."""
    nl = _rows("lineitem", sf)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": rng.integers(0, _rows("orders", sf), nl).astype(np.int64),
            "l_partkey": rng.integers(0, _rows("part", sf), nl).astype(np.int64),
            "l_suppkey": rng.integers(0, _rows("supplier", sf), nl).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": _strings(rng, ["A", "N", "R"], nl),
            "l_linestatus": _strings(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
        }
    )


def _events(rng, sf):
    """One user per ten customers: the shipped fixtures have 15, 150 and
    1,500 distinct user_id (0-based) at sf0.001, sf0.01 and sf0.1
    (FIXTURES.md's "150 at every SF" holds only for sf0.01).  ``value``
    is exponential with mean 50 (measured mean 49.6-49.9, max 490 at
    sf0.01 and 560 at sf0.1); ``ts`` is microsecond, like the fixture."""
    ne = _rows("events", sf)
    ts = np.sort(rng.integers(_epoch_us("2024-01-01"), _epoch_us("2024-01-31"), ne))
    return pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ts, _US),
            "user_id": rng.integers(0, _rows("customer", sf) // 10, ne).astype(np.int64),
            "event_type": _strings(
                rng, ["click", "view", "purchase", "signup", "error"], ne
            ),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()
            ),
        }
    )


def _embeddings(rng, sf):
    """Unit-length Gaussian vectors (measured: norm 1, element sd 0.125)."""
    nv = _rows("embeddings", sf)
    emb = rng.standard_normal((nv, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.reshape(-1)), 64
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )


_TABLE_FNS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": lambda rng, sf: _documents(rng, _rows("documents", sf)),
    "embeddings": _embeddings,
}


def fixture_tables(sf: float, names: tuple[str, ...] = TABLES) -> dict[str, pa.Table]:
    """The fixture tables ``names`` at scale factor ``sf``.  Each table
    draws from its own random stream, so a subset costs only itself."""
    return {
        name: _TABLE_FNS[name](
            np.random.default_rng((BASE_SEED, TABLES.index(name))), sf
        )
        for name in names
    }


def write_fixture(dst: str, sf: float) -> None:
    """Single-file-per-table fixture dir, the layout the oracle reads."""
    os.makedirs(dst, exist_ok=True)
    for name, tab in fixture_tables(sf).items():
        pq.write_table(tab, os.path.join(dst, f"{name}.parquet"))


def shuffled_copy(src: str, dst: str, seed: int) -> None:
    """Row-permuted 7-files-per-table copy of ``src``, permuted by ``seed``
    (scripts/make_shuffled_copy.py, driven by import)."""
    saved = make_shuffled_copy.SEED, sys.argv
    make_shuffled_copy.SEED = seed
    sys.argv = ["make_shuffled_copy.py", src, dst]
    try:
        with contextlib.redirect_stdout(sys.stderr):
            make_shuffled_copy.main()
    finally:
        make_shuffled_copy.SEED, sys.argv = saved


# -- ingest ------------------------------------------------------------------

#: contract reasons the ingest generator injects, in validate_ingest's
#: check order; each corrupted row violates exactly one contract.
REJECT_REASONS = ("nonfinite", "out_of_time", "null_keys")


@dataclass
class Delivery:
    files: list[pa.Table]
    rows: int
    injected: dict[str, list[int]] = field(default_factory=dict)


#: delivery size classes as shares of the events rows (300, 1,500, 5,000
#: and 12,000 rows at sf0.1): every round of four deliveries holds one of
#: each, in this order, so every round lands a similar volume and leaves
#: a similar table behind
SIZE_CLASSES = (0.015, 0.12, 0.003, 0.05)
WARMUP_SHARE = 0.003


def deliveries(
    events: pa.Table, seed: int, bad_share: float = 0.03, max_files: int = 4
) -> list[Delivery]:
    """Cut the time-ordered events rows into deliveries of skewed sizes —
    a warm-up delivery, then rounds of one delivery per size class, each
    size jittered by up to ±10 % — each delivery carrying a contiguous
    stretch of event time, as a landing bucket receives recent events.  The seed also sets the starting offset (wrapping around),
    shuffles the rows of each delivery and splits it over 1..max_files
    files.  A ``bad_share`` of rows is corrupted, split evenly over the
    three events contracts: non-finite ``value``, ``ts`` outside the
    validity window, NULL ``user_id``."""
    rng = np.random.default_rng(seed)
    n = events.num_rows
    order = np.roll(np.arange(n), -int(rng.integers(0, n)))
    sizes = [max(1, int(n * WARMUP_SHARE))]
    while sum(sizes) < n:
        for share in SIZE_CLASSES:
            sizes.append(max(1, int(n * share * rng.uniform(0.9, 1.1))))
    while sum(sizes) > n:
        sizes.pop()
    bad = rng.random(n) < bad_share
    reason = rng.integers(0, len(REJECT_REASONS), n)
    value = events.column("value").to_numpy().copy()
    ts = events.column("ts").cast(pa.int64()).to_numpy().copy()
    user_null = bad & (reason == 2)
    nonfinite = bad & (reason == 0)
    value[nonfinite] = rng.choice(
        np.array([np.nan, np.inf, -np.inf]), int(nonfinite.sum())
    )
    late = bad & (reason == 1)
    ts[late] = np.where(
        rng.random(int(late.sum())) < 0.5,
        _epoch_us("1970-01-01"),
        _epoch_us("2150-06-01"),
    )
    corrupted = pa.table(
        {
            "event_id": events.column("event_id"),
            "ts": pa.array(ts, _US),
            "user_id": pa.array(
                events.column("user_id").to_numpy(), pa.int64(), mask=user_null
            ),
            "event_type": events.column("event_type"),
            "value": pa.array(value),
            "props": events.column("props"),
        }
    )
    ids = events.column("event_id").to_numpy()
    out: list[Delivery] = []
    start = 0
    for size in sizes:
        idx = rng.permutation(order[start:start + size])
        start += size
        tab = corrupted.take(pa.array(idx))
        k = int(rng.integers(1, max_files + 1))
        bounds = np.linspace(0, size, k + 1).astype(int)
        files = [tab.slice(bounds[i], bounds[i + 1] - bounds[i]) for i in range(k)]
        injected = {
            r: sorted(int(x) for x in ids[idx][bad[idx] & (reason[idx] == j)])
            for j, r in enumerate(REJECT_REASONS)
        }
        out.append(Delivery([f for f in files if f.num_rows], size, injected))
    return out


# -- dedup -------------------------------------------------------------------


@dataclass
class DedupInputs:
    corpus: pa.Table
    batches: list[pa.Table]


def dedup_inputs(
    documents: pa.Table,
    seed: int,
    copies: int = 3,
    n_batches: int = 3,
    batch_share: float = 0.05,
) -> DedupInputs:
    """A ``copies``-fold vocabulary-disjoint replica of ``documents``
    (make_replicated_copy.replicate), split by the seed into
    ``n_batches`` new batches of ``batch_share`` of the rows each and the
    corpus they are checked against."""
    replica = pa.concat_tables(
        make_replicated_copy.replicate(documents, "documents", i)
        for i in range(copies)
    )
    rng = np.random.default_rng(seed)
    perm = rng.permutation(replica.num_rows)
    k = int(replica.num_rows * batch_share)
    batches = [
        replica.take(pa.array(np.sort(perm[i * k:(i + 1) * k])))
        for i in range(n_batches)
    ]
    corpus = replica.take(pa.array(np.sort(perm[n_batches * k:])))
    return DedupInputs(corpus, batches)
