"""Recall floors for the banding dedup scale paths (VERDICT r12 #4).

The ANN floors (g03c >= 0.80 vs the exact cos>=0.4 anchor, g03e >= 0.80
recall@5) live in tests/test_ann_recall.py since round 2; the BANDING
DEDUP paths (g02b/g02e/g02c) had precision/subset pins but no recall
floor — "use banding at 100 TB" was fast but unquantified.  Measured
round 13 (scripts/recall_study.py, deterministic seeded hashes — the
values are constants per fixture):

| path                     | sf0.01 | sf0.1  | sf1 (10x replica) |
| g02b vs exact g02        | 0.9649 | 0.9549 | see BASELINE.md   |
| g02e vs exact g02d       | 1.0    | 1.0    | see BASELINE.md   |
| g02c candidates vs g02d  | 0.92   | 0.9766 | see BASELINE.md   | (r14 re-band)

Floors sit measured-minus-margin so a parameter regression (fewer
bands, broken seeding, a banding bug) fails loudly rather than riding
slack.  The sf1 pins run whenever the 10x replica exists at
/tmp/sf1_replica (scripts/make_replicated_copy.py builds it) and skip
otherwise — the full ladder numbers are recorded in BASELINE.md r13.
"""

import os

import pytest

from data_lake_staging_engine_spark.registry import registry

_REG = registry()
_SF1 = "/tmp/sf1_replica"
# One-command rebuild (VERDICT r13 #8): /tmp is cleared between rounds,
# so the 10x pins only run after this has been re-run on the box:
_SF1_REBUILD = (
    "python scripts/make_replicated_copy.py "
    "/root/testdata/sf0.1 /tmp/sf1_replica --copies 10"
)


def _pairs(df):
    return df.select("d1", "d2")


def _recall(approx, exact, subset=True):
    n_exact = exact.count()
    assert n_exact > 0
    n_hit = approx.join(exact, ["d1", "d2"]).count()
    if subset:
        assert approx.join(exact, ["d1", "d2"], "left_anti").count() == 0
    return n_hit / n_exact


def test_g02b_recall_floor(spark, sf_dir):
    exact = _pairs(_REG["g02_dedup_near"].fn(spark, sf_dir))
    band = _pairs(_REG["g02b_dedup_lsh"].fn(spark, sf_dir))
    r = _recall(band, exact)
    assert r >= 0.90, f"g02b recall vs exact g02 fell to {r:.4f}"


def test_g02e_recall_floor(spark, sf_dir):
    exact = _pairs(_REG["g02d_dedup_ngram"].fn(spark, sf_dir))
    band = _pairs(_REG["g02e_dedup_lsh_shingle"].fn(spark, sf_dir))
    r = _recall(band, exact)
    assert r >= 0.90, f"g02e recall vs exact g02d fell to {r:.4f}"


def test_g02c_candidate_recall_floor(spark, sf_dir):
    """SimHash emits UNVERIFIED candidate pairs (no subset property);
    its value is cheap blocking, so the pin is candidate recall.

    Round 14 (VERDICT r13 #4): re-banded from 4x16 any-band (Hamming
    <=3 guarantee, measured recall 0.67-0.68) to the 28 two-block keys
    over 8x8 blocks (Hamming<=6 guarantee, same 16 effective bits per
    key) — measured 0.92 at sf0.01 / 0.9766 at sf0.1, candidate volume
    44k / 4.4M (35% of the sf0.1 pair space).  Floor raised 0.55 ->
    0.85.

    Round 17 (VERDICT r16 #5): the Manku Hamming verify
    (bit_count(xor) <= 8) now rides the collision join — candidate
    volume 15.4k / 1.52M (2.9x cut), recall 0.92 / 0.9219.  A >=5x
    cut is unreachable at this recall: the corpus's true Hamming<=8
    pair mass IS ~1.5M at sf0.1, and the measured near-dup band
    extends to Hamming 8 (verifying at the blocking guarantee 6 drops
    recall to 0.66-0.76)."""
    exact = _pairs(_REG["g02d_dedup_ngram"].fn(spark, sf_dir))
    sim = _pairs(_REG["g02c_dedup_simhash"].fn(spark, sf_dir))
    r = _recall(sim, exact, subset=False)
    assert r >= 0.85, f"g02c candidate recall vs g02d fell to {r:.4f}"


def test_g32_band_probe_agrees_with_exact_incremental(spark, sf_dir):
    """g32 (batch probes the corpus band-signature index) vs g30 (exact
    Jaccard over the union, restricted to batch x corpus): the probe's
    near set must be a SUBSET of g30's exact near/exact set (precision
    1 — banding candidates are exactly verified), with recall >= 0.90
    (measured 1.0 at sf0.01: 54/54 flagged docs agree)."""
    g30 = {
        r.doc_id: r.verdict
        for r in _REG["g30_dedup_incremental"].fn(spark, sf_dir).collect()
    }
    g32 = {
        r.doc_id: r.verdict
        for r in _REG["g32_dedup_band_probe"].fn(spark, sf_dir).collect()
    }
    assert set(g30) == set(g32)  # one row per batch doc, both ops
    exact_near = {k for k, v in g30.items() if v in ("near", "exact")}
    probe_near = {k for k, v in g32.items() if v == "near"}
    assert exact_near  # anchor must not be vacuous
    assert probe_near <= exact_near  # precision 1
    r = len(probe_near & exact_near) / len(exact_near)
    assert r >= 0.90, f"g32 probe recall vs exact incremental fell to {r:.4f}"


_PROBE_REFERENCE_SQL = """
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
cands AS (
  SELECT DISTINCT b.doc_id AS d1, i.doc_id AS d2
  FROM batch_sigs b JOIN index_sigs i USING (band, sig)
),
shared AS (
  SELECT c.d1, c.d2, COUNT(*) AS s
  FROM cands c
  JOIN toks t1 ON t1.doc_id = c.d1
  JOIN toks t2 ON t2.doc_id = c.d2 AND t2.tok = t1.tok
  GROUP BY 1, 2
),
near AS (
  SELECT d1, MIN(d2) AS m
  FROM shared JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
  WHERE s::DOUBLE / (s1.n + s2.n - s)::DOUBLE >= 0.8
  GROUP BY d1
)
SELECT d.doc_id,
       CASE WHEN near.m IS NULL THEN 'unique' ELSE 'near' END AS verdict,
       near.m AS match_id
FROM documents d LEFT JOIN near ON near.d1 = d.doc_id
WHERE d.doc_id % 7 = 0
"""


def test_g32_band_probe_matches_duckdb_reference(spark, sf_dir, tmp_path):
    """The index probe against a doc-space answer computed without the
    engine's verify: per batch doc, the min corpus doc that shares a
    stored (band, sig) with it and has token-set Jaccard >= 0.8,
    computed in DuckDB from the stored index and Spark's signatures of
    the batch.  Pins the probe's candidate set and its rep-space
    verify exactly, where the test above only bounds recall."""
    from pyspark.sql import functions as F

    from data_lake_staging_engine_spark.operators.llmops import (
        BandSignatureIndex,
        _band_signatures,
        _tokens,
    )
    from data_lake_staging_engine_spark.sources import load
    from data_lake_staging_engine_spark.testing import duck_connection

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    newdocs = d.filter(F.col("doc_id") % 7 == 0)
    corpus = d.filter(F.col("doc_id") % 7 != 0)
    root = str(tmp_path / "bandidx")
    store = BandSignatureIndex(root, spark)
    store.build(corpus)
    n_hashes, bands = store.params()
    index_sigs = store.signatures(spark).toArrow()
    batch_sigs = _band_signatures(
        _tokens(newdocs), n_hashes=n_hashes, bands=bands
    ).toArrow()
    con = duck_connection(sf_dir)
    try:
        con.register("index_sigs", index_sigs)
        con.register("batch_sigs", batch_sigs)
        want = sorted(con.execute(_PROBE_REFERENCE_SQL).fetchall())
    finally:
        con.close()
    got = sorted(
        (r["doc_id"], r["verdict"], r["match_id"])
        for r in BandSignatureIndex(root, spark).probe(
            newdocs, corpus
        ).collect()
    )
    assert any(v == "near" for _, v, _ in want)  # not vacuous
    assert got == want


def test_banding_recall_under_duplicate_storm(spark, tmp_path):
    """The 10x replica's Caesar vocabulary keeps cross-copy near-dups
    away BY DESIGN, so it cannot probe the regime banding exists for:
    a crawler bug landing one boilerplate page hundreds of times.  The
    default adversarial corpus is exactly that (60% one duplicated
    text, 20% a token-Jaccard~0.9 near-dup of it) — measured round 13:
    recall 1.0 for BOTH banding paths over it (g02b: 72,917 exact
    token pairs, 0 missed; g02e: 44,356 exact shingle pairs, 0
    missed), with 0 extras (precision 1).  Deterministic seeded
    hashes, so pinned at 0.95 to absorb only fixture drift."""
    from scripts.make_adversarial_corpus import build

    d = str(tmp_path / "dupstorm")
    build(d, "/root/testdata/sf0.001")
    for approx, exact in [
        ("g02b_dedup_lsh", "g02_dedup_near"),
        ("g02e_dedup_lsh_shingle", "g02d_dedup_ngram"),
    ]:
        e = _pairs(_REG[exact].fn(spark, d))
        a = _pairs(_REG[approx].fn(spark, d))
        r = _recall(a, e)
        assert r >= 0.95, f"{approx} dup-storm recall fell to {r:.4f}"


@pytest.mark.skipif(
    not os.path.isdir(_SF1),
    reason=f"10x replica not built — rebuild with: {_SF1_REBUILD}",
)
def test_g02b_recall_floor_at_10x(spark):
    """The 10x step is where banding recall could silently sag (more
    docs per band bucket, more near-miss pairs).  Exact g02 at the
    replica is ~40 s, g02b ~2 min — gated on the replica existing."""
    exact = _pairs(_REG["g02_dedup_near"].fn(spark, _SF1))
    band = _pairs(_REG["g02b_dedup_lsh"].fn(spark, _SF1))
    r = _recall(band, exact)
    assert r >= 0.90, f"g02b 10x recall fell to {r:.4f}"


@pytest.mark.skipif(
    not os.path.isdir(_SF1),
    reason=f"10x replica not built — rebuild with: {_SF1_REBUILD}",
)
def test_g03e_recall_at5_floor_at_10x(spark):
    knn = _REG["g03b_simsearch_knn"].fn(spark, _SF1).select("qid", "cid")
    ivf = _REG["g03e_simsearch_ivf"].fn(spark, _SF1).select("qid", "cid")
    n = knn.count()
    assert n > 0
    r = ivf.join(knn, ["qid", "cid"]).count() / n
    assert r >= 0.80, f"g03e 10x recall@5 fell to {r:.4f}"
