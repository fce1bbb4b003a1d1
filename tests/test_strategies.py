"""Cross-strategy equivalence: operators that pick a physical strategy
at runtime must produce identical results from every strategy."""

import pytest
from pyspark.sql import functions as F

from data_lake_staging_engine_spark.operators.llmops import (
    _BITMAP_MAX_VOCAB,
    _bitmap_vocab,
    _doc_bitmaps,
    _g02_bitmask,
    _g02_token_join,
    _jaccard_pairs,
    _tokens,
    _verify_pairs_token_join,
)
from data_lake_staging_engine_spark.sources import load


def _open_vocab_docs(spark):
    """Synthetic corpus with > _BITMAP_MAX_VOCAB distinct tokens and one
    planted near-duplicate pair (doc 0 vs doc 9999: 39 of 40 tokens
    shared => jaccard 39/41 ~ 0.9512)."""
    rows = [
        (i, " ".join(f"t{j}" for j in range(25 * i, 25 * i + 40)))
        for i in range(220)  # ~5.5k distinct tokens > the 4096 cutoff
    ]
    rows.append((9999, " ".join(["zzz"] + [f"t{j}" for j in range(1, 40)])))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_g02_bitmask_equals_token_join(spark, sf_dir):
    """The small-universe bitmap path and the prefix-filtered token-join
    path are the same operator — bit-identical pairs and jaccard."""
    toks = _tokens(load(spark, sf_dir, "documents"))
    vocab_n = toks.select("tok").distinct().count()
    fast = {tuple(r) for r in _g02_bitmask(toks, vocab_n, 0.8).collect()}
    slow = {tuple(r) for r in _g02_token_join(toks, 0.8).collect()}
    assert fast == slow
    assert len(fast) > 0


def test_g02_multiword_bitmap_equals_token_join(spark, sf_dir):
    """Force the multi-word path (3-gram shingles, vocab ~400 => 7
    words) and check it against the prefix-filtered join."""
    d = load(spark, sf_dir, "documents")
    positions = F.when(
        F.length("text") >= 3, F.sequence(F.lit(1), F.length("text") - 2)
    ).otherwise(F.array().cast("array<int>"))
    shingles = (
        d.select("doc_id", "text", F.explode(positions).alias("i"))
        .select("doc_id", F.col("text").substr(F.col("i"), F.lit(3)).alias("tok"))
        .distinct()
    )
    vocab_n = shingles.select("tok").distinct().count()
    assert vocab_n > 64  # genuinely multi-word
    fast = {tuple(r) for r in _g02_bitmask(shingles, vocab_n, 0.8).collect()}
    slow = {tuple(r) for r in _g02_token_join(shingles, 0.8).collect()}
    assert fast == slow

def test_bitmask_prefix_branch_equals_allpairs(spark, sf_dir, monkeypatch):
    """The bitmap path's two candidate strategies are the same operator:
    the prefix-filtered branch (large distinct-set universes; round-12
    10x-study fix, incl. the PPJoin length+position filters) must emit
    bit-identical pairs to the small-universe all-pairs branch.  The
    fixture rep count is under _ALLPAIRS_MAX_REPS, so the prefix branch
    is forced by zeroing the cutoff."""
    import data_lake_staging_engine_spark.operators.llmops as llmops

    for make in (_tokens, _fixture_shingles):
        toks = make(load(spark, sf_dir, "documents"))
        vocab_n = toks.select("tok").distinct().count()
        base = {tuple(r) for r in _g02_bitmask(toks, vocab_n, 0.8).collect()}
        monkeypatch.setattr(llmops, "_ALLPAIRS_MAX_REPS", 0)
        pref = {
            tuple(r)
            for r in llmops._g02_bitmask(toks, vocab_n, 0.8).collect()
        }
        monkeypatch.undo()
        assert pref == base, make.__name__
        assert len(base) > 0


def test_degenerate_universe_routes_to_banding(spark, sf_dir, monkeypatch):
    """VERDICT r12 #6: when the prefix branch's plan-time collision
    prediction exceeds the budget (a degenerate dense universe — no
    subquadratic exact candidate set exists), candidate generation
    auto-routes to MinHash banding without the caller doing anything.
    Forced here by zeroing both the all-pairs cutoff and the budget:
    (a) a RuntimeWarning documents the switch; (b) the routed result is
    a SUBSET of the exact pairs (the popcount verify keeps precision
    1); (c) recall on the duplicate-heavy fixture is high (same-mask
    duplicates are emitted unconditionally; only cross-mask pairs ride
    the banding curve); (d) the default budget keeps the fixture on
    the exact path, warning-free and bit-identical."""
    import warnings as _w

    import data_lake_staging_engine_spark.operators.llmops as llmops

    toks = _tokens(load(spark, sf_dir, "documents"))
    vocab_n = toks.select("tok").distinct().count()
    exact = {tuple(r) for r in _g02_bitmask(toks, vocab_n, 0.8).collect()}
    monkeypatch.setattr(llmops, "_ALLPAIRS_MAX_REPS", 0)
    monkeypatch.setattr(llmops, "_DEGENERATE_ABS_COLLISIONS", 0)
    monkeypatch.setattr(llmops, "_DEGENERATE_COLLISIONS_PER_REP", 0)
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        routed = {
            tuple(r)
            for r in llmops._g02_bitmask(toks, vocab_n, 0.8).collect()
        }
    assert any("MinHash banding" in str(w.message) for w in caught)
    assert routed <= exact  # precision 1
    assert len(routed) >= 0.5 * len(exact)  # banding recall, dup-heavy
    monkeypatch.undo()  # default budget, prefix branch still forced
    monkeypatch.setattr(llmops, "_ALLPAIRS_MAX_REPS", 0)
    with _w.catch_warnings(record=True) as caught2:
        _w.simplefilter("always")
        dflt = {
            tuple(r)
            for r in llmops._g02_bitmask(toks, vocab_n, 0.8).collect()
        }
    monkeypatch.undo()
    assert dflt == exact
    assert not any("MinHash banding" in str(w.message) for w in caught2)


def _fixture_shingles(d):
    positions = F.when(
        F.length("text") >= 3, F.sequence(F.lit(1), F.length("text") - 2)
    ).otherwise(F.array().cast("array<int>"))
    return (
        d.select("doc_id", "text", F.explode(positions).alias("i"))
        .select(
            "doc_id", F.col("text").substr(F.col("i"), F.lit(3)).alias("tok")
        )
        .distinct()
    )


def test_open_vocab_probe_refuses_bitmap(spark):
    """An open vocabulary (> _BITMAP_MAX_VOCAB) must be rejected by the
    strategy probe, and _doc_bitmaps must refuse to plan it (a bitmap
    plan there would need thousands of columns)."""
    toks = _tokens(_open_vocab_docs(spark))
    assert toks.select("tok").distinct().count() > _BITMAP_MAX_VOCAB
    assert _bitmap_vocab(toks) is None
    with pytest.raises(ValueError, match="bitmap strategy requires"):
        _doc_bitmaps(toks, _BITMAP_MAX_VOCAB + 1)


def test_open_vocab_jaccard_token_join_end_to_end(spark):
    """_jaccard_pairs on an open vocabulary takes the token-join path
    and still finds exactly the planted near-dup pair."""
    toks = _tokens(_open_vocab_docs(spark))
    got = {(r.d1, r.d2, r.jaccard) for r in _jaccard_pairs(toks, 0.8).collect()}
    assert got == {(0, 9999, round(39 / 41, 6))}


def test_open_vocab_verify_token_join(spark):
    """g02b's open-vocabulary fallback: candidate-bounded token-join
    verify produces the exact jaccard for planted candidates without
    building any vocabulary-wide structure."""
    toks = _tokens(_open_vocab_docs(spark))
    cands = toks.sparkSession.createDataFrame(
        [(0, 9999), (0, 1)], "d1 long, d2 long"
    )
    got = {
        (r.d1, r.d2, r.jaccard)
        for r in _verify_pairs_token_join(cands, toks, 0.8).collect()
    }
    assert got == {(0, 9999, round(39 / 41, 6))}


def test_token_join_prefix_survives_float_overshoot(spark):
    """0.55 * 100 evaluates to 55.00000000000001, so an unguarded
    ``n - ceil(t*n) + 1`` prefix is one token short for the 100-token
    doc: its prefix holds only the 45 tokens the other doc lacks, the
    pigeonhole guarantee breaks and the J = 0.55 pair is never a
    candidate.  The guarded prefix length keeps it."""
    rows = [
        (0, " ".join(f"t{j}" for j in range(100))),
        (1, " ".join(f"t{j}" for j in range(55))),
    ]
    toks = _tokens(spark.createDataFrame(rows, "doc_id long, text string"))
    got = [tuple(r) for r in _g02_token_join(toks, 0.55).collect()]
    assert got == [(0, 1, 0.55)]


def test_token_join_filters_collisions_before_the_verify(spark, monkeypatch):
    """The token join's collision join applies the PPJoin length and
    positional filters, so a colliding pair that cannot reach J >= 0.8
    never becomes a verify candidate.  The c tokens recur in five
    filler docs, so each doc's rarest tokens lead its prefix.  Docs 0
    ({x, c0}) and 1 ({x, c0..c8}) collide on x, but sizes 2 and 10
    fail the length filter.  Docs 2 and 3 (size 10 each) collide only
    on y, third in both prefixes: 1 + min(10 - 3, 10 - 3) = 8 shared
    tokens at most, short of the ceil(0.8 / 1.8 * 20) = 9 needed."""
    import data_lake_staging_engine_spark.operators.llmops as llmops

    common = [f"c{j}" for j in range(9)]
    docs = {
        0: ["x", "c0"],
        1: ["x", *common],
        2: ["a1", "a2", "y", *common[:7]],
        3: ["b1", "b2", "y", *common[:7]],
        **{10 + k: [f"f{k}", *common] for k in range(5)},
    }
    rows = [(d, " ".join(t)) for d, t in docs.items()]
    toks = _tokens(spark.createDataFrame(rows, "doc_id long, text string"))
    seen = []
    verify = llmops._verify_pairs_token_join

    def spy(cands, *a, **kw):
        seen.extend(tuple(r) for r in cands.collect())
        return verify(cands, *a, **kw)

    monkeypatch.setattr(llmops, "_verify_pairs_token_join", spy)
    got = {(r.d1, r.d2) for r in _g02_token_join(toks, 0.8).collect()}
    want = {
        (a, b)
        for a in docs
        for b in docs
        if a < b
        and len(set(docs[a]) & set(docs[b])) / len(set(docs[a]) | set(docs[b]))
        >= 0.8
    }
    assert want and got == want  # not vacuous
    assert (0, 1) not in seen and (2, 3) not in seen, sorted(seen)


@pytest.mark.parametrize(
    "name", ["g26_dedup_clusters", "g30_dedup_incremental"]
)
def test_open_vocab_branch_matches_bitmap_branch(
    spark, sf_dir, monkeypatch, name
):
    """g26 and g30 on the open-vocabulary route (forced by a zero
    bitmap cutoff, so candidates come from the token join) must emit
    exactly the rows of the default bitmap route."""
    import data_lake_staging_engine_spark.operators.llmops as llmops

    fn = getattr(llmops, name)
    base = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    calls = []
    token_join = llmops._g02_token_join

    def spy(*a, **kw):
        calls.append(1)
        return token_join(*a, **kw)

    monkeypatch.setattr(llmops, "_BITMAP_MAX_VOCAB", 0)
    monkeypatch.setattr(llmops, "_g02_token_join", spy)
    forced = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    monkeypatch.undo()
    assert calls, "the token-join route was not taken"
    assert len(base) > 0
    assert forced == base


def test_g32_open_vocab_route_matches_bitmap_route(
    spark, sf_dir, monkeypatch, tmp_path
):
    """g32's band-index probe on the open-vocabulary route (an index
    built under a zero bitmap cutoff stores no rep space, so its
    candidate pairs are verified by the token join) must emit exactly
    the rows of the default rep-space route."""
    import data_lake_staging_engine_spark.operators.llmops as llmops

    fn = llmops.g32_dedup_band_probe
    base = sorted(
        tuple(r) for r in fn(spark, sf_dir, str(tmp_path / "bitmap")).collect()
    )
    calls = []
    verify = llmops._verify_pairs_token_join

    def spy(*a, **kw):
        calls.append(1)
        return verify(*a, **kw)

    monkeypatch.setattr(llmops, "_BITMAP_MAX_VOCAB", 0)
    monkeypatch.setattr(llmops, "_verify_pairs_token_join", spy)
    forced = sorted(
        tuple(r) for r in fn(spark, sf_dir, str(tmp_path / "open")).collect()
    )
    monkeypatch.undo()
    assert calls, "the token-join route was not taken"
    assert any(v == "near" for _d, v, _m in base)
    assert forced == base


def test_lsh_outputs_subset_of_exact(spark, sf_dir):
    """MinHash-LSH near-dup (g02b token, g02e shingle) verifies
    candidates with EXACT Jaccard, so precision is 1 by construction:
    every emitted pair must appear in the exact twin's output with the
    identical jaccard value (recall may be < 1 — banding misses)."""
    from data_lake_staging_engine_spark.registry import registry

    reg = registry()
    for approx_name, exact_name in (
        ("g02b_dedup_lsh", "g02_dedup_near"),
        ("g02e_dedup_lsh_shingle", "g02d_dedup_ngram"),
    ):
        approx = {tuple(r) for r in reg[approx_name].fn(spark, sf_dir).collect()}
        exact = {tuple(r) for r in reg[exact_name].fn(spark, sf_dir).collect()}
        assert len(approx) > 0
        assert approx <= exact, f"{approx_name} emitted non-exact pairs"


def test_strategy_switch_plan_shapes(spark, sf_dir):
    """Plan-level pin of the vocabulary switch: the small-universe path
    compiles to bitmap popcount (bit_count) expressions; the open-
    vocabulary path must compile to a token join with NO bitmap
    machinery anywhere in the plan (an open-vocab bitmap plan would
    need ceil(vocab/64) columns and die at real scale)."""
    from data_lake_staging_engine_spark.plans.inspect import physical_plan

    small = _tokens(load(spark, sf_dir, "documents"))
    small_plan = physical_plan(_jaccard_pairs(small, 0.8))
    assert "bit_count" in small_plan

    open_toks = _tokens(_open_vocab_docs(spark))
    open_plan = physical_plan(_jaccard_pairs(open_toks, 0.8))
    assert "bit_count" not in open_plan


def test_sequence_pack_conserves_tokens(spark, sf_dir):
    """g25 invariants: packing is a partition of the corpus — per-lang
    token totals are conserved exactly, every doc lands in exactly one
    sequence, and seq_ids stay within ceil(lang_total/capacity)."""
    from data_lake_staging_engine_spark.registry import registry

    out = registry()["g25_sequence_pack"].fn(spark, sf_dir).collect()
    d = load(spark, sf_dir, "documents")
    truth = {
        (r.lang): (r.n_docs, r.total)
        for r in d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " ")).cast("long")).alias("total"),
        )
        .collect()
    }
    by_lang = {}
    for r in out:
        docs, toks = by_lang.get(r.lang, (0, 0))
        by_lang[r.lang] = (docs + r.n_docs, toks + r.total_tokens)
        assert 0 <= r.seq_id <= truth[r.lang][1] // 256
    assert by_lang == truth


def test_min_label_components_matches_union_find(spark):
    """Distributed min-label propagation == classic union-find on
    adversarial graph shapes (long chains maximize iteration count,
    cliques maximize edge fan-in, plus isolated pairs)."""
    import random

    from data_lake_staging_engine_spark.operators.llmops import (
        _min_label_components,
    )

    rng = random.Random(42)
    edges = []
    # long chain 0-1-2-...-19 (diameter 19)
    edges += [(i, i + 1) for i in range(19)]
    # clique on 30..39
    edges += [(a, b) for a in range(30, 40) for b in range(a + 1, 40)]
    # random sprinkle over 50..99
    edges += [
        tuple(sorted(rng.sample(range(50, 100), 2))) for _ in range(40)
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "d1 long, d2 long"
    )
    got = {r.node: r.label for r in _min_label_components(pairs).collect()}
    assert got == expected


def test_min_label_pointer_doubling_round_count(spark):
    """VERDICT r02 #4: pointer doubling makes a path graph converge in
    O(log2 n) rounds, not O(n). A 256-node chain (diameter 255) must
    finish within log2(256)+2 = 10 rounds — the plain propagate-only
    loop would need ~255."""
    import math

    from data_lake_staging_engine_spark.operators.llmops import (
        _min_label_components_rounds,
    )

    n = 256
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "d1 long, d2 long"
    )
    labels, rounds = _min_label_components_rounds(pairs)
    assert rounds <= int(math.log2(n)) + 2, rounds
    got = {r.node: r.label for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}


def _wait_storage_count(jsc, want: int, timeout_s: float = 10.0) -> int:
    """Poll getRDDStorageInfo until the count drops to ``want`` (or the
    timeout passes) — rdd.unpersist(False) and Dataset.unpersist() are
    NON-blocking, so asserting the count on the first read races the
    async block removal (ADVICE r08)."""
    import time

    deadline = time.monotonic() + timeout_s
    n = len(jsc.getRDDStorageInfo())
    while n > want and time.monotonic() < deadline:
        time.sleep(0.1)
        n = len(jsc.getRDDStorageInfo())
    return n


def test_min_label_components_releases_checkpoints(spark):
    """ADVICE r07: the per-round localCheckpoints must not accumulate —
    each superseded round's blocks are released and the frontier is
    never checkpointed (it is a filter of the checkpointed labels), so
    a multi-round run ends holding ONE checkpoint (the returned label
    table), not 2-per-round. A 256-chain forces ~9 rounds, which under
    the old behavior would leak ~18 cached RDDs."""
    from data_lake_staging_engine_spark.operators.llmops import (
        _min_label_components_rounds,
    )

    jsc = spark.sparkContext._jsc.sc()
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(255)], "d1 long, d2 long"
    )
    before = len(jsc.getRDDStorageInfo())
    labels, rounds = _min_label_components_rounds(pairs)
    assert rounds >= 3  # multi-round, or the test proves nothing
    after = _wait_storage_count(jsc, before + 1)
    assert after - before <= 1, (before, after, rounds)
    # the surviving checkpoint is the one the caller still needs
    assert labels.count() == 256


def test_min_label_delta_iteration_posture(spark, monkeypatch):
    """VERDICT r08 #2: pin g26's delta-iteration EXECUTION posture, not
    just its fixpoint — (a) every round whose entering frontier fits
    the broadcast budget joins a broadcast frontier and the physical
    plan really contains a BroadcastHashJoin; (b) each round releases
    exactly the previous round's superseded checkpoint; (c) the
    frontier is a derived filter, never re-checkpointed.  Then zero the
    budget and pin the shuffle fallback wiring (same fixpoint,
    broadcast hint off)."""
    import data_lake_staging_engine_spark.operators.llmops as llmops

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(255)], "d1 long, d2 long"
    )
    log: list = []
    labels, rounds = llmops._min_label_components_rounds(pairs, round_log=log)
    assert rounds >= 3 and len(log) == rounds
    for entry in log:
        # (a) 256 nodes is far under the broadcast budget in every round
        assert entry["broadcast"] is True, entry
        assert entry["plan_broadcast"] is True, entry
        # (c) the frontier must stay a derivation of the round's
        # checkpoint, not a second checkpoint
        assert entry["frontier_checkpointed"] is False, entry
        assert entry["ckpt_rdd_id"] is not None
    # (b) round N releases round N-1's checkpoint, no skips
    for prev, cur in zip(log, log[1:]):
        assert cur["released_rdd_id"] == prev["ckpt_rdd_id"], (prev, cur)
    # none of the superseded checkpoints survive in storage
    jsc = spark.sparkContext._jsc.sc()
    _wait_storage_count(jsc, 0)  # settle async removals from this run
    live = {info.id() for info in jsc.getRDDStorageInfo()}
    superseded = {e["ckpt_rdd_id"] for e in log[:-1]}
    assert not (live & superseded), (live, superseded)

    # fallback wiring: budget 0 => no broadcast hint, identical fixpoint
    monkeypatch.setattr(llmops, "_BROADCAST_BYTES", 0)
    log2: list = []
    labels2, rounds2 = llmops._min_label_components_rounds(pairs, round_log=log2)
    assert all(e["broadcast"] is False for e in log2)
    assert {r.node: r.label for r in labels2.collect()} == {
        r.node: r.label for r in labels.collect()
    }


def test_a27_text_roundtrip_preserves_payload_tabs(spark):
    """a27's parse splits on the FIRST tab only (split limit 2), so a
    payload containing tabs survives the text round-trip — the property
    the docstring claims. Exercised directly (the fixture corpus is
    tab-free, so parity alone can't prove it)."""
    import tempfile

    from pyspark.sql import functions as F

    out = tempfile.mkdtemp(prefix="dlse_texttab_")
    src = spark.createDataFrame(
        [(1, "plain text"), (2, "tab\tinside\tpayload"), (3, "")],
        "doc_id long, text string",
    )
    src.select(F.concat_ws("\t", "doc_id", "text")).write.mode(
        "overwrite"
    ).text(out)
    parts = F.split(F.col("value"), "\t", 2)
    back = {
        r.doc_id: r.text
        for r in spark.read.text(out)
        .select(
            parts.getItem(0).cast("long").alias("doc_id"),
            parts.getItem(1).alias("text"),
        )
        .collect()
    }
    assert back == {1: "plain text", 2: "tab\tinside\tpayload", 3: ""}


def test_g03d_guard_trips_on_large_anchor_set(spark, monkeypatch):
    """VERDICT r05 #3: the exact-cosine anchor refuses to run beyond the
    configured anchor cardinality, so it can never silently become a
    production dedup path. sf0.001 has ~50 anchors (10% of 500), so a
    bound of 10 must trip; the default 50k bound must not."""
    import pytest

    from data_lake_staging_engine_spark.operators.llmops import g03d_embed_neardup

    monkeypatch.setenv("SPARK_GRAFT_G03D_MAX_ANCHORS", "10")
    with pytest.raises(ValueError, match="anchor set has .* > bound 10"):
        g03d_embed_neardup(spark, "/root/testdata/sf0.001")

    monkeypatch.delenv("SPARK_GRAFT_G03D_MAX_ANCHORS")
    assert g03d_embed_neardup(spark, "/root/testdata/sf0.001").count() >= 0


def test_release_local_checkpoint_frees_blocks(spark):
    """Unit pin for session.release_local_checkpoint: localCheckpoint
    blocks are NOT freed by Dataset.unpersist (checkpoints never enter
    the CacheManager — probed on pyspark 4.1.2), so the helper reaches
    the analyzed plan's LogicalRDD and unpersists ITS rdd. If a Spark
    upgrade changes the internals the helper must degrade to a no-op
    (best-effort contract), so both the release and the non-LogicalRDD
    no-op path are asserted."""
    from data_lake_staging_engine_spark.session import release_local_checkpoint

    jsc = spark.sparkContext._jsc.sc()
    before = len(jsc.getRDDStorageInfo())
    ck = spark.range(500).selectExpr("id", "id * 2 AS x").localCheckpoint(eager=True)
    assert len(jsc.getRDDStorageInfo()) == before + 1
    ck.unpersist(blocking=True)  # documented no-op for checkpoints
    assert len(jsc.getRDDStorageInfo()) == before + 1
    release_local_checkpoint(ck)
    # the helper's rdd().unpersist(False) is async — poll (ADVICE r08)
    assert _wait_storage_count(jsc, before) == before
    # non-checkpointed frame: must be a silent no-op
    release_local_checkpoint(spark.range(5))
    assert _wait_storage_count(jsc, before) == before


def test_expand_mask_pairs_spread_gate_and_rows(spark):
    """The expansion spread (round 17): a d2r checkpoint frozen into
    fewer partitions than the session's shuffle parallelism gets its
    explosion inputs round-robin spread (the plan carries
    RoundRobinPartitioning), a well-partitioned d2r passes through
    untouched — and the emitted doc pairs are identical to the
    brute-force expectation either way (a repartition must never
    change rows)."""
    from data_lake_staging_engine_spark.operators.llmops import (
        _expand_mask_pairs,
        _n_shuffle_parts,
    )

    # Two mask groups (reps 1 and 4) plus a singleton; one qualified
    # cross-group rep pair.
    d2r_rows = [(1, 1), (1, 2), (1, 3), (4, 4), (4, 5), (6, 6)]
    expected = sorted(
        # cross-group expansion of (r1=1, r2=4) at jaccard 0.85
        [(1, 4, 0.85), (1, 5, 0.85), (2, 4, 0.85), (2, 5, 0.85),
         (3, 4, 0.85), (3, 5, 0.85)]
        # within-group identical-mask pairs at jaccard 1.0
        + [(1, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0), (4, 5, 1.0)]
    )
    n = _n_shuffle_parts(spark)
    qual = spark.createDataFrame(
        [(1, 4, 0.85)], "r1 long, r2 long, jaccard double"
    )

    def run(n_parts):
        d2r = (
            spark.createDataFrame(d2r_rows, "rep long, doc_id long")
            .repartition(n_parts)
            .localCheckpoint(eager=True)
        )
        out = _expand_mask_pairs(qual, d2r)
        plan = out._jdf.queryExecution().executedPlan().toString()
        rows = sorted(
            (r["d1"], r["d2"], r["jaccard"]) for r in out.collect()
        )
        return plan, rows

    plan_low, rows_low = run(1)  # frozen below parallelism -> spread
    assert "RoundRobinPartitioning" in plan_low
    assert rows_low == expected

    plan_ok, rows_ok = run(n)  # already at parallelism -> no-op gate
    assert "roundrobinpartitioning" not in plan_ok.lower()
    assert rows_ok == expected
