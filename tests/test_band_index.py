"""BandSignatureIndex: the persisted band-signature store behind g32
(VERDICT r13 #1 — "turn the 100 TB incremental story from 'designed'
to 'runs the way the docstring claims'").

The contract proven here:

- build-dispose-probe: a SEPARATE SparkSession (subprocess, vanilla,
  cwd=/tmp — the driver's shape) builds the index and exits; this
  suite's session then probes the stored signatures and gets exactly
  the rows a store built in this session answers.  The store outlives
  its builder.
- no re-banding on probe: the candidate plan scans the index parquet
  (the version dir is in the plan) and contains ONE minhash banding
  aggregate (the batch's own).
- the index is versioned: publishing a grown corpus makes a v2;
  probing version=1 still answers from the old signatures, and an
  unpinned probe reads ONE manifest entry for both the signatures and
  the banding parameters.
- the rep space is stored: a bitmap-route version answers a probe
  without reading the corpus, verifies batch tokens outside its vocab
  exactly, and a warm probe stays within its job budget; versions
  published before the rep space was stored probe on the open route
  with the same rows.
- versions published in the two-column (doc_id, band, sig) layout
  fold to the one band key on read and probe, on either route, to the
  rows of a freshly built index.
"""

import os
import subprocess
import sys

from pyspark.sql import functions as F

from data_lake_staging_engine_spark.operators.llmops import (
    BandSignatureIndex,
    _band_signatures,
    _probe_candidates,
    _tokens,
)
from data_lake_staging_engine_spark.plans.inspect import physical_plan
from data_lake_staging_engine_spark.sources import load

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SF = "/root/testdata/sf0.001"

_BUILD = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
spark = SparkSession.builder.master("local[4]").getOrCreate()
from data_lake_staging_engine_spark.operators.llmops import BandSignatureIndex
from data_lake_staging_engine_spark.plans.inspect import physical_plan
from data_lake_staging_engine_spark.sources import load

d = load(spark, {sf!r}, "documents").select("doc_id", "text")
corpus = d.filter(F.col("doc_id") % 7 != 0)
v = BandSignatureIndex({root!r}).build(corpus)
print("BUILT_VERSION", v)
spark.stop()
"""


def _two_column_signatures(toks, n_hashes=16, bands=4):
    """(doc_id, band, sig): the band signatures in the layout index
    versions were published in before the one-column band key — the
    same seeded minhashes, one row per (band, band hash)."""
    rows = n_hashes // bands
    mins = (
        toks.withColumn("h0", F.xxhash64("tok"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min(F.xxhash64(F.col("h0"), F.lit(i))).alias(f"h{i}")
                for i in range(n_hashes)
            ]
        )
    )
    band_sigs = [
        F.xxhash64(*[F.col(f"h{i}") for i in range(b * rows, (b + 1) * rows)])
        for b in range(bands)
    ]
    return mins.select(
        "doc_id", F.posexplode(F.array(*band_sigs)).alias("band", "sig")
    )


def _split(spark):
    d = load(spark, _SF, "documents").select("doc_id", "text")
    return (
        d.filter(F.col("doc_id") % 7 == 0),
        d.filter(F.col("doc_id") % 7 != 0),
    )


def _rows(df):
    return sorted(
        (r["doc_id"], r["verdict"], r["match_id"]) for r in df.collect()
    )


def test_build_dispose_probe_across_sessions(spark, tmp_path):
    """The index built by a now-dead SparkSession answers this
    session's probe with exactly the rows of a store built in this
    session."""
    root = str(tmp_path / "bandidx")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, "-c", _BUILD.format(repo=_REPO, sf=_SF, root=root)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "BUILT_VERSION 1" in proc.stdout, proc.stdout[-2000:]

    newdocs, corpus = _split(spark)
    idx = BandSignatureIndex(root)
    in_session = BandSignatureIndex(str(tmp_path / "in_session"))
    assert in_session.build(corpus) == 1
    assert _rows(idx.probe(newdocs, corpus)) == _rows(
        in_session.probe(newdocs, corpus)
    )

    # No re-banding: the candidate generation (the only stage that
    # touches the index; the probe checkpoints its output, truncating
    # the final plan's lineage) reads the stored signatures — the
    # index root appears as a parquet scan — and carries exactly ONE
    # minhash banding aggregate: the 16 per-hash mins of the BATCH.
    # The corpus contributes no aggregate because it is never banded.
    cands = _probe_candidates(
        _band_signatures(_tokens(newdocs)), idx.signatures(spark)
    )
    logical = cands._jdf.queryExecution().optimizedPlan().toString()
    assert root in physical_plan(cands)  # index version dir is a scan
    assert logical.count("min(xxhash64") == 16


def test_index_versions_are_stable(spark, tmp_path):
    """Re-publishing signatures for a GROWN corpus does not disturb a
    probe pinned to the old version — the immutability a daily loop
    relies on when a probe job races a rebuild."""
    root = str(tmp_path / "idx")
    newdocs, corpus = _split(spark)
    idx = BandSignatureIndex(root)
    assert idx.build(corpus) == 1
    v1 = _rows(idx.probe(newdocs, corpus, version=1))
    # grown corpus: the batch itself is folded in, as g30's loop does
    grown = corpus.unionByName(newdocs)
    assert idx.build(grown) == 2
    assert _rows(idx.probe(newdocs, corpus, version=1)) == v1
    # latest now bands the grown corpus: every batch doc matches
    # itself in the index, so no verdict can be weaker than v1's
    latest = dict(
        (d, v) for d, v, _m in _rows(idx.probe(newdocs, grown))
    )
    for d, v, _m in v1:
        if v == "near":
            assert latest[d] == "near"


def test_vacuumed_index_version_fails_loudly(spark, tmp_path):
    """The retention contract a daily loop must size for: a probe
    PINNED to a version that vacuum has since pruned fails with the
    explicit not-in-manifest error, never a silent empty result —
    and the latest version keeps answering."""
    import pytest as _pytest

    root = str(tmp_path / "idx")
    newdocs, corpus = _split(spark)
    idx = BandSignatureIndex(root)
    assert idx.build(corpus) == 1
    assert idx.build(corpus.unionByName(newdocs)) == 2
    idx.table.vacuum(keep_last=1)
    with _pytest.raises(ValueError, match="vacuumed"):
        idx.probe(newdocs, corpus, version=1)
    assert idx.probe(newdocs, corpus, version=2).count() == newdocs.count()


def test_multi_batch_daily_loop(spark, tmp_path):
    """The daily-ingest cadence composed end to end: probe batch N
    against index version N, fold the batch into the corpus,
    re-publish as version N+1, repeat.  Per batch: the probe's near
    set is a SUBSET of the exact incremental verdicts over the same
    evolving corpus (precision 1), and each re-publish only ever adds
    a version (prior probes' pins stay resolvable)."""
    from data_lake_staging_engine_spark.operators.llmops import (
        incremental_dedup,
    )

    d = load(spark, _SF, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 5 == 0)
    idx = BandSignatureIndex(str(tmp_path / "daily"))
    assert idx.build(corpus) == 1
    for k, version in ((1, 1), (2, 2), (3, 3)):
        batch = d.filter(F.col("doc_id") % 5 == k)
        probed = {
            r.doc_id: r.verdict
            for r in idx.probe(batch, corpus, version=version).collect()
        }
        exact = {
            r.doc_id: r.verdict
            for r in incremental_dedup(batch, corpus).collect()
        }
        assert set(probed) == set(exact)  # one row per batch doc
        probe_near = {i for i, v in probed.items() if v == "near"}
        exact_near = {i for i, v in exact.items() if v in ("near", "exact")}
        assert probe_near <= exact_near  # precision 1, every batch
        # fold the batch in and re-publish — the next day's index
        corpus = corpus.unionByName(batch)
        assert idx.build(corpus) == version + 1
    assert idx.table.versions() == [1, 2, 3, 4]


def test_nondefault_params_recorded_and_probed(spark, tmp_path):
    """ADVICE r14 (medium): an index built with non-default
    n_hashes/bands used to be probed with the DEFAULT parameters.  A
    batch banded with other parameters than its index loses recall: a
    different rows-per-band (n_hashes // bands) never collides, and
    the same rows-per-band collides only in the shared leading bands
    (h_i is seeded by i alone, so a 16x4 batch and a 32x8 index agree
    on bands 0-3 and miss on 4-7).  Build records (n_hashes, bands) on
    the manifest entry and the probe bands the batch with the stored
    values."""
    root = str(tmp_path / "idx32x8")
    newdocs, corpus = _split(spark)
    idx = BandSignatureIndex(root)
    assert idx.build(corpus, n_hashes=32, bands=8) == 1
    assert idx.params() == (32, 8)

    # A store opened on the root alone reads the parameters from the
    # manifest and answers like the builder's, with every near verdict
    # inside the 32x8 candidate set.
    probed = _rows(BandSignatureIndex(root).probe(newdocs, corpus))
    assert probed == _rows(idx.probe(newdocs, corpus))
    near = {d for d, v, _m in probed if v == "near"}
    assert near  # not vacuous

    sigs = idx.signatures(spark)

    def cands(n_hashes, bands):
        return _probe_candidates(
            _band_signatures(_tokens(newdocs), n_hashes=n_hashes, bands=bands),
            sigs,
        )

    good = cands(32, 8)
    assert near <= {r.d1 for r in good.select("d1").distinct().collect()}
    # Same rows-per-band (4): only bands 0-3 collide, so the defaults
    # find fewer candidates, not none.  A different rows-per-band (2)
    # finds none at all.
    bad = cands(16, 4).count()
    assert 0 < bad < good.count()
    assert cands(16, 8).count() == 0


def test_params_default_for_legacy_manifest_entries(spark, tmp_path):
    """Versions published before the parameters were recorded (round
    14) carry no n_hashes/bands keys; params() must fall back to the
    build defaults — the only parameterization that could have
    produced them."""
    root = str(tmp_path / "legacy")
    _newdocs, corpus = _split(spark)
    idx = BandSignatureIndex(root)
    # simulate a round-14 publish: signatures without extra metadata
    idx.table.publish(_two_column_signatures(_tokens(corpus)))
    assert idx.params() == (16, 4)


def test_probe_pinned_version_stable_under_racing_republish(spark, tmp_path):
    """VERDICT r14 #1: the production daily loop — many probes pinned
    to version N while a concurrent rebuild publishes N+1.  The store
    guarantees old versions stay readable (vacuum contract), so every
    pinned probe must return byte-identical rows before, during, and
    after the racing republish, and the republished index must be
    probeable the moment build() returns."""
    import threading

    root = str(tmp_path / "race")
    newdocs, corpus = _split(spark)
    idx = BandSignatureIndex(root)
    assert idx.build(corpus) == 1
    baseline = _rows(idx.probe(newdocs, corpus, version=1))

    grown = corpus.unionByName(newdocs)
    errs: list[Exception] = []
    published = threading.Event()

    def republish():
        try:
            # two racing rebuilds back-to-back widens the window the
            # pinned probes run under
            idx.build(grown)
            idx.build(grown.unionByName(newdocs))
        except Exception as e:  # pragma: no cover - failure capture
            errs.append(e)
        finally:
            published.set()

    t = threading.Thread(target=republish)
    t.start()
    probes = []
    # keep probing the pinned version while the republisher runs;
    # at least one probe is guaranteed to overlap the build window
    # (the loop runs until the publisher finishes, minimum twice)
    while True:
        probes.append(_rows(idx.probe(newdocs, corpus, version=1)))
        if published.is_set() and len(probes) >= 2:
            break
    t.join(timeout=600)
    assert not errs, errs
    assert all(p == baseline for p in probes)
    # the republished versions answer immediately, params intact
    assert idx.table.versions() == [1, 2, 3]
    assert idx.params(3) == (16, 4)
    latest = dict((d, v) for d, v, _m in _rows(idx.probe(newdocs, grown)))
    # every batch doc is IN the v3 corpus => all near
    assert set(latest.values()) == {"near"}


def test_unpinned_probe_reads_one_manifest_entry(spark, tmp_path):
    """An unpinned probe resolves ``latest`` once: the stored
    signatures and the parameters the batch is banded with come from
    the same manifest entry.  Here the first manifest read republishes
    the index at a different rows-per-band (32x4: 8 rows per band
    against v1's 4), whose band hashes never collide with 16x4 batch
    signatures.  A probe that read the manifest twice would band the
    batch for v1 and scan v2, and read every doc 'unique'; this one
    must answer exactly like the probe pinned to v1."""
    root = str(tmp_path / "idx")
    newdocs, corpus = _split(spark)
    idx = BandSignatureIndex(root)
    assert idx.build(corpus) == 1
    pinned = _rows(idx.probe(newdocs, corpus, version=1))
    assert any(v == "near" for _d, v, _m in pinned)  # not vacuous

    entry = idx.table.entry
    reads = []

    def racing_entry(version=None):
        got = entry(version)
        reads.append(version)
        if len(reads) == 1:
            assert idx.build(corpus, n_hashes=32, bands=4) == 2
        return got

    idx.table.entry = racing_entry
    unpinned = _rows(idx.probe(newdocs, corpus))
    assert idx.table.latest() == 2
    assert unpinned == pinned
    assert reads == [None]


def test_probe_cost_is_corpus_size_flat(spark, tmp_path):
    """VERDICT r15 #6: the O(batch) probe claim, pinned as a CURVE
    property rather than a single point.  A fixed batch probes two
    prebuilt indexes whose corpora differ 16x in size; the probe's
    wall-clock must stay within a generous band (4x) of the small-
    corpus probe.  Runs are interleaved and the MIN per corpus is
    compared, so a host load storm (which inflates both corpora's
    readings together) cannot produce a false failure — only a
    genuinely corpus-proportional probe term can.

    The measured curve this pins (round 16, fixed 715-doc batch at
    sf0.1 scale): 1x/4.3k-doc corpus ~6.6 s, 10x/49k ~6.1 s,
    30x/149k ~6.2 s — flat across 30x (BASELINE.md round 16)."""
    import time

    d = load(spark, _SF, "documents").select("doc_id", "text")
    batch = d.filter(F.col("doc_id") % 7 == 0).localCheckpoint(eager=True)
    small_corpus = d.filter(F.col("doc_id") % 7 != 0).localCheckpoint(
        eager=True
    )
    # 16x corpus of the same shape: per-copy id offset + per-copy
    # letter rotation, so no artificial cross-copy near-dups densify
    # the buckets (the make_replicated_copy discipline, in-memory).
    copies = [small_corpus]
    for i in range(1, 16):
        rot = "".join(
            chr((ord(c) - 97 + i) % 26 + 97) for c in map(chr, range(97, 123))
        )
        copies.append(
            small_corpus.select(
                (F.col("doc_id") + i * 100_000_000).alias("doc_id"),
                F.translate(
                    F.translate("text", "abcdefghijklmnopqrstuvwxyz", rot),
                    "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
                    rot.upper(),
                ).alias("text"),
            )
        )
    big = copies[0]
    for c in copies[1:]:
        big = big.unionByName(c)
    big_corpus = big.localCheckpoint(eager=True)
    assert big_corpus.count() == 16 * small_corpus.count()

    stores = {}
    for name, corpus in (("small", small_corpus), ("big", big_corpus)):
        idx = BandSignatureIndex(str(tmp_path / name), spark)
        idx.build(corpus)
        stores[name] = (idx, corpus)

    def probe_once(name):
        idx, corpus = stores[name]
        t0 = time.perf_counter()
        BandSignatureIndex(str(tmp_path / name), spark).probe(
            batch, corpus, threshold=0.8
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    probe_once("small")  # JVM/codegen warm-up, untimed
    times = {"small": [], "big": []}
    for _ in range(3):  # interleaved: storms hit both corpora alike
        times["small"].append(probe_once("small"))
        times["big"].append(probe_once("big"))
    t_small, t_big = min(times["small"]), min(times["big"])
    assert t_big <= 4 * t_small, (
        f"probe cost grew with corpus size: small={times['small']} "
        f"big={times['big']} — the O(batch) posture is broken"
    )


# ---------------------------------------------------------------------------
# The stored rep space: a bitmap-route version carries the corpus's
# carriers (mask words on their signature rows) and its vocab, so a
# probe tokenizes and bands only the batch.
# ---------------------------------------------------------------------------


def test_bitmap_route_probe_never_reads_the_corpus(spark, tmp_path):
    """A probe against a bitmap-route version answers from the stored
    rep space alone: handed a corpus whose text raises when read, it
    returns exactly the rows of a probe handed the real corpus."""
    newdocs, corpus = _split(spark)
    idx = BandSignatureIndex(str(tmp_path / "idx"))
    idx.build(corpus)
    assert idx.table.entry()["route"] == "bitmap"
    poisoned = corpus.withColumn(
        "text", F.raise_error(F.lit("the probe read the corpus text"))
    )
    want = _rows(idx.probe(newdocs, corpus))
    assert any(v == "near" for _d, v, _m in want)  # not vacuous
    assert _rows(idx.probe(newdocs, poisoned)) == want


def test_out_of_vocab_batch_tokens_verify_exactly(spark, tmp_path):
    """Batch docs made of a corpus doc's tokens plus tokens the corpus
    never saw sit just above (k = n // 4 new tokens, J >= 0.8) and just
    below (k = n // 4 + 1, J < 0.8) the threshold against their source.
    The new tokens set no bit of the stored masks but count in the
    batch doc's size, so the verdicts must equal an exact Jaccard
    reference over the same stored candidates."""
    _newdocs, corpus = _split(spark)
    idx = BandSignatureIndex(str(tmp_path / "idx"))
    idx.build(corpus)
    assert idx.table.entry()["route"] == "bitmap"
    texts = {r.doc_id: r.text for r in corpus.collect()}
    vocab = {t for text in texts.values() for t in text.split(" ")}
    sources = [d for d in sorted(texts) if len(set(texts[d].split(" "))) >= 8][:40]
    rows = []
    for i, d in enumerate(sources):
        n = len(set(texts[d].split(" ")))
        for side, k in ((0, n // 4), (1, n // 4 + 1)):
            new = [f"oov{i}x{side}x{j}" for j in range(k)]
            assert not set(new) & vocab
            rows.append((10_000_000 + 2 * i + side, " ".join([texts[d], *new])))
    batch = spark.createDataFrame(rows, "doc_id bigint, text string")

    index = {}
    for r in idx.signatures(spark).collect():
        index.setdefault(r.sig, set()).add(r.doc_id)
    n_hashes, bands = idx.params()
    cands = {}
    for r in _band_signatures(_tokens(batch), n_hashes, bands).collect():
        cands.setdefault(r.doc_id, set()).update(index.get(r.sig, ()))
    want = []
    for d, text in rows:
        a = set(text.split(" "))
        hits = [
            c
            for c in cands.get(d, ())
            if len(a & set(texts[c].split(" ")))
            / len(a | set(texts[c].split(" ")))
            >= 0.8
        ]
        m = min(hits) if hits else None
        want.append((d, "near" if m is not None else "unique", m))
    # not vacuous: an above-threshold doc matches its source, and a
    # below-threshold doc collides with its source but is rejected
    src = {10_000_000 + 2 * i + s: d for i, d in enumerate(sources) for s in (0, 1)}
    assert any(m == src[d] for d, _v, m in want if d % 2 == 0)
    assert any(
        src[d] in cands.get(d, ()) and m != src[d] for d, _v, m in want if d % 2
    )
    assert _rows(idx.probe(batch, corpus)) == sorted(want)


def test_legacy_version_probes_on_the_open_route(spark, tmp_path, monkeypatch):
    """A version published before the rep space was stored (two-column
    signatures plus n_hashes/bands only) has no carriers to verify
    against: it probes on the token-join route, with exactly the rows
    of a freshly built index."""
    from data_lake_staging_engine_spark.operators import llmops

    newdocs, corpus = _split(spark)
    fresh = BandSignatureIndex(str(tmp_path / "fresh"))
    fresh.build(corpus)
    legacy = BandSignatureIndex(str(tmp_path / "legacy"))
    legacy.table.publish(
        _two_column_signatures(_tokens(corpus)), extra={"n_hashes": 16, "bands": 4}
    )
    calls = []
    verify = llmops._verify_pairs_token_join

    def spy(*a, **kw):
        calls.append(1)
        return verify(*a, **kw)

    monkeypatch.setattr(llmops, "_verify_pairs_token_join", spy)
    want = _rows(fresh.probe(newdocs, corpus))
    assert not calls, "a fresh bitmap-route version took the token join"
    assert _rows(legacy.probe(newdocs, corpus)) == want
    assert calls, "the legacy version did not take the token-join route"


def test_warm_probe_job_budget(spark, sf_dir, tmp_path):
    """A warm probe of a bitmap-route version at sf0.01 runs at most 12
    Spark jobs: it bands and masks the batch in one aggregate and
    verifies in one scan of the stored carriers.  Re-deriving the rep
    space from the corpus text took 28."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    newdocs = d.filter(F.col("doc_id") % 7 == 0)
    corpus = d.filter(F.col("doc_id") % 7 != 0)
    idx = BandSignatureIndex(str(tmp_path / "idx"), spark)
    idx.build(corpus)
    idx.probe(newdocs, corpus).collect()  # warm
    sc = spark.sparkContext
    sc.setJobGroup("warm_band_probe", "warm band probe")
    try:
        idx.probe(newdocs, corpus).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("warm_band_probe")
    assert 0 < len(jobs) <= 12, len(jobs)


def test_g32_without_index_root_leaves_no_index_dir(spark):
    """g32 without ``index_root`` builds its index in a temp store; it
    returns a checkpointed answer and removes the store, so calls leave
    no ``dlse_bandidx_*`` dir behind."""
    import tempfile

    from data_lake_staging_engine_spark.operators.llmops import (
        g32_dedup_band_probe,
    )

    def leftovers():
        return {
            n
            for n in os.listdir(tempfile.gettempdir())
            if n.startswith("dlse_bandidx_")
        }

    before = leftovers()
    for _ in range(2):
        rows = g32_dedup_band_probe(spark, _SF).collect()
        assert rows
    assert leftovers() == before


def test_two_column_bitmap_version_probes_like_a_fresh_one(spark, tmp_path):
    """A bitmap-route version published in the two-column (doc_id,
    band, sig) layout — carrier mask words on its rows, its vocab
    sidecar — reads back with the fresh version's one-column keys and
    answers a probe from its stored rep space (a corpus whose text
    raises is never read) with exactly the fresh version's rows.  The
    open route is pinned by the legacy test above."""
    from data_lake_staging_engine_spark.operators.llmops import (
        _VOCAB_SIDECAR,
        _ddl,
    )

    newdocs, corpus = _split(spark)
    fresh = BandSignatureIndex(str(tmp_path / "fresh"))
    fresh.build(corpus)
    entry = fresh.table.entry()
    assert entry["route"] == "bitmap"
    want = _rows(fresh.probe(newdocs, corpus))
    assert any(v == "near" for _d, v, _m in want)  # not vacuous

    stored = spark.read.schema(entry["schema"]).parquet(entry["path"])
    words = stored.drop("sig").dropDuplicates(["doc_id"])
    old = _two_column_signatures(_tokens(corpus)).join(words, "doc_id")
    legacy = BandSignatureIndex(str(tmp_path / "legacy"))
    legacy.table.publish(
        old,
        extra={
            **{k: entry[k] for k in ("n_hashes", "bands", "route", "vocab_n", "carriers")},
            "schema": _ddl(old.schema),
        },
        sidecars={
            _VOCAB_SIDECAR: spark.read.parquet(
                os.path.join(entry["path"], _VOCAB_SIDECAR)
            )
        },
    )
    assert "band" in legacy.table.entry()["schema"]
    assert sorted(legacy.signatures(spark).collect()) == sorted(
        fresh.signatures(spark).collect()
    )
    poisoned = corpus.withColumn(
        "text", F.raise_error(F.lit("the probe read the corpus text"))
    )
    assert _rows(legacy.probe(newdocs, poisoned)) == want
