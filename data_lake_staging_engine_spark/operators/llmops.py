"""§2.G LLM-training-data pipeline operators (mandated additions).

Dedup (exact digest, token/3-gram Jaccard, MinHash-LSH, SimHash),
vector similarity search (brute-force threshold, exact top-k,
hyperplane-LSH, IVF), text analysis (tokenize/BPE counts/wordcount/
TF-IDF/quality/lang-id/fingerprint), contamination reporting,
multimodal column plumbing, and an iterative k-means representative.

Scale design notes:
- Exact dedup: hash-groupBy — one shuffle on the digest; digests are
  uniform so no skew.
- Exact near-dup: one strategy pick (`_bitmap_vocab`).  Small/
  saturated universes (vocab <= 4096) share ONE mask-group core,
  `_mask_groups`: multi-word token bitmaps, one checkpointed min-doc_id
  representative per DISTINCT set, and the single popcount Jaccard
  that every candidate generator (all-pairs, prefix join, MinHash
  banding, the g32 band-index probe) is verified with.  The band index
  is built once with its corpus's rep space (the same token ids and
  min-doc_id carriers, stored with the signatures), and
  `BandSignatureIndex.probe` is its one probe route: it reads one
  manifest entry for the stored version and the parameters the batch
  is banded with, tokenizes only the batch, and verifies inside its
  band join against the stored carriers, so its candidates
  never form a frame of their own.  Open universes use the
  AllPairs-style prefix-filtered token join; both exact routes share
  one PPJoin filter (`_prefix_rows`, `_prefix_side`, `_prefix_keep`).
  Every banding or LSH join keys on one long (`_band_key`; g02c and
  g03c pack their key index above the chunk).  Pair consumers call
  `_jaccard_pairs`; rep-space consumers (g26, g30) call
  `_near_rep_pairs`, which on open vocabularies returns the lazy
  token-join doc pairs and no group map.
- Broadcast vs shuffle: every size-gated join of the dedup family asks
  `_fits_broadcast` (observed rows x `row_bytes` of the broadcast side
  against one `_BROADCAST_BYTES`); sides bounded by construction (the
  all-pairs reps, batch-sized sides) are broadcast unconditionally.
- Similarity: one vector core.  `_norm` and `_with_cos` (one dot per
  pair over norms precomputed per vector, zero norm => NULL cosine)
  score every cosine query; `_unit_vectors` (drop zero-norm/NULL,
  normalize, count, checkpoint), `_digest_seeds` (the k md5-first
  vectors) and `_mean_vectors` (per-key mean vector) build the
  codebooks; `_ivf_codebook` + `_ivf_top_lists` are the one
  nearest-centroid assignment (one broadcast codebook row, top lists
  by a caller-given score: cosine for g03e/g28, `_l2_score` for
  g13).  Brute force (g03/g03b/g03d) is O(Q*N) with Q broadcast;
  the scale paths are hyperplane-LSH blocking (g03c) and IVF inverted
  lists (g03e, g28).
- All cosine math uses zip_with + a sequential left-fold (aggregate) so
  per-pair results are bit-deterministic across engines and runs.
"""

from __future__ import annotations

import itertools
import math
import os
import warnings
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

from data_lake_staging_engine_spark.functions.determinism import as_long, dec_sum, duck_round
from data_lake_staging_engine_spark.registry import query
from data_lake_staging_engine_spark.session import (
    _n_shuffle_parts,
    local_checkpoint_rdd,
    release_local_checkpoint,
)
from data_lake_staging_engine_spark.sources import load


def _spread_docs(df: DataFrame) -> DataFrame:
    """Spread a narrow document scan to the cluster's parallelism
    before per-doc CPU-heavy lineage (shingling, mask builds, strategy
    probes) — scale-adaptively, never as a constant.

    A small corpus reads as FEWER input splits than cores (the sf0.1
    fixture is one ~15 MB parquet file = ONE task), so every stage
    that pipelines into the scan — the char-split gram explode, the
    vocab distinct's partial aggregate, the bitmap build's partial
    bit_or — runs serially while the rest of the machine idles
    (measured at sf0.1: the g02d probe+vocab+mask chain was 21 s of
    single-task work; spread, the same chain is 4.5 s).  The exchange
    this inserts is one pass over the RAW doc frame (15 MB there) —
    trivially cheaper than serializing the explode work behind it.

    At scale the gate makes it a provable no-op: a corpus with >=
    defaultParallelism input splits (any real table, let alone 100 TB)
    returns unchanged, so no corpus-sized shuffle is ever introduced —
    this adapts partitioning to the input instead of tuning a constant
    for either local mode or the cluster (optimization guide §2).

    Applied ONLY to the gram-shingle entries (g02d/g02e): the char-
    split explode is ~10x the per-row cost of a word split, so the
    serial scan task is the measured bottleneck there (interleaved
    sf0.1 A/B: g02d 7.2 -> 4.5 s).  On word-token lineage the explode
    is cheap and the extra exchange re-executed by every job that
    re-reads the doc frame LOSES ~1 s at sf0.1 (g02 interleaved A/B:
    2.8-5.8 plain vs 3.5-6.6 spread) and is a wash for g02b/g07 —
    measured round 16, kept out there."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _tokens_raw(df: DataFrame) -> DataFrame:
    """(doc_id, tok) token stream WITH duplicates — whitespace split.
    The cheap pre-distinct lineage: strategy probes sketch this (HLL is
    multiplicity-blind), so probing never pays the distinct shuffle."""
    return df.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))


def _gram_arrays(df: DataFrame) -> DataFrame:
    """(doc_id, grams): the char-3-gram array per document, LINEAR in
    document length.

    The text is split into a codepoint array ONCE per row (a projected
    column, so the split cannot be re-evaluated inside the lambda);
    each gram is then three O(1) element_at lookups + concat. The
    direct ``transform(sequence(1, n-2), i -> substr(text, i, 3))``
    alternative is QUADRATIC in document length — UTF8String.substring
    seeks codepoints from the string start, measured at 494 s for ten
    96k-char documents (round-9 giant-document audit) vs ~2 s for this
    shape. Gram values are identical (both are codepoint-indexed,
    multi-byte included)."""
    with_chars = df.select("doc_id", F.split("text", "").alias("_chars"))
    positions = F.when(
        F.size("_chars") >= 3, F.sequence(F.lit(1), F.size("_chars") - 2)
    ).otherwise(F.array().cast("array<int>"))
    gram = lambda i: F.concat(
        F.element_at(F.col("_chars"), i),
        F.element_at(F.col("_chars"), i + 1),
        F.element_at(F.col("_chars"), i + 2),
    )
    return with_chars.select(
        "doc_id", F.transform(positions, gram).alias("grams")
    )


def _explode_grams(grams_df: DataFrame, col) -> DataFrame:
    """explode_OUTER + isNotNull, deliberately NOT a plain explode:
    Catalyst's InferFiltersFromGenerate would add a ``size(col) > 0``
    filter below the gram projection, and predicate pushdown then
    SUBSTITUTES the whole transform into that filter — with the
    ``split(text, '')`` re-evaluated PER LAMBDA ELEMENT, turning the
    filter alone into O(n^2) regex splits of the document (ten 96k-char
    documents never finished; round-9 giant-document audit).
    explode_outer is outside that rule's scope; the NULL row it emits
    for an empty/NULL gram array is removed by a filter on the
    GENERATE OUTPUT attribute, which cannot be pushed below it. Gram
    elements are never NULL (concat of in-bounds element_at), so the
    isNotNull filter removes exactly the empty-array marker rows."""
    return grams_df.select(
        "doc_id", F.explode_outer(col).alias("tok")
    ).filter(F.col("tok").isNotNull())


def _shingles_raw(df: DataFrame) -> DataFrame:
    """(doc_id, tok) character 3-gram stream WITH duplicates — the
    cheap pre-distinct lineage for strategy probes (mirror of
    ``_tokens_raw`` for the shingler)."""
    return _explode_grams(_gram_arrays(df), F.col("grams"))


def _shingles(df: DataFrame) -> DataFrame:
    """(doc_id, tok) distinct per-doc character 3-gram sets.

    Like ``_tokens``, dedup is per-doc inside the row (array_distinct,
    then explode) — zero exchange, versus the global ``.distinct()``
    shuffle of the full exploded shingle stream (~250 rows per doc) it
    replaces."""
    return _explode_grams(_gram_arrays(df), F.array_distinct("grams"))


def _tokens(df: DataFrame) -> DataFrame:
    """(doc_id, tok) distinct token sets — whitespace tokenization.

    Dedup happens PER DOC inside the row (``array_distinct`` before the
    explode), not as a global ``.distinct()`` over the exploded stream:
    identical (doc_id, tok) set, but a narrow map instead of a
    full-stream shuffle — the difference between O(corpus) exchange and
    zero exchange at 100 TB."""
    return df.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------

_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def portable_casefold(col: Column) -> Column:
    """ASCII-only case fold — the cross-SYSTEM portable digest
    normalization (VERDICT r10 #4 remediation for the pinned casefold
    divergence).

    ``lower()`` applies each engine's Unicode case mapping, and the
    one-to-MANY foldings differ by implementation: the JVM lowers
    U+0130 ('İ') to 'i' + U+0307 while DuckDB's simple mapping yields
    'i' — so an md5 over ``lower(text)`` computed here will not match
    one computed by a non-JVM system on any text carrying that class
    (pinned in tests/test_text_hostile.py).  ``translate`` is a strict
    per-codepoint 1:1 map on every engine, so folding ONLY the ASCII
    range has no locale-, version-, or implementation-dependent
    behavior.  The contract is therefore: ASCII case-insensitive,
    non-ASCII case-SENSITIVE — two docs differing only in non-ASCII
    case stay distinct, which is the predictable trade for digests
    that must match across JVM/DuckDB/Python/Rust pipelines."""
    return F.translate(col, _ASCII_UPPER, _ASCII_LOWER)


#: DuckDB/ANSI mirror of :func:`portable_casefold` — format with the
#: column expression (oracle parity: tests/test_text_hostile.py).
PORTABLE_CASEFOLD_SQL = (
    f"translate({{col}}, '{_ASCII_UPPER}', '{_ASCII_LOWER}')"
)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """The operator behind g01, parameterized: keep the lowest-id doc
    per normalized-text md5.  ``portable=True`` opts into
    :func:`portable_casefold` normalization instead of ``lower()``,
    for digests that must byte-match ones produced by non-JVM
    systems."""
    norm = F.trim(F.col(text_col))
    norm = portable_casefold(norm) if portable else F.lower(norm)
    digest = F.md5(norm)
    w = Window.partitionBy("digest").orderBy(id_col)
    return (
        df.select(id_col, digest.alias("digest"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@query(
    "g01_dedup_exact",
    oracle="""
    SELECT doc_id, md5(lower(trim(text))) AS digest
    FROM documents
    QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(text)))
                               ORDER BY doc_id) = 1
    """,
)
def g01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized-text md5, keep lowest doc_id.

    100 TB: digest groupBy shuffles only (digest, doc_id) pairs, not the
    text; xxhash64 would be cheaper still but md5 is cross-engine.
    For digests that must ALSO match ones computed outside the JVM, use
    ``exact_dedup(d, portable=True)`` — see :func:`portable_casefold`
    for the one-to-many casefold divergence it sidesteps."""
    d = load(spark, sf_dir, "documents")
    return exact_dedup(d)


@query(
    "g02_dedup_near",
    oracle="""
    WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
                   FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
    SELECT d1, d2,
           ROUND(shared * 1.0 / (s1.n + s2.n - shared), 6) AS jaccard
    FROM pairs
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE shared * 1.0 / (s1.n + s2.n - shared) >= 0.8
    """,
)
def g02_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact token-set Jaccard >= 0.8.

    Exact correctness anchor for g02b's MinHash-LSH. Routed through
    ``_jaccard_pairs``: small universes (vocab <= 4096) take the
    multi-word bitmap strategy (popcount arithmetic over distinct
    bitmaps, pure codegen), open universes take the prefix-filtered
    token join. Both paths compute shared/union on exact ints then one
    double divide, so results are bit-identical to the DuckDB oracle;
    see the strategy docstrings below for the scale analysis."""
    d = load(spark, sf_dir, "documents")
    return _jaccard_pairs(_tokens(d), threshold=0.8, probe=_tokens_raw(d))


# Universe-size cutoff for the bitmap strategy: above this the packed
# masks get wide (64 longs = 512 B/doc at 4096) and the per-candidate
# popcount verify stops paying for itself — fall back to the
# prefix-filtered token join.  4096 (round 12, up from 1024) keeps
# (see also _ALLPAIRS_MAX_REPS below for the within-bitmap-path pick)
# SATURATED dense universes — e.g. char-3-gram corpora, whose gram
# vocabulary stops growing long before the corpus does — on the bitmap
# path at any corpus size; the token-join path is then only ever
# selected for genuinely OPEN vocabularies, which are Zipfian in
# practice and exactly where prefix filtering is effective (a dense
# universe defeats the prefix filter: every token is frequent, so the
# 10x scaling study's replicated corpus OOMed the token join in its
# candidate aggregate — BASELINE.md r12).
_BITMAP_MAX_VOCAB = 4096

# Within the bitmap path: up to this many DISTINCT token sets, verify
# by the brute all-pairs popcount theta-join (one tight broadcast-NLJ
# codegen loop, <= 67M comparisons, no shuffle — measured 2.6 s at
# sf0.1's 3,935 sets); above it, prefix-filtered candidates (linear in
# corpus growth; the all-pairs form is quadratic in distinct sets and
# hit 78 s at the 10x study's 39,350 — BASELINE.md r12).
_ALLPAIRS_MAX_REPS = 8192

# Collision budget for the prefix-filtered branch (VERDICT r12 #6): a
# SATURATED dense universe defeats prefix filtering — every token is
# frequent, so the predicted collision volume (sum over prefix tokens
# of C(df, 2), an exact plan-time prediction of the equi-join's output)
# goes quadratic in distinct sets.  When the prediction exceeds
# max(ABS, PER_REP * n_reps), exact J>=t verification is provably the
# slow path (no subquadratic exact candidate set exists there) and
# candidate generation routes to MinHash banding (the g02b/g02e
# machinery) with the same exact popcount verify: precision stays 1,
# recall becomes the banding curve (~0.88 at J=0.8 with 4x4 bands).
# Calibration (round-12 10x study, re-measured round 13): the HONEST
# 10x corpus predicts 239M collisions over 39,350 reps = ~6.1k/rep —
# linear growth, stays exact; the DEGENERATE duplicate-storm gram
# corpus predicts 1.84G over ~50k reps = ~37k/rep — routes.  16,384
# sits between with ~2.7x margin each way; the 64M absolute floor
# keeps small corpora exact even when proportionally dense (a 64M-row
# collision verify is seconds of codegen popcount work, cheaper than
# banding's extra corpus aggregate).
_DEGENERATE_ABS_COLLISIONS = 64_000_000
_DEGENERATE_COLLISIONS_PER_REP = 16_384

# The one broadcast budget of the dedup family, in UnsafeRow bytes of
# the shipped side (``_fits_broadcast``).  100 MB is the bound the
# most-measured of the per-site gates it replaces was tuned at (the
# prefix collision join, round 16, 10x replica); the largest side any
# site ships at that replica is 14.8 MB, so no decision at sf0.01,
# sf0.1 or 10x depends on the exact value.  The hash relation built
# from a side measured 1.6-2.7x its estimate (page rounding; the
# single-long banding keys at sf0.1: 2.4x for g03c's 2.3 MB side, 2.7x
# for g02c's 4.5 MB, with a ~1 MB floor under small sides — the
# two-column keys they replace built 64-68 MB whatever the side), so
# a side at the budget holds up to ~270 MB of heap.
_BROADCAST_BYTES = 100 * 1024 * 1024


def row_bytes(schema: StructType, array_len: int = 0) -> int:
    """Bytes of one ``schema`` row in Spark's UnsafeRow layout, the form
    a broadcast hash relation stores: the null-bitset words and 8 B per
    field, plus per array column its length word, its element
    null-bitset words and 8 B per element at ``array_len`` elements.
    The broadcast sides here hold only numbers and g21's one
    ``array<double>``, so no other variable-width type is modelled."""

    def words(n: int) -> int:
        return 8 * ((n + 63) // 64)

    width = words(len(schema)) + 8 * len(schema)
    for field in schema:
        if isinstance(field.dataType, ArrayType):
            width += 8 + words(array_len) + 8 * array_len
    return width


def _fits_broadcast(df: DataFrame, n_rows: int, array_len: int = 0) -> bool:
    """The broadcast-vs-shuffle rule of every size-gated join here:
    ``n_rows`` (a count the caller already observed, so no job runs)
    times ``row_bytes`` of the frame actually broadcast must fit
    ``_BROADCAST_BYTES``."""
    return n_rows * row_bytes(df.schema, array_len) <= _BROADCAST_BYTES


# fraction of documents fed to the strategy-probe sketch: keep docs
# whose doc_id digest starts below this hex char (1/16). Digest
# sampling is representative REGARDLESS of physical layout — a plain
# global LIMIT drains only the first partition(s), so clustered/sorted
# input under-represents vocabulary diversity (ADVICE r02)
_PROBE_DOC_FRACTION_HEX = "1"


def _probe_doc_sample(probe_src: DataFrame) -> DataFrame:
    """Deterministic ~1/16 Bernoulli sample of the token stream by
    doc_id digest (the b34/g19 systematic-sample rule).

    Layout-independent where a LIMIT is not, and pure JVM codegen. The
    doc_id-only predicate pushes below the tokenizing explode, so the
    probe's CPU is ~6% of the tokenize cost; IO is one column-pruned
    pass — dwarfed by the strategy the probe selects, which scans the
    same stream at least once more."""
    return probe_src.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        < _PROBE_DOC_FRACTION_HEX
    ).select("tok")


def _bitmap_vocab(
    toks: DataFrame, probe: DataFrame | None = None
) -> tuple[DataFrame, int] | None:
    """(materialized (tok, tok_id) vocab, exact size) IF the universe
    is provably small enough for the bitmap strategy, else None (take
    the token-join path).

    Two-stage probe, neither stage a full-corpus shuffle (the exact
    global ``distinct().count()`` probe this replaces costs more at
    100 TB than the plan it selects — ADVICE r01):

    1. ``approx_count_distinct`` HLL sketch over a digest-sampled ~1/16
       of documents (representative regardless of partition layout —
       not a global LIMIT that drains only partition 0). A sample's
       vocabulary is a SUBSET of the full one, so "sample already
       exceeds the cutoff" soundly proves "open vocabulary" — and HLL
       is multiplicity-blind, so doc-level sampling is sound. ``probe``
       lets callers pass the cheapest covering lineage (the
       pre-distinct token stream).
    2. Only when the sample answers "small" (margin for ~5% rsd) does
       the exact distinct run — LIMIT-capped at cutoff+1 rows and
       eagerly localCheckpointed, so a misprediction can never
       materialize an unbounded set, and the checked vocabulary is
       REUSED by the bitmap build (the full-stream distinct runs once,
       not once to count and once to assign token ids).  The token ids
       (``_vocab_ids``) are assigned inside the same checkpoint job:
       the LIMIT already leaves one partition, so the rank window adds
       no exchange and no job."""
    probe_src = _probe_doc_sample(probe if probe is not None else toks)
    approx_n = int(
        probe_src.agg(F.approx_count_distinct("tok").alias("n")).first()[0]
    )
    if approx_n > _BITMAP_MAX_VOCAB * 1.15:
        return None
    # The exact size rides the checkpoint job as an observed metric
    # (round 17, the _mask_groups template): the separate
    # vocab.count() this replaces was one extra job in EVERY
    # strategy-routed dedup invocation — g02/g02d/g02e/g12/g21/g26/
    # g30/g31/g32 all pass through here.  The metric sits at the root
    # of the checkpointed plan, so it counts exactly the checkpointed
    # rows; below the rank window, AQE drops it on an empty corpus
    # (the window over an empty limit is propagated away with it).
    obs = Observation()
    vocab = (
        _vocab_ids(toks.select("tok").distinct().limit(_BITMAP_MAX_VOCAB + 1))
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    vocab_n = int(obs.get["n"] or 0)
    if vocab_n > _BITMAP_MAX_VOCAB:
        return None
    return vocab, vocab_n


def _jaccard_pairs(
    toks: DataFrame,
    threshold: float,
    probe: DataFrame | None = None,
) -> DataFrame:
    """Jaccard>=t pairs with a runtime strategy pick (sketch probe
    + at most one small exact count): small universes go through the
    multi-word-bitmap path, open universes through the prefix-filtered
    token join.

    Exact except on DEGENERATE dense universes: when the bitmap path's
    plan-time collision prediction exceeds ``max(_DEGENERATE_ABS_COLLISIONS,
    _DEGENERATE_COLLISIONS_PER_REP * n_reps)``, candidate generation
    auto-routes to MinHash banding with the same exact verify —
    precision 1, recall the banding curve — and a RuntimeWarning
    documents the switch (VERDICT r12 #6)."""
    hit = _bitmap_vocab(toks, probe=probe)
    if hit is not None:
        vocab, vocab_n = hit
        return _g02_bitmask(toks, vocab_n, threshold, vocab=vocab)
    return _g02_token_join(toks, threshold)


def _near_rep_pairs(
    toks: DataFrame, threshold: float, probe: DataFrame
) -> tuple[DataFrame, DataFrame | None]:
    """(qual, d2r) — qualifying (r1, r2) group pairs and the doc->rep
    map, with the same strategy pick as ``_jaccard_pairs``, for
    consumers that aggregate in rep space (g26's components,
    ``incremental_dedup``'s near layer).  Small universes: the bitmask
    core's pre-expansion output.  Open vocabularies: the token-join
    doc pairs and ``d2r`` None (every doc is its own group), kept lazy
    so a consumer's filters reach the token join (``incremental_dedup``)."""
    hit = _bitmap_vocab(toks, probe=probe)
    if hit is not None:
        vocab, vocab_n = hit
        return _g02_bitmask(toks, vocab_n, threshold, vocab=vocab, expand=False)
    qual = _g02_token_join(toks, threshold).select(
        F.col("d1").alias("r1"), F.col("d2").alias("r2")
    )
    return qual, None


def _doc_bitmaps(
    toks: DataFrame, vocab_n: int, vocab: DataFrame | None = None
) -> tuple[DataFrame, list[str]]:
    """(doc_id, w0..wk) bitmap columns — each doc's token set packed
    into ceil(vocab/64) longs via a broadcast token-id join + bit_or.

    Callers must pre-check the vocabulary via ``_bitmap_vocab`` (and
    should pass its materialized (tok, tok_id) frame through ``vocab``
    so the full-stream distinct is not recomputed here): the guard
    below makes the single-partition ``row_number`` token-id
    assignment provably bounded (<= _BITMAP_MAX_VOCAB rows through one
    task) and caps the plan at ceil(4096/64) = 64 bitmap columns."""
    if vocab_n > _BITMAP_MAX_VOCAB:
        raise ValueError(
            f"bitmap strategy requires vocab <= {_BITMAP_MAX_VOCAB}, got {vocab_n}; "
            "route through _bitmap_vocab / the token-join path"
        )
    if vocab is None:
        vocab = _vocab_ids(toks.select("tok").distinct())
    wcols = _word_cols(vocab_n)
    masks = (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(*_mask_words(wcols))
    )
    return masks, wcols


def _word_cols(vocab_n: int) -> list[str]:
    """The mask word columns w0..wk of a ``vocab_n``-token universe.
    max(1, ...): an EMPTY corpus has vocab_n == 0, which would build
    zero bitmap columns and hit Spark's "exprs should not be empty"
    assert in agg() (round-9 empty-input audit — 8 dedup queries
    crashed).  One all-zero word column is inert: the vocab join
    yields no rows, so masks/pairs are empty frames with the right
    schema and every downstream stage no-ops."""
    return [f"w{w}" for w in range(max(1, (vocab_n + 63) // 64))]


def _vocab_ids(vocab: DataFrame) -> DataFrame:
    """(tok, tok_id): the one token-id assignment every mask uses — the
    rank of the token in the distinct vocab, so a stored vocab and the
    masks built from it agree bit for bit."""
    return vocab.withColumn(
        "tok_id", F.row_number().over(Window.orderBy("tok")) - F.lit(1)
    )


def _mask_words(wcols: list[str]) -> list[Column]:
    """Per-doc ``bit_or`` aggregates packing ``tok_id`` into the
    ``wcols`` words; a NULL ``tok_id`` (a token outside the vocab, on a
    left join) sets no bit."""
    return [
        F.bit_or(
            F.when(
                F.floor(F.col("tok_id") / 64) == w,
                F.expr("shiftleft(1L, CAST(tok_id % 64 AS INT))"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias(c)
        for w, c in enumerate(wcols)
    ]


class _MaskGroups(NamedTuple):
    """Distinct-token-set groups of a bitmap-routed corpus — the rep
    space every exact near-dup route verifies in (``_mask_groups``).

    ``d2r``: (doc_id, w0..wk, rep), eagerly checkpointed; ``reps``: its
    rep rows plus ``n`` (set size by popcount); ``jac``: the exact
    popcount Jaccard between ``a_w*`` and ``b_w*`` mask columns."""

    d2r: DataFrame
    reps: DataFrame
    wcols: list[str]
    n_reps: int
    jac: Column

    def cols(self, side: str) -> list[Column]:
        """The mask words renamed for one side ("a"/"b") of ``jac``."""
        return [F.col(c).alias(f"{side}_{c}") for c in self.wcols]

    def rm(self, side: str) -> DataFrame:
        """(r1, a_w*) or (r2, b_w*): one rep side of the verify."""
        key = "r1" if side == "a" else "r2"
        return self.reps.select(F.col("rep").alias(key), *self.cols(side))


def _mask_groups(
    toks: DataFrame, vocab_n: int, vocab: DataFrame | None = None
) -> _MaskGroups:
    """Stage the doc->representative table once for every bitmap
    route: each distinct mask is identified by the MIN doc_id of its
    docs (an exact, collision-free 8-byte identity — no hash-as-
    identity risk), and mask equality <=> token-set equality because
    the vocab is complete on this branch.

    The eager localCheckpoint replaces recomputations of the tokenize+
    aggregate pipeline by its readers (rep derivation, verify sides,
    both expansion sides): masks are 16+8*ceil(vocab/64) bytes per doc
    vs ~KB of raw text.  n_reps rides the checkpoint job as an
    observed metric (round 16, same mechanism as the components
    convergence probe) instead of a separate reps.count() job, so
    every size gate downstream reads the OBSERVED rep count, never a
    caller-supplied one.  Empty corpus: sum over an empty frame
    observes NULL -> 0."""
    masks, wcols = _doc_bitmaps(toks, vocab_n, vocab=vocab)
    obs_reps = Observation()
    d2r = (
        masks.withColumn(
            "rep", F.min("doc_id").over(Window.partitionBy(*wcols))
        )
        .observe(
            obs_reps,
            F.sum(
                (F.col("doc_id") == F.col("rep")).cast("long")
            ).alias("n_reps"),
        )
        .localCheckpoint(eager=True)
    )
    popcnt = sum((F.bit_count(F.col(c)) for c in wcols), F.lit(0))
    reps = d2r.filter(F.col("doc_id") == F.col("rep")).withColumn("n", popcnt)
    # Verify arithmetic: the OR-union form, deliberately (round 17
    # negative result, recorded so round 18 does not re-try): both
    # "one masked chain + two unary popcount chains" and "sizes as
    # n1/n2 join columns" were built and measured at the 10x replica —
    # the column form sends Catalyst constraint propagation into a
    # driver heap OOM (with the sizes as aliased expressions AND as
    # stored checkpoint columns), and the unary-chain form measured a
    # wash-to-loss interleaved (74.9/77.5 s vs 63.7 s entry): the
    # verify's cost is the 2x ~240 B broadcast-hashtable row fetch per
    # collision, not the bit_count arithmetic, so shrinking the
    # arithmetic moves nothing and the row cut (the size filter in
    # _minhash_lsh_candidates) is the lever that pays.
    shared = sum(
        (F.bit_count(F.col(f"a_{c}").bitwiseAND(F.col(f"b_{c}"))) for c in wcols),
        F.lit(0),
    )
    union = sum(
        (F.bit_count(F.col(f"a_{c}").bitwiseOR(F.col(f"b_{c}"))) for c in wcols),
        F.lit(0),
    )
    n_reps = int(obs_reps.get["n_reps"] or 0)
    return _MaskGroups(d2r, reps, wcols, n_reps, shared * F.lit(1.0) / union)


def _prefix_len(n: Column, threshold: float) -> Column:
    """PPJoin prefix length ``n - ceil(t*n) + 1``: a J >= t pair must
    collide on each side's first that-many tokens of a global order
    (pigeonhole).  The 1e-9 guard keeps float ceil from rounding an
    exact t*n UP (0.55*100 = 55.00000000000001 -> ceil 56 would
    SHORTEN the prefix and silently drop pairs); threshold granularity
    is >> 1e-9, and a too-LONG prefix is always sound."""
    return n - F.ceil(F.lit(threshold) * n - F.lit(1e-9)) + 1


# The one PPJoin candidate filter of both exact routes — the bitmap
# route over (rep, n, tok_id) members, the token join over (doc_id, n,
# tok) — in three pieces: the prefix rows, the two sides of their
# collision join, and the keep predicate over a collision.


def _prefix_rows(mem: DataFrame, key: str, tok: str, threshold: float) -> DataFrame:
    """(key, n, rnk, tok): each (key, n, tok) member's first
    ``_prefix_len`` tokens of the global order, ranked from 1."""
    # Global token order: ascending document frequency over the
    # members, token tiebreak (any total order is sound; rare-first
    # minimizes collisions).
    df_ = mem.groupBy(tok).agg(F.count(F.lit(1)).alias("df"))
    ranked = mem.join(df_, tok).withColumn(
        "rnk",
        F.row_number().over(Window.partitionBy(key).orderBy("df", tok)),
    )
    return ranked.filter(F.col("rnk") <= _prefix_len(F.col("n"), threshold)).select(
        key, "n", "rnk", tok
    )


def _prefix_side(pref: DataFrame, key: str, tok: str, i: str, masks=()) -> DataFrame:
    """Side ``p{i}`` of the collision join: (r{i}, n{i}, i{i}, tok, *masks)."""
    return pref.select(
        F.col(key).alias(f"r{i}"),
        F.col("n").alias(f"n{i}"),
        F.col("rnk").alias(f"i{i}"),
        tok,
        *masks,
    ).alias(f"p{i}")


def _length_ok(n1: Column, n2: Column, threshold: float) -> Column:
    """PPJoin length filter: J >= t forces t*|B| <= |A| <= |B|/t (same
    1e-9 float-ceil guard as the prefix length)."""
    return F.least(n1, n2) >= (F.lit(threshold) * F.greatest(n1, n2) - F.lit(1e-9))


def _prefix_keep(threshold: float) -> Column:
    """The collisions that go on to the verify: r1 < r2, the length
    filter and the positional filter."""
    # PPJoin POSITIONAL filter: a collision at prefix positions
    # (i1, i2) can still reach the required overlap alpha =
    # ceil(t/(1+t)*(n1+n2)) only if 1 + min(n1-i1, n2-i2) >= alpha.
    # Exact: a pair's first common token in the global order is a
    # collision in both prefixes, and every later common token sits
    # after it on both sides.  On the dense-universe shape this kills
    # most of the duplicate collisions (a pair sharing k prefix tokens
    # otherwise flows through the verify k times: 1.84G collision rows
    # vs ~124M viable pairs on the 10x study's gram corpus).
    n1, n2 = F.col("n1"), F.col("n2")
    alpha = F.lit(threshold / (1.0 + threshold)) * (n1 + n2) - F.lit(1e-9)
    pos_ok = (F.least(n1 - F.col("i1"), n2 - F.col("i2")) + 1) >= alpha
    return (F.col("r1") < F.col("r2")) & _length_ok(n1, n2, threshold) & pos_ok


def _g02_bitmask(
    toks: DataFrame,
    vocab_n: int,
    threshold: float,
    vocab: DataFrame | None = None,
    expand: bool = True,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Small-universe bitmap strategy, generalized to multi-word masks.

    Each doc's token set becomes ceil(vocab/64) long columns
    (``bit_or(1 << (tok_id % 64))`` per word); Jaccard is
    ``sum_w bit_count(a_w & b_w) / sum_w bit_count(a_w | b_w)`` — exact
    integer arithmetic in pure whole-stage-codegen expressions.

    Candidate generation is a PREFIX-FILTERED equi-join over one
    REPRESENTATIVE per distinct mask, not an all-pairs theta-join over
    the distinct masks.  The all-pairs form this replaces is quadratic
    in the distinct-token-SET count, which grows LINEARLY under honest
    corpus growth (new sub-corpora bring new vocabulary, hence new
    sets) — the round-12 10x replicated-corpus study measured 2.6 s ->
    78 s (30x on 10x data, 3,935 -> 39,350 distinct sets = 100x
    comparisons).  Prefix filtering (AllPairs/PPJoin pigeonhole: a
    J>=t pair must collide on each side's ``n - ceil(t*n) + 1``
    globally-rarest tokens) makes cross-sub-corpus set pairs — which
    share no token — never become candidates, restoring linear-in-
    corpus growth (23.9M -> 239M candidates, exactly 10x, same study).
    Within one dense sub-corpus the candidate count stays quadratic-ish
    in that sub-corpus's distinct sets — a fixed property of the data,
    not a scaling term.

    Exactness: distinct masks are grouped by ``_mask_groups`` (min-
    doc_id reps, staged once); representative token-id sets are re-
    derived from the mask BITS per row (no corpus rescan, no vocab-wide
    join); candidates are verified with the exact popcount Jaccard;
    same-mask doc pairs are emitted with jaccard 1.0 (identical token
    sets).  Equivalence to the naive token join is pinned by
    tests/test_strategies.py."""
    g = _mask_groups(toks, vocab_n, vocab=vocab)
    n_reps, wcols = g.n_reps, g.wcols
    if n_reps <= _ALLPAIRS_MAX_REPS:
        # Small distinct-set universe: brute all-pairs popcount verify
        # in one broadcast-NLJ codegen loop — no candidate machinery,
        # no shuffle; at most _ALLPAIRS_MAX_REPS^2/2 comparisons.
        qual = g.rm("a").join(
            F.broadcast(g.rm("b")),
            (F.col("r1") < F.col("r2")) & (g.jac >= threshold),
        ).select("r1", "r2", duck_round(g.jac, 6).alias("jaccard"))
        return _expand_mask_pairs(qual, g.d2r) if expand else (qual, g.d2r)
    else:
        # Large universe: prefix-filtered candidates.  (rep, tok_id)
        # membership is enumerated from the mask bits — per-row
        # codegen+HOF work linear in set size, no second corpus scan.
        ids_exprs = ", ".join(
            f"transform(filter(sequence(0, 63), "
            f"b -> (shiftright({c}, b) & 1) = 1), b -> b + {wi * 64})"
            for wi, c in enumerate(wcols)
        )
        mem = g.reps.select(
            "rep",
            "n",
            F.explode(F.expr(f"flatten(array({ids_exprs}))")).alias("tok_id"),
        )

        # Staged once (reps x prefix_len rows — linear, tiny next to
        # the collision stream): read by the collision-budget probe
        # below and by BOTH join sides, instead of re-running the
        # membership window three times.
        obs_pref = Observation()
        pref = (
            _prefix_rows(mem, "rep", "tok_id", threshold)
            .observe(obs_pref, F.count(F.lit(1)).alias("rows"))
            .localCheckpoint(eager=True)
        )
        # Plan-time collision prediction: the prefix equi-join emits
        # EXACTLY sum over prefix tokens of C(df, 2) rows, computable
        # from the (small) pref frame before paying for any of them.
        # A saturated dense universe (every token frequent) is the one
        # shape where exact J>=t is inherently quadratic — route its
        # candidate generation to MinHash banding (VERDICT r12 #6)
        # with the identical exact popcount verify downstream.
        predicted = int(
            pref.groupBy("tok_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.sum(
                    F.col("c") * (F.col("c") - F.lit(1)) / F.lit(2)
                ).alias("s")
            )
            .first()[0]
            or 0
        )
        budget = max(
            _DEGENERATE_ABS_COLLISIONS, _DEGENERATE_COLLISIONS_PER_REP * n_reps
        )
        if predicted > budget:
            warnings.warn(
                f"degenerate dense universe: the exact prefix-filtered "
                f"join would emit ~{predicted:,} collision rows over "
                f"{n_reps:,} distinct token sets (budget {budget:,.0f}); "
                "routing candidate generation to MinHash banding — "
                "precision stays exact (popcount verify), recall is the "
                "banding curve. Set llmops._DEGENERATE_ABS_COLLISIONS to "
                "math.inf for the exact path regardless of cost.",
                RuntimeWarning,
                stacklevel=2,
            )
            cands = _minhash_lsh_candidates(
                mem.select(
                    F.col("rep").alias("doc_id"),
                    F.col("tok_id").alias("tok"),
                ),
                g,
                threshold=threshold,
            ).select(F.col("d1").alias("r1"), F.col("d2").alias("r2"))
            return _finish_bitmask_verify(
                cands, g, threshold, expand=expand,
                rebalance=False,  # banding pre-spreads its probe side
            )
        # Collision-join strategy (round 16, measured on the 10x
        # replica): the prefix frame is usually TINY next to its join
        # OUTPUT (195k rows fanning out to 239M collisions there), so
        # a sort-merge join pays sort+group-buffer cost per collision
        # row — broadcasting one side made the identical count 10.4 s
        # -> 2.2 s.  Two tiers, both decided by ``_fits_broadcast``:
        #   1. masks INLINE: ship the build side WITH its mask words,
        #      so the popcount verify fuses into the collision join —
        #      no rm_a/rm_b probes per collision at all (each probe is
        #      a hash lookup + a ~(8*words)B row copy; at 63.5M
        #      collisions those lookups were the verify's cost).
        #   2. plain BHJ: masks too wide to ship per prefix row (the
        #      gram corpora: ~30 words x ~30 prefix tokens/rep) —
        #      broadcast the bare prefix side and keep the shared
        #      rm-join verify tail.
        # Past both (100 TB posture: prefix frame scales with the
        # corpus), the SMJ shape below stands unchanged.
        #
        # The inline tier pays its mask-widened collision stream back
        # only when the QUALIFIED pair frame is the terminus
        # (expand=False consumers: g26's rep graph, g30's near layer
        # — measured decisive at 10x).  When the doc-pair expansion
        # follows, the narrow rm tables are cache-resident and the
        # rm-probe verify is cheaper than widening 60M+ collision
        # rows — interleaved 10x A/B read a wash-to-slight-loss for
        # inline there, so expanded outputs take the plain-BHJ tier.
        pref_rows = int(obs_pref.get["rows"])  # observed at checkpoint
        p1m = pref.join(g.reps.select("rep", *wcols), "rep")
        inline = not expand and _fits_broadcast(
            _prefix_side(p1m, "rep", "tok_id", "2", g.cols("b")), pref_rows
        )
        src, m1, m2 = (p1m, g.cols("a"), g.cols("b")) if inline else (pref, [], [])
        p2 = _prefix_side(src, "rep", "tok_id", "2", m2)
        bc = _fits_broadcast(p2, pref_rows)
        # Probe-side spread (round 16, second finding): pref is a
        # checkpointed AGGREGATE output small enough for AQE to have
        # coalesced to ONE partition — but the collision join's OUTPUT
        # is the O(sum C(df,2)) collision stream, so on the broadcast
        # tiers (no shuffle of the probe side anywhere downstream) the
        # whole fan-out + fused verify ran serially in that single
        # task: measured at the 10x word corpus, the inline tier's
        # qual stage was 33-44 s on 1 task vs 3-10 s spread over the
        # shuffle-partition count.  Same class and same cure as the
        # banding route's signature spread (_minhash_lsh_candidates);
        # the exchange itself is O(pref) — linear and tiny (195k rows
        # there) next to the collision stream it parallelizes.  Only
        # the PROBE side is spread: the build side is broadcast whole,
        # so an exchange in its lineage would be pure cost.  The SMJ
        # fallback reshuffles both sides by key anyway, so it keeps
        # the downstream rebalance instead.
        spread = src.repartition(_n_shuffle_parts(toks.sparkSession)) if bc else src
        p1 = _prefix_side(spread, "rep", "tok_id", "1", m1)
        # NO pre-verify distinct: surviving collisions flow through the
        # (map-side) popcount verify once per survivor instead of
        # paying a candidate-stream-sized shuffle — the dedup happens
        # on the far smaller QUALIFIED output.  Measured at sf0.1:
        # candidate distinct 14.2 s -> verify-then-distinct 6.6 s.
        hits = p1.join(
            F.broadcast(p2) if bc else p2,
            F.col("p1.tok_id") == F.col("p2.tok_id"),
        )
        # The length and positional filters drop size-incompatible and
        # late collisions inside the join.
        keep = _prefix_keep(threshold)
        if inline:
            # Fused collision join + popcount verify: the masks ride
            # the rows, qualified pairs dedup after.
            qual = (
                hits.filter(keep & (g.jac >= threshold))
                .select("r1", "r2", duck_round(g.jac, 6).alias("jaccard"))
                .distinct()
            )
            return _expand_mask_pairs(qual, g.d2r) if expand else (qual, g.d2r)
        return _finish_bitmask_verify(
            hits.filter(keep).select("r1", "r2"), g, threshold, expand=expand,
            # a broadcast collision join keeps the stream's task
            # distribution balanced by probe rows, so skip the extra
            # exchange exactly like the banding route does; the SMJ
            # fallback keeps the measured wide-mask rebalance.
            rebalance=not bc,
        )


def _finish_bitmask_verify(
    cands: DataFrame,
    g: _MaskGroups,
    threshold: float,
    expand: bool = True,
    rebalance: bool = True,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Shared verify+expand tail of the bitmap strategy: exact popcount
    verification of (r1, r2) candidate pairs — from the prefix join or
    the degenerate-universe banding route — then representative->doc
    expansion."""
    # The surviving collision stream inherits the upstream join's key
    # partitioning, so one hot key's collision block (up to df^2/2
    # rows) lands in ONE task.  When masks are WIDE the per-collision
    # popcount verify is the dominant cost and that imbalance is a
    # straggler cliff — a round-robin rebalance took the 10x study's
    # gram corpus (30 words) from 1280 s to 513 s.  When masks are
    # NARROW the verify is cheap and the O(collisions) exchange itself
    # dominates — the same rebalance took the word corpus (5 words)
    # from 28 s to 85 s.  Rebalance only when the verify is wide
    # enough to pay for it — and only when the caller has NOT already
    # spread the candidate stream: the banding route round-robins its
    # signature probe side before pair generation (round 16), so its
    # per-task pair output is balanced by construction and the
    # O(collisions) exchange here would be pure cost (``rebalance=
    # False``); the prefix-join route stays key-partitioned and keeps
    # the measured rebalance win.
    if rebalance and len(g.wcols) >= 16:
        cands = cands.repartition(_n_shuffle_parts(cands.sparkSession))
    # The rep tables are tiny next to the candidate stream, but right
    # at Spark's 10 MB default broadcast threshold at the 10x-study
    # scale, where missing the broadcast turns the verify into a
    # sort-merge join that SORTS the full candidate stream (measured:
    # g02d's sf1 verify ran 20+ min as SMJ).  Hint the broadcast
    # explicitly while the table fits; past it let AQE pick (a
    # shuffle join is then genuinely required).
    rm_a, rm_b = g.rm("a"), g.rm("b")
    if _fits_broadcast(rm_a, g.n_reps):
        rm_a, rm_b = F.broadcast(rm_a), F.broadcast(rm_b)
    qual = (
        cands.join(rm_a, "r1")
        .join(rm_b, "r2")
        .filter(g.jac >= threshold)
        .select("r1", "r2", duck_round(g.jac, 6).alias("jaccard"))
        .distinct()
    )
    return _expand_mask_pairs(qual, g.d2r) if expand else (qual, g.d2r)


def _expand_mask_pairs(qual: DataFrame, d2r: DataFrame) -> DataFrame:
    """Expand qualifying representative pairs to doc pairs; reps are
    distinct masks, so the two doc groups are disjoint and
    least/greatest yields d1 < d2 directly.  Docs sharing one mask
    have IDENTICAL token sets: jaccard 1.0.  ``d2r`` is always the
    checkpointed ``_MaskGroups.d2r`` (every caller passes ``g.d2r``),
    so its partition count below is checkpoint metadata, not a re-plan."""
    # Round 17 (guide §2, the r16 probe-side-spread discipline): d2r
    # rides an eager localCheckpoint whose layout froze whatever AQE
    # coalesced its build shuffle to — 1-2 partitions at bench scale
    # (skinny rows) — and the joins below EXPLODE their probe side by
    # the mask-group sizes (2.97M doc pairs at sf0.1 ran in 2 tasks
    # while 30 cores idled; the dominant stage of every expand=True
    # caller).  When the frozen layout is below the cluster's
    # parallelism, spread the pre-explosion sides: one exchange of the
    # SKINNY rep-level rows (d2r is one row per doc, qual one per
    # qualified rep pair) buys full fan-out parallelism.  The gate
    # makes it a provable no-op at scale — a d2r with >= parallelism
    # partitions (any real corpus) passes through untouched, so no
    # corpus-sized shuffle is ever introduced.
    n = _n_shuffle_parts(d2r.sparkSession)
    if d2r.rdd.getNumPartitions() < n:
        qual = qual.repartition(n)
        d2r_spread = d2r.repartition(n)
    else:
        d2r_spread = d2r
    e1 = d2r_spread.select(
        F.col("rep").alias("r1"), F.col("doc_id").alias("da")
    )
    e2 = d2r_spread.select(
        F.col("rep").alias("r2"), F.col("doc_id").alias("db")
    )
    cross = (
        qual.join(e1, "r1")
        .join(e2, "r2")
        .select(
            F.least("da", "db").alias("d1"),
            F.greatest("da", "db").alias("d2"),
            "jaccard",
        )
    )
    g1 = d2r_spread.select("rep", F.col("doc_id").alias("d1")).alias("g1")
    g2 = d2r_spread.select("rep", F.col("doc_id").alias("d2")).alias("g2")
    same = (
        g1.join(g2, F.col("g1.rep") == F.col("g2.rep"))
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", duck_round(F.lit(1.0), 6).alias("jaccard"))
    )
    return cross.unionByName(same)


def _g02_token_join(toks: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Exact set-similarity join with PREFIX FILTERING (the AllPairs/
    PPJoin principle): order tokens by ascending global frequency; a
    pair with Jaccard >= t MUST share a token within each side's first
    ``_prefix_len`` tokens of that order (pigeonhole). Candidate
    pairs therefore come only from collisions on each doc's *rarest*
    ~⌈(1-t)n⌉ tokens — the dense head of the frequency
    distribution never joins. Candidates are then verified with the
    exact |intersection|/|union| count, so the result is identical to
    the naive quadratic join (measured 2.1x over naive even on the
    pathological dense fixture; on real corpora with Zipfian tails the
    prefix tokens are genuinely rare and the win is orders of
    magnitude — fixture-dense universes are instead routed to the
    bitmap path by ``_jaccard_pairs``).

    The PPJoin filter is the bitmap route's (``_prefix_rows``,
    ``_prefix_side``, ``_prefix_keep``): size-incompatible and late
    collisions drop inside the collision join, before the distinct.

    100 TB: shuffle volume is O(docs * prefix_len) on the rare-token
    keys; the verify join is bounded by the candidate count, not the
    corpus square."""
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    pref = _prefix_rows(toks.join(sizes, "doc_id"), "doc_id", "tok", threshold)
    p1, p2 = (_prefix_side(pref, "doc_id", "tok", i) for i in "12")
    cands = (
        p1.join(p2, F.col("p1.tok") == F.col("p2.tok"))
        .filter(_prefix_keep(threshold))
        .select(F.col("r1").alias("d1"), F.col("r2").alias("d2"))
        .distinct()
    )
    return _verify_pairs_token_join(cands, toks, threshold)


def _verify_pairs_token_join(
    cands: DataFrame, toks: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify of candidate (d1, d2) pairs via a
    candidate-bounded token join: cost is O(candidates x doc_len), it
    never touches non-candidate pairs and builds no vocabulary-wide
    structure — the open-vocabulary verify path (any vocab size)."""
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    t1, t2 = toks.alias("t1"), toks.alias("t2")
    pairs = (
        cands.join(t1, F.col("d1") == F.col("t1.doc_id"))
        .join(
            t2,
            (F.col("d2") == F.col("t2.doc_id"))
            & (F.col("t1.tok") == F.col("t2.tok")),
        )
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    jac = F.col("shared") * 1.0 / (F.col("s1.n") + F.col("s2.n") - F.col("shared"))
    return (
        pairs.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .filter(jac >= threshold)
        .select("d1", "d2", duck_round(jac, 6).alias("jaccard"))
    )


@query("g02b_dedup_lsh", oracle=None)  # approximate — rows-only tier
def g02b_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding — the 100 TB near-dup path, and (with
    g02e, its shingle twin) the RECALL-SAFE DEFAULT among the
    approximate dedup operators: measured recall 0.95-0.96 vs the
    exact anchor, FLAT across a 10x corpus step, with precision 1
    (every emitted pair is exactly verified).  g02c SimHash is the
    cheap candidate GENERATOR by comparison — higher unverified
    candidate volume for Hamming-bounded blocking (see its docstring).

    k=16 hash functions (seeded xxhash64 variants), 4 bands x 4 rows:
    docs sharing any band signature become candidate pairs via an
    equi-join on its one long key (``_band_key``). Candidates are then verified
    with exact Jaccard. Approximate recall => rows-only tier; the exact
    twin g02 carries the hash-match burden (SURVEY.md §7 hard-list #6).

    Scale: shuffle volume is O(docs * bands), never quadratic; band
    buckets are the only join keys. Skewed buckets (ultra-common
    signatures) are handled by AQE skew split.

    OUTPUT-size note (round-8 scaling study): the PAIR list itself is
    inherently quadratic in duplicate-cluster size — a cluster of m
    near-identical docs emits m(m-1)/2 pairs, so the fixtures' ~97x
    pair growth from sf0.01 to sf0.1 (29k -> 2.8M rows in ~7.6x the
    wall-clock, i.e. SUBLINEAR per output row) is the semantics, not
    the plan. A 100 TB pipeline that only needs representatives should
    consume g26 (cluster -> keep-min) instead of materializing pairs.
    """
    d = load(spark, sf_dir, "documents")
    return _minhash_lsh_neardup(_tokens(d), probe=_tokens_raw(d))


def _band_key(band: Column, sig: Column) -> Column:
    """The one blocking key of a band bucket: a long hash of the band
    number and that band's signature."""
    # Every banding join keys on this single long, so Spark builds a
    # long-keyed hash relation instead of the page-sized one a
    # two-column key gets.  Two buckets share a key only if two
    # distinct (band, sig) pairs hash alike: about n^2 * bands^2 / 2^64
    # over n docs.
    return F.xxhash64(band.cast("int"), sig)


def _band_signatures(
    toks: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    per_doc: tuple[Column, ...] = (),
) -> DataFrame:
    """(doc_id, sig) MinHash band signatures over any (doc_id, tok) set
    stream, one row per band, ``sig`` the band's ``_band_key`` — the
    unit the banding family joins on, and the thing a production
    signature STORE persists (g32 probes new batches against exactly
    this frame).  One corpus scan, one agg shuffle (see the explode
    note below).  ``per_doc``: aliased aggregates over the same stream
    computed in that one groupBy and carried on every band row (the
    band-index probe's mask words)."""
    rows_per_band = n_hashes // bands
    # minhash_i(doc) = min over tokens of hash_i(tok). Hash the (cheap
    # to re-read, expensive to hash) string ONCE per row, then derive
    # the k seeded variants by hashing the 64-bit value with the seed —
    # k long-hashes cost far less than k string-hashes and are equally
    # uniform (xxhash64 avalanches)
    hashed = toks.withColumn("h0", F.xxhash64("tok"))
    minhashes = hashed.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.col("h0"), F.lit(i))).alias(f"h{i}")
            for i in range(n_hashes)
        ],
        *per_doc,
    )
    # band signature = hash of the band's rows, keyed with its band
    # number. Emitted as ONE explode over an array of the per-band keys
    # rather than a union of per-band selects: a union re-derives the
    # minhash aggregate per band, which at plan level means re-scanning
    # and re-aggregating the corpus ONCE PER BAND (round-7 PLANS.md
    # audit: 8 documents scans, 11 shuffles for g02b). The array form
    # computes signatures in the same single projection the aggregate
    # feeds — one corpus scan, one agg shuffle.
    h = [F.col(f"h{i}") for i in range(n_hashes)]
    band_keys = [
        _band_key(F.lit(b), F.xxhash64(*h[b * rows_per_band:(b + 1) * rows_per_band]))
        for b in range(bands)
    ]
    return minhashes.select(
        "doc_id",
        F.explode(F.array(*band_keys)).alias("sig"),
        *minhashes.columns[1 + n_hashes:],
    )


def _minhash_lsh_candidates(
    toks: DataFrame,
    g: _MaskGroups | None = None,
    *,
    threshold: float,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """MinHash banding candidate generation over any (doc_id, tok) set
    stream: docs sharing any band signature (``_band_signatures``)
    become a candidate (d1 < d2) pair via an equi-join on its one
    long key.
    Shuffle volume O(docs * bands).  ``threshold`` is the caller's
    verify cut; it prunes here only with ``g`` (the length filter).

    With mask groups ``g`` the stream is in rep space (doc_id = rep)
    and the pre-verify pair dedup is skipped: a pair colliding in k
    bands then flows through the popcount verify k <= ``bands`` times
    instead of paying a candidate-stream-sized shuffle.  Sound because
    ``_finish_bitmask_verify`` filters per row and ends in distinct;
    the token-join verify (``g`` None) COUNTS rows per pair
    (``_verify_pairs_token_join``), so duplicates would inflate its
    shared-token count — it keeps the distinct.  Round 16:
    on the 10x gram corpus the banding route emitted 24.4M distinct
    candidates for 2,560 true pairs (a tiny Zipfian 3-gram universe
    gives unrelated docs J~0.3, and 4x4 banding passes ~3% of ALL
    pairs), so the pre-verify distinct WAS the dominant stage.

    The probe side is explicitly re-spread before the join (round-16
    finding): the signature frame is an AGGREGATE output small enough
    (n_docs x bands rows) for AQE's partition coalescing to collapse
    to ONE partition — but the join's OUTPUT is pair-quadratic per
    bucket, so that single partition made candidate generation AND
    everything fused after it (the popcount verify) run serially
    (measured: 28.1M pairs verified on 1 task = 140-317 s; spread,
    the identical fused verify is ~8 s).  Round-robin beats
    partition-by-sig here: a hot bucket's rows spread evenly,
    so per-task pair output balances by construction instead of
    concentrating a b^2/2 block in one task."""
    sigs = _band_signatures(toks, n_hashes=n_hashes, bands=bands)
    # PPJoin LENGTH filter inside the collision join (round 17,
    # VERDICT r16 #4): with mask groups each rep's exact set size is
    # known (``reps.n``, a popcount), so ``_length_ok``'s
    # size-incompatible collisions drop
    # BEFORE the downstream verify ever fetches their ~480 B of mask
    # words from the rm hashtables — which the 10x component profile
    # showed IS the verify's cost (rm joins + popcount filter: 29.6 s
    # of a 38 s tail; the collision join itself: 1.2 s).  Measured at
    # the 10x gram corpus: 30.52M -> 20.78M collision rows (1.47x),
    # evaluated at ~zero cost because n1/n2 ride the signature rows.
    # Exact (pigeonhole on sizes, same 1e-9 float-ceil guard class as
    # the prefix filter): no qualified pair can be dropped.
    if g is not None:
        # one size row per rep: on a mostly-unique corpus n_reps ~=
        # n_docs, so this side is broadcast only while it fits
        sizes = g.reps.select("doc_id", "n")
        if _fits_broadcast(sizes, g.n_reps):
            sizes = F.broadcast(sizes)
        sigs = sigs.join(sizes, "doc_id")
    n_parts = _n_shuffle_parts(toks.sparkSession)
    # Keep the collision join a BHJ when the signature table fits
    # (round 17 regression fix): joining the sizes onto the signature
    # stream above inflates Catalyst's size ESTIMATE (join output =
    # left x right heuristic), so the self-join that auto-broadcast
    # used to pick BHJ for fell back to a sort-merge — two new
    # signature exchanges + sorts on the collision path at bench scale
    # (test_plans caught the 9 -> 11 exchange count).  The exact
    # signature row count is n_reps x bands (n_reps OBSERVED at the
    # groups' checkpoint, no extra job).  Past the budget the
    # estimate-driven SMJ stands (100 TB posture unchanged).
    build = sigs
    if g is not None and _fits_broadcast(sigs, g.n_reps * bands):
        build = F.broadcast(build)
    a, b_ = sigs.repartition(n_parts).alias("a"), build.alias("b")
    cond = (F.col("a.sig") == F.col("b.sig")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    if g is not None:
        cond = cond & _length_ok(F.col("a.n"), F.col("b.n"), threshold)
    pairs = a.join(b_, cond).select(
        F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
    )
    return pairs.distinct() if g is None else pairs


def _minhash_lsh_neardup(toks: DataFrame, probe: DataFrame | None = None) -> DataFrame:
    """Banding candidates + exact-Jaccard verify with the same strategy
    switch as _jaccard_pairs: small universes take packed-bitmap
    popcount, open vocabularies take the candidate-bounded token join
    (a bitmap plan there would need ceil(vocab/64) columns — thousands
    — and die at plan time).

    Round 15: the bitmap branch runs the ENTIRE banding pipeline in
    rep space — band one representative per distinct token set, join
    rep signatures, verify rep pairs, expand to doc pairs at the end
    (the output-sized step, unavoidable).  Sound because band
    signatures are a pure function of the token set and (on this
    branch) mask equality <=> set equality: every doc in a group
    carries identical signature rows, so doc-space banding and
    rep-space banding produce the same qualified groups and the same
    expanded pairs, jaccard values included (same-mask pairs are 1.0
    by identity on both paths).  Template corpora collapse: the 10x
    replica's ~2k-doc identical-text buckets band as ONE rep each
    instead of exploding into millions of self-join rows — the same
    mega-bucket economics as ``_probe_rep_space``, and the same
    rep-space discipline the degenerate route of ``_g02_bitmask``
    already used."""
    hit = _bitmap_vocab(toks, probe=probe)
    if hit is None:
        return _verify_pairs_token_join(
            _minhash_lsh_candidates(toks, threshold=0.8), toks, 0.8
        )
    vocab, vocab_n = hit
    g = _mask_groups(toks, vocab_n, vocab=vocab)
    # Band the RAW tokens of the representatives only — same hash
    # stream as doc-space banding, so candidate groups are identical.
    # The rep-id semi-join side is broadcast only while it fits (ADVICE
    # r15): on a mostly-unique corpus n_reps ~= n_docs, and an
    # unconditional broadcast would ship a corpus-sized id list to
    # every executor.  Past the budget, let AQE pick the join.
    rep_ids = g.reps.select("doc_id")
    if _fits_broadcast(rep_ids, g.n_reps):
        rep_ids = F.broadcast(rep_ids)
    rep_toks = toks.join(rep_ids, "doc_id", "left_semi")
    cands = _minhash_lsh_candidates(rep_toks, g, threshold=0.8).select(
        F.col("d1").alias("r1"), F.col("d2").alias("r2")
    )
    return _finish_bitmask_verify(cands, g, 0.8, rebalance=False)


@query("g02e_dedup_lsh_shingle", oracle=None)  # approximate — rows-only tier
def g02e_dedup_lsh_shingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH over character 3-gram shingles — the scale path for
    g02d's exact shingle Jaccard, exactly as its docstring promises:
    identical banding machinery to g02b with the tokenizer swapped for
    the shingler. Robust to word-boundary edits AND never quadratic:
    candidates come only from band-signature collisions, then the same
    strategy-switched exact verify. Approximate recall => rows-only;
    g02d is the exact twin carrying the hash burden."""
    d = _spread_docs(load(spark, sf_dir, "documents"))
    return _minhash_lsh_neardup(_shingles(d), probe=_shingles_raw(d))


@query("g02c_dedup_simhash", oracle=None)  # approximate — rows-only tier
def g02c_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit signature = sign-sum of per-token hash
    bits; candidate pairs = equal values on any of the 28 two-block
    keys (8 blocks of 8 bits, keys = all C(8,2) block pairs — the
    Manku/Jain/Sarma block-combination blocking).  A pair within
    Hamming distance 6 has at most 6 dirty blocks, so at least one of
    the 28 two-block keys is clean on both sides and the pair is
    GUARANTEED a candidate — vs the previous 4x16 banding whose
    guarantee stopped at distance 3 (measured candidate recall 0.67 vs
    the g02d exact anchor; VERDICT r13 #4).  Each key is still 16
    effective bits, so per-key random collisions are unchanged and the
    random-candidate term grows only by the 28/4 key-count factor.
    Rows-only (approximate family); recall floor pinned in
    tests/test_dedup_recall.py.

    Positioning (measured rounds 14/17, BASELINE.md): recall 0.92
    flat across the ladder.  Round 17 added the Manku VERIFY step —
    ``bit_count(sig1 xor sig2) <= 8`` rides the collision join — so
    the emitted pairs are a principled Hamming-bounded candidate set
    (<= 8, with collisions at 7-8 probabilistic), not raw block
    collisions: candidate volume dropped 4.41M -> 1.52M at sf0.1 and
    the quadratic random term is now bounded by the corpus's true
    Hamming<=8 mass.  Use this as the cheap Hamming-bounded candidate
    GENERATOR feeding an exact verify stage; g02b/g02e (MinHash
    banding, precision 1, recall 0.95-1.0) are the recall-safe
    default dedup scale paths."""
    d = load(spark, sf_dir, "documents")
    # materialize the 64-bit token hash ONCE per (doc, tok) row; the 64
    # per-bit aggregates below then read the same column instead of each
    # re-evaluating xxhash64 (measured 10.8 s -> ~4.5 s warm at sf0.1)
    toks = _tokens(d).withColumn("h", F.xxhash64("tok"))
    # bit b of signature = sign of sum over tokens of (bit set ? +1 : -1)
    bit_cols = [
        F.when(
            F.sum(
                F.when(
                    F.shiftrightunsigned("h", b).bitwiseAND(F.lit(1)) != 0, 1
                ).otherwise(-1)
            )
            > 0,
            F.shiftleft(F.lit(1).cast("long"), b),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias(f"b{b}")
        for b in range(64)
    ]
    sig = toks.groupBy("doc_id").agg(*bit_cols)
    sim = sig.select(
        "doc_id",
        sum([F.col(f"b{b}") for b in range(64)], F.lit(0).cast("long")).alias("simhash"),
    )
    # One explode over the 28 two-block keys instead of a union of
    # per-key selects: the union form re-derives the 64-bit signature
    # aggregate per key, re-scanning and re-aggregating the corpus 28x
    # (round-7 PLANS.md audit: same defect and same fix as g02b's
    # minhash banding).  Each key packs two 8-bit blocks into a 16-bit
    # chunk and its block-pair index k above it (k << 16 | chunk), so
    # the join keys on one long.
    blocks = [
        F.shiftrightunsigned("simhash", i * 8).bitwiseAND(F.lit(0xFF))
        for i in range(8)
    ]
    pair_keys = [
        F.lit(k << 16).bitwiseOR(F.shiftleft(blocks[i], 8).bitwiseOR(blocks[j]))
        for k, (i, j) in enumerate(itertools.combinations(range(8), 2))
    ]
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*pair_keys)).alias("chunk"),
    )
    a, b_ = bands.alias("a"), bands.alias("b")
    # Hamming verify INSIDE the join (round 17, VERDICT r16 #5): block
    # collision alone passed 35% of the sf0.1 pair space (4.41M rows)
    # because this corpus's Zipfian head tokens dominate every sign-sum
    # — unrelated docs sit at Hamming 7-16, well inside two-clean-block
    # collision range.  The signature IS on both join sides, so the
    # Manku verify step (bit_count(xor) <= 8) costs two codegen ops per
    # collision row and drops the junk before the distinct shuffle:
    # measured 4.41M -> 1.52M candidates at sf0.1 (2.9x) with candidate
    # recall 0.9219 vs the 0.9766 of the unverified set (sf0.01: 0.92
    # -> 0.92 exactly — every near pair the blocking caught at Hamming
    # 7-8 passes the verify; the 0.85 floor holds with margin).  The
    # budget is 8, not the blocking guarantee 6: the measured near-dup
    # band extends to Hamming 8 (19/25 pairs <= 6, 23/25 <= 8 at
    # sf0.01), so verifying at 6 would throw away real recall (0.76)
    # while 10+ re-admits the junk wall (the all-pair histogram peaks
    # at 12).  A >=5x cut is NOT reachable at this recall: the exact
    # Hamming<=8 pair mass is ~1.5M at sf0.1 — precisely what survives
    # — so the verify emits the principled candidate set, not a sample.
    return (
        a.join(
            b_,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.bit_count(
                    F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
                )
                <= 8
            ),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


@query(
    "g02d_dedup_ngram",
    oracle="""
    WITH pos AS (SELECT doc_id, text,
                        unnest(generate_series(1, length(text)-2)) AS i
                 FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                       substring(text, CAST(i AS INT), 3) AS g
                FROM pos),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
                   FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
    SELECT d1, d2,
           ROUND(shared * 1.0 / (s1.n + s2.n - shared), 6) AS jaccard
    FROM pairs
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE shared * 1.0 / (s1.n + s2.n - shared) >= 0.8
    """,
)
def g02d_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 3-gram (shingle) Jaccard near-dup, threshold 0.8.

    Shingling is robust to word-boundary edits where token Jaccard
    (g02) is not. Shingle sets are built JVM-side: sequence(1, len-2)
    exploded, substr per position, distinct — then the same exact
    |intersection|/|union| algebra as g02's token-join path.

    100 TB: the shingle universe is large (no bitmask shortcut), so the
    exact self-join carries the correctness tier at test scale and the
    scale path is MinHash over shingles — identical banding machinery
    to g02b with ``_tokens`` swapped for this shingler."""
    d = _spread_docs(load(spark, sf_dir, "documents"))
    return _jaccard_pairs(
        _shingles(d), threshold=0.8, probe=_shingles_raw(d)
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

def _dot(a, b):
    """Sequential left-fold dot product => identical IEEE op order on
    both engines (oracle mirrors with list_inner_product over DOUBLE[])."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _l2_score(a, b):
    """g13's assignment score: the squared L2 distance d2 on a
    sequential left fold, as a struct that ranks larger-is-nearer
    exactly as d2 sorts ascending in SQL — a NULL d2 first, then -d2,
    a NaN d2 last.  A bare -d2 would rank NaN first under the top-list
    comparator's NaN-greatest rule and pull every vector into a
    NaN-poisoned cluster (tests/test_contracts.py pins g13 on such a
    corpus)."""
    d2 = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    rank = F.when(d2.isNull(), 2).when(F.isnan(d2), 0).otherwise(1)
    return F.struct(rank.alias("rank"), (-d2).alias("neg_d2"))


def _norm(col: Column) -> Column:
    """L2 norm on the same sequential fold as `_dot`."""
    return F.sqrt(_dot(col, col))


def _with_cos(df: DataFrame, a: str, a_norm: str, b: str, b_norm: str) -> DataFrame:
    """Add the deterministic cosine of vector columns `a` and `b` as
    `cos`, from norms precomputed once per vector (N + Q dots, not
    3*Q*N) and one `dot` per pair.

    try_divide: a zero-norm vector (failed encoder batch — routine in a
    100 TB corpus; round-9 adversarial audit) has UNDEFINED cosine =>
    NULL, matching the DuckDB oracle's x/0 => NULL, instead of the ANSI
    DIVIDE_BY_ZERO throw."""
    return df.withColumn("dot", _dot(F.col(a), F.col(b))).withColumn(
        "cos", F.try_divide(F.col("dot"), F.col(a_norm) * F.col(b_norm))
    )


def _unit_vectors(e: DataFrame) -> tuple[DataFrame, int]:
    """The embedding table as unit vectors `(vec_id, u)`, materialized
    once, and its row count.

    Zero-norm and NULL vectors are unindexable (undefined direction —
    no unit normalization exists) and have undefined cosine to
    everything: they are dropped up front instead of throwing
    DIVIDE_BY_ZERO mid-normalize (round-9 adversarial audit).  So are
    vectors with a NaN or infinite norm (a non-finite component, or an
    overflowing sum of squares): normalized, they turn into NaN
    components, whose NaN cosine ranks first under the top lists'
    NaN-greatest order and captures every vector.  Only a finite,
    positive norm passes (NaN sorts above +inf in Spark, so the upper
    bound drops it too).  The norm
    is computed once per vector, not per element.  The working set
    feeds the seed TakeOrdered, every Lloyd iteration and the
    assignment; un-truncated, each of those re-ran the scan + normalize
    (round 17: ~1.2 s per pass at sf0.1).  The count rides the
    checkpoint job as an observed metric, so it costs no job of its
    own."""
    obs_n = Observation()
    vn = (
        e.select("vec_id", F.col("embedding").cast("array<double>").alias("ve"))
        .withColumn("nrm", _norm(F.col("ve")))
        .filter((F.col("nrm") > 0.0) & (F.col("nrm") < float("inf")))
        .select(
            "vec_id",
            F.transform(F.col("ve"), lambda x: x / F.col("nrm")).alias("u"),
        )
        .observe(obs_n, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    return vn, int(obs_n.get["n"] or 0)


def _digest_seeds(vn: DataFrame, k: int) -> DataFrame:
    """Deterministic codebook seeds `(list_id, c)`: the k unit vectors
    whose md5(vec_id) digests sort first (the repo's deterministic-
    sample rule, no RNG), numbered 0..k-1 in digest order.  A
    TakeOrdered — no global sort is materialized."""
    seeds = (
        vn.select(F.md5(F.col("vec_id").cast("string")).alias("dg"), "vec_id", "u")
        .orderBy("dg", "vec_id")
        .limit(k)
    )
    w_seed = Window.orderBy("dg", "vec_id")  # k rows — single partition fine
    return seeds.select(
        (F.row_number().over(w_seed) - 1).cast("long").alias("list_id"),
        F.col("u").alias("c"),
    )


def _mean_vectors(df: DataFrame, key: str, vec: str) -> DataFrame:
    """Per-`key` mean of the array column `vec` as `(key, c)`: one
    posexplode, one avg per (key, pos) that partial-aggregates map-side
    to <= keys x dim rows per task, and the means re-assembled in
    position order.  NULL vectors explode to nothing, so they drop out
    of their key's mean."""
    return (
        df.select(key, F.posexplode(vec).alias("pos", "x"))
        .groupBy(key, "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .groupBy(key)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("c")
        )
    )


def _query_scores(e: DataFrame) -> DataFrame:
    """g03/g03b's exact scoring: the 10 query vectors (vec_id < 10,
    broadcast — at 100 TB a map-only scan of the candidate table)
    against every other vector, as (qid, qe, qn, cid, ce, cn, dot, cos)."""
    q = F.broadcast(
        e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
        )
    )
    c = e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    pairs = q.withColumn("qn", _norm(F.col("qe"))).crossJoin(
        c.withColumn("cn", _norm(F.col("ce")))
    )
    return _with_cos(pairs, "qe", "qn", "ce", "cn").filter(
        F.col("qid") != F.col("cid")
    )


_COS_ORACLE_CORE = """
    SELECT q.vec_id AS qid, c.vec_id AS cid,
           list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
           / (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
              * sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))
           AS cos
    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
    JOIN embeddings c ON c.vec_id <> q.vec_id
"""


@query(
    "g03_simsearch_topk",
    oracle=f"""
    SELECT qid, cid, ROUND(cos, 4) AS cos_sim
    FROM ({_COS_ORACLE_CORE})
    WHERE cos >= 0.2
    """,
)
def g03_simsearch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine scoring, threshold form (deterministic across
    engines — no top-k tie instability). Query side is broadcast: at
    100 TB this is a map-only scan of the candidate table."""
    scored = _query_scores(load(spark, sf_dir, "embeddings"))
    return scored.filter(F.col("cos") >= 0.2).select(
        "qid", "cid", duck_round("cos", 4).alias("cos_sim")
    )


@query(
    "g03b_simsearch_knn",
    oracle=f"""
    SELECT qid, cid, ROUND(cos, 4) AS cos_sim,
           row_number() OVER (PARTITION BY qid ORDER BY ROUND(cos, 6) DESC, cid) AS rk
    FROM ({_COS_ORACLE_CORE})
    WHERE cos IS NOT NULL
    QUALIFY rk <= 5
    """,
)
def g03b_simsearch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN (k=5) per query vector; rank on rounded cosine with
    cid tie-break so cross-engine ulp noise can't reorder.

    Zero-norm vectors have undefined (NULL) cosine and are NOT
    neighbors: both sides exclude NULL-cos pairs before ranking, so a
    zero-norm query returns no rows rather than a tie-broken list of
    meaningless matches (round-9 adversarial audit)."""
    scored = _query_scores(load(spark, sf_dir, "embeddings")).filter(
        F.col("cos").isNotNull()
    )
    w = Window.partitionBy("qid").orderBy(F.desc(duck_round("cos", 6)), F.asc("cid"))
    return (
        scored.withColumn("rk", as_long(F.row_number().over(w)))
        .filter(F.col("rk") <= 5)
        .select("qid", "cid", duck_round("cos", 4).alias("cos_sim"), "rk")
    )


_LSH_TABLES = 48
_LSH_BITS = 12


@query("g03c_simsearch_lsh", oracle=None)  # approximate — rows-only tier
def g03c_simsearch_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: multi-table random-hyperplane LSH with
    OR-amplification and Hamming-1 multiprobe (e2LSH + multiprobe-LSH).

    48 tables x 12 Gaussian hyperplanes (seeded numpy, computed as one
    Arrow-batched matmul per batch — 576 projections per vector would
    be a pathological codegen expression tree JVM-side, so this is the
    sanctioned Pandas-UDF case). A pair becomes a candidate if its
    12-bit signatures agree in some table exactly OR differ in one bit
    (the probe side expands each bucket into its 13 Hamming<=1 buckets
    via integer XOR, JVM-side). Only candidates are scored exactly.

    Measured vs the exact cos>=0.4 anchor at sf0.01: recall 0.86 with
    ~17% of all pairs scored (tests/test_ann_recall.py pins >=0.60).
    The fixture anchor sits at the hard end of the spectrum — cos 0.4
    means hyperplane agreement p = 1-theta/pi ~ 0.63 vs 0.50 for random
    pairs, so amplification needs many tables; in the cos>=0.9 regime
    real near-dup detection targets, the same construction reaches
    ~0.99 recall with a small fraction of pairs.

    100 TB shape: the bucket join carries only (bucket, vec_id), the
    bucket key packing its table above its 12 bits (table << 12 |
    bucket; the Hamming-1 probes flip only the low bits) — 48 index
    rows + 13x48 probe rows per vector, never the
    embeddings; candidate pairs are deduped across tables and the
    vectors join back once for scoring, so the scored set is bounded by
    true collisions, not N^2. b=12 (4096 buckets/table) is what bounds
    per-bucket occupancy; raise b with corpus size to keep it flat.
    Approximate recall => rows-only."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    e = load(spark, sf_dir, "embeddings")
    n_tables, n_bits = _LSH_TABLES, _LSH_BITS

    # `from __future__ import annotations` stringifies hints, which
    # pandas_udf can't introspect — set real annotations explicitly
    # (the f02 pattern).
    def _lsh_buckets(emb):
        # Deterministic planes: fixed-seed PCG64 Gaussian, regenerated
        # per batch (64 x 576 floats — negligible vs the matmul).
        import numpy as np

        if len(emb) == 0:
            # np.stack raises on an empty batch; Arrow can hand one to a
            # UDF when a partition's last batch is exhausted (ADVICE r03).
            return pd.Series([], dtype=object)
        planes = np.random.default_rng(0).standard_normal((64, n_tables * n_bits))
        x = np.stack(emb.to_numpy()).astype(np.float64)
        sig = (x @ planes) > 0
        weights = (1 << np.arange(n_bits)).astype(np.int64)
        # one long key per (table, bucket): table << n_bits | bucket
        packed = sig.reshape(len(x), n_tables, n_bits) @ weights
        return pd.Series(list(packed + (np.arange(n_tables) << n_bits)))

    _lsh_buckets.__annotations__ = {"emb": pd.Series, "return": pd.Series}
    lsh_buckets = F.pandas_udf(ArrayType(LongType()))(_lsh_buckets)

    v = e.select(
        "vec_id",
        "embedding",
        _norm(F.col("embedding")).alias("norm"),
        lsh_buckets("embedding").alias("buckets"),
    )
    # Materialize the signature table ONCE (eager localCheckpoint — the
    # g02 bitmap precedent; reliable checkpoint on a real cluster): the
    # probe expansion and the index join side otherwise each re-run the
    # whole lineage INCLUDING the Arrow matmul UDF, doubling the
    # dominant per-vector cost (round-7 PLANS.md audit: 4 embeddings
    # scans). The materialized table is (vec_id, bucket) — 48 small
    # rows per vector, never the embeddings.
    # Round 17 negative result (measured, reverted — recorded so a
    # later round does not re-try): checkpointing the full vector
    # frame v instead (embeddings + norms + buckets; q/c then read the
    # checkpoint instead of re-scanning parquet) interleaved as a WASH
    # at sf0.1 (3.1-3.5 s vs 3.1-4.0 s) — the saved pruned re-scans
    # are bought back by the wider checkpoint write — and at scale a
    # corpus-sized embedding materialization is strictly worse local
    # I/O than two column-pruned parquet scans.  The skinny-checkpoint
    # form stands.
    sigs = v.select("vec_id", F.explode("buckets").alias("bucket")).localCheckpoint(
        eager=True
    )
    # Probe side: each bucket expands to itself + the 12 single-bit
    # flips, so an exact-bucket join reaches Hamming<=1.
    probes = sigs.select(
        "vec_id",
        F.explode(
            F.concat(
                F.array(F.col("bucket")),
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_bits - 1)),
                    lambda i: F.col("bucket").bitwiseXOR(
                        F.pow(F.lit(2.0), i).cast("long")
                    ),
                ),
            )
        ).alias("bucket"),
    )
    a1, a2 = probes.alias("a1"), sigs.alias("a2")
    cands = (
        a1.join(
            a2,
            (F.col("a1.bucket") == F.col("a2.bucket"))
            & (F.col("a1.vec_id") < F.col("a2.vec_id")),
        )
        .select(F.col("a1.vec_id").alias("qid"), F.col("a2.vec_id").alias("cid"))
        .distinct()
    )
    q = v.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qn"),
    )
    c = v.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("norm").alias("cn"),
    )
    # zero-norm => NULL cosine (dropped by the threshold filter)
    scored = _with_cos(cands.join(q, "qid").join(c, "cid"), "qe", "qn", "ce", "cn")
    return scored.filter(F.col("cos") >= 0.2).select(
        "qid", "cid", duck_round("cos", 4).alias("cos_sim")
    )


def _g03d_guard_anchor_count(anchors: DataFrame) -> None:
    """Refuse quadratic-anchor scoring beyond a configured cardinality.

    g03d scores every (anchor, vector) pair exactly — acceptable only
    as a test-scale recall anchor. The count is a key-only scan (column
    pruning reaches the parquet reader) so the guard itself is cheap;
    the bound is configurable for deliberate larger anchor studies.

    NOTE (registry contract): this guard runs an EAGER count() job at
    DataFrame-construction time — g03d is deliberately not
    plan-only-lazy. Callers that want only the plan (explain, dry
    registry iteration) still trigger one key-only scan; that cost is
    the fail-fast the guard exists to provide (ADVICE r06)."""
    raw = os.environ.get("SPARK_GRAFT_G03D_MAX_ANCHORS", "50000")
    try:
        max_anchors = int(raw)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_G03D_MAX_ANCHORS must be an integer, got {raw!r}"
        ) from None
    n = anchors.select("vec_id").count()
    if n > max_anchors:
        raise ValueError(
            f"g03d_embed_neardup: anchor set has {n} rows > bound "
            f"{max_anchors}. This operator scores exact all-pairs cosine "
            "against the anchor set (O(anchors x corpus)) and exists only "
            "as a recall anchor for the approximate paths. Use "
            "g02b/g03c (LSH), g03e (IVF) or g28 (semantic dedup) at "
            "scale, or raise SPARK_GRAFT_G03D_MAX_ANCHORS deliberately."
        )


@query(
    "g03d_embed_neardup",
    oracle="""
    SELECT a.vec_id AS d1, b.vec_id AS d2,
           ROUND(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                 / (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                    * sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                 4) AS cos_sim
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 2) < '1a'
      AND list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          / (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
             * sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.4
    """,
)
def g03d_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs from a BOUNDED anchor set:
    anchors are the ~10% of vectors whose key digest starts below '1a'
    (26/256 — the b34/g19 deterministic-sample rule), each scored
    exactly against every higher-id vector (cosine >= 0.4, d1 < d2).

    Demoted from full all-pairs per VERDICT r01 (#4): exact O(N^2)
    scoring is a correctness/recall ANCHOR, not a production near-dup
    surface — the canonical scale paths are g03c (hyperplane LSH) and
    g03e (IVF), whose recall against this anchor is measured in
    tests/test_ann_recall.py. The digest-bounded anchor keeps the
    scored-pair count at ~10% of N^2 while remaining deterministic and
    hash-verified cross-engine — but the broadcast side still grows
    O(N), so this operator is bounded only at anchor/fixture scale and
    must never be the production dedup path.

    Misuse guard (VERDICT r05 #3): the anchor-set cardinality is
    counted up front (a map-side key-only scan) and the operator
    REFUSES anchor sets above SPARK_GRAFT_G03D_MAX_ANCHORS (default
    50k). A 100 TB corpus routed here by mistake fails in seconds with
    a pointer to g03c/g03e/g28 instead of melting the cluster on an
    O(N^2/10) pair scan."""
    e = load(spark, sf_dir, "embeddings")
    v = e.select("vec_id", "embedding", _norm(F.col("embedding")).alias("norm"))
    in_anchor = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2) < "1a"
    a, b = v.filter(in_anchor).alias("a"), v.alias("b")
    _g03d_guard_anchor_count(a)
    # Broadcast the anchor side. NOTE: the anchor is ~10% of ALL
    # vectors — an O(N) broadcast scoring O(N^2/10) pairs — so this is
    # only valid at anchor/fixture scale, where it exists to measure
    # recall; the unbounded-scale paths are g03c/g03e (ADVICE r02).
    # Zero-norm vectors have NULL cosine — dropped by the threshold
    # filter on both engines (DuckDB x/0 is NULL).
    pairs = b.join(F.broadcast(a), F.col("a.vec_id") < F.col("b.vec_id"))
    return (
        _with_cos(pairs, "a.embedding", "a.norm", "b.embedding", "b.norm")
        .filter(F.col("cos") >= 0.4)
        .select(
            F.col("a.vec_id").alias("d1"),
            F.col("b.vec_id").alias("d2"),
            duck_round("cos", 4).alias("cos_sim"),
        )
    )


_IVF_K = 32
_IVF_ITERS = 2
_IVF_NASSIGN = 2
_IVF_NPROBE = 8


def _ivf_codebook(cent: DataFrame):
    """The `(list_id, c)` codebook as ONE collected-struct row,
    broadcast — the nested-loop join against it is a map-side widen,
    so centroid assignment never expands the vector table k-fold
    across an exchange (round 17, guide §2.3/§2.4).

    Bound: the row holds k x dim x 8 B.  At dim 64 it reaches the
    100 MB `_BROADCAST_BYTES` budget near k ~ 2e5 centroids; g28 sizes
    k ~ sqrt(N), so that is a ~4e10-vector corpus, and g03e/g13 use
    fixed k = 32/10.  No reachable input needs a gate or a chunked
    codebook, so there is none."""
    return F.broadcast(
        cent.groupBy().agg(
            F.collect_list(F.struct("list_id", "c")).alias("cents")
        )
    )


def _ivf_top_lists(k: int, score) -> Column:
    """The one nearest-centroid assignment: per row, the top-k
    (sim, list_id) entries against the `cents` codebook column, where
    `sim = score(c)` for each centroid vector `c` and larger is
    nearer.  Ordered (sim DESC, list_id ASC) — the exact ordering of a
    row_number window, so equal scores go to the lowest list_id.  The
    comparator mirrors SQL comparison semantics (NaN greatest, -0.0 ==
    0.0); a score may be any orderable type (g13's is a struct)."""
    sims = F.transform(
        F.col("cents"),
        lambda s: F.struct(
            score(s["c"]).alias("sim"),
            s["list_id"].alias("list_id"),
        ),
    )

    def cmp(l, r):
        return (
            F.when(l["sim"] > r["sim"], -1)
            .when(l["sim"] < r["sim"], 1)
            .when(l["list_id"] < r["list_id"], -1)
            .when(l["list_id"] > r["list_id"], 1)
            .otherwise(0)
        )

    return F.slice(F.array_sort(sims, cmp), 1, k)


@query("g03e_simsearch_ivf", oracle=None)  # approximate — rows-only tier
def g03e_simsearch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: k-means coarse quantizer (k=32), multi-assignment
    inverted lists (nassign=2), nprobe=8 — all deterministic, no RNG.

    Build: codebook seeds are the 32 vectors whose md5(vec_id) digests
    sort first (the repo's deterministic-sample rule), refined by 2
    Lloyd iterations on the unit sphere (assign by cosine, recompute
    means with `_mean_vectors`, renormalize). Each vector is indexed
    under its 2 nearest lists (replication is the standard IVF recall
    lever when clusters overlap, at the cost of a 2x index); each query
    probes its 8 nearest lists.

    Measured recall@5 vs exact g03b at sf0.01: 0.86+ (floor 0.80 in
    tests/test_ann_recall.py). The synthetic embeddings have weak
    cluster structure, so high recall costs a large scan fraction here
    (~45% of the corpus per query); on clustered production corpora k
    grows ~sqrt(N) and the same nprobe/nassign scans a small fraction.
    Approximate (a true neighbor may live in an unprobed list) =>
    rows-only tier; exact twins g03/g03b carry the hash burden.

    100 TB: lists are the partition key — co-locating each list makes
    the probe a partition-local scan; the iterative build broadcasts
    only the k x 64 codebook per round and ships it as a tiny artifact
    (localCheckpoint here truncates the Lloyd lineage so the search
    plan is scan + broadcast joins).

    Round 17 (guide §2.3/§2.4): centroid assignment is MAP-ONLY —
    the one-row codebook broadcast and an in-row top-list sort
    (`_ivf_top_lists`) replaced a k x N cross join ranked by a
    row_number window (3 window exchanges + sorts removed,
    plans/r17/g03e_simsearch_ivf_{before,after}.txt).  The only
    remaining build shuffle is the per-(list, pos) mean recompute,
    which partial-aggregates map-side to <= k x 64 rows per task."""
    # The unit-vector working set is materialized once (round 17,
    # guide §1/§5): persisting it across Lloyd rounds is the canonical
    # k-means shape; at scale this is one corpus-sized local
    # materialization versus iters+2 corpus re-scans.
    vn, _ = _unit_vectors(load(spark, sf_dir, "embeddings"))
    cos_to = lambda c: _dot(F.col("u"), c)  # noqa: E731 — unit vectors

    # --- build: digest-seeded codebook + spherical Lloyd iterations ---
    cent = _digest_seeds(vn, _IVF_K)
    for _ in range(_IVF_ITERS):
        assigned = vn.join(_ivf_codebook(cent)).select(
            "vec_id",
            F.get(_ivf_top_lists(1, cos_to), 0)["list_id"].alias("list_id"),
            "u",
        )
        cent = _mean_vectors(assigned, "list_id", "u").select(
            "list_id",
            F.transform(F.col("c"), lambda x: x / _norm(F.col("c"))).alias("c"),
        )
    # k x 64 artifact — JVM-side, no driver collect
    cent = cent.localCheckpoint(eager=True)

    # --- search: multi-assign index, nprobe query fan-out -------------
    # One map-only pass computes each vector's nprobe-nearest lists;
    # the index keeps the top nassign (a prefix of the same ordered
    # array), so no second assignment pass and no window exchange.
    ranked = vn.join(_ivf_codebook(cent)).withColumn(
        "top", _ivf_top_lists(_IVF_NPROBE, cos_to)
    )
    index = ranked.select(
        F.col("vec_id").alias("cid"),
        F.col("u").alias("cu"),
        F.explode(F.slice("top", 1, _IVF_NASSIGN)).alias("t"),
    ).select("cid", "cu", F.col("t.list_id").alias("list_id"))
    q = (
        ranked.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("u").alias("qu"),
            F.explode("top").alias("t"),
        )
        .select("qid", "qu", F.col("t.list_id").alias("list_id"))
    )
    pairs = (
        F.broadcast(q)
        .join(index, "list_id")
        .filter(F.col("qid") != F.col("cid"))
        # multi-assignment lands the same (qid, cid) in up to nassign
        # shared lists — dedup before ranking
        .dropDuplicates(["qid", "cid"])
        .withColumn("cos", _dot(F.col("qu"), F.col("cu")))
    )
    w_rank = Window.partitionBy("qid").orderBy(
        F.desc(duck_round("cos", 6)), F.asc("cid")
    )
    return (
        pairs.withColumn("rk", as_long(F.row_number().over(w_rank)))
        .filter(F.col("rk") <= 5)
        .select("qid", "cid", duck_round("cos", 4).alias("cos_sim"), "rk")
    )


@query(
    "g04_centroids",
    oracle="""
    WITH ex AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
                       CAST(unnest(embedding) AS DOUBLE) AS val
                FROM embeddings)
    SELECT label, pos, ROUND(AVG(val), 4) AS centroid_val
    FROM ex GROUP BY label, pos
    """,
)
def g04_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector in long form (label, pos, avg). One
    explode + one shuffle on (label, pos) — fully parallel at scale."""
    e = load(spark, sf_dir, "embeddings")
    exploded = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    return exploded.groupBy("label", "pos").agg(
        duck_round(F.avg(F.col("val").cast("double")), 4).alias("centroid_val")
    ).select("label", as_long(F.col("pos")).alias("pos"), "centroid_val")


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

@query(
    "g05b_token_bpe",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def g05b_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split vs a BPE-style
    pre-tokenizer regex (letter runs | digit runs | single non-alnum),
    the shape GPT-2-family tokenizers use before merges. The regex is
    kept POSIX-simple so the Java and RE2 dialects agree. Pure
    projection — stays in one codegen span at any scale."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        as_long(F.size(F.split("text", " "))).alias("n_ws_tokens"),
        as_long(
            F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0))
        ).alias("n_bpe_tokens"),
    )


@query(
    "g05_text_tokenize",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct
    FROM documents
    """,
)
def g05_text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        as_long(F.size(toks)).alias("n_tokens"),
        as_long(F.size(F.array_distinct(toks))).alias("n_distinct"),
    )


@query(
    "g06_text_wordcount",
    oracle="""
    WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
         counts AS (SELECT lang, tok, COUNT(*) AS n FROM toks GROUP BY lang, tok)
    SELECT lang, tok, n,
           row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rk
    FROM counts
    QUALIFY rk <= 5
    """,
)
def g06_text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per language by frequency, tie-broken alphabetically."""
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    return (
        counts.withColumn("rk", as_long(F.row_number().over(w)))
        .filter(F.col("rk") <= 5)
    )


@query(
    "g07_text_tfidf",
    oracle="""
    WITH tf AS (SELECT doc_id, tok, COUNT(*) AS tf
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents) x(doc_id, tok)
                GROUP BY doc_id, tok),
         df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
         n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.tok,
           ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
    FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    WHERE df.df < (SELECT n_docs FROM n)
    """,
)
def g07_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF long form. Terms present in every doc (idf=0) are dropped
    to keep output informative. Pure SQL algebra — deterministic: the
    only float op is one ln + one multiply per row."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # scalar; computed once driver-side (metadata-cheap)
    # no broadcast hint on the document-frequency table: it is an
    # aggregate over an OPEN vocabulary, so its size is unbounded at
    # 100 TB — AQE broadcasts it at runtime when (and only when) the
    # built side actually fits (fixture scale: still a broadcast join)
    return (
        tf.join(df.filter(F.col("df") < n_docs), "tok")
        .select(
            "doc_id",
            "tok",
            duck_round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
            ).alias("tfidf"),
        )
    )


@query(
    "g08_text_stats",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_docs,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars,
           ROUND(CAST(SUM(length(text)) AS DOUBLE) / COUNT(*), 4) AS avg_len,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents GROUP BY lang, source
    """,
)
def g08_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        duck_round(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 4).alias(
            "avg_chars"
        ),
        duck_round(
            F.sum(F.length("text").cast("long")).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_len"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "g08b_text_quality",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           ROUND(CAST(length(text) AS DOUBLE)
                 / len(string_split(text, ' ')), 4) AS avg_token_len,
           ROUND(CAST(len(list_filter(string_split(text, ' '),
                                      t -> t IN ('a','the','of','and','to')))
                      AS DOUBLE) / len(string_split(text, ' ')), 4) AS stopword_ratio,
           CASE WHEN length(text) BETWEEN 100 AND 500
                 AND len(string_split(text, ' ')) >= 20
                THEN 1 ELSE 0 END AS quality_pass
    FROM documents
    """,
)
def g08b_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length/stopword heuristics — the
    filter-stage primitives of a training-data pipeline."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop = F.array([F.lit(x) for x in ("a", "the", "of", "and", "to")])
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    return d.select(
        "doc_id",
        as_long(n_tok).alias("n_tokens"),
        duck_round(F.length("text").cast("double") / n_tok, 4).alias("avg_token_len"),
        duck_round(n_stop.cast("double") / n_tok, 4).alias("stopword_ratio"),
        F.when(
            F.length("text").between(100, 500) & (n_tok >= 20), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("quality_pass"),
    )


@query(
    "g08c_text_langid",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN len(list_filter(string_split(text, ' '),
                                     t -> t IN ('join','filter','window','scan',
                                                'merge','sort','hash'))) * 2
                     >= len(string_split(text, ' ')) THEN 'sqlish'
                ELSE 'other' END AS predicted_register,
           len(string_split(text, ' ')) AS n_tokens
    FROM documents
    """,
)
def g08c_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language/register ID by token-list heuristic (the fixture corpus
    is synthetic, so the 'model' is a marker-vocabulary ratio — the
    Spark plumbing is the real deliverable: pure-columnar token scoring)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    markers = F.array(
        [F.lit(x) for x in ("join", "filter", "window", "scan", "merge", "sort", "hash")]
    )
    n_marked = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
    return d.select(
        "doc_id",
        "lang",
        F.when(n_marked * 2 >= F.size(toks), "sqlish")
        .otherwise("other")
        .alias("predicted_register"),
        as_long(F.size(toks)).alias("n_tokens"),
    )


@query(
    "g08d_text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
             AS shingle_fingerprint
    FROM documents
    """,
)
def g08d_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct token set — the canonical-form digest used for fuzzy
    container-level dedup."""
    d = load(spark, sf_dir, "documents")
    canon = F.array_join(F.array_sort(F.array_distinct(F.split("text", " "))), " ")
    return d.select("doc_id", F.md5(canon).alias("shingle_fingerprint"))


# --------------------------------------------------------------------------
# Multimodal + cross-modal joins
# --------------------------------------------------------------------------

@query(
    "g09_multimodal_record",
    oracle="""
    SELECT doc_id, octet_length(encode(text)) AS payload_bytes, lang AS meta_lang,
           n_chars AS meta_chars
    FROM documents
    """,
)
def g09_multimodal_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal record assembly: BinaryType payload + typed metadata
    struct. Emitted flattened (binary in the hash is risky — §5.4);
    payload byte length proves the binary column round-trips.

    The decode/feature-extract path for real image/audio payloads is in
    operators.udfs.multimodal_decode_stub (mapInPandas plumbing with the
    actual codec stubbed — the image/audio libs aren't in this env)."""
    d = load(spark, sf_dir, "documents")
    rec = d.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(F.col("lang"), F.col("n_chars")).alias("meta"),
    )
    return rec.select(
        "doc_id",
        as_long(F.octet_length("payload")).alias("payload_bytes"),
        F.col("meta.lang").alias("meta_lang"),
        F.col("meta.n_chars").alias("meta_chars"),
    )


@query(
    "g10_embed_join_docs",
    oracle="""
    SELECT d.doc_id, d.lang, e.label, d.n_chars
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE e.label < 3
    """,
)
def g10_embed_join_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings").filter(F.col("label") < 3)
    return d.join(e, d.doc_id == e.vec_id).select("doc_id", "lang", "label", "n_chars")


@query(
    "g11_events_user_join",
    oracle="""
    SELECT c.c_custkey, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY c.c_custkey
    """,
)
def g11_events_user_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    c = F.broadcast(
        load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    )
    return (
        e.join(c, e.user_id == c.c_custkey)
        .groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("total_value"),
        )
    )


@query(
    "g12_contamination",
    oracle="""
    WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
                   FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         nd AS (SELECT d1, d2
                FROM pairs
                JOIN sizes s1 ON d1 = s1.doc_id
                JOIN sizes s2 ON d2 = s2.doc_id
                WHERE shared * 1.0 / (s1.n + s2.n - shared) >= 0.8)
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs
    FROM nd
    JOIN documents da ON nd.d1 = da.doc_id
    JOIN documents db ON nd.d2 = db.doc_id
    GROUP BY 1, 2
    """,
)
def g12_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination report: near-duplicate pair counts
    per (source, source) bucket — the train/eval leakage check a
    corpus pipeline runs before splitting by source. Reuses the exact
    Jaccard pair machinery (bitmap strategy) and joins pair endpoints
    back to their source labels; source pair is canonicalized
    least/greatest so the report is orientation-free."""
    d = load(spark, sf_dir, "documents")
    pairs = _jaccard_pairs(_tokens(d), threshold=0.8, probe=_tokens_raw(d))
    src = d.select("doc_id", "source")
    s1 = src.select(F.col("doc_id").alias("d1"), F.col("source").alias("src1"))
    s2 = src.select(F.col("doc_id").alias("d2"), F.col("source").alias("src2"))
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .groupBy(
            F.least("src1", "src2").alias("source_a"),
            F.greatest("src1", "src2").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_neardup_pairs"))
    )


@query("g13_kmeans_iterations", oracle=None)  # iterative float refinement — rows-only
def g13_kmeans_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative algorithm representative: 2 Lloyd iterations of
    k-means over the embedding table (k = 10, deterministic init from
    the per-label means — no RNG). Each iteration: broadcast the
    codebook as one row, assign every vector to its nearest centroid
    by squared L2 (sequential fold => deterministic; the shared
    top-list helper ranks by `_l2_score`, so ties go to the lowest
    cluster id with no k x N window exchange), recompute means
    with `_mean_vectors`. The input is persisted once and re-scanned
    from memory each iteration — the cache-for-iteration pattern every
    iterative Spark algorithm needs (tests/test_plans.py pins the
    InMemoryRelation and the absence of a Window).

    Rows-only tier: assignment boundaries sit on float comparisons, so
    cross-engine hashing is out by design (SURVEY §5.4 item 6); the
    emitted (cluster, pos, centroid) rows are deterministic within
    Spark. Output: k x 64 rounded centroid coordinates after iteration
    2, plus each cluster's member count."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    e = e.persist()
    try:
        # deterministic init: per-label mean vectors (the g04 centroids)
        centroids = _mean_vectors(
            load(spark, sf_dir, "embeddings"), "label", "embedding"
        ).select(F.col("label").cast("long").alias("list_id"), "c")
        l2_score = lambda c: _l2_score(F.col("v"), c)  # noqa: E731
        for _ in range(2):
            assigned = e.join(_ivf_codebook(centroids)).select(
                "vec_id",
                F.get(_ivf_top_lists(1, l2_score), 0)["list_id"].alias("list_id"),
                "v",
            )
            centroids = _mean_vectors(assigned, "list_id", "v")
        counts = assigned.groupBy("list_id").agg(F.count(F.lit(1)).alias("n_members"))
        out = (
            centroids.join(counts, "list_id")
            .select(
                F.col("list_id").alias("cluster"),
                "n_members",
                F.posexplode(
                    F.transform(F.col("c"), lambda x: duck_round(x, 4))
                ).alias("pos", "centroid_val"),
            )
        )
        # materialize JVM-side while the cache is alive: an eager
        # localCheckpoint pins the k x 64 result before the finally
        # drops the iteration cache — no driver round-trip (VERDICT
        # r02 "What's wrong" #1 replaced the collect+createDataFrame
        # workaround that existed only to outlive unpersist)
        return out.localCheckpoint(eager=True)
    finally:
        e.unpersist()


@query(
    "g14_text_clean",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g')) AS clean_text,
           CAST(length(trim(regexp_replace(regexp_replace(lower(text),
                                           '[^a-z0-9 ]', '', 'g'),
                            ' +', ' ', 'g'))) AS BIGINT) AS clean_len
    FROM documents
    """,
)
def g14_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization: lowercase, strip non-alphanumerics, collapse
    whitespace, trim — the canonical pre-tokenization cleaning stage of
    a corpus pipeline. Pure projection (one codegen span at any scale);
    POSIX-simple regexes so the Java and RE2 dialects agree (DuckDB
    needs the 'g' flag for global replace; Spark's regexp_replace is
    global by default)."""
    d = load(spark, sf_dir, "documents")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        as_long(F.length(clean)).alias("clean_len"),
    )


@query(
    "g15_vocab_prune",
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
         df_counts AS (SELECT tok, COUNT(DISTINCT doc_id) AS df
                       FROM toks GROUP BY tok),
         kept AS (SELECT tok, df FROM df_counts
                  WHERE df >= 5 AND df <= 450)
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept_tokens,
           CAST(COUNT(DISTINCT t.tok) AS BIGINT) AS n_kept_distinct
    FROM toks t JOIN kept k ON t.tok = k.tok
    GROUP BY t.doc_id
    """,
)
def g15_vocab_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary pruning by document frequency: drop tokens that are
    too rare (df < 5, typically noise/typos) or too common (df > 450
    of 500 docs, stopword-like), then re-count each document's
    surviving tokens — the vocab-filter stage before embedding/BoW
    featurization. The kept-vocabulary table is usually tiny, but it is
    an open-vocabulary aggregate, so the broadcast decision is left to
    AQE's runtime size check; the only big shuffles key on doc_id."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    dfc = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    kept = dfc.filter((F.col("df") >= 5) & (F.col("df") <= 450)).select("tok")
    # kept-vocab is df-bounded but still an open-vocabulary aggregate —
    # no hard broadcast hint; AQE picks broadcast when it actually fits
    return (
        toks.join(kept, "tok")
        .groupBy("doc_id")
        .agg(
            as_long(F.count(F.lit(1))).alias("n_kept_tokens"),
            as_long(F.countDistinct("tok")).alias("n_kept_distinct"),
        )
    )


@query(
    "g16_event_funnel",
    oracle="""
    WITH per_user AS (
        SELECT e.user_id, c.c_mktsegment,
               MIN(e.ts) FILTER (WHERE e.event_type = 'signup') AS first_signup,
               MIN(e.ts) FILTER (WHERE e.event_type = 'purchase') AS first_purchase
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY e.user_id, c.c_mktsegment
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) FILTER (WHERE first_signup IS NOT NULL) AS BIGINT)
             AS n_signup_users,
           CAST(COUNT(*) FILTER (WHERE first_signup IS NOT NULL
                                   AND first_purchase > first_signup) AS BIGINT)
             AS n_converted,
           ROUND(COUNT(*) FILTER (WHERE first_signup IS NOT NULL
                                    AND first_purchase > first_signup) * 1.0
                 / COUNT(*) FILTER (WHERE first_signup IS NOT NULL), 4)
             AS conversion
    FROM per_user
    GROUP BY c_mktsegment
    """,
)
def g16_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event funnel / conversion: per market segment, users whose first
    'purchase' strictly follows their first 'signup' — the two-step
    funnel primitive of event analytics. One conditional-MIN pass per
    user (map-side partials, no window), then a tiny segment rollup;
    the integer-count ratio divides once at the end, so rounding is the
    only float step."""
    e = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    per_user = (
        e.join(c, "user_id")
        .groupBy("user_id", "c_mktsegment")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
                "first_signup"
            ),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
                "first_purchase"
            ),
        )
    )
    signed = F.col("first_signup").isNotNull()
    converted = signed & (F.col("first_purchase") > F.col("first_signup"))
    return per_user.groupBy("c_mktsegment").agg(
        F.sum(signed.cast("long")).alias("n_signup_users"),
        F.sum(converted.cast("long")).alias("n_converted"),
        # try_divide (round-9 degenerate-group sweep): a segment with
        # ZERO signed-up users makes the plain `/` THROW under ANSI
        # (the Spark 4 / driver default) where the DuckDB oracle emits
        # NULL — same class as b27's safe_corr; fixture-latent (every
        # fixture segment has signups).
        duck_round(
            F.try_divide(
                F.sum(converted.cast("long")) * F.lit(1.0),
                F.sum(signed.cast("long")),
            ),
            4,
        ).alias("conversion"),
    )


@query(
    "g17_text_bigrams",
    oracle="""
    WITH seq AS (
        SELECT doc_id, tok, ord
        FROM (SELECT doc_id,
                     unnest(string_split(text, ' ')) AS tok,
                     generate_subscripts(string_split(text, ' '), 1) AS ord
              FROM documents) t
    ),
    bigrams AS (
        SELECT tok || ' ' || lead(tok) OVER w AS bigram
        FROM seq
        WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bigrams
    WHERE bigram IS NOT NULL
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def g17_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus bigrams (order-preserving token pairs via lead()
    over the in-document position, tie-broken alphabetically) — the
    n-gram counting primitive under language-model statistics and
    collocation mining. The window shuffles once on doc_id; the count
    shuffles once on the bigram key."""
    d = load(spark, sf_dir, "documents")
    seq = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("ord", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("ord")
    bigrams = seq.select(
        F.concat_ws(" ", F.col("tok"), F.lead("tok").over(w)).alias("bigram"),
        F.lead("tok").over(w).alias("_next"),
    ).filter(F.col("_next").isNotNull())
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@query(
    "g18_embed_quantize",
    oracle="""
    WITH stats AS (
        SELECT vec_id,
               list_min(embedding::DOUBLE[]) AS lo,
               list_max(embedding::DOUBLE[]) AS hi
        FROM embeddings
    ),
    ex AS (
        SELECT e.vec_id,
               generate_subscripts(e.embedding, 1) - 1 AS pos,
               CAST(unnest(e.embedding) AS DOUBLE) AS x
        FROM embeddings e
    )
    SELECT ex.vec_id, ex.pos,
           CAST(CASE WHEN s.hi = s.lo THEN 0
                     ELSE FLOOR((ex.x - s.lo) / ((s.hi - s.lo) / 255) + 0.5)
                END AS BIGINT) AS code
    FROM ex JOIN stats s ON ex.vec_id = s.vec_id
    """,
)
def g18_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of embeddings: per-vector [min, max]
    range mapped to 0..255 codes — the 4x storage reduction step a
    100 TB vector store takes before indexing (codes + 2 floats
    reconstruct to within step/2). Codes are exact integers (floor of
    the identical IEEE expression on both engines), so the whole
    quantizer is hash-verified. Emitted long-form (vec_id, pos, code);
    at scale the codes pack back into a binary column."""
    e = load(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    stats = e.select(
        "vec_id",
        F.array_min(v).alias("lo"),
        F.array_max(v).alias("hi"),
    )
    ex = e.select("vec_id", F.posexplode(v).alias("pos", "x"))
    step = (F.col("hi") - F.col("lo")) / F.lit(255)
    # degenerate range (constant vector): step would be 0, making the
    # quantizer expression NaN -> NULL in Spark but an error in DuckDB —
    # guard the case to code 0 on BOTH engines (oracle has the same CASE)
    code = F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long")).otherwise(
        F.floor((F.col("x") - F.col("lo")) / step + F.lit(0.5)).cast("long")
    )
    return ex.join(stats, "vec_id").select("vec_id", "pos", code.alias("code"))


@query(
    "g19_stratified_sample",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (
                WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '33')
                AS BIGINT) AS n_sampled
    FROM documents
    GROUP BY lang
    """,
)
def g19_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: ~20% per language stratum by
    key-digest prefix ('33' hex = 51/256) — the class-balancing /
    down-sampling primitive for training-corpus construction. Same
    digest rule as b34 so samples are reproducible, engine-stable, and
    composable (a doc's membership never changes across runs or
    strata definitions)."""
    d = load(spark, sf_dir, "documents")
    in_sample = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "33"
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(in_sample.cast("long")).alias("n_sampled"),
    )


@query(
    "g20_unigram_logprob",
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
         freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
         tot AS (SELECT COUNT(*) AS n FROM toks),
         scored AS (
             SELECT t.doc_id,
                    CAST(ROUND(-ln(f.c * 1.0 / tot.n), 9)
                         AS DECIMAL(18,9)) AS nll
             FROM toks t JOIN freq f ON t.tok = f.tok CROSS JOIN tot
         )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll
    FROM scored
    GROUP BY doc_id
    """,
)
def g20_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram negative-log-likelihood per document — the
    perplexity-proxy quality score (CCNet-style filtering: documents
    whose tokens are improbable under the corpus unigram model are
    flagged as noise). Per-token -ln p is rounded to 9 decimals and
    summed as DECIMAL so the per-doc aggregation is order-independent
    (§5.4 discipline); the unigram table is an open-vocabulary
    aggregate, so AQE decides the broadcast at runtime."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = toks.count()
    nll = duck_round(-F.log(F.col("c") * F.lit(1.0) / F.lit(total)), 9).cast(
        "decimal(18,9)"
    )
    # unigram table = open-vocabulary aggregate: let AQE decide the
    # build side instead of hard-coding an unbounded broadcast
    return (
        toks.join(freq, "tok")
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            duck_round(
                F.sum("nll").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_nll"),
        )
    )


@query(
    "g21_dedup_agreement",
    oracle="""
    WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
         tp AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
                FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         text_pairs AS (
             SELECT d1, d2,
                    ROUND(shared * 1.0 / (s1.n + s2.n - shared), 6) AS jaccard
             FROM tp JOIN sizes s1 ON d1 = s1.doc_id
                     JOIN sizes s2 ON d2 = s2.doc_id
             WHERE shared * 1.0 / (s1.n + s2.n - shared) >= 0.8),
         vec_pairs AS (
             SELECT a.vec_id AS d1, b.vec_id AS d2,
                    ROUND(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                          / (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                             * sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                          4) AS cos_sim
             FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             WHERE list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                   / (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                      * sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.4)
    SELECT t.d1, t.d2, t.jaccard, v.cos_sim
    FROM text_pairs t JOIN vec_pairs v ON t.d1 = v.d1 AND t.d2 = v.d2
    """,
)
def g21_dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup agreement: pairs flagged near-duplicate by
    BOTH lexical Jaccard (g02 machinery) and embedding cosine — the
    high-precision core a pipeline deletes first when single-signal
    flags are too noisy. Documents and vectors align on doc_id =
    vec_id (verified fixture invariant).

    Intersection-aware plan: the cheap signal runs first (bitmap
    Jaccard) and cosine is scored ONLY on the text-flagged pairs — a
    two-embedding lookup join per candidate instead of g03d's full
    all-pairs scan (25s -> ~7s at sf0.1, identical result: filtering
    a superset then intersecting equals intersecting both filtered
    sets)."""
    d = load(spark, sf_dir, "documents")
    text_pairs = _jaccard_pairs(_tokens(d), threshold=0.8, probe=_tokens_raw(d))
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    e = e.withColumn("norm", _norm(F.col("v")))
    # Join-strategy pick for the two embedding lookups (round 16,
    # measured at the 10x replica): the text-pair stream is tens of
    # millions of rows while the embedding table read 10.7 MB there,
    # just past Spark's 10 MB auto-broadcast threshold, so AQE fell
    # back to a sort-merge join that SORTED the 29.7M-pair stream
    # twice (34-57 s).  Hint the broadcast while the table fits (tail:
    # 3-5 s); past the budget prefer shuffled-hash over sort-merge —
    # an equi-LOOKUP of an unsorted pair stream never profits from
    # sorting it, and the per-partition build side stays bounded under
    # scale-adaptive partition counts (guide: pick the join
    # deliberately).  Rows from the parquet-metadata count, array
    # length from a one-row probe that filters out NULL vectors (a
    # NULL first row would poison the arithmetic, ADVICE r16) and is
    # LIMIT-1 cheap.  Round 17: both lookups join the SAME projection,
    # but the executed plan was CHECKED and the planner still builds
    # two broadcast relations here (exprId-fresh aliases defeat the
    # ReuseExchange canonical match).
    n_vecs = e.count()
    dim_row = (
        e.filter(F.col("v").isNotNull()).select(F.size("v").alias("k")).first()
    )
    eb = e.select("vec_id", "v", "norm")
    if _fits_broadcast(eb, n_vecs, (dim_row["k"] if dim_row else 0) or 0):
        eb = F.broadcast(eb)
    else:
        eb = eb.hint("shuffle_hash")
    # Round 17 negative result (measured interleaved, reverted): the
    # qualified pair stream is skinny (~24 B/row), so AQE coalesces it
    # to 2 partitions at sf0.1 (2.97M pairs) and the broadcast-tier
    # cosine work fuses into that 2-task stage.  A round-robin spread
    # of text_pairs before the lookups looked like the §2 fix, but
    # interleaved A/B measured a WASH (old {5.3-6.3 s} vs new
    # {4.2-6.5 s}): the 2-task stage is dominated by the pair
    # EXPANSION inside _jaccard_pairs, which sits before any spread
    # this function can add — the exchange only parallelizes the cheap
    # cosine map.  The expansion's own partitioning is the strategy
    # core's concern (r16/r17 probe-side spreads), not a per-caller
    # repartition.
    ea, eb2 = eb.alias("ea"), eb.alias("eb2")
    # A zero-norm embedding aligned to a text-flagged pair yields NULL
    # cosine (agreement impossible), not an ANSI throw.
    pairs = text_pairs.join(ea, F.col("d1") == F.col("ea.vec_id")).join(
        eb2, F.col("d2") == F.col("eb2.vec_id")
    )
    return (
        _with_cos(pairs, "ea.v", "ea.norm", "eb2.v", "eb2.norm")
        .filter(F.col("cos") >= 0.4)
        .select("d1", "d2", "jaccard", duck_round("cos", 4).alias("cos_sim"))
    )


@query(
    "g22_corpus_split",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, lang,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                    THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM assigned GROUP BY split, lang
    """,
)
def g22_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (~80/10/10 by key-digest
    prefix: 'cc' = 204/256, 'e6' = 230/256) with per-language split
    counts — the corpus-splitting primitive. Digest-based membership
    means a document's split NEVER changes as the corpus grows (no
    re-shuffling leakage between training runs), and the same rule
    composes with the g12 contamination report for cross-split
    near-dup checks."""
    d = load(spark, sf_dir, "documents")
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(prefix < "cc", "train").when(prefix < "e6", "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "g23_text_repetition",
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
         counts AS (SELECT doc_id, tok, COUNT(*) AS c
                    FROM toks GROUP BY doc_id, tok)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           ROUND(1.0 - COUNT(*) * 1.0 / SUM(c), 4) AS dup_token_ratio,
           ROUND(MAX(c) * 1.0 / SUM(c), 4) AS top_token_frac,
           CASE WHEN 1.0 - COUNT(*) * 1.0 / SUM(c) <= 0.6
                 AND MAX(c) * 1.0 / SUM(c) <= 0.2
                THEN 1 ELSE 0 END AS repetition_pass
    FROM counts
    GROUP BY doc_id
    """,
)
def g23_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText rule
    family): per document, the duplicate-token ratio (1 - distinct/total)
    and the top-token fraction, plus the pass/fail flag a filtering
    stage would gate on. Highly repetitive documents (boilerplate,
    keyword stuffing, degenerate generations) score high on both.

    Scale: one shuffle on (doc_id, tok) for the counts, then a doc_id
    aggregation whose input is already co-partitioned by the first —
    integer algebra throughout, one rounded divide per ratio at the
    end."""
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tokens = F.sum("c")
    n_distinct = F.count(F.lit(1))
    top = F.max("c")
    dup_ratio = F.lit(1.0) - n_distinct * F.lit(1.0) / n_tokens
    top_frac = top * F.lit(1.0) / n_tokens
    return counts.groupBy("doc_id").agg(
        as_long(n_tokens).alias("n_tokens"),
        duck_round(dup_ratio, 4).alias("dup_token_ratio"),
        duck_round(top_frac, 4).alias("top_token_frac"),
        F.when((dup_ratio <= 0.6) & (top_frac <= 0.2), 1)
        .otherwise(0)
        .cast("int")
        .alias("repetition_pass"),
    )


# PII patterns kept POSIX-simple so the Java and RE2 dialects agree.
# The email/phone patterns are the standard scrub set; the fixture
# corpus is synthetic (no real PII), so a marker-entity pattern stands
# in as the configured custom rule to exercise the path non-trivially
# (same approach as g08c's marker-vocabulary language ID).
_PII_PATTERNS = (
    "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+",  # email
    "[+]?[0-9][0-9() -]{6,}[0-9]",               # phone-like digit run
    "spark",                                     # stand-in entity rule
)


@query(
    "g24_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_PATTERNS[0]}')) AS BIGINT)
             + CAST(len(regexp_extract_all(text, '{_PII_PATTERNS[1]}')) AS BIGINT)
             + CAST(len(regexp_extract_all(text, '{_PII_PATTERNS[2]}')) AS BIGINT)
             AS n_redactions,
           CAST(length(
               regexp_replace(regexp_replace(regexp_replace(text,
                   '{_PII_PATTERNS[0]}', '[PII]', 'g'),
                   '{_PII_PATTERNS[1]}', '[PII]', 'g'),
                   '{_PII_PATTERNS[2]}', '[PII]', 'g')) AS BIGINT)
             AS scrubbed_len
    FROM documents
    """,
)
def g24_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing stage: cascade of redaction regexes (email, phone,
    configured entity rules) with a per-document redaction count — the
    compliance pass a corpus takes before training. Pure projection
    (one codegen span, no shuffle at any scale); patterns are applied
    in a fixed order so redactions compose deterministically.

    ``n_redactions`` is the PER-PATTERN RAW MATCH COUNT against the
    ORIGINAL text, summed across patterns — not the number of
    replacements actually performed: replacements cascade, so a span
    consumed by an earlier pattern (a digit run inside an email, say)
    still counts for the later pattern. The oracle counts the same way,
    so parity holds; treat the metric as "pattern hit volume", not
    "spans redacted" (ADVICE r02)."""
    d = load(spark, sf_dir, "documents")
    scrubbed = F.col("text")
    n_red = F.lit(0).cast("long")
    for pat in _PII_PATTERNS:
        n_red = n_red + F.size(F.regexp_extract_all("text", F.lit(pat), 0))
        scrubbed = F.regexp_replace(scrubbed, pat, "[PII]")
    return d.select(
        "doc_id",
        as_long(n_red).alias("n_redactions"),
        as_long(F.length(scrubbed)).alias("scrubbed_len"),
    )


_PACK_CAPACITY = 256


@query(
    "g25_sequence_pack",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    placed AS (
        SELECT lang, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens
                 AS start_off
        FROM sized
    )
    SELECT lang,
           CAST(start_off // {_PACK_CAPACITY} AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM placed
    GROUP BY lang, seq_id
    """,
)
def g25_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training-batch construction: documents are
    concatenated per language in deterministic doc_id order and chopped
    into fixed-capacity token sequences (capacity 256 = _PACK_CAPACITY);
    each doc is assigned to the sequence its starting offset falls in —
    the concat-and-chunk packing GPT-style pretraining uses. Output is
    the per-sequence manifest (doc count, token sum).

    Scale: one window shuffle on the stream key (lang) computes the
    running offset, then a tiny (lang, seq_id) rollup; at 100 TB the
    stream key would be (shard, lang) so no single partition holds a
    language's whole corpus. seq_id = start_off div capacity in pure
    int64 (`div`, matching DuckDB `//` on BIGINT for the non-negative
    offset domain) — double division would lose exactness once a
    language's running token offset passes 2^53."""
    d = load(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    placed = sized.withColumn(
        "start_off", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return placed.groupBy(
        "lang",
        F.expr(f"start_off div {_PACK_CAPACITY}").alias("seq_id"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@query(
    "g26_dedup_clusters",
    oracle="""
    WITH RECURSIVE
    toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
             FROM documents),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    tp AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
           FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
    pairs AS (SELECT d1, d2
              FROM tp JOIN sizes s1 ON d1 = s1.doc_id
                      JOIN sizes s2 ON d2 = s2.doc_id
              WHERE shared * 1.0 / (s1.n + s2.n - shared) >= 0.8),
    edges AS (SELECT d1 AS a, d2 AS b FROM pairs
              UNION ALL SELECT d2, d1 FROM pairs),
    reach AS (SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
    SELECT a AS doc_id,
           LEAST(a, MIN(b)) AS cluster_id,
           CASE WHEN LEAST(a, MIN(b)) = a THEN 1 ELSE 0 END AS is_representative
    FROM reach
    GROUP BY a
    """,
)
def g26_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs: connected components of
    the Jaccard>=0.8 pair graph via iterative min-label propagation,
    cluster id = smallest doc_id in the component, representative =
    the member equal to its cluster id — the final step of a dedup
    pipeline (pairs alone don't tell you which docs to drop; components
    do: keep the representative, drop the rest).

    Label propagation converges to the exact component minimum, so the
    result is engine-independent and hash-verified against a recursive-
    CTE transitive closure in DuckDB. Each round is a propagate shuffle
    (edges joined to current labels + min-aggregate) PLUS a pointer-
    doubling label-of-label self-join, giving O(log diameter) rounds on
    chain-heavy graphs (_min_label_components_rounds; pinned on a
    256-chain in tests/test_strategies.py). The label table is
    ``localCheckpoint``-ed eagerly every round so the logical plan
    stays FLAT — without lineage truncation each iteration re-analyzes
    the whole history and wall time explodes (measured 1.6 s -> 24 s by
    iteration 5; flat: ~1.5 s every round). On a multi-node cluster use
    reliable ``checkpoint`` instead. The per-round convergence probe is
    a single count on the changed-label set.

    Round 15: on the bitmap branch the components run over the REP
    graph (distinct-token-set groups as nodes, the bitmask core's
    pre-expansion qualifying pairs as edges) and docs inherit their
    group's component at the end.  Exact, because same-set docs are
    pairwise Jaccard-1 (one fully-connected blob inside a single
    component — the group is the unit) and a group's rep is BY
    CONSTRUCTION its minimum doc_id, so the component's min rep is the
    component's min doc: the old doc-space label.  Membership matches
    the pair graph too: a doc appears iff its group has >=2 members
    (same-set edges) or qualifies with another group (cross edges) —
    exactly the docs the expanded pair list would mention.  Template
    corpora collapse: the label iterations shuffle group-level edges,
    never the m^2 same-set blobs (BASELINE.md r15)."""
    d = load(spark, sf_dir, "documents")
    qual, d2r = _near_rep_pairs(_tokens(d), 0.8, _tokens_raw(d))
    labels = _min_label_components(
        qual.select(F.col("r1").alias("d1"), F.col("r2").alias("d2"))
    )
    if d2r is not None:
        # lift the group labels to the docs of each group
        grp = d2r.groupBy("rep").agg(F.count(F.lit(1)).alias("gsize"))
        part = (
            grp.join(labels, grp["rep"] == labels["node"], "left")
            .select(
                "rep",
                F.coalesce("label", F.col("rep")).alias("comp"),
                "gsize",
                F.col("label").isNotNull().alias("in_graph"),
            )
            .filter(F.col("in_graph") | (F.col("gsize") >= 2))
        )
        labels = d2r.join(part.select("rep", "comp"), "rep").select(
            F.col("doc_id").alias("node"), F.col("comp").alias("label")
        )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.when(F.col("node") == F.col("label"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_representative"),
    )


def _min_label_components(pairs: DataFrame, max_rounds: int = 64) -> DataFrame:
    """(node, label) connected components of an undirected pair graph;
    label = component minimum (exact, deterministic)."""
    labels, _ = _min_label_components_rounds(pairs, max_rounds)
    return labels


def _min_label_components_rounds(
    pairs: DataFrame, max_rounds: int = 64, round_log: list | None = None
) -> tuple[DataFrame, int]:
    """Min-label connected components with pointer doubling; returns
    (labels, rounds-to-converge).

    Each round does BOTH halves of the classic O(log diameter)
    construction (VERDICT r02 #4; the Rastogi et al. hash-to-min
    recipe):

    1. propagate — every node takes the min of its own and its
       neighbors' labels (one shuffle over the edge list);
    2. shortcut (pointer doubling) — labels are node ids, so a
       label-of-label self-join replaces each node's label with its
       label's label: the distance a label has travelled roughly
       doubles every round instead of growing by one hop.

    A path graph of n nodes therefore converges in ~log2(n) rounds
    (pinned by tests/test_strategies.py on a 256-chain) instead of n.
    The label table is localCheckpoint-ed eagerly per round to keep
    the logical plan flat (see g26's docstring for measurements). The
    convergence probe carries the round-entry label THROUGH the round
    as ``olabel``, so ``changed`` is a filter+count scan over the
    already-checkpointed result — not a separate old-vs-new join.

    The propagate half runs as a DELTA ITERATION (the Flink/Pregel
    frontier pattern) from round 2 on: only labels that changed last
    round are joined against the edges, broadcast when the frontier is
    small. This is exact, not a heuristic — labels decrease
    monotonically and every v already holds a label <= the value any
    unchanged neighbor last offered it (round 1 is a full join), so
    per-round labels are IDENTICAL to the full re-join; the frontier
    join just skips work that provably can't win. Measured at sf0.1
    (3.0M pairs, frontiers 3688/1179/4 after round 1): rounds 2+ drop
    from ~2 s full-shuffle joins to near-free broadcast probes. At
    100 TB the effect dominates: most rounds touch the frontier, not
    the corpus-size edge list. The pointer-doubling half stays
    full-table — a changed root must relabel its (unchanged)
    followers, and the convergence probe must observe that.
    ``max_rounds`` is a hard backstop — 64 > log2 of any feasible node
    count, so hitting it means a logic regression, not a big graph."""
    edges = pairs.unionByName(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).persist()
    try:
        edges.count()  # materialize once; every iteration re-reads it
        # The node count rides the checkpoint job as an observed
        # metric instead of a separate count() pass (round 16) — at
        # scale each avoided probe is a full label-table scan.
        obs0 = Observation()
        labels = (
            edges.select(F.col("d1").alias("node")).distinct()
            .withColumn("label", F.col("node"))
            .observe(obs0, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        prev_ckpt = labels  # superseded checkpoints are released per round
        # Delta-iteration frontier. Round 1's frontier is the WHOLE
        # label table (every label just initialized = changed), which is
        # itself usually tiny next to the edge list — one (node, label)
        # row per node vs one row per pair. Broadcast the frontier while
        # it fits, since shipping it to every task beats shuffling the
        # edge list; past the budget, fall back to the shuffle join.
        frontier = labels
        frontier_size = int(obs0.get["n"])
        for rounds in range(1, max_rounds + 1):
            will_broadcast = _fits_broadcast(frontier, frontier_size)
            src = F.broadcast(frontier) if will_broadcast else frontier
            neigh = (
                edges.join(src, edges["d2"] == src["node"])
                .groupBy("d1")
                .agg(F.min("label").alias("nlabel"))
            )
            prop = labels.join(neigh, labels["node"] == neigh["d1"], "left").select(
                "node",
                F.col("label").alias("olabel"),  # round-entry label, for the probe
                F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias(
                    "plabel"
                ),
            )
            # pointer doubling: label <- min(label, label(label)); label
            # values are node ids, so this is a self-join on label=node.
            # The convergence probe (count of changed labels == next
            # round's frontier size) rides the checkpoint job as an
            # observed metric (round 16): the separate filter+count
            # pass this replaces re-scanned the whole checkpointed
            # label table once per round — a fixed extra job at bench
            # scale and a full-table pass at 100 TB.
            obs = Observation()
            new_labels = (
                prop.alias("x")
                .join(
                    prop.select(
                        F.col("node").alias("lnode"), F.col("plabel").alias("llabel")
                    ),
                    F.col("x.plabel") == F.col("lnode"),
                    "left",
                )
                .select(
                    "node",
                    F.least(
                        F.col("x.plabel"), F.coalesce("llabel", F.col("x.plabel"))
                    ).alias("label"),
                    F.col("x.olabel").alias("olabel"),
                )
                .observe(
                    obs,
                    F.sum(
                        (F.col("label") != F.col("olabel")).cast("long")
                    ).alias("changed"),
                )
                .localCheckpoint(eager=True)
            )
            # The frontier is NOT checkpointed: it is a one-filter
            # derivation of the just-checkpointed new_labels, so its
            # plan is already flat and a second checkpoint would only
            # double the blocks held per round (ADVICE r07).
            frontier = (
                new_labels.filter(F.col("label") != F.col("olabel"))
                .select("node", "label")
            )
            if round_log is not None:
                # Observation seam for tests/test_strategies.py's posture
                # pins — zero work in production (round_log=None).
                round_log.append(
                    {
                        "round": rounds,
                        "frontier_size_entering": frontier_size,
                        "broadcast": will_broadcast,
                        "plan_broadcast": "BroadcastHashJoin"
                        in neigh._jdf.queryExecution().executedPlan().toString(),
                        "ckpt_rdd_id": local_checkpoint_rdd(new_labels).id(),
                        "released_rdd_id": local_checkpoint_rdd(prev_ckpt).id(),
                        "frontier_checkpointed": local_checkpoint_rdd(frontier)
                        is not None,
                    }
                )
            # sum() over an empty frame observes NULL — an empty label
            # table means nothing can change; coalesce to 0.
            frontier_size = int(obs.get["changed"] or 0)
            labels = new_labels.select("node", "label")
            # The previous round's checkpoint can never be read again
            # (every live frame derives from new_labels) — release its
            # storage now instead of holding max_rounds' worth.
            release_local_checkpoint(prev_ckpt)
            prev_ckpt = new_labels
            if frontier_size == 0:
                return labels, rounds
        raise RuntimeError(
            f"min-label components did not converge in {max_rounds} rounds "
            "(pointer doubling should need ~log2(diameter))"
        )
    finally:
        edges.unpersist()


# --------------------------------------------------------------------------
# Corpus mixing
# --------------------------------------------------------------------------

# Per-source sampling rates for the mixture policy, expressed as md5
# digest-prefix cutoffs (4 hex chars => rate = cutoff/65536). Mimics a
# training-data mixture spec: upsampled high-quality sources keep
# everything, bulk web keeps a fraction. String-compare on the digest
# prefix is deterministic, engine-portable, and layout-independent.
_MIXTURE_CUTOFFS = [
    ("src0", "ffff"),   # keep ~100%
    ("src1", "ffff"),
    ("src2", "c000"),   # ~75%
    ("src3", "c000"),
    ("src4", "8000"),   # ~50%
    ("src5", "8000"),
    ("src6", "8000"),
    ("src7", "4000"),   # ~25%
    ("src8", "4000"),
    ("src9", "4000"),
]  # sources not listed are dropped (rate 0)


@query(
    "g27_corpus_mixture",
    oracle="""
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d
    JOIN (VALUES ('src0','ffff'),('src1','ffff'),('src2','c000'),
                 ('src3','c000'),('src4','8000'),('src5','8000'),
                 ('src6','8000'),('src7','4000'),('src8','4000'),
                 ('src9','4000')) w(source, cutoff)
      ON d.source = w.source
    WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < w.cutoff
    """,
)
def g27_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mixture sampling: each source is down-sampled to
    its configured rate (the per-source weighting step of corpus
    assembly — upsample curated sources, thin bulk web, drop the rest).

    Sampling is by doc_id digest prefix against a per-source cutoff
    (the b34/g19 systematic-sample rule), so the mixture is
    deterministic, reproducible across runs/engines, and independent of
    physical layout. Plan: broadcast the 10-row policy dim onto the
    document scan — a narrow map with one codegen filter, no shuffle at
    any scale; an unlisted source never leaves the scan (inner join
    prunes it). Growth stability (VERDICT r03 #7): the digest-prefix
    rule keeps every doc's keep/drop decision independent of corpus
    size and layout, so re-running the mixture after ingesting more
    data only ADDS documents — the previously sampled set is unchanged
    (the same property g19/g22 rely on), which is what makes
    incremental corpus assembly reproducible."""
    d = load(spark, sf_dir, "documents")
    policy = F.broadcast(
        spark.createDataFrame(_MIXTURE_CUTOFFS, "source string, cutoff string")
    )
    return (
        d.join(policy, "source")
        .filter(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < F.col("cutoff"))
        .select("doc_id", "source", "n_chars")
    )


@query("g28_semantic_dedup", oracle=None)  # bucketed-approximate — rows-only tier
def g28_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup END TO END at the scale shape: IVF-bucketed
    candidate generation -> in-bucket exact cosine edges (>= 0.4, the
    corpus's g03d near-dup threshold) -> connected components ->
    keep-min representative per cluster. This composes the engine's two
    scale primitives — g03e's coarse quantizer (digest-seeded codebook
    of k = max(16, floor(sqrt(n))) lists, nassign=2 multi-assignment so
    boundary-straddling pairs share a bucket) and g26's pointer-doubling
    min-label components — into the operator a training pipeline
    actually runs: "drop embedding-level duplicates, keep one
    representative per semantic cluster".

    Approximate by construction (a cross-bucket pair under nassign=2
    can be missed) => rows-only tier; the exact twin g03d + g26 carry
    the hash burden for the same algebra. Local test pins that every
    exact g03d pair co-assigned here lands in one cluster and that
    survivors = cluster minima.

    100 TB: candidate pairs are generated per bucket (list_id is the
    shuffle key), so cost is sum over buckets of |bucket|^2 instead of
    N^2 — with k ~ sqrt(N) lists this is the standard IVF dedup
    posture; components run on the edge set only (pairs, not corpus),
    and the codebook is a broadcast k x 64 artifact."""
    # Zero-norm vectors can never be semantic duplicates (same rule as
    # g03e).  The working set feeds the k sizing, the seeds, the
    # assignment and the singleton anti-join; the count that sizes k
    # rides its checkpoint job (round 17, the _mask_groups template).
    vn, n = _unit_vectors(load(spark, sf_dir, "embeddings"))
    # nlist ~ sqrt(N) (floor 16): the standard IVF sizing — with a
    # FIXED codebook, bucket occupancy grows linearly with the corpus
    # and the in-bucket exact-cosine stage goes quadratic (the round-12
    # 10x study measured 10.4 s -> 544 s on 10x vectors at k=16; k ~
    # sqrt(N) keeps sum(|bucket|^2) ~ N^1.5 / ... ~ linear-ish in N).
    # One observed scalar — the same plan-constant precedent as the
    # vocab/anchor/idf counts.
    k = max(16, math.isqrt(max(n, 1)))
    # The seeds are not checkpointed: their only consumer is the
    # assignment below, which is.

    # Staged once (eager localCheckpoint): the assignment subplan feeds
    # BOTH sides of the in-bucket self-join and the components helper's
    # persist — without staging, the normalize + assign pipeline
    # re-executes three times (measured 17.5 s -> ~10 s at sf0.1).
    # Same posture as the g02 mask-table staging: this is the
    # inverted-list index a production dedup writes anyway.
    # Round 17 (guide §2.3/§2.4): assignment is MAP-ONLY — the k ~
    # sqrt(N) codebook rides one collected-struct broadcast row and
    # each vector takes its top-2 lists with an in-row comparator sort
    # (_ivf_top_lists), replacing the k x N row_number window whose
    # exchange carried the 64-double vector k-fold (at sf0.1: n=2,000,
    # k=44, an ~88k-row x ~0.5 KB sort+shuffle; identical (sim DESC,
    # list_id ASC) order by construction).
    assigned = (
        vn.join(_ivf_codebook(_digest_seeds(vn, k)))
        .select(
            "vec_id",
            "u",
            # nassign=2: boundary pairs share a bucket
            F.explode(_ivf_top_lists(2, lambda c: _dot(F.col("u"), c))).alias("t"),
        )
        .select(F.col("t.list_id").alias("list_id"), "vec_id", "u")
        .localCheckpoint(eager=True)
    )
    a = assigned.select(
        "list_id", F.col("vec_id").alias("d1"), F.col("u").alias("u1")
    )
    b = assigned.select(
        "list_id", F.col("vec_id").alias("d2"), F.col("u").alias("u2")
    )
    edges = (
        a.join(b, "list_id")
        .filter(F.col("d1") < F.col("d2"))
        .dropDuplicates(["d1", "d2"])  # multi-assignment re-lands pairs
        .withColumn("cos", _dot(F.col("u1"), F.col("u2")))
        .filter(F.col("cos") >= 0.4)
        .select("d1", "d2")
    )
    labels = _min_label_components(edges)
    # Singletons (no near-dup edge) are their own representatives.
    singles = vn.join(
        labels.select(F.col("node").alias("vec_id")), "vec_id", "left_anti"
    ).select(F.col("vec_id").alias("node"), F.col("vec_id").alias("label"))
    return (
        labels.unionByName(singles)
        .select(
            F.col("node").alias("vec_id"),
            F.col("label").alias("cluster_id"),
            F.when(F.col("node") == F.col("label"), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_kept"),
        )
    )


@query(
    "g29_quality_gate",
    oracle="""
    WITH s AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_toks,
             len(list_distinct(toks)) AS n_uniq,
             list_aggregate(list_transform(toks, t -> length(t)), 'sum')
               AS sum_len,
             len(list_filter(toks,
                 t -> t IN ('the','a','of','and','to','in','is'))) AS n_stop
      FROM s
    )
    SELECT doc_id,
           CAST(n_toks AS BIGINT) AS n_toks,
           ROUND(1.0 - n_uniq * 1.0 / n_toks, 6) AS dup_ratio,
           ROUND(sum_len * 1.0 / n_toks, 6) AS mean_tok_len,
           ROUND(n_stop * 1.0 / n_toks, 6) AS stop_ratio,
           CAST(CASE WHEN n_toks BETWEEN 5 AND 1000
                      AND ROUND(1.0 - n_uniq * 1.0 / n_toks, 6) <= 0.5
                      AND ROUND(n_stop * 1.0 / n_toks, 6) <= 0.5
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM m
    """,
)
def g29_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality GATE: the filter a training pipeline actually
    applies, composing the engine's quality signals into one keep/drop
    decision per document with its evidence — token count bounds
    (Gopher-style length gate), duplicate-token ratio (g23's repetition
    signal), stopword ratio (g08b's fluency proxy). All signals are
    integer counts with ONE rounded divide each, and the gate compares
    the ROUNDED values, so the decision is bit-identical cross-engine
    (§5.4 item 1 discipline). Pure per-row array algebra — a single
    map-only projection, no explode, no shuffle, no Python: at 100 TB
    this runs at scan speed and the gate's selectivity feeds the a09
    relanding of the kept set."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop = F.array([F.lit(w) for w in ("the", "a", "of", "and", "to", "in", "is")])
    n = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    dup_ratio = duck_round(F.lit(1.0) - n_uniq * F.lit(1.0) / n, 6)
    stop_ratio = duck_round(n_stop * F.lit(1.0) / n, 6)
    return d.select(
        "doc_id",
        n.cast("long").alias("n_toks"),
        dup_ratio.alias("dup_ratio"),
        duck_round(sum_len * F.lit(1.0) / n, 6).alias("mean_tok_len"),
        stop_ratio.alias("stop_ratio"),
        F.when(
            n.between(5, 1000) & (dup_ratio <= 0.5) & (stop_ratio <= 0.5),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("keep"),
    )


_G30_ORACLE = """
    WITH newdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
    ex AS (
      SELECT n.doc_id, MIN(c.doc_id) AS m
      FROM newdocs n
      JOIN (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0) c
        ON md5(lower(trim(n.text))) = md5(lower(trim(c.text)))
      GROUP BY 1
    ),
    toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
             FROM documents),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    jp AS (
      SELECT d1, d2 FROM pairs
      JOIN sizes s1 ON d1 = s1.doc_id
      JOIN sizes s2 ON d2 = s2.doc_id
      WHERE shared * 1.0 / (s1.n + s2.n - shared) >= 0.8
    ),
    nearm AS (
      SELECT nd, MIN(cd) AS m FROM (
        SELECT d1 AS nd, d2 AS cd FROM jp WHERE d1 % 7 = 0 AND d2 % 7 <> 0
        UNION ALL
        SELECT d2 AS nd, d1 AS cd FROM jp WHERE d2 % 7 = 0 AND d1 % 7 <> 0
      ) GROUP BY 1
    )
    SELECT n.doc_id,
           CASE WHEN ex.m IS NOT NULL THEN 'exact'
                WHEN nearm.m IS NOT NULL THEN 'near'
                ELSE 'unique' END AS verdict,
           COALESCE(ex.m, nearm.m) AS match_id
    FROM newdocs n
    LEFT JOIN ex ON n.doc_id = ex.doc_id
    LEFT JOIN nearm ON n.doc_id = nearm.nd
    """


def incremental_dedup(
    newdocs: DataFrame, corpus: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Batch-vs-corpus dedup core (g30's engine, input-parameterized —
    the API a production ingest calls on its own frames).

    Inputs are (doc_id, text) DataFrames with disjoint doc_ids; output
    is one row per batch doc: (doc_id, verdict exact|near|unique,
    match_id = MIN matching corpus doc or NULL). Exact layer =
    normalized-text digest equi-join; near layer = exact token-Jaccard
    >= threshold over the union, from ``_near_rep_pairs``.  On the
    bitmap route the near layer aggregates in REP SPACE (round 15):
    each batch doc takes the min corpus member over its distinct-mask
    group's qualifying partner groups — the doc-pair expansion never
    materializes.  The open-vocabulary route keeps the pair flow,
    restricted to new x corpus pairs.  Batch membership is a BROADCAST
    side on the batch ids (batch-sized, tiny — never a corpus-sized
    build side).
    Verdict precedence exact > near > unique.  Only new x corpus edges
    count: duplicates WITHIN the batch are intentionally not flagged
    here (that's g01/g02's whole-corpus job); the completeness
    property pinning this equals full-corpus dedup restricted to B x C
    pairs is tests/test_properties.py."""
    digest = lambda c: F.md5(F.lower(F.trim(c)))  # noqa: E731
    ex = (
        newdocs.select("doc_id", digest(F.col("text")).alias("dg"))
        .join(
            corpus.select(
                F.col("doc_id").alias("cid"), digest(F.col("text")).alias("dg")
            ),
            "dg",
        )
        .groupBy("doc_id")
        .agg(F.min("cid").alias("exact_m"))
    )
    alldocs = newdocs.select("doc_id", "text").unionByName(
        corpus.select("doc_id", "text")
    )
    toks = _tokens(alldocs)
    qual, d2r = _near_rep_pairs(toks, threshold, _tokens_raw(alldocs))
    ids = newdocs.select("doc_id")
    edges = qual.select(
        F.col("r1").alias("rf"), F.col("r2").alias("rt")
    ).unionByName(qual.select(F.col("r2").alias("rf"), F.col("r1").alias("rt")))
    if d2r is None:
        # Open vocabulary: doc pairs, so the answer is the min corpus
        # partner over the pairs leaving a batch doc.  Kept flat on
        # the lazy token join: the broadcast batch filter then reaches
        # both of its prefix sides by constraint inference (g30 with
        # the route forced, sf0.1, 4 cores: 24 s; the rep-space code
        # over an identity map, 152 s).
        new_as = lambda c: F.broadcast(ids.withColumnRenamed("doc_id", c))  # noqa: E731
        near = (
            edges.join(new_as("rf"), "rf", "left_semi")
            .join(new_as("rt"), "rt", "left_anti")
            .groupBy(F.col("rf").alias("doc_id"))
            .agg(F.min("rt").alias("near_m"))
        )
    else:
        # Rep-space near layer (round 15): the pair list the old path
        # expanded existed only to be min-reduced — a 2k-doc template
        # cluster emitted 2M same-mask pairs for one answer.  Take the
        # QUALIFYING group pairs and aggregate the per-batch-doc MIN
        # matching corpus id at group level: batch doc -> its group ->
        # every qualifying partner group (both directions, plus the
        # group itself — same token set is Jaccard 1, exactly the
        # unconditional same-mask emission of _expand_mask_pairs) ->
        # min corpus member.  Same verdicts, same match_ids, no
        # output-squared intermediate.
        members = d2r.join(
            F.broadcast(ids.withColumn("is_new", F.lit(True))), "doc_id", "left"
        )
        cmin = (
            members.filter(F.col("is_new").isNull())
            .groupBy("rep")
            .agg(F.min("doc_id").alias("cmin"))
        )
        batch_side = members.filter(F.col("is_new").isNotNull()).select(
            "doc_id", F.col("rep").alias("rf")
        )
        grp = d2r.select(F.col("rep").alias("rf")).distinct()
        partners = edges.unionByName(grp.withColumn("rt", F.col("rf")))
        near = (
            batch_side.join(partners, "rf")
            .join(cmin, F.col("rt") == cmin["rep"])
            .groupBy("doc_id")
            .agg(F.min("cmin").alias("near_m"))
        )
    return (
        newdocs.select("doc_id")
        .join(ex, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_m").isNotNull(), "exact")
            .when(F.col("near_m").isNotNull(), "near")
            .otherwise("unique")
            .alias("verdict"),
            F.coalesce("exact_m", "near_m").alias("match_id"),
        )
    )


@query("g30_dedup_incremental", oracle=_G30_ORACLE)
def g30_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — a new batch (doc_id % 7 = 0, ~14%) checked
    against the existing corpus, the shape a production ingest actually
    runs (g01/g02 dedup whole corpora; real pipelines dedup the DELTA).
    Thin registered wrapper over ``incremental_dedup`` (the
    input-parameterized core — see its docstring for the layering and
    the broadcast bipartite filter).

    100 TB: the exact layer is a digest equi-join of the BATCH (tiny)
    against the corpus digest index (a broadcast or bucketed probe);
    the near layer banding (g02b) indexes only the corpus once and
    probes each new batch's signatures against the band index
    (``BandSignatureIndex.probe``, driven by g32) — cost scales with
    the batch, not the corpus. The broadcast new-id flag here is the
    correctness twin of that probe, and the completeness
    property (incremental == full-corpus dedup restricted to B x C)
    is pinned in tests/test_properties.py."""
    d = load(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 7 == 0
    return incremental_dedup(d.filter(is_new), d.filter(~is_new), threshold=0.8)


@query(
    "g31_dedup_segments",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id,
             unnest([{'seg_no': k,
                      'seg': array_to_string(toks[k*10+1 : k*10+10], ' ')}
                     for k in range(CAST(ceil(len(toks)/10.0) AS BIGINT))])
               AS seg_s
      FROM t
    ),
    segs AS (SELECT doc_id, seg_s.seg_no AS seg_no, seg_s.seg AS seg FROM s),
    occ AS (
      SELECT doc_id, seg_no, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_no)
               AS rn
      FROM segs
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segs,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END, ' '
                               ORDER BY seg_no), '') AS clean_text
    FROM occ
    GROUP BY doc_id
    """,
)
def g31_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUB-document (segment-level) dedup — the Dolma/FineWeb-style
    paragraph dedup a training pipeline runs AFTER g01/g02's document
    dedup: chunk each doc into 10-token segments, keep only the
    corpus-wide FIRST occurrence of each segment text (ordered by
    (doc_id, seg_no)), and reassemble each doc from its surviving
    segments in order. Output: (doc_id, n_segs, n_kept, clean_text).

    The fixture corpus has no paragraph boundaries, so segmentation is
    positional (fixed 10-token windows via slice over the token array —
    one in-row transform, no explode until the segment level); on real
    data the chunker swaps for a newline split with this plan intact.
    Exact string algebra end to end => hash tier.

    100 TB: two inherent shuffles — the first-occurrence window
    partitions by segment text (high cardinality, balanced; the same
    key a digest-bucketed dedup index would use), and the reassembly
    groups by doc_id. Min-wins semantics make the result independent
    of partitioning; the window's per-segment state is one running
    counter, and AQE splits any hot segment value."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_segs = F.ceil(F.size(toks) / F.lit(10.0)).cast("int")
    seg_exprs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda k: F.array_join(F.slice(toks, k * 10 + 1, 10), " "),
    )
    segs = d.select(
        "doc_id", F.posexplode(seg_exprs).alias("seg_no", "seg")
    )
    w = Window.partitionBy("seg").orderBy("doc_id", "seg_no")
    occ = segs.withColumn("rn", F.row_number().over(w))
    kept = F.when(F.col("rn") == 1, F.col("seg"))
    return (
        occ.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segs"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.filter(
                            F.sort_array(
                                F.collect_list(
                                    F.struct(F.col("seg_no"), kept.alias("seg"))
                                )
                            ),
                            lambda s: s["seg"].isNotNull(),
                        ),
                        lambda s: s["seg"],
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("clean_text"),
        )
    )


class BandSignatureIndex:
    """Persisted MinHash band-signature store — the between-sessions
    piece of the 100 TB incremental near-dup loop (VERDICT r13 #1,
    composing the machinery a22/fs.py already provide).

    ``build(corpus)`` computes ``_band_signatures`` over the corpus
    ONCE and publishes the (doc_id, sig) frame as an immutable
    ``VersionedTable`` version (plain parquet behind an atomically
    flipped manifest — works on bare paths and on hdfs://s3a://
    roots).  Any LATER SparkSession then probes new batches against
    the stored version with ``probe`` — the one probe route — without
    re-banding the corpus: the daily-ingest loop reads the index,
    bands only the batch, and re-publishes on its own cadence.

    The build also picks the verify route once, over the whole corpus
    (``_bitmap_vocab``).  On the bitmap route (<= 4,096 distinct
    tokens) the version stores the corpus's rep space next to its
    signatures: the signature rows of each distinct token set's min-
    doc_id member (its carrier) hold the set's mask words, and the
    ``_vocab`` sidecar holds the token ids.  A probe then tokenizes
    and bands only the batch and never reads the corpus.  On the open
    route (and for versions published before the rep space was
    stored) the probe re-reads the candidate corpus docs' text and
    verifies by token join.

    At 100 TB the signatures are ~bands rows of 24 bytes per document —
    three orders of magnitude smaller than the text they summarize
    (measured ratio in BASELINE.md r14); the stored rep space adds 8
    bytes per mask word on carrier rows only, and the vocab.

    Stated trade-off: the route is a property of the whole corpus, so
    a corpus over 4,096 distinct tokens probes on the open route even
    when a batch's candidate docs alone would fit a bitmap."""

    def __init__(self, root: str, spark: SparkSession | None = None) -> None:
        from data_lake_staging_engine_spark.versioning import VersionedTable

        self.table = VersionedTable(root, spark)

    def build(
        self, corpus: DataFrame, n_hashes: int = 16, bands: int = 4
    ) -> int:
        """Band the corpus once and publish the signatures; returns the
        published version number.  ``n_hashes``/``bands`` are recorded
        on the manifest entry so every later probe bands its batch with
        the SAME parameters (ADVICE r14).  A batch banded with other
        parameters silently loses recall: with a different rows-per-
        band (``n_hashes // bands``) no band hash ever collides, and
        with the same rows-per-band only the shared leading bands do
        (``h_i`` is seeded by ``i`` alone, so a 16x4 batch and a 32x8
        index agree on bands 0-3 and miss on 4-7).

        On the bitmap route the same version also stores the rep space
        of ``_mask_groups`` (same token ids, same min-doc_id carriers):
        the carrier rows' mask words and the ``_vocab`` sidecar, written
        before the manifest flip.  The mask words come out of the
        signatures' own per-doc aggregate and a window over the words
        picks each group's carrier, so one aggregate serves both (the
        route pick reads the corpus tokens before it, for the HLL
        probe and the exact vocab).  The entry records the route, the
        vocab size, the carrier count (observed by the write) and the
        stored schema, which the probe reads the version with."""
        toks = _tokens(corpus)
        extra = {"n_hashes": n_hashes, "bands": bands, "route": "open"}
        hit = _bitmap_vocab(toks, probe=_tokens_raw(corpus))
        if hit is None:
            stored = _band_signatures(toks, n_hashes=n_hashes, bands=bands)
            extra["schema"] = _ddl(stored.schema)
            return self.table.publish(stored, extra=extra)
        vocab, vocab_n = hit
        wcols = _word_cols(vocab_n)
        sigs = _band_signatures(
            toks.join(F.broadcast(vocab), "tok"),
            n_hashes=n_hashes,
            bands=bands,
            per_doc=tuple(_mask_words(wcols)),
        ).withColumn("rep", F.min("doc_id").over(Window.partitionBy(*wcols)))
        carrier = F.col("doc_id") == F.col("rep")
        obs = Observation()
        stored = sigs.observe(
            obs, F.sum(carrier.cast("long")).alias("n")
        ).select(
            "doc_id",
            "sig",
            *[F.when(carrier, F.col(c)).alias(c) for c in wcols],
        )
        extra.update(route="bitmap", vocab_n=vocab_n, schema=_ddl(stored.schema))
        # every doc has exactly ``bands`` signature rows
        return self.table.publish(
            stored,
            extra=lambda: {**extra, "carriers": int(obs.get["n"] or 0) // bands},
            sidecars={_VOCAB_SIDECAR: vocab},
        )

    def signatures(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """The (doc_id, sig) rows of one version, every corpus doc."""
        return _read_index(spark, self.table.entry(version)).select(
            "doc_id", "sig"
        )

    def params(self, version: int | None = None) -> tuple[int, int]:
        """(n_hashes, bands) the given version was built with."""
        return _band_params(self.table.entry(version))

    def probe(
        self,
        newdocs: DataFrame,
        corpus: DataFrame,
        threshold: float = 0.8,
        version: int | None = None,
    ) -> DataFrame:
        """Probe a new batch against the stored index — the 100 TB
        INCREMENTAL near-dup path that g30's docstring prescribes: the
        batch computes only its OWN signatures and probes the index by
        band key, and the surviving candidates get the exact Jaccard
        verify.

        Bitmap-route versions (``_probe_rep_space``): the batch is
        tokenized and banded once, and its tokens are mapped to the
        stored token ids; the verify runs inside the band join
        against the stored carriers and is min-aggregated straight to
        the answer.  ``corpus`` is not read.  Open-route and older
        versions: the candidate corpus docs (a semi-join of the index
        against the batch's bucket keys) are re-read from ``corpus``
        and verified by token join; those docs can be most of the
        corpus when the batch's bucket keys are common.

        ``version`` pins the probe to a published index version (None =
        latest) — the daily-loop shape where many probes run against
        version N while a republish builds N+1 concurrently (old
        versions stay readable per the VersionedTable vacuum contract).
        The manifest entry is resolved ONCE: the paths, the route and
        the ``n_hashes``/``bands`` the batch is banded with all come
        from it, so a republish landing mid-probe cannot pair one
        version's parameters with another version's signatures.

        Output: one row per batch doc — (doc_id, verdict near|unique,
        match_id = MIN matching corpus doc or NULL).  Approximate on
        recall exactly like g02b (same bands, same seeded hashes;
        recall floors in tests/test_dedup_recall.py); precision 1
        (exact verify).  Batch-internal duplicates are intentionally
        out of scope, same as ``incremental_dedup`` — the batch joins
        the corpus after the probe, so the next batch sees it."""
        entry = self.table.entry(version)
        n_hashes, bands = _band_params(entry)
        index = _read_index(newdocs.sparkSession, entry)
        if entry.get("route") == "bitmap":
            near = _probe_rep_space(
                newdocs, index, entry, n_hashes, bands, threshold
            )
        else:
            near = _probe_token_join(
                newdocs, corpus, index, n_hashes, bands, threshold
            )
        return (
            newdocs.select("doc_id")
            .join(near, newdocs["doc_id"] == near["d1"], "left")
            .select(
                newdocs["doc_id"],
                F.when(F.col("near_m").isNotNull(), "near")
                .otherwise("unique")
                .alias("verdict"),
                F.col("near_m").alias("match_id"),
            )
        )


# A bitmap-route index version's token ids: (tok, tok_id) parquet
# inside the version dir, skipped by reads of the version itself.
_VOCAB_SIDECAR = "_vocab"


def _ddl(schema: StructType) -> str:
    """``schema`` as the DDL string ``spark.read.schema`` takes."""
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema)


def _read_index(spark: SparkSession, entry: dict) -> DataFrame:
    """One index version's parquet, read with the schema its build
    recorded, so no schema-inference job runs.  Versions published
    before the schema was recorded infer it.  Versions published
    before the one-column band key hold (doc_id, band, sig): their two
    columns fold through ``_band_key`` here, so they probe on the same
    key as a fresh version."""
    reader = spark.read
    if "schema" in entry:
        reader = reader.schema(entry["schema"])
    index = reader.parquet(entry["path"])
    if "band" in index.columns:
        index = index.withColumn("sig", _band_key(F.col("band"), F.col("sig"))).drop("band")
    return index


def _band_params(entry: dict) -> tuple[int, int]:
    """(n_hashes, bands) recorded on an index manifest entry.  Versions
    published before the parameters were recorded fall back to the
    build defaults (16, 4) — the only parameterization that could have
    produced them."""
    return int(entry.get("n_hashes", 16)), int(entry.get("bands", 4))


def _probe_candidates(probe_sigs: DataFrame, index: DataFrame) -> DataFrame:
    """Candidate (d1=batch, d2=corpus) pairs: the batch's band
    signatures (banded with the index's recorded parameters) equi-
    joined to the stored index on the band key.  The corpus is never
    banded here — the plan carries the index scan and only the batch's
    minhash aggregate, which tests/test_band_index.py pins as the
    no-re-banding property."""
    return (
        probe_sigs.alias("p")
        .join(index.alias("i"), "sig")
        .select(
            F.col("p.doc_id").alias("d1"), F.col("i.doc_id").alias("d2")
        )
        .distinct()
    )


def _probe_token_join(
    newdocs: DataFrame,
    corpus: DataFrame,
    index: DataFrame,
    n_hashes: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """Open-route band probe: per-batch-doc (d1, near_m), verified by
    token join over the candidate pairs.  The corpus side is RESTRICTED
    by a semi-join to candidate-matched docs, so only their text is
    re-tokenized."""
    # Batch signatures, banded ONCE (eager: they feed candidate-id
    # discovery and the candidate pairs).
    probe_sigs = _band_signatures(
        _tokens(newdocs), n_hashes=n_hashes, bands=bands
    ).localCheckpoint(eager=True)
    # Candidate corpus ids WITHOUT materializing doc pairs (round
    # 15): a semi-join of the index against the batch's distinct
    # bucket keys emits each candidate corpus row at most once.  The
    # id count rides the checkpoint job as an observed metric.
    obs_cands = Observation()
    cand_ids = (
        index.join(
            F.broadcast(probe_sigs.select("sig").distinct()),
            "sig",
            "left_semi",
        )
        .select("doc_id")
        .distinct()
        .observe(obs_cands, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    # The ids are NOT batch-bounded: a batch whose bucket keys are
    # common collides with most of the corpus, so the hint is decided
    # by the observed count like every other gated side.
    if _fits_broadcast(cand_ids, int(obs_cands.get["n"] or 0)):
        cand_ids = F.broadcast(cand_ids)
    corpus_hit = corpus.select("doc_id", "text").join(
        cand_ids, "doc_id", "left_semi"
    )
    toks = _tokens(newdocs.select("doc_id", "text").unionByName(corpus_hit))
    # The token-join verify needs real doc pairs; materialize them once.
    cands = _probe_candidates(probe_sigs, index).localCheckpoint(eager=True)
    verified = _verify_pairs_token_join(cands, toks, threshold)
    return verified.groupBy("d1").agg(F.min("d2").alias("near_m"))


def _probe_rep_space(
    newdocs: DataFrame,
    index: DataFrame,
    entry: dict,
    n_hashes: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """Rep-space band probe against a bitmap-route version: per-batch-
    doc (d1, near_m = MIN matching corpus id), with the exact popcount
    verify inside the band join, so no candidate pair is ever
    materialized and the corpus text is never read.

    The closure property that makes this exact: the stored vocab is
    the corpus's COMPLETE distinct token set, so mask equality <=>
    token-set equality, and the band signatures are a pure function of
    the token set — every doc in a distinct-mask group carries
    identical signature rows, so the group is candidate-to-a-batch-
    doc as a UNIT, its Jaccard against any batch doc is one popcount,
    and its min member (the carrier, whose index rows hold the group's
    mask words) answers match_id.  A batch doc's tokens outside the
    vocab set no bit but count in its size ``n``, and no carrier holds
    them, so Jaccard = shared / (n + n_carrier - shared) is exact.
    Each collision is verified in the join condition and the min
    aggregate reads the survivors directly: a pair that collides in k
    bands is verified k times and the min absorbs the repeats (the
    same argument ``_minhash_lsh_candidates`` rests on).

    Why carriers: banding buckets template corpora hard — the 10x
    replica puts 93% of its 15.6M candidate-pair mass in ~60 buckets
    of ~2k docs with IDENTICAL token sets, which one carrier per group
    collapses.  Why verify in the join: even in rep space the band
    join's output is almost all misses — on perfbench ``analytics``'
    first batch (seed 1: 750 batch docs, 9,698 carriers) it emits
    1,988,574 rows, 1,169,487 distinct (d1, group) pairs, for 576
    near batch docs — so no exchange or broadcast may sit between the
    join and the verify.  The batch side (batch x bands rows, its mask
    words and its one minhash aggregate) and the vocab (<= 4,096 rows)
    are broadcast unconditionally: both are bounded by construction."""
    spark = newdocs.sparkSession
    wcols = _word_cols(int(entry["vocab_n"]))
    vocab = spark.read.schema("tok string, tok_id int").parquet(
        os.path.join(entry["path"], _VOCAB_SIDECAR)
    )
    batch = (
        _band_signatures(
            _tokens(newdocs).join(F.broadcast(vocab), "tok", "left"),
            n_hashes=n_hashes,
            bands=bands,
            per_doc=(*_mask_words(wcols), F.count(F.lit(1)).alias("n")),
        )
        .select(
            F.col("doc_id").alias("d1"),
            F.col("sig").alias("p_sig"),
            "n",
            *[F.col(c).alias(f"p_{c}") for c in wcols],
        )
    )
    carriers = index.filter(F.col(wcols[0]).isNotNull())
    shared = sum(
        (F.bit_count(F.col(f"p_{c}").bitwiseAND(F.col(c))) for c in wcols),
        F.lit(0),
    )
    n_carrier = sum((F.bit_count(F.col(c)) for c in wcols), F.lit(0))
    jac = shared * F.lit(1.0) / (F.col("n") + n_carrier - shared)
    verified = carriers.join(
        F.broadcast(batch),
        (F.col("p_sig") == F.col("sig")) & (jac >= threshold),
    )
    return verified.groupBy("d1").agg(F.min("doc_id").alias("near_m"))


@query("g32_dedup_band_probe", oracle=None)  # approximate — rows-only tier
def g32_dedup_band_probe(
    spark: SparkSession, sf_dir: str, index_root: str | None = None
) -> DataFrame:
    """g30's near layer at its designed 100 TB shape: the new batch
    (doc_id % 7 = 0, same split as g30) probes the corpus's band-
    signature INDEX instead of running exact Jaccard over the union —
    index built once (with the corpus's rep space), probe cost
    O(batch x bands + carrier rows), exact verify inside the band join.
    Round 14: the index is genuinely PERSISTED (``BandSignatureIndex``
    — a VersionedTable of (doc_id, sig) parquet plus the stored
    rep space) and ``BandSignatureIndex.probe`` reads it back through
    the manifest, so this driver row exercises the same store-then-
    probe path the two-session test (tests/test_band_index.py) proves
    across SparkSessions.  Rows-only tier (banding recall, like g02b);
    g30 is the exact twin carrying the hash burden, and
    tests/test_dedup_recall.py pins this probe's agreement with g30's
    exact near layer.

    Round 15 (VERDICT r14 #1): pass ``index_root`` to amortize the
    build the way a standing pipeline does — the index is built only
    if the store at that root has no published version yet, and every
    later invocation probes the existing latest (bench.py's
    g32_probe_amortized entry measures exactly this).  The default
    (None) keeps the registered driver row self-contained: a fresh
    temp store, build-then-probe, full path coverage per invocation;
    the answer is checkpointed and the temp store removed before
    returning, so no call leaves an index directory behind."""
    import shutil
    import tempfile

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    newdocs = d.filter(F.col("doc_id") % 7 == 0)
    corpus = d.filter(F.col("doc_id") % 7 != 0)
    if index_root is not None:
        store = BandSignatureIndex(index_root, spark)
        if store.table.latest() is None:
            store.build(corpus)
        return store.probe(newdocs, corpus, threshold=0.8)
    root = tempfile.mkdtemp(prefix="dlse_bandidx_")
    try:
        store = BandSignatureIndex(root, spark)
        store.build(corpus)
        return store.probe(newdocs, corpus, threshold=0.8).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
