"""Physical-plan posture tests (SURVEY.md §4): the scale properties the
engine claims — pushdown, pruning, broadcast, map-side combine, codegen
— asserted against the actual Catalyst output so they can't silently
regress. Correctness tests prove the small-SF answer; these prove the
plan still holds at 1000 executors."""

import re

from data_lake_staging_engine_spark.plans.inspect import (
    codegen_ids,
    join_kinds,
    partial_aggregation,
    physical_plan,
    pushed_filters,
    read_columns,
)
from data_lake_staging_engine_spark.registry import registry

_REG = registry()


def _plan(name, spark, sf_dir):
    return physical_plan(_REG[name].fn(spark, sf_dir))


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan("b02_filter_pred", spark, sf_dir)
    pf = pushed_filters(plan, "orders")
    assert "o_totalprice" in pf and "o_orderstatus" in pf, pf


def test_column_pruning_flagship(spark, sf_dir):
    """The flagship Q1-shape agg must read only the 7 columns it uses
    from 16-column lineitem — at 100 TB this is the difference between
    scanning 100 TB and scanning ~30 TB."""
    plan = _plan("b20_agg_groupby", spark, sf_dir)
    cols = read_columns(plan, "lineitem")
    assert cols <= {
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_shipdate",
    }, cols
    assert "l_comment" not in cols and "l_orderkey" not in cols


def test_flagship_partial_aggregation(spark, sf_dir):
    """Map-side combine: shuffle volume bounded by group count (6), not
    row count."""
    plan = _plan("b20_agg_groupby", spark, sf_dir)
    assert partial_aggregation(plan), plan


def test_dim_joins_broadcast(spark, sf_dir):
    """customer |><| nation |><| region must broadcast the dims — no
    shuffle of the fact side on a dim key."""
    plan = _plan("b15_join_broadcast", spark, sf_dir)
    kinds = join_kinds(plan)
    assert kinds and all(k == "BroadcastHashJoin" for k in kinds), kinds


def test_equi_joins_never_cartesian(spark, sf_dir):
    for name in ("b10_join_inner", "b11_join_left", "b13_join_semi",
                 "b14_join_anti", "g10_embed_join_docs", "g11_events_user_join"):
        kinds = join_kinds(_plan(name, spark, sf_dir))
        assert "CartesianProduct" not in kinds, (name, kinds)


def test_scalar_pipeline_single_codegen_stage(spark, sf_dir):
    """A pure projection pack must stay in ONE whole-stage-codegen span
    — scan to output without a pipeline break."""
    plan = _plan("d03_fn_math", spark, sf_dir)
    assert len(codegen_ids(plan)) == 1, plan


def test_dedup_near_is_not_quadratic_join(spark, sf_dir):
    """g02's small-universe path must never re-grow the quadratic token
    self-join: no CartesianProduct, and no join keyed on the token
    column (the tok joins must all be the broadcast vocab map). A
    SortMergeJoin on the MASK columns is fine — that's the linear
    pair-to-doc expansion, whose non-vocab side is not provably
    broadcast-small at scale."""
    plan = _plan("g02_dedup_near", spark, sf_dir)
    kinds = join_kinds(plan)
    assert "CartesianProduct" not in kinds, kinds
    for line in plan.splitlines():
        stripped = line.lstrip(" :+-")
        if stripped.startswith("SortMergeJoin"):
            assert "tok#" not in stripped.split("Inner")[0], stripped


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """a15: both sides bucketed on the join key => SortMergeJoin with
    NO shuffle exchange feeding it — the staged-once/joined-many lever."""
    plan = _plan("a15_bucketed_join", spark, sf_dir)
    assert "SortMergeJoin" in join_kinds(plan), join_kinds(plan)
    join_part = plan.split("SortMergeJoin")[0]
    assert "Exchange hashpartitioning" not in join_part, plan


def test_partition_pruning_on_staged_layout(spark, sf_dir):
    """a16: the day filter must land in PartitionFilters (pruned before
    file listing), not in the data filter."""
    plan = _plan("a16_partition_pruned_scan", spark, sf_dir)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "day" in m.group(1), plan


def test_salted_agg_two_phase(spark, sf_dir):
    """b31 must aggregate in two keyed phases (salted then combined)."""
    plan = _plan("b31_agg_salted_skew", spark, sf_dir)
    assert plan.count("HashAggregate") >= 3, plan  # partial+final x2 phases


def test_simsearch_broadcasts_queries(spark, sf_dir):
    """Query vectors broadcast => candidate scan is map-only (no shuffle
    of the big side)."""
    plan = _plan("g03_simsearch_topk", spark, sf_dir)
    assert "BroadcastNestedLoopJoin" in join_kinds(plan), join_kinds(plan)


def test_salted_join_never_cartesian(spark, sf_dir):
    """b35's dim replication must still join on the composite
    (key, salt) equi-key — no nested-loop degeneration."""
    kinds = join_kinds(_plan("b35_join_salted_skew", spark, sf_dir))
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds, kinds


def test_quantize_reads_only_needed_columns(spark, sf_dir):
    """g18 must prune the embeddings scan to (vec_id, embedding) —
    label is not read."""
    plan = _plan("g18_embed_quantize", spark, sf_dir)
    cols = read_columns(plan, "embeddings")
    assert "label" not in cols, cols


def test_pii_scrub_single_codegen_projection(spark, sf_dir):
    """g24 is a pure regex-cascade projection: no exchange anywhere,
    one whole-stage-codegen span over the scan."""
    plan = _plan("g24_pii_scrub", spark, sf_dir)
    assert "Exchange" not in plan
    assert len(codegen_ids(plan)) == 1, plan


def test_repetition_partial_aggregation(spark, sf_dir):
    """g23's token counts combine map-side before the (doc_id, tok)
    shuffle — the partial-agg posture that survives 100x scale."""
    plan = _plan("g23_text_repetition", spark, sf_dir)
    assert partial_aggregation(plan)


def test_salted_join_composite_key_no_single_reducer(spark, sf_dir):
    """VERDICT r03 #4, b35: the whole point of salting is that the join
    key becomes (event_type, salt) so no reducer receives a dominant
    key's entire volume. Pin (a) the physical join keys really are the
    2-column composite (a regression to a plain event_type key would
    silently re-concentrate the skew) and (b) no SinglePartition
    exchange anywhere — the single-reducer shape salting exists to
    prevent."""
    plan = _plan("b35_join_salted_skew", spark, sf_dir)
    assert "SinglePartition" not in plan, plan
    import re

    keys = re.findall(r"Left keys \[(\d+)\]: \[([^\]]*)\]", plan)
    assert keys, plan
    n, cols = keys[0]
    assert n == "2" and "event_type" in cols and "salt" in cols, keys


def test_cte_chain_shuffle_budget_and_group_limit(spark, sf_dir):
    """VERDICT r03 #4, b38: the chained-CTE analytic must cost exactly
    TWO key shuffles — the spend aggregation and the per-region window
    — with every dim join broadcast, and the rk=1 filter must be pushed
    into WindowGroupLimit (per-partition top-1 retained, not a full
    rank materialization). At 100 TB the group-limit is the difference
    between shuffling one row per (region, partition) and shuffling
    every customer's spend into the window sort."""
    plan = _plan("b38_sql_cte_chain", spark, sf_dir)
    assert plan.count("hashpartitioning(") == 2, plan
    assert "WindowGroupLimit" in plan, plan
    kinds = join_kinds(plan)
    assert kinds and all(k == "BroadcastHashJoin" for k in kinds), kinds


def test_unigram_logprob_two_shuffles_partial_agg(spark, sf_dir):
    """VERDICT r03 #4, g20: unigram scoring is two keyed aggregations
    (tok frequencies, per-doc sum) = two hash shuffles, both with
    map-side combine; the toks|><|freq join must stay an equi-join
    (AQE picks the build side at runtime for the open vocabulary)."""
    plan = _plan("g20_unigram_logprob", spark, sf_dir)
    assert plan.count("hashpartitioning(") == 2, plan
    assert partial_aggregation(plan), plan
    assert "CartesianProduct" not in join_kinds(plan)


def test_sequence_pack_single_shuffle(spark, sf_dir):
    """VERDICT r03 #4, g25: packing is ONE shuffle total — the window's
    hashpartitioning(lang); the (lang, seq_id) rollup reuses that
    partitioning (hash on lang subsumes clustering on (lang, seq_id)),
    so Catalyst must not insert a second exchange."""
    plan = _plan("g25_sequence_pack", spark, sf_dir)
    assert plan.count("hashpartitioning(") == 1, plan
    assert "lang" in plan.split("hashpartitioning(")[1].split(")")[0], plan
    assert "Window" in plan
    # seq_id stays pure-int64 (round 7): `div 256` in the grouping
    # expression, never a double divide-then-cast (exact only < 2^53).
    assert "div 256" in plan, plan
    assert "/ 256" not in plan, plan


def test_no_driver_collect_in_operator_bodies():
    """VERDICT r02 #6: no .collect() in operator hot paths. Allowed
    sites are the streaming memory-sink runner (verification pattern,
    documented) and a12's median scalar setup in staging.py; every
    other operator module must be collect-free — g13 now materializes
    via eager localCheckpoint instead of collect+createDataFrame."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "data_lake_staging_engine_spark"
    # a12 scalar split point + a26's 5-row dimension fixture write +
    # a30's constant 64-doc fixture landing write (all bounded by a
    # constant or dim cardinality, never fact scale — documented in-op)
    budget = {"operators/staging.py": 3}
    for rel in [
        "operators/llmops.py",
        "operators/relational.py",
        "operators/windows.py",
        "operators/udfs.py",
        "operators/staging.py",
        "functions/scalar_packs.py",
    ]:
        tree = ast.parse((pkg / rel).read_text())
        n_collects = sum(
            isinstance(node, ast.Attribute) and node.attr == "collect"
            for node in ast.walk(tree)
        )
        assert n_collects <= budget.get(rel, 0), f"{rel}: {n_collects} .collect calls"


def test_a30_reconcile_never_reads_content(spark, sf_dir):
    """a30: the listing-vs-scan join must be a (broadcast) hash join on
    file_name with the binaryFile side pruned to `path` alone — a plan
    that reads `content` would move every blob's bytes to reconcile
    METADATA, which cannot survive a 100 TB landing."""
    plan = _plan("a30_landing_reconcile", spark, sf_dir)
    kinds = join_kinds(plan)
    assert kinds and all(
        k in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        for k in kinds
    ), kinds
    assert "content" not in plan, "reconcile plan reads blob content"


def test_lateral_join_decorrelates_to_hash_joins(spark, sf_dir):
    """b56: the LATERAL correlated aggregate must be decorrelated by
    Catalyst into aggregate-then-join — per-outer-row subquery execution
    would be a nested loop (plan shows CartesianProduct /
    BroadcastNestedLoopJoin) and cannot survive 100 TB. All joins must
    be hash-based on the correlation key."""
    plan = _plan("b56_join_lateral", spark, sf_dir)
    kinds = join_kinds(plan)
    assert kinds, plan
    assert all(
        k in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        for k in kinds
    ), kinds
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_group_by_all_same_plan_as_explicit(spark, sf_dir):
    """b42: GROUP BY ALL is parser sugar — the physical plan must be
    the b20 shape: partial (map-side) aggregation and exactly one key
    shuffle, with pruned columns reaching the scan."""
    plan = _plan("b42_group_by_all", spark, sf_dir)
    assert partial_aggregation(plan), plan
    assert plan.count("hashpartitioning(") == 1, plan
    cols = read_columns(plan, "lineitem")
    assert cols <= {"l_returnflag", "l_linestatus", "l_quantity"}, cols


def test_bitwise_pack_single_codegen_projection(spark, sf_dir):
    """d11 is pure bit arithmetic: no exchange, one whole-stage-codegen
    span, and only the two consumed columns reach the scan."""
    plan = _plan("d11_fn_bitwise", spark, sf_dir)
    assert "Exchange" not in plan
    assert len(codegen_ids(plan)) == 1, plan
    cols = read_columns(plan, "events")
    assert cols <= {"event_id", "user_id"}, cols


def test_quality_gate_single_codegen_projection(spark, sf_dir):
    """g29 is pure per-row array algebra: no exchange, no explode —
    one whole-stage-codegen span at scan speed."""
    plan = _plan("g29_quality_gate", spark, sf_dir)
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode — in-row aggregation only
    assert len(codegen_ids(plan)) == 1, plan


def test_multi_format_union_no_shuffle(spark, sf_dir):
    """a28: the three-format union is plan-level concatenation — three
    independent scans feeding one Union, with NO exchange anywhere. At
    100 TB the cost must be exactly the sum of the scans."""
    plan = _plan("a28_multi_format_union", spark, sf_dir)
    assert "Union" in plan, plan
    assert "Exchange" not in plan, plan


def test_scd2_single_exchange_two_pass(spark, sf_dir):
    """a29: change detection (lag) and interval derivation (lead) share
    the (user_id) partitioning and (ts, event_id) ordering, so the
    whole SCD2 build must cost ONE key shuffle + in-partition passes."""
    plan = _plan("a29_scd2_dimension", spark, sf_dir)
    assert plan.count("hashpartitioning(") == 1, plan
    assert "Window" in plan, plan


def test_nth_trailing_single_exchange(spark, sf_dir):
    """c09: the full-frame nth_value and the trailing-exclusive average
    share one (user_id) shuffle — two frames, one exchange."""
    plan = _plan("c09_win_nth_trailing", spark, sf_dir)
    assert plan.count("hashpartitioning(") == 1, plan


def test_sessionize_single_exchange(spark, sf_dir):
    """c10: lag-flag and running-sum windows share partitioning and
    ordering — batch sessionization is one exchange + two passes."""
    plan = _plan("c10_win_sessionize", spark, sf_dir)
    assert plan.count("hashpartitioning(") == 1, plan


def test_incremental_dedup_broadcast_flags_no_cartesian(spark, sf_dir):
    """g30: the bipartite new-vs-corpus restriction must ride broadcast
    joins on the batch-id flags (batch-sized build side) and nothing
    may degenerate to a cartesian — the 'cost scales with the batch'
    posture. A BroadcastNestedLoopJoin is permitted ONLY as the
    bitmap-mask pair scoring of the small-universe jaccard strategy
    (the g02 contract — strategy-switched away for open vocabularies);
    no token-keyed SMJ may appear (same pin as g02's plan test)."""
    plan = _plan("g30_dedup_incremental", spark, sf_dir)
    kinds = join_kinds(plan)
    assert "CartesianProduct" not in kinds, kinds
    assert "BroadcastHashJoin" in kinds, kinds
    for line in plan.splitlines():
        stripped = line.lstrip(" :+-")
        if stripped.startswith("SortMergeJoin"):
            assert "tok#" not in stripped.split("Inner")[0], stripped


def test_url_pack_single_codegen_projection(spark, sf_dir):
    """d13 is pure string construction + parse_url extraction: no
    exchange, one whole-stage-codegen span, only the three consumed
    columns read from the scan."""
    plan = _plan("d13_fn_url", spark, sf_dir)
    assert "Exchange" not in plan
    assert len(codegen_ids(plan)) == 1, plan
    cols = read_columns(plan, "documents")
    assert cols <= {"doc_id", "source", "lang"}, cols


def test_segment_dedup_two_shuffles(spark, sf_dir):
    """g31 costs exactly its two inherent shuffles — the segment-text
    first-occurrence window and the doc_id reassembly group — with the
    chunker staying an in-row transform (no pre-window exchange)."""
    plan = _plan("g31_dedup_segments", spark, sf_dir)
    assert plan.count("hashpartitioning(") == 2, plan
    assert "CartesianProduct" not in join_kinds(plan)


def test_global_topk_is_take_ordered(spark, sf_dir):
    """b40: ORDER BY + LIMIT must compile to TakeOrderedAndProject —
    per-partition k-row heaps merged on the driver — with ZERO
    exchanges. The alternative (global range sort of 100 TB to keep 20
    rows) is the canonical top-k scale-killer."""
    plan = _plan("b40_sort_limit_topk", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan, plan
    assert "hashpartitioning(" not in plan, plan
    assert "rangepartitioning(" not in plan, plan


def test_null_ordering_limit_take_ordered(spark, sf_dir):
    """b37: the NULLS-pinned ORDER BY ... LIMIT 20 downstream of the
    full join must also compile to TakeOrderedAndProject — explicit
    NULL placement must not force a global range sort."""
    plan = _plan("b37_null_ordering", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning(" not in plan, plan


def test_topk_per_group_window_group_limit(spark, sf_dir):
    """b41: the rank() <= k filter must push into Spark's
    WindowGroupLimit so each map task keeps only k rows per group
    BEFORE the (o_custkey) shuffle — shuffle volume bounded by
    k x groups, not by the orders row count."""
    plan = _plan("b41_topk_per_group", spark, sf_dir)
    assert "WindowGroupLimit" in plan, plan


def test_histogram_bounds_broadcast_only(spark, sf_dir):
    """b36: the 1-row min/max bounds attach to the bucketing scan via
    BroadcastNestedLoopJoin (broadcast of ONE row) — never a cartesian
    or a shuffled join — and the 20-bucket agg combines map-side."""
    plan = _plan("b36_histogram", spark, sf_dir)
    kinds = set(join_kinds(plan))
    assert kinds == {"BroadcastNestedLoopJoin"}, kinds
    assert partial_aggregation(plan), plan


def test_stratified_sample_prunes_text(spark, sf_dir):
    """g19: digest sampling reads ONLY (lang, doc_id) from documents —
    never the text payload. At 100 TB this is the difference between
    scanning two slim columns and scanning the whole corpus; one
    (lang) exchange, map-side combined."""
    plan = _plan("g19_stratified_sample", spark, sf_dir)
    cols = read_columns(plan, "documents")
    assert cols == {"lang", "doc_id"}, cols
    assert plan.count("hashpartitioning(") == 1, plan
    assert partial_aggregation(plan), plan


def test_gapfill_grid_distributed_generation(spark, sf_dir):
    """c07/c08: the time grid is span-proportional (hours x keys), NOT
    row-count-proportional — a single hostile timestamp makes it huge
    (the round-9 time-hostile corpus: 1500..2260 => 6.7M hours), so the
    pre-fix single-task ``sequence(lo, hi)`` explode + grid-side
    broadcast is a scale bug. Pin the fixed posture: (a) two Generate
    levels (year explode, then per-year hour explode) with an Exchange
    between them so generation parallelism scales with the span and
    per-task array size is bounded by one year of hours; (b) the
    grid-observations join carries no cartesian and no grid-side
    broadcast HINT — strategy is left to AQE runtime sizes (an SMJ on
    (h, event_type) is the correct 100 TB shape; at fixture scale AQE
    broadcasts the small agg side)."""
    import re

    for name in ("c07_gapfill", "c08_win_forward_fill"):
        plan = _plan(name, spark, sf_dir)
        assert "CartesianProduct" not in set(join_kinds(plan)), name
        n_generate = len(re.findall(r"\bGenerate\b", plan))
        assert n_generate >= 2, (name, n_generate, plan)
        # the hour-level explode consumes a repartitioned year stream:
        # an Exchange must sit between the two Generate nodes
        first = plan.find("Generate")
        second = plan.find("Generate", first + 1)
        assert "Exchange" in plan[first:second], (name, plan[first:second])
        assert re.search(r"hashpartitioning\(y#", plan), (
            name,
            "year repartition missing",
        )


def test_event_funnel_joins_broadcast(spark, sf_dir):
    """g16: every funnel-stage join rides BroadcastHashJoin (the
    filtered stage sets are small relative to the raw events scan) —
    no cartesian, no both-sides shuffle."""
    kinds = set(join_kinds(_plan("g16_event_funnel", spark, sf_dir)))
    assert kinds == {"BroadcastHashJoin"}, kinds


def test_lsh_banding_single_corpus_pass(spark, sf_dir):
    """g02b: the 4 band signatures must come from ONE posexplode over
    the minhash aggregate, not a union of per-band selects — the union
    form re-scans and re-aggregates the whole corpus once per band
    (round-7 PLANS.md audit caught 8 documents scans / 11 shuffles; at
    100 TB that multiplies the dominant cost by the band count).

    Round 15 (rep-space banding): the corpus-scan bound is unchanged —
    still <= 2, the defect this test exists for — while the shuffle
    bound moves 5 -> 8: the representative->doc expansion joins the
    qualified rep pairs against the doc->rep map twice (plus the
    same-mask self-join), and the map is a checkpointed frame the
    optimizer has no stats to broadcast.  Those exchanges carry the
    doc->rep projection (16 bytes/doc) and the output-sized pair
    stream — never a corpus re-aggregation, which the scan bound
    continues to pin.

    Round 16: 8 -> 9.  The banding probe side is explicitly spread
    before the signature self-join (AQE coalesced the tiny agg output
    to ONE partition, serializing the pair-quadratic join output and
    the fused popcount verify behind it — 10x g02e 100 s -> 39 s, g02b
    51 s -> 6-10 s).  The added exchange carries n_docs x bands
    signature rows (~20 B each); in return the candidate-pair stream
    lost BOTH its pre-verify distinct and its post-generation
    rebalance exchanges — the remaining exchanges never carry the
    pair stream."""
    plan = physical_plan(_REG["g02b_dedup_lsh"].fn(spark, sf_dir))
    assert plan.count("documents.parquet") <= 2, plan.count("documents.parquet")
    assert plan.count("hashpartitioning(") <= 9, plan.count("hashpartitioning(")
    # g02c's simhash banding had the identical union defect (8 scans, 8
    # shuffles) and takes the identical posexplode fix.
    plan_c = physical_plan(_REG["g02c_dedup_simhash"].fn(spark, sf_dir))
    assert plan_c.count("documents.parquet") <= 2, plan_c.count("documents.parquet")
    assert plan_c.count("hashpartitioning(") <= 2, plan_c.count("hashpartitioning(")
    # g02e (shingle-MinHash-LSH) shares the banding machinery; pin it to
    # the same one-pass shape so a refactor can't regress one variant.
    plan_e = physical_plan(_REG["g02e_dedup_lsh_shingle"].fn(spark, sf_dir))
    assert plan_e.count("documents.parquet") <= 2, plan_e.count("documents.parquet")
    assert plan_e.count("hashpartitioning(") <= 9, plan_e.count("hashpartitioning(")


def test_shingle_lineage_has_no_inferred_transform_filter(spark, sf_dir):
    """The shingle explode must stay LINEAR in document length
    (round-9 giant-document audit): a plain explode over the gram
    transform lets InferFiltersFromGenerate plant a ``size(transform(
    ...)) > 0`` filter below the projection, where predicate pushdown
    substitutes the char-array split INTO the lambda — re-splitting
    the document once PER GRAM (O(n^2); ten 96k-char docs never
    finished). The fixed shape (explode_outer + isNotNull above the
    Generate) must keep every transform out of Filter nodes: the plan
    may evaluate the gram transform exactly once, in a Project."""
    from data_lake_staging_engine_spark.operators.llmops import (
        _shingles,
        _shingles_raw,
    )
    from data_lake_staging_engine_spark.sources import load

    d = load(spark, sf_dir, "documents")
    for lineage in (_shingles_raw(d), _shingles(d)):
        plan = physical_plan(lineage)
        assert "size(transform" not in plan, plan
        # the document split happens once per row, never inside a lambda
        assert plan.count("split(text") == 1, plan.count("split(text")


def test_simsearch_lsh_signatures_materialized_once(spark, sf_dir):
    """g03c: the random-hyperplane signature table is computed ONCE
    (localCheckpoint) and reused by the probe and index branches — the
    round-7 audit found the matmul UDF running twice (once per branch).
    The final plan may read the embeddings base table for the probe and
    the verify stage, but never more than twice, and the banding itself
    costs at most one exchange."""
    plan = physical_plan(_REG["g03c_simsearch_lsh"].fn(spark, sf_dir))
    assert plan.count("embeddings.parquet") <= 2, plan.count("embeddings.parquet")
    assert plan.count("hashpartitioning(") <= 2, plan.count("hashpartitioning(")


def test_kmeans_iterates_over_cache_without_window(spark, sf_dir, monkeypatch):
    """g13: the Lloyd iterations read the persisted embedding table
    (InMemoryRelation), and assignment is the one-row codebook top-list
    — no k x N row_number Window.  g13 returns a local checkpoint, so
    the plan is taken from the frame it checkpoints."""
    cls = type(spark.range(1))
    seen = []
    checkpoint = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        seen.append(physical_plan(self))
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    _REG["g13_kmeans_iterations"].fn(spark, sf_dir)
    assert len(seen) == 1, len(seen)
    assert "InMemoryRelation" in seen[0], seen[0]
    assert "Window" not in seen[0], seen[0]


def test_band_probe_verifies_inside_the_band_join(spark, sf_dir):
    """g32: the popcount verify is the (band, sig) join's own condition,
    so no candidate-pair frame exists — no aggregate keyed on (batch
    doc, candidate), and no exchange between the band join and the
    verify."""
    df = _REG["g32_dedup_band_probe"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.split("== Initial Plan ==")[0].splitlines()  # final plan
    for line in lines:
        m = re.search(r"HashAggregate\(keys=\[([^\]]*)\]", line)
        if m and "d1#" in m.group(1):
            assert m.group(1).count("#") == 1, line
    band_joins = [
        line for line in lines if re.search(r"Join \[band#\d+, sig#\d+L?\]", line)
    ]
    assert band_joins, plan
    for line in band_joins:
        assert "bit_count(" in line, line
