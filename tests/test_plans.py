"""Physical-plan assertions — the plans, not just the answers.

Checks the properties that matter at 100 TB: column pruning reaches the
scan, the parse stage is shuffle-free, small sides broadcast, and the
assembly exprs stay JVM-side (no Python eval besides the parse UDF).
"""

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from engine import fixtures
from engine.spark import pipeline, similarity
from engine.spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, shuffle_partitions=8, app="engine-tests")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def transcripts_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "t.parquet")
    fixtures.make_transcripts(30, skew_giant=False).to_parquet(p, index=False)
    return p


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()

def _no_keyed_exchange(plan: str) -> bool:
    """True when the plan has no exchange, or exactly one: the entry
    layer's round-robin redistribution directly above an
    under-partitioned single-file scan.  The operator itself introduces
    no exchange of any kind."""
    lines = plan.splitlines()
    ex = [i for i, ln in enumerate(lines) if re.match(r"[\s:|+-]*\w*Exchange ", ln)]
    if not ex:
        return True
    if len(ex) > 1 or "Exchange RoundRobinPartitioning" not in lines[ex[0]]:
        return False
    child = lines[ex[0] + 1] if ex[0] + 1 < len(lines) else ""
    return re.match(r"[\s:|+-]*FileScan ", child) is not None



def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_parse_stage_prunes_columns(spark, transcripts_path):
    """Only conv_id, turn_idx, text may reach the scan — role/tool/ts are
    pruned by Catalyst."""
    df = spark.read.parquet(transcripts_path)
    turns = pipeline.extract_turns(df)
    plan = _plan(turns)
    m = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert m, plan
    schema_line = m[0]
    assert "conv_id" in schema_line and "text" in schema_line
    for col in ("role", "tool", "ts"):
        assert col not in schema_line, f"{col} not pruned: {schema_line}"


def test_parse_stage_is_shuffle_free(spark, transcripts_path):
    df = spark.read.parquet(transcripts_path)
    turns = pipeline.extract_turns(df)
    assert "Exchange" not in _plan(turns), _plan(turns)


def test_parse_stage_single_python_eval(spark, transcripts_path):
    """Exactly one Arrow eval (the parse UDF); P2/P3 assembly must not
    introduce more Python."""
    df = spark.read.parquet(transcripts_path)
    turns = pipeline.extract_turns(df)
    plan = _plan(turns)
    n_python = plan.count("ArrowEvalPython")
    assert n_python == 1, plan


def test_doc_assembly_two_aggregates(spark, transcripts_path):
    """2-phase concat: exactly two HashAggregate/ObjectHashAggregate pairs
    (partial+final each), i.e. two shuffles, no more."""
    df = spark.read.parquet(transcripts_path)
    docs = pipeline.extract_docs(pipeline.extract_turns(df))
    plan = _plan(docs)
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1996-01-01").select("l_orderkey")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan


def test_broadcast_in_similarity(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    topk = similarity.brute_force_topk(emb, n_queries=4, k=3)
    assert "BroadcastNestedLoopJoin" in _plan(topk) or "BroadcastHashJoin" in _plan(topk)


def test_broadcast_small_dim_join(spark):
    q = entry_mod.q_revenue_by_nation(spark, SF_DIR)
    assert "BroadcastHashJoin" in _plan(q), _plan(q)


def test_anti_join_strategy(spark):
    q = entry_mod.q_orders_no_lineitems(spark, SF_DIR)
    assert "LeftAnti" in _plan(q), _plan(q)


def test_dedup_partial_aggregation(spark):
    """exact dedup must map-side combine (partial_ aggregate before the
    exchange)."""
    q = entry_mod.q_dedup_exact(spark, SF_DIR)
    plan = _plan(q)
    assert "partial_" in plan and "Exchange hashpartitioning" in plan, plan


def test_b64_decode_shuffle_free_jvm_only(spark):
    """Base64 payload decode is a pure map: posexplode + unbase64 in one
    codegen'd project — no shuffle, no Python eval."""
    q = entry_mod.q_images_b64_decode(spark, SF_DIR)
    plan = _plan(q)
    assert _no_keyed_exchange(plan), plan
    assert "EvalPython" not in plan, plan


def test_ngram_df_cap_is_semi_join(spark):
    """The hot-shingle cap must stay distributed: a LEFT-SEMI shingle
    join against the df-filtered side, never a driver-side collect/isin
    expansion; the df count itself map-side combines."""
    from engine.spark import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = dedup.ngram_jaccard_pairs(docs, n=3, max_df=10)
    plan = _plan(q)
    assert "LeftSemi" in plan, plan
    assert "partial_count" in plan, plan


def test_simhash_single_groupby(spark):
    """SimHash = one hash-partition exchange (the per-doc vote groupBy)
    with map-side combine of the bit votes; chunking adds no shuffle."""
    from engine.spark import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sh = dedup.simhash(docs)
    plan = _plan(sh)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_" in plan, plan  # map-side combine of the bit votes


def test_lsh_ann_broadcasts_queries(spark):
    """ANN candidates come from a bucket equi-join with the (small) query
    side broadcast — the corpus is never shuffled for the join."""
    q = entry_mod.q_lsh_ann(spark, SF_DIR)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan, plan


def test_cosine_dup_pairs_equi_join(spark):
    """Near-dup candidate generation must be an equi-join on the
    (band, bucket) key — never a cartesian/nested-loop over the corpus."""
    dupes = entry_mod.q_embedding_dupes(spark, SF_DIR)
    plan = _plan(dupes)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan


def _asof_sides(spark):
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    quotes = e.filter(F.col("event_id") % 17 == 0).select(
        "user_id", "ts", F.col("value").alias("quote_value")
    )
    trades = e.filter(F.col("event_id") % 17 != 0).select(
        "event_id", "user_id", "ts"
    )
    return trades, quotes


def test_asof_join_single_shuffle_no_join(spark):
    """The uniform-key path (bucket_seconds=None) must contain NO join
    operator at all (union + keyed window), and exactly one
    hash-partition exchange."""
    import re as _re

    from engine.spark import joins

    trades, quotes = _asof_sides(spark)
    raw = joins.asof_join(trades, quotes, key="user_id", ts_col="ts",
                          bucket_seconds=None)
    plan = _plan(raw)
    assert "Join" not in plan, plan
    exchanges = _re.findall(r"Exchange hashpartitioning", plan)
    assert len(exchanges) == 1, plan


def test_asof_join_bucketed_plan_shape(spark):
    """The default skew-hardened path: the carry window partitions on
    (key, time_bucket) — a hot key spreads across reducers instead of
    serializing onto one (VERDICT r2 #1) — and the boundary-carry join
    is an equi-join, never a nested loop.  The driver-gate query runs
    this path."""
    from engine.spark import joins

    trades, quotes = _asof_sides(spark)
    raw = joins.asof_join(trades, quotes, key="user_id", ts_col="ts")
    plan = _plan(raw)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the big in-bucket window is keyed by BOTH the key and the bucket
    import re as _re

    win_specs = _re.findall(r"Window \[last\(__r.*?\]", plan)
    assert any("__b" in s and "user_id" in s for s in win_specs), plan

    entry_plan = _plan(entry_mod.q_asof_join(spark, SF_DIR))
    assert "CartesianProduct" not in entry_plan, entry_plan
    assert "BroadcastNestedLoopJoin" not in entry_plan, entry_plan


def test_range_join_is_equi_not_nested_loop(spark):
    """The bucketed range join must plan as an equi-join on
    (key, bucket) — never BroadcastNestedLoopJoin/CartesianProduct,
    which is what a raw inequality join would produce."""
    out = entry_mod.q_range_join(spark, SF_DIR)
    plan = _plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan


def test_q3_plan_shape(spark):
    """Q3: filters reach the scans (pushdown), the top-10 is a
    TakeOrderedAndProject over the aggregated result (never a global
    sort of the fact table), and no nested-loop/cartesian join."""
    q = entry_mod.q3_shipping_priority(spark, SF_DIR)
    plan = _plan(q)
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)]" in plan or "EqualTo(c_mktsegment,BUILDING)" in plan, plan
    assert "GreaterThan(l_shipdate" in plan, plan


def test_pivot_two_staged_aggregations(spark):
    """PIVOT with an explicit value list = Spark's canonical two-stage
    aggregation (count by (key, pivot col) → pivotfirst by key), each
    with map-side partial combine — never a per-value join or repeated
    scans of the input."""
    import re as _re

    df = entry_mod.q_event_type_pivot(spark, SF_DIR)
    plan = _plan(df)
    assert "Join" not in plan, plan
    assert "partial_pivotfirst" in plan, plan
    assert "partial_count" in plan, plan
    exchanges = _re.findall(r"Exchange hashpartitioning", plan)
    assert len(exchanges) == 2, plan
    assert plan.count("FileScan") == 1, plan


def test_rollup_broadcasts_dims_single_shuffle(spark):
    """ROLLUP: dimension tables broadcast (never shuffled), Expand feeds
    ONE aggregation exchange."""
    import re as _re

    df = entry_mod.q_revenue_rollup(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Expand" in plan, plan
    agg_exchanges = _re.findall(r"Exchange hashpartitioning", plan)
    # customer-orders join may shuffle both fact sides; the rollup agg
    # itself adds exactly one more
    assert len(agg_exchanges) <= 3, plan


def test_minhash_incremental_broadcasts_new_batch(spark):
    """Incremental dedup must probe the corpus with the broadcast banded
    new batch — the existing corpus is never shuffled for the
    new×corpus join, and no candidate path is a cartesian product."""
    q = entry_mod.q_minhash_incremental(spark, SF_DIR)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_events_cube_single_expand_single_shuffle(spark):
    """CUBE = one Expand (4 grouping sets) + one hash-partitioned
    aggregation exchange — never one pass per grouping set."""
    q = entry_mod.q_events_cube(spark, SF_DIR)
    plan = _plan(q)
    assert plan.count("Expand") >= 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_quarantine_shuffle_free(spark):
    """The error channel is the same shuffle-free scan→parse→filter
    shape as extraction itself."""
    q = entry_mod.q_quarantine(spark, SF_DIR)
    plan = _plan(q)
    body = plan.split("AdaptiveSparkPlan")[-1]
    assert "Exchange hashpartitioning" not in body, plan


def test_latest_events_single_shuffle_no_sort(spark):
    """Latest-version compaction must be one partial-aggregating shuffle
    over a struct max — never a per-key window sort (which serialises a
    hot key onto one reducer's sort buffer)."""
    q = entry_mod.q_latest_events(spark, SF_DIR)
    plan = _plan(q)
    body = plan.split("AdaptiveSparkPlan")[-1]
    assert body.count("Exchange hashpartitioning") == 1, plan
    assert "Window" not in body, plan
    assert "partial_max" in body or "partial max" in body.lower(), plan


def test_dynamic_partition_pruning(spark, tmp_path_factory):
    """A part_hash-partitioned fact table joined to a filtered dim must
    plan a dynamicpruning subquery on the partition key — at 100 TB this
    is the difference between scanning 2 buckets and scanning 4096."""
    base = str(tmp_path_factory.mktemp("dpp"))
    fact = spark.range(2000).selectExpr(
        "id", "CAST(id % 16 AS INT) AS part_hash", "id * 2 AS v"
    )
    fact.write.partitionBy("part_hash").parquet(f"{base}/fact")
    dim = spark.range(16).selectExpr(
        "CAST(id AS INT) AS part_hash", "id AS tag"
    )
    dim.write.parquet(f"{base}/dim")
    f = spark.read.parquet(f"{base}/fact")
    d = spark.read.parquet(f"{base}/dim").where(F.col("tag") < 2)
    q = f.join(d, "part_hash").agg(F.sum("v"))
    plan = _plan(q)
    assert "dynamicpruning" in plan.lower(), plan


def test_pii_scrub_zero_shuffle(spark):
    """PII redaction is a pure projection: no exchange anywhere, no
    Python eval — three regexp passes inside codegen."""
    q = entry_mod.q_pii_scrub(spark, SF_DIR)
    plan = _plan(q)
    assert _no_keyed_exchange(plan), plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_doc_chunks_zero_shuffle(spark):
    """Chunking is scan → generate → project: no exchange, and the
    token array is materialized once (no O(tokens²) re-split)."""
    q = entry_mod.q_doc_chunks(spark, SF_DIR)
    plan = _plan(q)
    assert _no_keyed_exchange(plan), plan
    assert "Generate" in plan, plan


def test_pack_sequences_single_bounded_window_exchange(spark):
    """Packing = exactly one hash exchange on the bounded (source,
    bucket) window partition — never a global sort or a single-reducer
    window over a whole source."""
    q = entry_mod.q_pack_sequences(spark, SF_DIR)
    plan = _plan(q)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "bucket" in plan, plan  # the window key includes the salt bucket


def test_contamination_broadcasts_benchmark(spark):
    """The corpus side must stream into a BroadcastHashJoin against the
    tiny benchmark shingle set — the corpus is never shuffled for the
    probe, and nothing is a cartesian product."""
    q = entry_mod.q_contamination(spark, SF_DIR)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_grouping_sets_single_expand_single_shuffle(spark):
    """Explicit GROUPING SETS must plan like rollup/cube: one Expand
    (3 sets) + ONE aggregation exchange + one scan — never a pass per
    grouping set."""
    q = entry_mod.q_grouping_sets(spark, SF_DIR)
    plan = _plan(q)
    assert plan.count("Expand") >= 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_sliding_window_single_bounded_exchange(spark):
    """The RANGE-frame window shuffles once on user_id (bounded per-user
    frames) — no global sort exchange."""
    q = entry_mod.q_sliding_window_avg(spark, SF_DIR)
    plan = _plan(q)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_event_melt_no_join(spark):
    """melt is an Expand-based projection over the aggregated matrix —
    no join of any kind appears."""
    q = entry_mod.q_event_melt(spark, SF_DIR)
    plan = _plan(q)
    assert "Join" not in plan, plan
    assert "Expand" in plan, plan


def test_corpus_curation_no_cartesian(spark):
    """The composite curation DAG joins only on doc_id/fp equi-keys —
    no cartesian/broadcast-nested-loop anywhere."""
    q = entry_mod.q_corpus_curation(spark, SF_DIR)
    plan = _plan(q)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_value_ntile_no_per_type_sort(spark):
    """Exact NTILE must use distributed ranking: the only window over
    fact rows is keyed by the bounded spark_partition_id — never by the
    low-cardinality event_type (one reducer sorting a whole event type,
    the VERDICT r4 scale-killer) — and the range-partitioned projection
    is materialized once (InMemoryTableScan) so offsets and ranks see
    the same boundary sample."""
    q = entry_mod.q_value_ntile(spark, SF_DIR)
    plan = _plan(q)
    import re

    assert "ntile" not in plan, plan
    # a comma right after the leading event_type attr = event_type used
    # as the window PARTITION key (the bad one-reducer-per-type shape);
    # the metadata-size type-offset window ORDERS by event_type with no
    # partition key and prints as "event_type#N ASC ..." instead
    assert not re.search(r"windowspecdefinition\(event_type#\d+,", plan), plan
    assert "windowspecdefinition(pid" in plan, plan
    assert "InMemoryTableScan" in plan, plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan


def test_substring_spans_shingle_join_shape(spark):
    """Substring-level dedup (Lee et al.) must plan as the distributed
    shingle-table shape: map-side partial count on the gram hash, a
    sort-based equi-join exchange on the hash (never a cartesian, never
    a broadcast of the corpus), and a gaps-and-islands window keyed by
    doc_id only — no global (unpartitioned) sort of positions."""
    from engine.spark import dedup

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        d = (
            spark.read.parquet(SF_DIR + "/documents.parquet")
            .filter(F.col("doc_id") < 150)
            .select("doc_id", "text")
        )
        plan = _plan(dedup.substring_spans(d, k=8))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the sort-based exchange on the gram hash
    assert "SortMergeJoin [sh#" in plan, plan
    # duplicated-hash detection is partial-aggregated (hot-gram safe)
    assert "partial_count" in plan, plan
    # islands window bounded per doc, and no global sort anywhere
    assert "windowspecdefinition(doc_id#" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    # the count pass is column-pruned to the hash only
    assert "Project [sh#" in plan, plan


def test_ngram_lm_scores_join_shape(spark):
    """The LM-scoring DAG must be equi-joins on token keys + hash
    aggregations with map-side partial combine — the only cross join is
    the broadcast single-row vocabulary aggregate, never a real
    cartesian over data rows."""
    from engine.spark import text as etext

    d = (
        spark.read.parquet(SF_DIR + "/documents.parquet")
        .select("doc_id", "text")
    )
    ref = d.filter(F.col("doc_id") >= 200)
    plan = _plan(etext.ngram_lm_scores(d.filter(F.col("doc_id") < 60), ref))
    assert "CartesianProduct" not in plan, plan
    # the V single-row aggregate rides as a broadcast nested-loop join
    # (1-row side) — that's the sanctioned pattern; count them to make
    # sure no OTHER nested-loop join sneaks in
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "partial_count" in plan, plan
    # final per-doc aggregation is hash-based with partial agg (exact
    # decimal sum), no sort-based fallback
    assert "partial_sum" in plan or "partial_finalmerge" in plan, plan


def test_turn_dedup_conv_keyed_exchanges_only(spark):
    """Turn run-length dedup (mix.turn_dedup) must key every exchange
    and window by the high-cardinality conv_id — no low-cardinality or
    global window anywhere — and finish the run aggregation with
    map-side partial combine."""
    from engine.spark import mix

    t = spark.createDataFrame(
        [("c1", 0, "user", "a"), ("c1", 1, "user", "a")],
        "conv_id: string, turn_idx: int, role: string, text: string",
    )
    plan = _plan(mix.turn_dedup(t))
    assert "windowspecdefinition(conv_id#" in plan, plan
    # no unpartitioned window (the single-reducer shape)
    assert "Exchange SinglePartition" not in plan, plan
    assert "partial_count" in plan or "partial_min" in plan, plan
    # exactly ONE conversation-keyed hash exchange: partitioning on
    # conv_id satisfies the (conv_id, run_id) aggregation clustering,
    # so the run groupBy reuses the window's exchange
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_shard_shuffle_single_exchange(spark):
    """Deterministic shard shuffle must be ONE hash exchange on the
    shard id followed by a per-shard sort — never a global
    (range-partitioned or single-partition) sort."""
    from engine.spark import mix

    d = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    plan = _plan(mix.shard_shuffle(d, n_shards=8))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "windowspecdefinition(shard#" in plan, plan


def test_mixture_sample_broadcasts_rates_no_corpus_shuffle(spark):
    """Mixture sampling must scan the corpus once and never shuffle it:
    the per-source keep rates (a tiny aggregate) broadcast back, so the
    only hash exchange in the plan carries the |sources|-row count
    aggregation, and the corpus-side join is a BroadcastHashJoin."""
    from engine.spark import mix

    d = (
        spark.read.parquet(SF_DIR + "/documents.parquet")
        .select("doc_id", "source")
    )
    plan = _plan(mix.mixture_sample(d))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # one exchange for the source counts (nothing over corpus rows) —
    # a duplicated counts subtree (the min computed as a separate agg
    # branch) would show up as a second one plus a third corpus scan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "hashpartitioning(source" in plan, plan
    # the min-over-counts window moves only the |sources|-row aggregate
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert plan.count("FileScan parquet") == 2, plan


def test_sessionize_single_user_keyed_exchange(spark):
    """Gap sessionization: the lag window, the cumsum window, and the
    session rollup must all ride ONE hash exchange on user_id —
    HashPartitioning(user_id) satisfies the (user_id, session_idx)
    aggregation clustering — with map-side partial combine and no
    single-partition window anywhere."""
    from engine.spark import conversation

    e = spark.read.parquet(SF_DIR + "/events.parquet")
    plan = _plan(conversation.sessionize(e))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "hashpartitioning(user_id" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "partial_min" in plan or "partial_count" in plan, plan


def test_conv_stats_single_partial_agg_shuffle(spark, transcripts_path):
    """Per-conversation rollup: one conv_id-keyed exchange, partial
    (map-side) aggregation below it, no window or sort."""
    from engine.spark import conversation

    t = spark.read.parquet(transcripts_path)
    plan = _plan(conversation.conv_stats(t))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "hashpartitioning(conv_id" in plan, plan
    assert "partial_count" in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_sft_examples_bounded_frame_single_exchange(spark,
                                                    transcripts_path):
    """Context-window assembly: ONE conv_id-keyed exchange feeding a
    ROWS-bounded window frame (specifiedwindowframe RowFrame with a
    finite lower bound, never unboundedpreceding$())."""
    from engine.spark import conversation

    t = spark.read.parquet(transcripts_path)
    plan = _plan(conversation.sft_examples(t, k=3))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "hashpartitioning(conv_id" in plan, plan
    assert "specifiedwindowframe(RowFrame, -3, -1)" in plan, plan
    assert "unboundedpreceding$()" not in plan, plan


def test_chat_render_two_phase_chunked(spark, transcripts_path):
    """Chat-template render reuses the two-phase chunked concat: two
    conv-keyed exchanges ((conv_id, chunk_id) then conv_id), never a
    single-partition or range exchange, and the render expression stays
    JVM-side (no Python eval)."""
    from engine.spark import conversation

    t = spark.read.parquet(transcripts_path)
    plan = _plan(conversation.chat_render(t))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan, plan


def test_vocab_coverage_broadcast_topv_shape(spark):
    """Vocabulary coverage: the top-V vocab must plan as TakeOrdered
    (distributed top-k, no global sort exchange), broadcast back onto
    the token stream (BroadcastHashJoin, never SortMergeJoin), leaving
    only the vocab-count and per-lang aggregation hash exchanges."""
    from engine.spark import text as etext

    d = spark.read.parquet(SF_DIR + "/documents.parquet")
    plan = _plan(etext.vocab_coverage(d, vocab_size=100))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_transcript_curation_single_conv_exchange(spark, transcripts_path):
    """The curation window and rollup must share ONE conv_id-keyed hash
    exchange (same partitioning-reuse as turn_dedup), with map-side
    partial aggregation and no single-partition stage."""
    from engine.spark import conversation

    t = spark.read.parquet(transcripts_path)
    plan = _plan(conversation.transcript_curation(t))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "hashpartitioning(conv_id" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "partial_count" in plan, plan


def test_bpe_merge_stats_topk_shape(spark):
    """BPE pair stats: zero-shuffle tokenize/zip, ONE partial-agg pair
    exchange, top-k as TakeOrderedAndProject — never a global sort."""
    from engine.spark import text as etext

    d = spark.read.parquet(SF_DIR + "/documents.parquet")
    plan = _plan(etext.bpe_merge_stats(d, k=20))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "partial_count" in plan, plan


def test_semantic_dedup_cluster_equi_join_no_cartesian(spark):
    """SemDeDup's within-cluster pair stage must plan as an equi-join
    on cid (the cluster partition IS the scale bound) — never a
    cartesian/broadcast-nested-loop over the corpus — and the
    assignment must stay a shuffle-free projection (centroids ride as
    one folded literal)."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = similarity.semantic_dedup(e, dim=64, n_centroids=4, threshold=0.95)
    plan = _plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the pair stage keys its join on cid (hashpartitioning or broadcast
    # equi-join both print the key list with cid)
    assert "cid" in plan


def test_grouped_regression_single_partial_agg_no_window(spark):
    """The trend fit must be ONE partial-aggregating exchange on the
    key — sufficient statistics, never a per-key sort/window."""
    from engine.spark import diagnose

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = diagnose.grouped_regression(
        ev, "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1995-01-01").cast("date")),
        F.col("value"),
    )
    plan = _plan(out)
    assert plan.count("Exchange") == 1, plan
    assert "partial" in plan.lower(), plan
    assert "Window" not in plan, plan
    assert "Sort" not in plan.replace("SortAggregate", ""), plan


def test_label_propagation_no_window_no_cartesian(spark):
    """The per-node mode must be a struct-max partial agg — never a
    per-node window sort — and every round's join is an equi-join."""
    from engine.spark import analytics
    import pandas as pd

    edges = spark.createDataFrame(
        pd.DataFrame([(1, 2), (2, 3)], columns=["src", "dst"])
    )
    plan = _plan(analytics.label_propagation(edges, iters=2))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_posting_lists_df_cap_before_collect(spark):
    """The collect_list must sit above the df-cap semi-join — never
    over the raw token stream — and df itself must partial-agg."""
    from engine.spark import text as etext

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(etext.posting_lists(docs, max_df=8))
    assert "CartesianProduct" not in plan, plan
    # the collect side's input is the join with the capped term set:
    # the plan contains a join whose build side filters on df <= 8
    assert "<= 8" in plan, plan
    assert "collect_list" in plan, plan


def test_anomaly_flags_broadcast_stats_no_window(spark):
    """Pass-2 must join BROADCAST per-key stats back onto the fact —
    never a per-key window over the fact table."""
    from engine.spark import diagnose

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = _plan(
        diagnose.anomaly_flags(ev, "event_type", "value", "event_id")
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan


def test_transition_matrix_single_fact_scan(spark):
    """The fact table is scanned and lag-windowed exactly once; the
    row-total normalization is a window over the tiny matrix, not a
    second aggregation branch duplicating the fact subtree."""
    from engine.spark import analytics

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = _plan(analytics.transition_matrix(ev))
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_prefix_filter_equi_join_no_cartesian(spark):
    """prefix_filter_pairs' candidate stage must plan as an equi-join
    on tok (prefix tokens = each doc's rarest tokens, self-limiting
    fan-out) and the verify as equi-joins on doc_a/doc_b — never a
    cartesian or broadcast-nested-loop over the corpus; the only
    window is the per-doc rank (partitioned by doc_id, doc-sized)."""
    from engine.spark import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    out = dedup.prefix_filter_pairs(docs, threshold=(3, 5))
    plan = _plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "tok" in plan


def test_footer_stats_pushes_aggregates_and_restores_confs(spark):
    """COUNT/MIN/MAX must appear as PushedAggregation on the V2 parquet
    scan (answered from row-group metadata, zero data pages), the
    values must match a plain scan, and the planning-scoped confs must
    be restored exactly."""
    prev_push = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    prev_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    out = pipeline.footer_stats(
        spark,
        f"{SF_DIR}/events.parquet",
        min_cols=("event_id",),
        max_cols=("event_id",),
    )
    plan = _plan(out)
    assert "PushedAggregation: [COUNT(*), MIN(event_id), MAX(event_id)]" in plan, plan
    assert spark.conf.get("spark.sql.parquet.aggregatePushdown", "false") == prev_push
    assert spark.conf.get("spark.sql.sources.useV1SourceList") == prev_v1
    row = out.collect()[0]
    want = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("mn"),
            F.max("event_id").alias("mx"),
        )
        .collect()[0]
    )
    assert (row["n_rows"], row["min_event_id"], row["max_event_id"]) == (
        want["n"], want["mn"], want["mx"],
    )


def test_column_profile_single_scan_and_hll_twin(spark):
    """Exact mode: ONE scan (a single Expand over one parquet scan —
    count the scans in the plan), and the stack() reshape adds no
    second job.  Sketch mode: approx NDV within HLL tolerance of
    exact, no Expand at all."""
    from engine.spark import diagnose

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    cols = ["event_id", "user_id", "event_type"]
    exact = diagnose.column_profile(ev, cols)
    plan = _plan(exact)
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan
    got = {r["col"]: r for r in exact.collect()}
    approx = {
        r["col"]: r
        for r in diagnose.column_profile(ev, cols, exact_ndv=False).collect()
    }
    aplan = _plan(diagnose.column_profile(ev, cols, exact_ndv=False))
    assert "Expand" not in aplan, aplan
    for c in cols:
        assert got[c]["n_nonnull"] + got[c]["n_null"] == 10000
        # HLL default rsd = 5%
        assert abs(approx[c]["ndv"] - got[c]["ndv"]) <= 0.2 * got[c]["ndv"]


def test_line_dedup_fingerprint_keyed_no_cartesian(spark):
    """line_dedup: the df-count join is keyed on the 60-bit line
    fingerprint, never a cartesian; reassembly is one doc_id agg."""
    from engine.spark import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _plan(dedup.line_dedup(docs, min_df=3))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "lfp" in plan  # the join/agg key is the fingerprint column


def test_classifier_score_broadcasts_model(spark):
    """hashed_classifier_score: the weights join must be a broadcast
    hash join — documents never shuffle to meet the model."""
    from engine.spark import text as etext

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    weights = spark.createDataFrame(
        [(1, 5), (2, -5)], "fid: long, w_milli: long"
    )
    plan = _plan(etext.hashed_classifier_score(docs, weights))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_q21_single_fact_agg_decorrelation(spark):
    """q21: the per-order supplier stats come from ONE aggregation over
    lineitem joined back by orderkey — no correlated re-scan pair, no
    cartesian."""
    df = entry_mod.queries()["q21_blame_supplier"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_sorted_neighborhood_bounded_equi_joins(spark):
    """sorted_neighborhood_pairs: candidate generation is equi-joins on
    rank-bucket ids; the only unpartitioned window is the metadata-size
    histogram offset window inside global_rank (<= shuffle-partitions
    rows), never over fact rows."""
    from engine.spark import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    df = dedup.sorted_neighborhood_pairs(docs, window=4)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # the rank-bucket join keys appear as equi-join keys
    assert "_ba" in plan and "_bb" in plan


def test_ewma_single_groupby_no_window_no_python(spark):
    """ewma: one shuffle (groupBy key), fold stays JVM-side — no
    ArrowEvalPython / BatchEvalPython, no window over fact rows."""
    from engine.spark import analytics

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").filter(
        F.col("user_id") < 30
    )
    plan = _plan(analytics.ewma(ev))
    assert "EvalPython" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange") <= 2, plan  # agg exchange (+AQE read)


def test_preference_pairs_no_window_no_cartesian(spark):
    """The argmax is a struct-max partial agg, never a per-prompt window
    sort; winner fan-out is an equi-join on the prompt key."""
    df = entry_mod.q_preference_pairs(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


def test_item_cooccurrence_capped_equi_join(spark):
    """Pair generation is an equi-join on the group key over the capped
    membership; the single-row group total rides broadcast."""
    df = entry_mod.q_item_cooccurrence(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        plan
    )


def test_length_buckets_single_shuffle_no_python(spark):
    """One partial-agg shuffle over a bounded bucket key, and the token
    count stays JVM-side (no Python eval anywhere)."""
    df = entry_mod.q_length_buckets(spark, SF_DIR)
    plan = _plan(df)
    assert "Python" not in plan, plan
    body = plan.split("AdaptiveSparkPlan")[-1]
    # hashAggregate exchanges only: bucket agg + the orderBy range part
    n_hash_ex = body.count("Exchange hashpartitioning")
    assert n_hash_ex <= 1, plan


def test_contingency_chi2_single_fact_scan(spark):
    """Marginals are partial aggs over the already-reduced cell table:
    the events fact table is scanned exactly once."""
    df = entry_mod.q_contingency_chi2(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    scans = [
        ln
        for ln in plan.splitlines()
        if "Scan parquet" in ln and "events" in ln
    ]
    assert len(scans) == 1, plan


def test_corr_pairs_single_fact_scan_no_window(spark):
    """Pairs are generated INSIDE per-bucket arrays (nested HOF
    transforms) instead of a grain self-join — Catalyst would re-expand
    a self-joined grain subtree into a second full fact scan.  Exactly
    ONE events scan, column-pruned to (ts, event_type, value); no
    cartesian, no Window."""
    df = entry_mod.q_corr_pairs(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    scans = [
        ln
        for ln in plan.splitlines()
        if "Scan parquet" in ln and "events" in ln
    ]
    assert len(scans) == 1, plan
    for ln in plan.splitlines():
        if "ReadSchema" in ln:
            assert "event_id" not in ln and "props" not in ln, ln


def test_vocab_growth_tiny_window_only(spark):
    """The only window runs over the n_shards-row rollup (empty
    partitionBy is safe there); the token-grain work is partial aggs."""
    df = entry_mod.q_vocab_growth(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan


def test_mad_flags_no_perkey_fact_sort(spark):
    """Every window in the plan is keyed by (_pid, key) blocks or runs
    over metadata-scale rows — no window partitioned by the bare
    low-cardinality key over fact-grain rows, no exact-percentile
    single-reducer buffer."""
    df = entry_mod.q_mad_flags(spark, SF_DIR)
    plan = _plan(df)
    assert "percentile" not in plan.lower(), plan
    assert "CartesianProduct" not in plan, plan
    # fact-grain windows must include the range-partition id in the key
    for ln in plan.splitlines():
        if "Window" in ln and "row_number" in ln:
            assert "_gm_pid" in ln, ln


def test_centroid_classify_broadcast_centroids(spark):
    """The |labels|xdim centroid table broadcasts; the only fact-grain
    window is the per-vector argmax (partition key = vec id, high
    cardinality)."""
    df = entry_mod.q_centroid_classify(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cms_single_scan_broadcast_sketch(spark):
    """The sketch build explodes probes from ONE events scan (a
    per-depth union would rescan depth times); the sketch broadcasts
    into the probe join."""
    df = entry_mod.q_cms_counts(spark, SF_DIR)
    plan = _plan(df)
    scans = [
        ln
        for ln in plan.splitlines()
        if "Scan parquet" in ln and "events" in ln
    ]
    # one scan for the sketch, one for the (distinct) query keys
    assert len(scans) <= 2, plan
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_attribution_user_keyed_window_single_scan(spark):
    """One fact scan; the carry window partitions on user_id (never an
    empty partition-by over the fact stream); no inequality join on the
    Spark side (that shape is the oracle's)."""
    df = entry_mod.q_attribution(spark, SF_DIR)
    plan = _plan(df)
    scans = [
        ln
        for ln in plan.splitlines()
        if "Scan parquet" in ln and "events" in ln
    ]
    assert len(scans) == 1, plan
    assert "CartesianProduct" not in plan, plan
    for ln in plan.splitlines():
        if "Window" in ln and "first(" in ln:
            assert "user_id" in ln, ln


def test_join_cardinality_takeordered_broadcast_total(spark):
    """Top-k plans as TakeOrderedAndProject (never a full-table rank
    window), the single-row grand total rides back as a broadcast, and
    no window runs over the unreduced count table."""
    df = entry_mod.q_join_cardinality(spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    # the rank window must sit above the k-row limit, not the fact side:
    # no Window node may appear without the limit already applied, i.e.
    # every Window line in this plan partitions nothing bigger than the
    # top-k rows — assert there is exactly one Window and a TakeOrdered
    # below it in the tree string.
    win_idx = plan.find("Window")
    take_idx = plan.find("TakeOrderedAndProject")
    assert win_idx != -1 and take_idx != -1 and win_idx < take_idx, plan


# ---------------------------------------- TPC-H completion five (r5 s5)
def test_q2_broadcast_dims_single_fact_shuffle(spark):
    """q2: both scoped dimensions broadcast into the fact scan, the
    min-subquery decorrelates to a window over the already-reduced
    (part, supplier) cost table partitioned by the high-cardinality
    part key — the fact is scanned exactly once and the agg shuffle is
    the only full-data exchange."""
    df = entry_mod.queries()["q2_min_cost_supplier"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    scans = [
        ln for ln in plan.splitlines()
        if "Scan parquet" in ln and "lineitem" in ln
    ]
    assert len(scans) == 1, plan
    # the window partitions by the part key, never unpartitioned
    for ln in plan.splitlines():
        if ln.strip().startswith("Window "):
            assert "l_partkey" in ln, ln


def test_q11_threshold_reuses_fact_agg_exchange(spark):
    """q11: the HAVING-total is a single-row aggregate over the SAME
    per-part agg subplan — statically the subquery branch re-derives
    it (the q15 pattern), but AQE exchange reuse must replace the
    second derivation with a ReusedExchange at runtime so the
    nation-restricted fact is shuffled once."""
    df = entry_mod.queries()["q11_important_parts"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    df.collect()
    final = _plan(df)
    assert "ReusedExchange" in final or "ReusedQueryStage" in final, final


def test_q12_shipdate_range_pushed_to_scan(spark):
    """q12: the 1996 ship-date range prunes the lineitem parquet scan
    before the join; the lateness predicate is post-join codegen."""
    df = entry_mod.queries()["q12_priority_lateness"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan


def test_q16_anti_join_and_expand_distinct(spark):
    """q16: NOT IN decorrelates to a broadcast left-anti join on the
    fact scan; COUNT(DISTINCT) plans as the two-phase expand — no
    pre-distinct materialization of the pair table."""
    df = entry_mod.queries()["q16_supplier_variety"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "LeftAnti" in plan, plan
    assert "Expand" in plan or "distinct" in plan.lower(), plan


def test_q20_one_pass_conditional_agg_semi_join(spark):
    """q20: both window/total quantities fold in ONE agg over the
    prefix-filtered fact (a single lineitem scan), winners return to
    the supplier dimension via a semi join."""
    df = entry_mod.queries()["q20_excess_share"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan, plan
    scans = [
        ln for ln in plan.splitlines()
        if "Scan parquet" in ln and "lineitem" in ln
    ]
    assert len(scans) == 1, plan


def test_text_normalize_zero_shuffle_projection(spark):
    """text_normalize: seven regexp_replace + two regexp_count as a
    pure codegen projection — no Exchange, no Python anywhere."""
    df = entry_mod.queries()["text_normalize"](spark, SF_DIR)
    plan = _plan(df)
    assert _no_keyed_exchange(plan), plan
    assert "EvalPython" not in plan, plan


def test_k_anonymity_single_expand_agg(spark):
    """k_anonymity: the multi-COUNT(DISTINCT) plans as one Expand over
    the scan with partial aggregation — no joins, no windows."""
    df = entry_mod.queries()["k_anonymity"](spark, SF_DIR)
    plan = _plan(df)
    assert "Expand" in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_grouped_sample_first_window_is_salted(spark):
    """grouped_sample: the window that sees the FACT rows partitions by
    (stratum, _salt) — never by stratum alone, which would serialise a
    hot stratum onto one reducer.  The stratum-only window exists but
    runs after the _r1 <= k filter, i.e. over <= k * n_salts rows per
    stratum."""
    from engine.spark import diagnose

    d = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    df = diagnose.grouped_sample(d, "lang", 5, "doc_id")
    plan = _plan(df)
    r1 = [
        ln for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "_r1" in ln
    ]
    assert r1 and "_salt" in r1[0] and "lang" in r1[0], plan
    # Spark 4's rank-limit pushdown gives a map-side partial top-k
    # before the salted exchange — each task pre-trims to k rows
    assert "WindowGroupLimit" in plan, plan


def test_url_host_stats_no_udf_single_scan(spark):
    """url_host_stats: extraction is codegen regexp + generate — no
    Python, one scan of the corpus."""
    df = entry_mod.queries()["url_host_stats"](spark, SF_DIR)
    plan = _plan(df)
    assert "EvalPython" not in plan, plan
    scans = [
        ln for ln in plan.splitlines()
        if "Scan parquet" in ln and "documents" in ln
    ]
    assert len(scans) == 1, plan


def test_leakage_safe_split_decision_is_projection(spark):
    """leakage_safe_split: given precomputed pairs, the split decision
    adds no exchange beyond the CC rounds and the one label join — the
    bucket hash is a pure projection (no window, no extra aggregation
    on the corpus side)."""
    from engine.spark import mix

    docs = spark.range(100).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(1, 2)], "doc_a: long, doc_b: long")
    df = mix.leakage_safe_split(docs, pairs)
    plan = _plan(df)
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_agent_loops_single_corpus_exchange(spark):
    """agent_loops: the conv_id window exchange is the ONLY
    hash-partitioning of the corpus — the island rollups on
    (conv_id, g1/g2) and the final conv_id joins are all satisfied by
    HashPartitioning(conv_id), and nothing sorts outside the bounded
    per-conversation window."""
    from engine.spark import conversation

    turns = spark.createDataFrame(
        [("c1", 0, "user", "hi", "")],
        "conv_id: string, turn_idx: int, role: string, text: string,"
        " tool: string",
    )
    plan = _plan(conversation.agent_loops(turns))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "PythonUDF" not in plan, plan


def test_zorder_key_no_data_shuffle(spark):
    """zorder_key: the min/max bounds ride as a one-row broadcast; the
    key itself is pure codegen bit math — no hash exchange of the data
    side at all."""
    from engine.spark import zorder

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 31).cast("double").alias("x"),
        (F.col("id") % 17).cast("double").alias("y"),
    )
    plan = _plan(zorder.zorder_key(df, "x", "y"))
    assert "Exchange hashpartitioning" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "PythonUDF" not in plan, plan


def test_source_overlap_no_doc_self_join(spark):
    """The pair expansion happens JVM-side inside per-fingerprint source
    arrays (bounded by n_sources), never a doc-grain self-join, and the
    per-source totals come out of the SAME single aggregation as the
    pair counts (marker rows + two tiny windows) — so the corpus scans
    exactly once per union branch and no join of any kind appears."""
    df = entry_mod.q_source_overlap(spark, SF_DIR)
    plan = _plan(df)
    scans = [
        ln
        for ln in plan.splitlines()
        if "Scan parquet" in ln and "documents" in ln
    ]
    assert len(scans) <= 2, plan  # original + planted-mirror branch
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rrf_fusion_fuses_candidate_lists_only(spark):
    """Fusion joins the two K-row candidate lists (full outer on id),
    never the corpus: the corpus-grain work stays inside the legs
    (postings filter before shuffle / broadcast query set), and no
    cartesian or NL join appears anywhere in the fused plan."""
    df = entry_mod.q_rrf_fusion(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    # the only nested-loop is the 1-row broadcast query/stats sides
    # riding the legs; the fusion join itself is keyed on the id
    assert "TakeOrderedAndProject" in plan or "Sort" in plan, plan


def test_embedding_drift_one_exchange_per_snapshot(spark):
    """The d-times row explosion is absorbed by map-side partial agg:
    exactly one hash exchange per snapshot (plus the tiny broadcast for
    the join), never a re-shuffle of exploded rows, no cartesian."""
    df = entry_mod.q_embedding_drift(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # partial agg before the exchange (map-side combine)
    assert "partial_sum" in plan or "partial_count" in plan, plan


# ------------------------------------------- session-8 plan shapes
def test_audience_overlap_no_self_join_no_cartesian(spark):
    """The pair matrix comes from in-array transforms over per-user
    type sets — no fact self-join, no cartesian; the audience sizes
    ride broadcast joins on the bounded type key."""
    df = entry_mod.q_audience_overlap(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_weighted_median_no_per_key_fact_sort_window(spark):
    """The crossing-row search must never plan as a per-flag window
    sort over fact rows: every data-sized Window partitions on
    (pid, k) — the bounded range-partition blocks — and offsets/totals
    ride BroadcastExchanges."""
    df = entry_mod.q_weighted_median(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    for ln in plan.splitlines():
        if "Window [" in ln and "lcum" in ln:
            assert "pid" in ln, ln


def test_distinctive_terms_broadcast_totals_single_tokenize(spark):
    """Group totals and the corpus total ride broadcasts (never an
    empty-partition window over the vocab-sized grain), and the token
    explode subtree is shared, not duplicated per branch."""
    df = entry_mod.q_distinctive_terms(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    # the per-term window partitions on the term key, never empty
    for ln in plan.splitlines():
        if "Window [" in ln and "yw" in ln:
            assert "term" in ln, ln


def test_survival_curve_windows_only_on_life_table(spark):
    """The KM windows (risk depletion, log cumsum) read the one-row-
    per-lifetime life table: every window input sits BELOW an
    aggregate of the per-user grain, and the global end rides a
    broadcast single-row agg."""
    df = entry_mod.q_survival_curve(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan
