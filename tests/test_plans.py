"""Physical-plan shape assertions (the 100 TB design contract).

Correctness tests prove the operators compute the right answer at
sf0.01; these prove the *plans* are the ones that survive a 1000×
scale-up: filters reach the parquet scan, projections prune columns,
small dims broadcast, top-k never globally sorts, and nothing falls
back to a cartesian product.
"""

from __future__ import annotations

import contextlib
import io

from big_data_projects_spark.queries import REGISTRY

SF = "/root/testdata/sf0.01"


def plan_of(spark, name: str, mode: str = "formatted") -> str:
    df = REGISTRY[name].spark(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_q6_filters_pushed_and_columns_pruned(spark):
    plan = plan_of(spark, "q_tpch_q6")
    assert "PushedFilters: [" in plan
    # The discount/quantity range predicates reach the scan.
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan
    # Column pruning: the scan reads the 4 needed columns, not all 11.
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema and "l_partkey" not in read_schema


def test_scan_project_rename_prunes_columns(spark):
    plan = plan_of(spark, "q_scan_project_rename")
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "c_acctbal" not in read_schema and "c_nationkey" not in read_schema


def test_star_joins_broadcast_dims(spark):
    for name in ("q_tpch_q3", "q_tpch_q5", "q_join_multiway"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: dims not broadcast"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"


def test_topk_uses_take_ordered_not_global_sort(spark):
    for name in (
        "q_tpch_q3", "q_tpch_q18", "q_knn_cosine", "q_explode_terms",
        "q_order_limit",
    ):
        plan = plan_of(spark, name)
        assert "TakeOrderedAndProject" in plan, f"{name}: global sort for top-k"


def test_range_join_is_broadcast_nested_loop(spark):
    plan = plan_of(spark, "q_range_join")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_partitioned_windows_have_no_single_partition_exchange(spark):
    # The reference's W1 bug (SURVEY.md §2.5) planned Exchange
    # SinglePartition; every production window here partitions first.
    for name in ("q_top_k_per_group", "q_ntile_cume", "q_window_analytics",
                 "q_sessionize"):
        plan = plan_of(spark, name)
        assert "Exchange SinglePartition" not in plan, (
            f"{name}: single-partition exchange (O(N) bottleneck at scale)"
        )


def test_q4_exists_becomes_semi_join(spark):
    plan = plan_of(spark, "q_tpch_q4")
    assert "LeftSemi" in plan


def test_no_python_udfs_in_relational_paths(spark):
    # Hot relational paths stay JVM-side (BatchEvalPython/ArrowEvalPython
    # would mark a Python boundary; multimodal/stateful ops are the only
    # sanctioned users and are excluded here).
    for name in ("q_flagship_star_rollup", "q_tpch_q1", "q_tpch_q3",
                 "q_time_dim", "q_json_extract", "q_array_ops",
                 "q_knn_cosine", "q_dedup_exact"):
        plan = plan_of(spark, name)
        assert "EvalPython" not in plan, f"{name}: Python UDF in plan"


def test_flagship_wholestage_codegen(spark):
    # AQE only shows codegen spans in the *final* plan, so execute first.
    df = REGISTRY["q_flagship_star_rollup"].spark(spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    # "*(n)" prefixes are the simpleString markers for WholeStageCodegen
    # spans; the scan→join→partial-agg pipeline must be codegen'd.
    assert "*(" in final and "BroadcastHashJoin" in final


def test_partitioned_write_readback_prunes_partitions(spark, tmp_path):
    """Hive-partitioned layout (the reference's sink shape,
    transform-data.py:323-327) must enable static partition pruning on
    re-read: a filter on the partition column shows up as a
    PartitionFilters entry, and non-matching directories are never
    scanned."""
    import pyspark.sql.functions as F
    from big_data_projects_spark.data import load_table

    out = str(tmp_path / "events_by_type")
    ev = load_table(spark, SF, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]
    assert back.count() > 0


def test_rolling_time_window_partitions_before_sorting(spark):
    plan = plan_of(spark, "q_rolling_time_window")
    assert "Exchange SinglePartition" not in plan


def test_aqe_splits_skewed_join_partition(spark):
    """The skew path the engine relies on at 100 TB: one hot key holding
    75% of the fact rows would serialize into a single straggler task; a
    shuffle join under AQE must detect the oversized partition and split
    it (SortMergeJoin(skew=true) + 'AQEShuffleRead ... skewed' in the
    final plan). Thresholds are lowered to make test-scale data exceed
    them; the detection logic is the same at any scale."""
    import pyspark.sql.functions as F

    overrides = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "128KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        fact = (
            spark.range(400000)
            .withColumn(
                "k",
                F.when(F.col("id") < 300000, F.lit(7)).otherwise(
                    F.pmod("id", 1000)
                ),
            )
            .withColumn("p1", F.md5(F.col("id").cast("string")))
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k2"),
            F.md5(F.col("id").cast("string")).alias("tag"),
        )
        j = fact.join(dim, fact.k == dim.k2).select(
            F.sum(F.length("p1")).alias("s")
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the skewed partition"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """AQE right-sizes reducer counts at runtime: a tiny aggregate
    shuffled over 8 static partitions must coalesce to fewer reads
    (at 100 TB the same mechanism prevents 10k-reducer stages over
    kilobyte partials). Assert on the executed adaptive plan."""
    from big_data_projects_spark.data import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    df = ev.groupBy("event_type").count()
    df.collect()  # finalize the adaptive plan
    import io, contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    assert "AQEShuffleRead" in plan and "coalesced" in plan, plan


def test_stream_state_partitions_follow_session_cores(spark):
    """Stateful streaming runs without AQE, so every shuffle partition
    is a state store opened, written and checkpointed per micro-batch.
    The registry wrapper sizes them to the session's cores whatever
    the caller left set: a stale 32 must not survive into the stream."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StateParts(StreamingQueryListener):
        def __init__(self):
            self.parts = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.parts += [op.numShufflePartitions for op in event.progress.stateOperators]

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    key = "spark.sql.shuffle.partitions"
    cores = spark.sparkContext.defaultParallelism
    prev = spark.conf.get(key)
    listener = StateParts()
    spark.streams.addListener(listener)
    try:
        spark.conf.set(key, "32")
        REGISTRY["q_stream_cdc_apply"].spark(spark, SF)
        effective = spark.conf.get(key)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(key, prev)
    assert listener.parts, "no stateful progress reported"
    assert set(listener.parts) == {cores}, (listener.parts, cores)
    assert effective == str(cores)


def test_shuffle_hash_hint_controls_join_strategy(spark):
    plan = plan_of(spark, "q_shuffle_hash_hint")
    assert "ShuffledHashJoin" in plan, "hint ignored"


def test_bm25_broadcasts_stats_never_collects(spark):
    """BM25's corpus scalars (N, avgdl) and the per-term df table join
    in as broadcasts; the doc-length join stays a keyed join; nothing
    falls back to a cartesian product."""
    plan = plan_of(spark, "q_bm25")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_winnowing_window_partitions_by_doc(spark):
    """The winnowing min-window must partition by doc id — a global
    window would single-partition every gram at 100 TB."""
    plan = plan_of(spark, "q_winnow_fingerprint")
    assert "Exchange SinglePartition" not in plan
    assert "EvalPython" not in plan


def test_triangle_count_joins_are_keyed(spark):
    """Wedge-close enumeration must run as keyed equi-joins (shuffle or
    broadcast), never a cartesian product; the scalar assembly joins are
    1-row broadcasts."""
    plan = plan_of(spark, "q_triangle_count")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan  # the close-check is a semi join


def test_decontaminate_blocked_join_no_product(spark):
    plan = plan_of(spark, "q_embed_decontaminate")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_zorder_bounds_both_dimensions_per_file(spark, tmp_path):
    """The z-ordered layout must bound BOTH cluster columns' per-file
    spread; a single-column sort bounds only its own column. Compare
    the second column's (l_suppkey) mean per-file range under both
    layouts — z-order should cut it by at least half."""
    from pyspark.sql import functions as F

    from big_data_projects_spark.data import load_table
    from big_data_projects_spark.operators.layout import zordered

    li = load_table(spark, SF, "lineitem").select("l_partkey", "l_suppkey")
    z_dir, lin_dir = str(tmp_path / "z"), str(tmp_path / "lin")
    zordered(li, ["l_partkey", "l_suppkey"]).write.parquet(z_dir)
    (
        li.repartitionByRange(16, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.parquet(lin_dir)
    )

    def mean_file_spread(path: str, col: str) -> float:
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg((F.max(col) - F.min(col)).alias("spread"))
        )
        return per_file.agg(F.avg("spread")).collect()[0][0]

    # the single-column sort leaves the OTHER column's per-file range
    # at the full table range; z-order must cut it by at least half
    z_sk = mean_file_spread(z_dir, "l_suppkey")
    lin_sk = mean_file_spread(lin_dir, "l_suppkey")
    assert z_sk < 0.5 * lin_sk, (z_sk, lin_sk)
    # and BOTH dimensions stay bounded vs the full table range
    full_pk = 1999.0  # sf0.01 l_partkey spread (0..1999)
    z_pk = mean_file_spread(z_dir, "l_partkey")
    assert z_pk < 0.5 * full_pk, (z_pk, full_pk)


def test_bloom_filter_join_injects_runtime_filter(spark):
    # Row-level runtime filtering: the bloom filter built from the
    # selective orders side must reach the lineitem side BEFORE the
    # join, and the thresholds the builder overrides must be pinned
    # back by the registry wrapper before the next build (no leak).
    df = REGISTRY["q_bloom_filter_join"].spark(spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in plan, "runtime bloom filter not injected"
    assert "bloom_filter_agg" in plan
    # Another builder runs → defaults restored.
    REGISTRY["q_tpch_q6"].spark(spark, SF)
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "10485760"


def test_interval_overlap_is_equi_join_not_nested_loop(spark):
    # The overlap predicate is non-equi; bucket blocking must turn it
    # into a hash/merge equi-join on the block id — never a nested
    # loop or cartesian plan that can't scale past one small side.
    plan = plan_of(spark, "q_interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hard_negatives_broadcasts_only_bounded_anchor_side(spark):
    # The exact path's broadcast contract: the broadcast side must be
    # the FIXED-SIZE anchor set (vec_id < 64 reaches the scan as a
    # pushed filter), never a corpus-proportional relation.
    plan = plan_of(spark, "q_hard_negatives")
    assert "LessThan(vec_id,64)" in plan, "anchor bound not pushed to scan"
    assert "BroadcastNestedLoopJoin" in plan  # bounded side × corpus scan


def test_hard_negatives_ann_is_join_only(spark):
    # The scale path (anchor set ∝ corpus): candidates from LSH band
    # equi-joins — no nested loop, no cartesian product anywhere, and
    # the per-anchor rank never plans a single-partition exchange.
    plan = plan_of(spark, "q_hard_negatives_ann")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_dpp_join_prunes_fact_partitions(spark):
    # The dim filter must reach the hive-partitioned fact scan as a
    # runtime dynamic-pruning subquery — the join-driven partition
    # pruning a 100 TB fact table lives on.
    plan = plan_of(spark, "q_dpp_join")
    assert "dynamicpruning" in plan, "no dynamic partition pruning in scan"
    assert "CartesianProduct" not in plan


def test_skipgram_pairs_is_join_free(spark):
    """Pair expansion happens inside the projection (Generate over a
    per-row computed array): no join of positions, one aggregate
    exchange, top-k as TakeOrderedAndProject."""
    plan = plan_of(spark, "q_skipgram_pairs", mode="simple")
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") <= 2  # partial->final agg only


def test_global_shuffle_uses_range_sharding(spark):
    """The corpus range-shards on the hash key (RangePartitioning) and
    never funnels through a single-partition data exchange feeding a
    data-scale sort: the only SinglePartition consumer is the 32-row
    shard-totals window."""
    plan = plan_of(spark, "q_global_shuffle", mode="simple")
    assert "rangepartitioning" in plan.lower()


def test_upsample_mix_broadcasts_mass_tables(spark):
    """The per-source mass and max-mass relations join in as
    broadcasts; the corpus side never shuffles before the explode."""
    plan = plan_of(spark, "q_upsample_mix", mode="simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Generate" in plan  # the sequence-explode row fan-out
    assert "SortMergeJoin" not in plan


def test_pq_codebook_is_broadcast_and_topk_never_sorts(spark):
    """PQ serving: codebook relations enter as BroadcastExchange, both
    the ADC candidate cut and the final top-k are
    TakeOrderedAndProject — no global Sort of corpus-scale data."""
    plan = plan_of(spark, "q_knn_pq", mode="simple")
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_inverted_index_caps_before_ranking(spark):
    """The posting-list rank window must consume the df-capped join
    (the Filter on df <= 1000 sits below the window's sort)."""
    plan = plan_of(spark, "q_inverted_index", mode="simple")
    assert "Window" in plan
    assert "1000" in plan  # the df cap is present in the plan


def test_series_family_plan_shapes(spark):
    """Time-series/sketch family (round-3 additions): per-key windows
    never collapse to one partition, medians broadcast onto the fact
    table, the heavy-hitter top-k is TakeOrderedAndProject (never a
    global sort), and the whole family stays JVM-side."""
    for name in ("q_interpolate_linear", "q_ewma", "q_event_transitions",
                 "q_trend_slope"):
        plan = plan_of(spark, name)
        assert "Exchange SinglePartition" not in plan, (
            f"{name}: single-partition exchange (O(N) bottleneck at scale)"
        )
        assert "EvalPython" not in plan, f"{name}: Python UDF in plan"
    mad = plan_of(spark, "q_mad_outliers")
    assert "BroadcastHashJoin" in mad and "CartesianProduct" not in mad
    hll = plan_of(spark, "q_hll_uniques")
    assert "CartesianProduct" not in hll
    top = plan_of(spark, "q_sketch_top_terms")
    assert "TakeOrderedAndProject" in top
    assert "CartesianProduct" not in top


def test_dup_span_joins_are_keyed(spark):
    """Duplicated-span detection must stay an equi-join pipeline: the
    dup-shingle semi side joins on the shingle key and coverage joins
    back on doc_id — no nested-loop fallback anywhere."""
    plan = plan_of(spark, "q_dup_span")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_round4_operator_plan_shapes(spark):
    """Round-4 additions keep their scale contracts:

    - q_kn_bigram_ppl generates bigrams IN-ROW (a Generate over the
      computed pair array — never a position self-join) and stays
      JVM-side;
    - q_preference_pairs' per-group argmax/argmin are AGGREGATES, not
      per-source windows (low-cardinality partitions would serialize);
    - q_dataset_report's language mode is likewise window-free on the
      source key (its only window partitions by the high-cardinality
      md5 fingerprint);
    - q_multimodal_dhash's signature is pure codegen (no Python)."""
    kn = plan_of(spark, "q_kn_bigram_ppl")
    assert "Generate" in kn, "bigrams must generate in-row"
    assert "EvalPython" not in kn
    assert "CartesianProduct" not in kn

    pref = plan_of(spark, "q_preference_pairs")
    assert "Window" not in pref, (
        "per-group argmax regressed to a window — must stay an aggregate"
    )
    assert "EvalPython" not in pref

    rep = plan_of(spark, "q_dataset_report")
    assert "partitionBy=[source" not in rep.replace(" ", ""), (
        "dataset report grew a per-source window"
    )
    assert "EvalPython" not in rep

    dh = plan_of(spark, "q_multimodal_dhash")
    assert "EvalPython" not in dh
    assert "CartesianProduct" not in dh


def test_ivf_merge_ingest_plan_shape(spark):
    """Round-9 ANN MERGE keeps its scale contract: the packed k-row
    frozen codebook reaches the batch via a BROADCAST (the crossJoin
    must be a BroadcastNestedLoopJoin of the one-row control-plane
    relation, never a CartesianProduct); routing is ranked IN-ROW
    (array_sort over struct(-csim, cell)) so the plan has NO window
    exchange for it — the only SinglePartition exchange is the k-row
    codebook-packing aggregate; everything stays JVM-side."""
    plan = plan_of(spark, "q_ivf_merge_ingest")
    assert "BroadcastNestedLoopJoin" in plan, (
        "centroid codebook not broadcast to the batch"
    )
    assert "CartesianProduct" not in plan
    # The in-row routing must not reintroduce a per-vector window: no
    # Window operator anywhere in the MERGE plan.
    assert "Window" not in plan, "routing regressed to a window shuffle"
    assert "EvalPython" not in plan


def test_stream_ivf_gate_stream_side_is_stateless_and_windowless(spark):
    """The streaming ANN gate's key scale property: each incoming
    vector's band signatures AND its IVF routing are computed IN-ROW
    (packed broadcast codebook + array_sort over struct(-csim, cell)),
    so the stream side up to the candidate join is a stateless
    stream-static join — no Window (routing regressed to per-vector
    ranking), no streaming Aggregate (state).  The static codebook
    sub-plan's one control-plane aggregate is expected; a WINDOW
    anywhere, or failure to stay a streaming plan, is the regression
    this pins against."""
    from big_data_projects_spark.queries_streaming import (
        _ivf_gate_match_stream,
    )

    m = _ivf_gate_match_stream(spark, SF)
    assert m.isStreaming, "gate stream side must be a streaming plan"
    plan = m._jdf.queryExecution().analyzed().toString()
    assert "Window" not in plan, "routing regressed to a window"


def test_contamination_single_doc_aggregate(spark):
    """Round-9 continuation: the membership probe is ONE left join to
    the distinct eval set followed by ONE doc-keyed aggregate — the
    old sizes⋈hits shape shuffled the train shingle relation by
    doc_id twice and joined the two aggregates.  Pin that exactly one
    doc_id exchange remains so the extra train-sized shuffle cannot
    quietly come back."""
    import re

    plan = plan_of(spark, "q_contamination")
    # doc_id-ONLY exchanges (the per-(doc,shingle) dedup exchange inside
    # shingles() keys on both columns and is not the one under test).
    doc_exchanges = re.findall(r"hashpartitioning\(doc_id#\d+L?, \d+\)", plan)
    assert len(doc_exchanges) == 1, (
        f"contamination regressed to {len(doc_exchanges)} doc-keyed "
        "exchanges (expected the single fused aggregate)"
    )
    # Structural twin of the exchange-count pin (ADVICE r9 #2: the
    # regex above is explain-format-sensitive): exactly ONE
    # partial+final HashAggregate pair keyed on doc_id ALONE — the
    # fused probe aggregate.  The old sizes⋈hits shape had two pairs.
    doc_aggs = re.findall(r"Keys \[1\]: \[doc_id#\d+L?\]", plan)
    assert len(doc_aggs) == 2, (
        f"expected one partial+final doc_id HashAggregate pair, found "
        f"{len(doc_aggs)} doc_id-keyed HashAggregates"
    )
    assert "CartesianProduct" not in plan


def test_lsh_neardup_shuffle_exchanges_are_skinny(spark):
    """r12 restructure contract (operators/similarity.py
    lsh_neardup_pairs): the band joins and the cross-band pair dedupe
    move (id_a, id_b) rows ONLY — no shuffle Exchange anywhere in the
    plan carries the embedding column.  The vector-bearing signature
    relation enters the band and attach joins as broadcasts at this
    scale; the pre-r12 shape rode ~0.5 KB of vector payload on every
    candidate row through the dedupe sort and spilled past the box's
    entire disk at 600k vectors (scale_smoke ledger, M=300)."""
    import re

    plan = plan_of(spark, "q_embed_lsh_neardup")
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    shuffles = [
        b for b in blocks if re.match(r"\(\d+\) Exchange\b", b.split("\n", 1)[0])
    ]
    assert shuffles, "expected at least the pair-dedupe shuffle Exchange"
    for b in shuffles:
        input_line = next(
            (l for l in b.splitlines() if l.startswith("Input")), None
        )
        assert input_line is not None, (
            f"no Input line in Exchange block (explain format drift?):\n{b[:400]}"
        )
        assert "embedding" not in input_line, (
            "a shuffle Exchange carries the embedding column — the "
            f"skinny-pair contract regressed:\n{b[:400]}"
        )
