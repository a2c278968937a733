"""Physical-plan contracts: lock in the properties that make queries scale.

Correctness tests prove the small-SF answer; these prove the *plan* — that
filters reach the parquet scan, small dimensions broadcast, big-big joins
don't, and nothing silently falls back to a cartesian product. A regression
here is a 100 TB incident that a row-count test would never catch.
"""

from __future__ import annotations

import re

import pytest

from gfe_db_spark.queries import all_queries
from tests.conftest import SF_SMOKE


def plan_of(df) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@pytest.fixture(scope="module")
def specs():
    return all_queries()


def run(specs, spark, name):
    return specs[name].fn(spark, SF_SMOKE)


def test_pushdown_reaches_scan(spark, specs):
    # Q6 is the pushdown showcase: shipdate/discount/quantity predicates
    # must appear as PushedFilters on the lineitem scan.
    plan = plan_of(run(specs, spark, "q6_forecast_revenue"))
    pushed = re.findall(r"PushedFilters: \[([^\]]+)\]", plan)
    assert pushed, "no pushed filters on the scan"
    joined = " ".join(pushed)
    assert "l_shipdate" in joined and "l_discount" in joined and "l_quantity" in joined


def test_column_pruning(spark, specs):
    # q1 projects 7 of 11 lineitem columns; ReadSchema must not include
    # the unused join keys.
    plan = plan_of(run(specs, spark, "q1_pricing_summary"))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas
    assert "l_orderkey" not in schemas[0] and "l_partkey" not in schemas[0]


@pytest.mark.parametrize(
    "name",
    ["q3_shipping_priority", "q5_local_supplier_volume", "j1_broadcast_lookup",
     "q10_returned_items", "q7_volume_shipping"],
)
def test_dimension_joins_broadcast(spark, specs, name):
    plan = plan_of(run(specs, spark, name))
    assert "BroadcastHashJoin" in plan, f"{name}: dimension join didn't broadcast"


def test_no_cartesian_products(spark, specs):
    # Only j6 (1-row singleton, by design) and the 4-row band join may use
    # a nested-loop strategy; everything else must not.
    allowed = {"j6_cross_join_singleton", "range_band_join"}
    offenders = []
    for name, spec in specs.items():
        if name in allowed:
            continue
        try:
            plan = plan_of(spec.fn(spark, SF_SMOKE))
        except Exception:
            continue  # non-plannable helpers surface elsewhere
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        # BroadcastNestedLoopJoin is fine only when one side is a tiny
        # literal/aggregate (scalar subquery pattern); flag fact-fact NLJ
        if "BroadcastNestedLoopJoin" in plan and "LocalTableScan" not in plan:
            if not re.search(r"BroadcastExchange IdentityBroadcastMode", plan):
                offenders.append((name, "BroadcastNestedLoopJoin"))
    # scalar-subquery crossJoins (q22, q15) broadcast a 1-row aggregate —
    # they appear as BroadcastNestedLoopJoin with a HashAggregate input and
    # are acceptable; a CartesianProduct anywhere is a bug.
    hard = [o for o in offenders if o[1] == "CartesianProduct"]
    assert not hard, f"cartesian products in: {hard}"


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true") == "true"


def test_whole_stage_codegen_on_hot_path(spark, specs):
    # simple-mode explain marks codegen stages with '*(n)'; the scan→
    # filter→project→partial-agg pipeline must be inside one.
    df = run(specs, spark, "q1_pricing_summary")
    # AQE only materializes codegen stages in the final plan — execute this
    # DataFrame's own QueryExecution (a write would plan a fresh copy)
    df.collect()
    qe = df._jdf.queryExecution()
    jvm = spark._jvm
    simple = qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "isFinalPlan=true" in simple
    assert re.search(r"\*\(\d+\)", simple), "no WholeStageCodegen stage in q1"


def test_embedding_neardup_is_keyed_join(spark, specs):
    # The registered embedding near-dup entry must candidate-generate via
    # an equi-join on the LSH bucket — never an all-pairs product.
    plan = plan_of(run(specs, spark, "dedup_embedding_cosine"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", plan)


def test_pack_sequences_single_shard_shuffle(spark, specs):
    # Packing's only data shuffle is the window's hash partition on
    # `shard` (plus the presentation sort). A global (un-partitioned)
    # window would serialize the whole corpus through one task.
    plan = plan_of(run(specs, spark, "pack_sequences"))
    assert re.search(r"hashpartitioning\([^)]*shard", plan), "window not sharded"
    assert "SinglePartition" not in plan, "global window detected"
    assert not re.search(r"Join", plan)


def test_contamination_broadcasts_benchmark(spark, specs):
    # The benchmark shingle set must broadcast onto the corpus probe — the
    # corpus side joins without shuffling for the join itself.
    plan = plan_of(run(specs, spark, "benchmark_contamination"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # exactly one corpus-side aggregate shuffle keyed by doc_id
    assert re.search(r"hashpartitioning\([^)]*doc_id", plan)


def test_repetition_stats_is_joinless(spark, specs):
    # Repetition signals are explode + keyed aggs only: a join (e.g. a
    # token self-join) would explode cost at corpus scale.
    plan = plan_of(run(specs, spark, "text_repetition_stats"))
    assert not re.search(r"Join", plan)
    assert "CartesianProduct" not in plan
    # r13: the only allowed exchange is the doc_id-keyed input spread;
    # both aggregates' group keys contain doc_id, so they must reuse its
    # partitioning rather than shuffle exploded bigram rows (the
    # pre-spread plan paid a (doc_id, ..., bigram) exchange AND ran the
    # per-row array work on the compact scan's 1-3 splits — wall equal
    # to single-thread CPU). At SF_SMOKE the scan can be a single split
    # (spread no-op, zero exchanges) — assert no exchange is keyed on
    # anything but doc_id, at most one, never a bigram shuffle.
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) <= 1, exchanges
    for keys in exchanges:
        assert "doc_id" in keys and "bigram" not in keys, exchanges


def test_keyed_window_entries_never_single_partition(spark, specs):
    # SCD2 is a keyed shape: its windows and aggs must hash-partition on
    # the key, never collapse to a single partition (which serializes the
    # table through one task).
    plan = plan_of(run(specs, spark, "scd2_customer_history"))
    assert "SinglePartition" not in plan
    assert re.search(r"hashpartitioning\(o_custkey", plan)


def test_copurchase_is_order_keyed_join(spark, specs):
    # The basket self-join must be an equi-join on the order key — never a
    # cartesian of the item table with itself.
    plan = plan_of(run(specs, spark, "copurchase_pairs"))
    assert "CartesianProduct" not in plan
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", plan)


def test_ivf_index_probe_prunes_partitions(spark, tmp_path):
    # The materialized IVF index must be probed with partition pruning:
    # the scan shows a dynamic pruning expression on centroid_id, so a
    # 2-probe search reads 2/K of the corpus, not all of it.
    from pyspark.sql import functions as F

    from gfe_db_spark.operators.similarity import (
        ivf_assign,
        ivf_probe_index,
        ivf_write_index,
    )
    from gfe_db_spark.sources.tables import table

    emb = table(spark, SF_SMOKE, "embeddings")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    idx = str(tmp_path / "ivf")
    ivf_write_index(ivf_assign(emb, cents), idx)
    q = emb.filter(F.col("vec_id") == 0).select("embedding")
    df = ivf_probe_index(spark, idx, cents, q, k=10, n_probe=2)
    plan = plan_of(df)
    assert re.search(r"PartitionFilters: \[[^\]]*dynamicpruning[^\]]*centroid_id", plan) or \
        re.search(r"PartitionFilters: \[[^\]]*centroid_id[^\]]*dynamicpruning", plan), plan[:800]
    assert len(df.collect()) == 10


def test_python_eval_only_where_justified(spark, specs):
    # The Python boundary contract: row-at-a-time Python (BatchEvalPython)
    # appears NOWHERE; Arrow-batched Python appears only in the documented
    # justified set (EMBL parse, seq-hash decimal-128, SimHash packing,
    # media decode). Everything else must stay JVM-side.
    allowed_arrow = {
        "gfe_end_to_end",      # EMBL parse mapInPandas + seq-hash
        "alignment_join",      # same pipeline
        "gfe_naming",          # same pipeline (accession/naming slice)
        "cypher_front_end",    # same pipeline (fixture build behind run_cypher)
        "cypher_validation_node_counts",       # r7: same fixture pipeline,
        "cypher_validation_release_histogram", # the reference's literal
        "cypher_validation_accession_counts",  # validation texts
        "dedup_simhash",       # 64-bit packing pandas UDF
        "dedup_simhash_hamming",  # consumes the same SimHash pandas UDF
        "corpus_prep_pipeline_v3",  # its dedup stage is SimHash-based
        "multimodal_metadata", # media decode mapInPandas
        "multimodal_features",
        "multimodal_real_decode",
        "multimodal_phash_dedup",  # pixel decode + aHash mapInPandas
    }
    # knn_ivf_trained runs real queries on .fn(); skip it here
    skip = {"knn_ivf_trained"}
    offenders = []
    for name, spec in specs.items():
        if name in skip:
            continue
        try:
            plan = plan_of(spec.fn(spark, SF_SMOKE))
        except Exception:
            continue
        if "BatchEvalPython" in plan:
            offenders.append((name, "BatchEvalPython"))
        arrow = any(
            m in plan
            for m in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
        )
        if arrow and name not in allowed_arrow:
            offenders.append((name, "unexpected Arrow-Python node"))
    assert not offenders, f"Python eval outside the justified set: {offenders}"


def test_rolling_spend_window_is_custkey_partitioned(spark, specs):
    # The time-RANGE frame must run inside a hash partitioning on the
    # customer key — a global (single-partition) window would serialize
    # the orders table through one task at scale.
    plan = plan_of(run(specs, spark, "rolling_spend_7d"))
    assert "SinglePartition" not in plan
    assert re.search(r"hashpartitioning\(o_custkey", plan)
    assert not re.search(r"Join", plan)  # frame scan, not a self-join


def test_doc_chunk_overlap_is_shuffle_free(spark, specs):
    # Chunking is explode + substr over the scan: the only exchange allowed
    # is the final presentation sort; no join, no aggregation shuffle.
    plan = plan_of(run(specs, spark, "doc_chunk_overlap"))
    assert not re.search(r"Join", plan)
    assert "Generate" in plan  # the explode
    # exactly the one rangepartitioning exchange for the ORDER BY
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e.startswith("rangepartitioning") for e in exchanges), exchanges


def test_mixture_resample_broadcasts_rates_not_corpus(spark, specs):
    # The corpus joins the tiny rate table via broadcast; the documents
    # table itself must never hash-shuffle for that join (only the small
    # count aggregation and the final sort may exchange).
    plan = plan_of(run(specs, spark, "mixture_resample"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semdedup_pairwise_is_cluster_keyed(spark, specs):
    # The SemDeDup pair scan must be an equi-join on centroid_id (cost
    # bounded by cluster sizes), never a cartesian over the corpus.
    plan = plan_of(run(specs, spark, "semdedup_prune"))
    assert "CartesianProduct" not in plan
    assert re.search(r"centroid_id", plan)


def test_zorder_layout_is_joinless_keyed_agg(spark, specs):
    # The Morton code is a pure-builtin narrow map; the only shuffle is
    # the bucket aggregate (plus the presentation sort). Any join or
    # single-partition collapse here would be a layout-job regression.
    plan = plan_of(run(specs, spark, "zorder_layout"))
    assert not re.search(r"Join", plan)
    assert re.search(r"hashpartitioning\([^)]*z_bucket", plan)
    assert "CartesianProduct" not in plan


def test_corpus_shuffle_window_is_shard_keyed(spark, specs):
    # Deterministic shuffle must never be a global row_number: the window
    # partitions by shard, so no SinglePartition exchange may appear.
    plan = plan_of(run(specs, spark, "corpus_shuffle"))
    assert "SinglePartition" not in plan, "global window detected"
    assert re.search(r"hashpartitioning\([^)]*shard", plan)
    assert not re.search(r"Join", plan)


def test_pq_adc_joins_are_broadcast(spark, specs):
    # Both PQ joins (codebook onto sub-slices at encode time, LUT onto
    # exploded codes at query time) carry a ≤32-row build side — they must
    # broadcast; a shuffle of the corpus keyed on (sub, code) would move
    # the whole table to answer a point query.
    plan = plan_of(run(specs, spark, "knn_pq_adc"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, "corpus shuffled for a broadcast-size side"


def test_incremental_dedup_broadcasts_batch_probe(spark, specs):
    # The batch delta's band keys broadcast onto the corpus; the corpus
    # band table itself must not shuffle for the probe join.
    plan = plan_of(run(specs, spark, "dedup_incremental"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bpe_iterations_are_keyed_aggs_no_python(spark, specs):
    # Each BPE iteration is pair-explode → keyed pair-count aggregate →
    # 1-row argmax → fold merge (pure builtins). The final vocab plan must
    # show the keyed aggregate and contain no Python eval, no join of the
    # word table with itself, and no cartesian product.
    plan = plan_of(run(specs, spark, "bpe_vocab_stats"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert re.search(r"hashpartitioning\([^)]*sym", plan)
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin", plan)


def test_set_similarity_prefix_join_is_token_keyed(spark, specs):
    # Candidate generation must be the prefix-token equi-join and the
    # verify step token-keyed equi-joins — a non-equi (nested-loop) join
    # here means the prefix filter degenerated to all-pairs.
    plan = plan_of(run(specs, spark, "set_similarity_join"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"hashpartitioning\([^)]*doc", plan), "window not doc-keyed"


def test_entity_match_join_is_block_keyed(spark, specs):
    # The self-join must be an equi-join on the blocking key (the
    # levenshtein predicate applied post-join); a nested-loop strategy
    # would mean the blocking bound was lost and pair cost reverts to n².
    plan = plan_of(run(specs, spark, "entity_match_blocking"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan)


def test_gated_match_expansion_reuses_candidate_pipeline(spark):
    # r13: the gated form's two member-expansion joins must read the
    # candidate pipeline (window + variant explode + candidate join +
    # levenshtein) through ONE pinned exchange — sequential broadcast
    # builds cannot reuse each other's un-exchanged lineage, so without
    # the pin the whole pipeline re-evaluated once per build (measured:
    # two ~19 task-CPU-s build stages at the 10x slice for one pipeline).
    from gfe_db_spark.queries.warehouse import blocked_match_pairs_gated

    rows = [(i, f"name{i % 7:03d}x", "blk") for i in range(60)]  # 7 classes, dup'd
    df = spark.createDataFrame(rows, "k long, name string, block string")
    pairs = blocked_match_pairs_gated(df)
    pairs.collect()
    span = _final_aqe_span(pairs)
    plan = plan_of(pairs)
    # Assert on THE pinned exchange, not just any reuse (r14, tightening
    # the r13 advice finding): a bare `ReusedExchange` search was
    # non-discriminating. Verified empirically with the .repartition pin
    # removed from blocked_match_pairs_gated: BOTH signals below vanish
    # from the final span (at this fixture scale AQE then also
    # restructures away the m-window exchange reuse), so each assert
    # alone catches a pin regression.
    final_ids = set(re.findall(r"\((\d+)\)", span))
    pinned_ids = {
        m.group(1)
        for m in re.finditer(
            r"\((\d+)\) Exchange\n[^\n]*\nArguments: hashpartitioning\("
            r"[^)]*__na[^)]*block[^)]*\), REPARTITION_BY_COL",
            plan,
        )
        if m.group(1) in final_ids
    }
    assert pinned_ids, (
        f"pinned REPARTITION_BY_COL (__na, block) exchange missing from the "
        f"final plan:\n{span[:1500]}"
    )
    assert re.search(r"ReusedExchange", span), span[:1500]


def test_bpe_encode_vocab_broadcasts(spark, specs):
    # Corpus encoding joins the exploded corpus against the vocab-sized
    # (word → n_subtokens) dimension: the dimension must broadcast; a
    # shuffle join would move the 100 TB corpus to apply a tiny vocab.
    plan = plan_of(run(specs, spark, "bpe_encode_corpus"))
    assert "BroadcastHashJoin" in plan
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin", plan)


def test_table_profile_is_single_scan(spark, specs):
    # All column statistics come from ONE pass over orders: exactly one
    # parquet scan may appear in the plan.
    plan = plan_of(run(specs, spark, "table_profile"))
    # count node sections ("(1) Scan parquet"), not tree echo lines
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans == 1, f"profile re-scans the table ({n_scans} scans)"


def test_cdc_apply_is_agg_not_window(spark, specs):
    # The changelog apply is ONE keyed max_by aggregation (map-side
    # partials, N-row shuffle); a Window node here means it regressed to
    # the sort-based rn=1 formulation.
    plan = plan_of(run(specs, spark, "cdc_apply_changelog"))
    assert "Window" not in plan
    assert re.search(r"hashpartitioning\([^)]*key", plan)


def test_pit_join_window_is_custkey_partitioned(spark, specs):
    # The SCD2 interval build must window per customer (never a global
    # sort) and the probe join must be key-equi.
    plan = plan_of(run(specs, spark, "scd2_point_in_time_join"))
    assert "SinglePartition" not in plan, "global window detected"
    assert "CartesianProduct" not in plan
    assert re.search(r"hashpartitioning\([^)]*custkey", plan)


def test_priority_sample_is_topk_not_global_sort(spark, specs):
    # Weighted sampling must plan as TakeOrderedAndProject (per-partition
    # heap + merge), not a full global sort of the corpus.
    plan = plan_of(run(specs, spark, "weighted_sample_priority"))
    assert "TakeOrderedAndProject" in plan


def test_dsir_is_jvm_only_keyed_aggs(spark, specs):
    # DSIR scoring is explode + keyed aggs + joins of vocab-sized stats —
    # no Python eval anywhere, no cartesian.
    plan = plan_of(run(specs, spark, "dsir_importance_weights"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_merge_unions_partial_states(spark, specs):
    # The merged refresh must be the union of two partial-state aggregates
    # re-aggregated on the group key — Union present, and no join (state
    # merge is a keyed agg, not a reconciliation join).
    plan = plan_of(run(specs, spark, "incremental_agg_merge"))
    assert "Union" in plan
    assert not re.search(r"Join", plan)


def test_substring_dedup_two_keyed_shuffles(spark, specs):
    # The span scan must be: shuffle on shingle hash (corpus count
    # window) → shuffle on doc (island windows) → broadcast join of the
    # tiny span aggregate back onto the doc list. No global window, no
    # corpus self-join.
    plan = plan_of(run(specs, spark, "dedup_exact_substrings"))
    assert "SinglePartition" not in plan, "global window detected"
    assert "CartesianProduct" not in plan
    assert re.search(r"hashpartitioning\([^)]*h#", plan), "shingle window not hash-keyed"
    assert re.search(r"hashpartitioning\([^)]*doc", plan), "island window not doc-keyed"
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin", plan), (
        "span aggregate should broadcast back onto the doc list"
    )


def test_division_broadcasts_dims_and_divisor(spark, specs):
    # Relational division via distinct-count vs a 1-row broadcast divisor:
    # dims broadcast, no per-element anti-join chain, no cartesian beyond
    # the 1-row divisor attach, nothing in Python.
    df = run(specs, spark, "division_all_regions")
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = {r.c_mktsegment: (r.n_customers, r.n_covering) for r in df.collect()}
    assert sum(v[0] for v in rows.values()) > 0
    # the division must be non-trivial: some customers fail the cover
    assert any(v[1] < v[0] for v in rows.values()), rows


def test_pareto_deciles_no_global_sort(spark, specs):
    # The whole point: no sort of the customer table. The only Sort in
    # the plan is the 10-row presentation ORDER BY; boundaries arrive as
    # a 1-row broadcast; shares close to 1.
    df = run(specs, spark, "revenue_pareto_deciles")
    plan = plan_of(df)
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    rows = df.collect()
    assert abs(sum(r.rev_share for r in rows) - 1.0) < 1e-6
    assert rows[-1].rev_share > rows[0].rev_share  # concentration increases


def test_nation_share_window_on_group_grain(spark, specs):
    # Dims broadcast; the ratio-to-report window consumes the nation-grain
    # aggregate (Window above HashAggregate), and shares close to 1 per
    # region (exact integer-cents arithmetic under the division).
    df = run(specs, spark, "nation_revenue_share")
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert plan.index("Window") < plan.index("HashAggregate")
    from collections import defaultdict

    per_region = defaultdict(float)
    for r in df.collect():
        per_region[r.r_name] += r.share
    assert all(abs(v - 1.0) < 1e-6 for v in per_region.values()), dict(per_region)


def test_reorder_lag_window_is_customer_keyed(spark, specs):
    # The inter-order lag must run inside a hash partitioning on the
    # customer key — never a global window.
    plan = plan_of(run(specs, spark, "reorder_interval_stats"))
    assert "SinglePartition" not in plan
    assert re.search(r"hashpartitioning\(o_custkey", plan)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_order_backlog_window_runs_on_day_grain(spark, specs):
    # The only window is the cumulative sum, and it must consume the
    # day-grain aggregate (HashAggregate below the Window), never raw
    # orders — the day table is calendar-bounded, so the single-partition
    # running sum is safe at any corpus size. The closing invariant: all
    # intervals end, so the final running sum is exactly zero.
    df = run(specs, spark, "order_backlog_daily")
    plan = plan_of(df)
    assert "Window" in plan and "HashAggregate" in plan
    assert plan.index("Window") < plan.index("HashAggregate"), (
        "window must sit above the day-grain aggregate"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = df.collect()
    assert rows[-1].open_orders == 0
    assert max(r.open_orders for r in rows) > 0


def test_fixed_k_sample_window_is_stratum_keyed(spark, specs):
    # The per-stratum rank must run inside a hash partitioning on the
    # stratum key — a global window would single-partition the corpus.
    plan = plan_of(run(specs, spark, "fixed_k_per_group_sample"))
    assert "SinglePartition" not in plan
    assert re.search(r"hashpartitioning\(lang", plan)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dq_suite_anti_join_and_single_scans(spark, specs):
    # FK completeness is a LeftAnti on the key; no constraint needs a
    # sort or a cartesian, and nothing drops to Python.
    plan = plan_of(run(specs, spark, "dq_constraint_suite"))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_random_projection_is_codegen_constants(spark, specs):
    # The JL matrix must fold into codegen as literals — no Python eval,
    # no broadcast of a stored model, no cartesian; the only joins are the
    # consecutive-id pair join.
    plan = plan_of(run(specs, spark, "random_projection_distortion"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = run(specs, spark, "random_projection_distortion")
    import statistics

    ratios = [r.ratio for r in df.collect()]
    m = statistics.fmean(ratios)
    # distance preservation in expectation: JL with out_dim=16 on this
    # deterministic corpus lands well inside this band
    assert 0.7 < m < 1.4, m


def test_outlier_mad_broadcasts_group_stats(spark, specs):
    # Both quantile tables are group-cardinality; they must come back as
    # broadcasts — the events table itself never hash-shuffles for a join.
    plan = plan_of(run(specs, spark, "outlier_mad_values"))
    assert "BroadcastHashJoin" in plan
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin", plan)
    assert "CartesianProduct" not in plan


def test_join_cardinality_gate_precedes_shuffle(spark, specs):
    # The 10% key gate must run map-side BEFORE the sampled branch's
    # counting shuffle (that ordering IS the operator's value at scale),
    # and the two 1-row summaries meet via broadcast, not a shuffle join.
    plan = plan_of(run(specs, spark, "join_cardinality_estimate"))
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin", plan)
    gate = plan.find("md5")
    assert gate != -1, "portable hash gate missing from the plan"
    # the filter node carrying the gate sits under a HashAggregate, i.e.
    # partial aggregation happens after the gate with no exchange between
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_heavy_hitters_exact_branch_shape(spark, specs):
    # The verification (exact) branch: one keyed agg per key + a 1-row
    # broadcast total. No sort-merge join, no cartesian blowup, no Python.
    plan = plan_of(run(specs, spark, "sketch_heavy_hitters"))
    assert "CartesianProduct" not in plan
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin", plan)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_leakage_safe_split_no_cartesian_no_python(spark, specs):
    # The split gate must stay a narrow map over the CC output: candidate
    # pairs come from the shingle-keyed equi-join, never all-pairs, and
    # nothing drops to Python eval.
    plan = plan_of(run(specs, spark, "leakage_safe_split"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bloom_probe_is_broadcast_only(spark, specs):
    # The decontamination probe must never shuffle the corpus against the
    # benchmark: the sparse (word, bits) bitset attaches via broadcast HASH
    # joins on the probed word id (one long per probe — NOT a dense array
    # column cross-joined onto every corpus row, which copies m_bits/8
    # bytes per shingle: measured 250 s vs ~2 s at sf1's m=2**19), and the
    # exact-verification channel is a BroadcastHashJoin too; the only
    # shuffle is the final doc-keyed agg. No sort-merge, no NLJ anywhere.
    plan = plan_of(run(specs, spark, "bloom_decontaminate"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, (
        "dense-array bitset attach is the scale-killer the sparse form removed"
    )
    assert "BroadcastHashJoin" in plan, "probe + exact channel should broadcast"
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin", plan)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _final_aqe_span(df) -> str:
    """The `== Final Plan ==` section of an EXECUTED DataFrame's formatted
    explain (AQE finalizes exchange reuse at runtime; the static explain
    shows k independent broadcasts that ReuseExchange later collapses)."""
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan, "call an action on df before this"
    return plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]


def test_bloom_probe_single_broadcast_reused(spark):
    # bloom_probe's k probe joins must all hang off ONE BroadcastExchange
    # of the sparse (word, bits) table — the word table can be ~m_bits/32
    # rows (up to ~2M at m=2**26), so re-deriving the broadcast subtree
    # per probe iteration (breaking canonicalization) would build and
    # ship it k times. Contract: final AQE plan has exactly 1
    # BroadcastExchange and k-1 ReusedExchange nodes pointing at it.
    from gfe_db_spark.operators.dedup import bloom_bitset, bloom_probe

    k = 3
    words = spark.createDataFrame([(f"t{i}",) for i in range(50)], ["shingle"])
    bloom = bloom_bitset(words, term_col="shingle", m_bits=4096, k=k)
    docs = spark.createDataFrame(
        [(i, f"t{i % 70}") for i in range(200)], ["doc_id", "shingle"]
    )
    probed = bloom_probe(docs, bloom, term_col="shingle", m_bits=4096, k=k)
    probed.collect()
    span = _final_aqe_span(probed)
    builds = re.findall(r"BroadcastExchange \(\d+\)", span)
    reuses = re.findall(r"ReusedExchange \(\d+\)", span)
    assert len(builds) == 1, f"expected ONE word-table broadcast, got {builds}"
    assert len(reuses) == k - 1, f"expected {k - 1} reuses, got {reuses}"


def test_bloom_decontaminate_broadcast_counts(spark, specs):
    # End-to-end form of the contract above (r11 verdict watch item 2):
    # the registered query's final AQE plan builds exactly TWO broadcasts
    # — the word table (reused by the other k-1 probe joins) and the
    # exact-verification channel — never one per probe join.
    from collections import Counter

    df = run(specs, spark, "bloom_decontaminate")
    df.collect()
    span = _final_aqe_span(df)
    builds = re.findall(r"BroadcastExchange \(\d+\)", span)
    assert len(builds) == 2, f"expected word-table + exact-channel, got {builds}"
    # k-1 = 2 probe joins must point at the SAME build.
    targets = Counter(
        re.findall(r"\(\d+\) ReusedExchange \[Reuses operator id: (\d+)\]", plan_of(df))
    )
    assert targets and max(targets.values()) >= 2, (
        f"no broadcast reused k-1 times — probe loop re-derives it: {targets}"
    )


def test_simhash_hamming_is_block_keyed_join(spark, specs):
    # Candidate generation must be an equi-join on (block_id, block_val) —
    # pigeonhole banding, never an all-pairs product over fingerprints.
    plan = plan_of(run(specs, spark, "dedup_simhash_hamming"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", plan)
    assert re.search(r"block_id", plan), "join not keyed on the pigeonhole block"


def test_boilerplate_joins_small_dim_side(spark, specs):
    # The corpus line table joins the (filtered, tiny) boilerplate dim via
    # broadcast — the big side must never self-join shuffle-to-shuffle.
    plan = plan_of(run(specs, spark, "text_boilerplate_strip"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_shard_by_token_budget_two_phase_prefix_sum(spark, specs):
    # The corpus-sized window must be keyed by the id-range bucket; the
    # only SinglePartition window runs over the tiny bucket-totals table
    # (post-aggregation), and the offsets join back via broadcast.
    plan = plan_of(run(specs, spark, "shard_by_token_budget"))
    assert re.search(r"hashpartitioning\([^)]*__bucket", plan), "corpus window not bucket-keyed"
    assert "BroadcastHashJoin" in plan, "bucket offsets not broadcast back"


def test_embedding_standardize_broadcasts_moments(spark, specs):
    # 64 moment rows join back onto the exploded corpus via broadcast;
    # no UDF anywhere in the plan (pure builtins).
    plan = plan_of(run(specs, spark, "embedding_standardize"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython


def _n_nodes(plan: str, kind: str) -> int:
    # formatted plans list each node twice (tree + detail); count details
    return len(re.findall(rf"\(\d+\) {kind}", plan))


def test_tfidf_evaluates_corpus_once(spark, specs):
    # Document frequency is a term-keyed window COUNT over the (doc, term)
    # rows, not an aggregate joined back: the expensive explode appears
    # ONCE and the corpus is scanned once for the pairs plus once for the
    # 1-row broadcast N (the join-back form exploded the corpus twice —
    # Catalyst reuses identical exchanges, not identical subtrees feeding
    # differently-partitioned consumers).
    plan = plan_of(run(specs, spark, "text_tfidf_top_terms"))
    assert _n_nodes(plan, "Generate") == 1, plan
    assert _n_nodes(plan, "Scan parquet") == 2, plan


def test_set_similarity_prefix_build_single_scan(spark, specs):
    # Same contract for the prefix-filter join: token df and doc size are
    # window counts with sizes carried through the candidate join, so the
    # tokenize explode appears once per JOIN SIDE (prefix a/b + the two
    # verification sides ta/tb) — 4 evaluations, where the agg-join-back
    # form evaluated the explode ~10× (3 inside each prefix side, plus
    # two size-dim re-joins).
    plan = plan_of(run(specs, spark, "set_similarity_join"))
    assert _n_nodes(plan, "Generate") == 4, plan
    assert _n_nodes(plan, "Scan parquet") == 4, plan
    assert "CartesianProduct" not in plan


def test_ngram_jaccard_is_digest_gated(spark, specs, tmp_path_factory):
    # r8 gate, r10 adaptive: on the near-distinct smoke corpus the
    # registered entry takes the UNGATED shingle self-join (no md5 class
    # window — the gate's overhead buys nothing at distinct≈total); on a
    # duplicated corpus the exact-digest gate must appear (self-join over
    # DISTINCT texts, md5-keyed class window). Neither plan may fall back
    # to a cartesian product or carry a trailing global sort.
    # (the ungated form still has a Window — the per-doc size count — so
    # the md5 class key, not Window, is the gate discriminator here)
    plan = plan_of(run(specs, spark, "dedup_ngram_jaccard"))
    assert "md5" not in plan, "distinct corpus should take the ungated plan"
    assert "CartesianProduct" not in plan
    # non-semantic trailing global sort stripped (r7 verdict item 3)
    assert "rangepartitioning" not in plan

    d = str(tmp_path_factory.mktemp("ngramdup"))
    base = [f"text on topic {i} padded with words {i*3%11}" for i in range(20)]
    rows = [(k * 20 + i, t) for k in range(10) for i, t in enumerate(base)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    plan_dup = plan_of(all_queries()["dedup_ngram_jaccard"].fn(spark, d))
    assert "md5" in plan_dup, "exact-digest gate missing from the plan"
    assert "Window" in plan_dup
    assert _n_nodes(plan_dup, "Generate") <= 6, plan_dup
    assert "CartesianProduct" not in plan_dup


def test_domain_cap_uses_window_group_limit(spark, specs):
    # The rank <= K filter must compile to WindowGroupLimit (partial
    # top-K per partition BEFORE the shuffle): each task ships at most K
    # rows per domain, so a billion-doc domain costs K rows, not a
    # stratum sort. No join belongs in this plan.
    plan = plan_of(run(specs, spark, "domain_cap_sample"))
    assert "WindowGroupLimit" in plan
    assert not re.search(r"Join", plan)


# Entries whose output is full-table-scale and whose semantics declare NO
# ordering: the parity compare is order-insensitive on both sides
# (gfe_db_spark/testing.py:_normalize), so a trailing global orderBy is a
# pure Exchange(rangepartitioning)+Sort over the entire output — e.g. the
# r7 sf10 probe clocked embedding_standardize sorting 12.8 M rows inside
# its 137 s wall for zero correctness value. Stripped in r8; this contract
# keeps them stripped. (Entries whose ORDER BY *is* semantics — W3,
# top-k/rank outputs — keep their sorts and are not listed.)
SORT_FREE_ENTRIES = [
    "dedup_exact",
    "dedup_minhash_signatures",
    "dedup_lsh_pairs",
    "dedup_minhash_est",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_simhash_hamming",
    "dedup_clusters",
    "dedup_keep_list",
    "leakage_safe_split",
    "benchmark_contamination",
    "dedup_incremental",
    "set_similarity_join",
    "dedup_exact_substrings",
    "bloom_decontaminate",
    "dedup_embedding_cosine",
    "ann_topk_join",
    "embedding_quantize",
    "embedding_standardize",
    "semdedup_prune",
    "random_projection_distortion",
    "text_token_stats",
    "text_quality_scores",
    "text_lang_id",
    "text_fingerprint",
    "text_redact_pii",
    "text_tfidf_top_terms",
    "text_repetition_stats",
    "text_lm_score",
    "text_ngram_novelty",
    "text_boilerplate_strip",
    "stratified_sample",
    "corpus_sample",
    "pack_sequences",
    "doc_chunk_overlap",
    "dsir_importance_weights",
    "shard_by_token_budget",
    "mixture_resample",
    # r9: the strip extended beyond dedup/similarity/text to the remaining
    # full-table unordered-output families (r8 verdict item 2) —
    # warehouse / multimodal / bpe. Entries whose trailing
    # sort IS semantics (W3 ordering, orderBy+limit top-k like
    # multimodal_features' TakeOrderedAndProject) are still not listed.
    "scd2_point_in_time_join",
    "cdc_apply_changelog",
    "txtable_upsert",
    "multimodal_frame_sample",
    "multimodal_real_decode",
    "multimodal_dedup",
    "multimodal_phash_dedup",
    "bpe_encode_corpus",
]


@pytest.mark.parametrize("name", SORT_FREE_ENTRIES)
def test_no_global_sort_on_unordered_full_table_entries(spark, specs, name):
    plan = plan_of(run(specs, spark, name))
    assert "rangepartitioning" not in plan, (
        f"{name}: global sort (rangepartitioning exchange) on an output "
        "whose semantics declare no ordering — pure shuffle cost at scale"
    )


def test_cluster_head_pairs_broadcast_gate(spark):
    """The SemDeDup head-side broadcast is gated on the estimated head
    payload (k * cap * dim * 8 bytes): within the gate the explicit hint
    spreads the pair expansion over the b-side's full partitioning; past
    it (SemDeDup's k grows with the corpus) the hint must NOT be forced —
    an unconditional F.broadcast would eventually hit Spark's 8 GB
    broadcast hard limit (r7 advice)."""
    from gfe_db_spark.queries.similarity import (
        BROADCAST_HEAD_MAX_BYTES,
        cluster_head_pairs,
    )

    rows = [(i, i % 2, [float(i), 1.0]) for i in range(8)]
    df = spark.createDataFrame(
        rows, "vec_id long, centroid_id int, embedding array<double>"
    )
    hinted = cluster_head_pairs(df, max_cluster_size=4, dim=2, n_clusters=2)
    assert "BroadcastHashJoin" in plan_of(hinted)
    # past the gate: estimated head payload exceeds the bound -> no forced
    # hint (the analyzed logical plan carries no broadcast hint node; the
    # physical strategy is left to AQE/statistics)
    k_huge = BROADCAST_HEAD_MAX_BYTES // (4 * 2 * 8) + 1
    ungated = cluster_head_pairs(df, max_cluster_size=4, dim=2, n_clusters=k_huge)
    analyzed = ungated._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in analyzed.lower()


def test_lsh_gate_choice_is_duplication_adaptive(spark, specs, tmp_path_factory):
    """r10 (r9 verdict item 2): the registered LSH pair entries pick
    their physical plan from the corpus duplication stat. On the
    near-distinct smoke corpus the digest gate must be ABSENT (no
    class-collapse Window — the ungated minhash/banding plan has none),
    reclaiming the gate's fixed overhead; on a mass-duplicated corpus the
    gate must be PRESENT (the md5-class Window), bounding the band
    self-join by distinct texts."""
    plan = plan_of(run(specs, spark, "dedup_lsh_pairs"))
    assert "Window" not in plan, "distinct corpus should take the ungated plan"
    plan_est = plan_of(run(specs, spark, "dedup_minhash_est"))
    assert "Window" not in plan_est

    d = str(tmp_path_factory.mktemp("dupcorpus"))
    base = [f"some text about topic {i} with filler words {i*7%13}" for i in range(20)]
    rows = [(k * 20 + i, t) for k in range(10) for i, t in enumerate(base)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    plan_dup = plan_of(all_queries()["dedup_lsh_pairs"].fn(spark, d))
    assert "Window" in plan_dup, "duplicated corpus should take the gated plan"


def test_semdedup_gate_choice_is_duplication_adaptive(spark, specs, tmp_path_factory):
    """r10: semdedup_prune picks its physical plan from the embeddings
    duplication stat. On the near-distinct smoke corpus the class gate
    must be ABSENT (no __mstar per-class prune attribute — the ungated
    head-pair plan), so bench-scale plans are unchanged; on a
    mass-duplicated embedding corpus the gate must be PRESENT, bounding
    the pairwise cosine scan by DISTINCT embedding classes."""
    plan = plan_of(run(specs, spark, "semdedup_prune"))
    assert "__mstar" not in plan, "distinct corpus should take the ungated plan"

    d = str(tmp_path_factory.mktemp("dupemb"))
    base = [[float(i + 1), float((i * 3) % 7), 1.0, 0.5 * i] for i in range(8)]
    rows = [(k * 8 + i, v, "x") for k in range(10) for i, v in enumerate(base)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    ).write.parquet(f"{d}/embeddings.parquet")
    plan_dup = plan_of(all_queries()["semdedup_prune"].fn(spark, d))
    assert "__mstar" in plan_dup, "duplicated corpus should take the gated plan"


def test_sizing_prejobs_memoized_once_per_table_stat(spark, specs, monkeypatch):
    """r10 (r9 verdict item 6): every adaptive-sizing surface
    (ann plane counts via table_rowcount, Bloom width via the benchmark
    cardinality, the LSH gate chooser via corpus_stats) routes through
    the shared fingerprint-keyed memo — constructing the six
    sizing-dependent entries TWICE each must compute each distinct
    (table, statistic) at most once, and the whole suite needs at most
    three distinct statistics. A regression here (a sizing count running
    per-invocation) is invisible to correctness tests but multiplies
    driver jobs at scale."""
    import gfe_db_spark.sources.tables as T

    calls: list[tuple] = []
    orig = T.memo_sizing

    def counting(sf_dir, name, tag, compute):
        def compute2():
            calls.append((name, tag))
            return compute()

        return orig(sf_dir, name, tag, compute2)

    monkeypatch.setattr(T, "memo_sizing", counting)
    T._SIZING_CACHE.clear()
    entries = [
        "ann_topk_join",
        "ann_lsh_buckets",
        "bloom_decontaminate",
        "corpus_prep_pipeline_v2",
        "dedup_lsh_pairs",
        "dedup_minhash_est",
        "semdedup_prune",
    ]
    for _ in range(2):
        for nm in entries:
            specs[nm].fn(spark, SF_SMOKE)  # construction only
    from collections import Counter

    recomputed = {k: c for k, c in Counter(calls).items() if c > 1}
    assert not recomputed, f"sizing stats computed more than once: {recomputed}"
    # 4 distinct stats: embeddings rowcount (ann planes), documents
    # benchmark-shingle count (Bloom), documents corpus_stats (LSH gate),
    # embeddings corpus_stats (semdedup gate)
    assert len(set(calls)) <= 4, sorted(set(calls))


@pytest.mark.parametrize("mode", ["local", "reliable"])
def test_iterative_graph_loops_checkpoint_edge_lineage(spark, tmp_path, mode):
    """r11 (r10 verdict item 7): the r10 scale fix checkpoints the
    edge list (and per-round state) ONCE before every iterative graph
    loop — without it each iteration's job re-executes the caller's full
    upstream lineage (for the corpus pipelines that lineage is the
    shingle→Jaccard pair computation, re-run per round). Pin the contract
    mechanically: feed edges derived from a parquet scan, and assert the
    RESULT's plan reads from the checkpointed RDD with the parquet scan
    GONE from its lineage. A refactor that drops the checkpoint puts the
    parquet scan back in the final plan and fails here.

    r12: both lineage-cut modes — executor-pinned localCheckpoint (the
    single-node default) AND reliable .checkpoint() selected automatically
    when a checkpoint dir is configured (the cluster-scale mode: survives
    executor loss mid-loop). Same contract must hold either way, and the
    reliable mode must actually write checkpoint files."""
    import os

    from pyspark.sql import functions as F

    from gfe_db_spark.plans.graph_algos import (
        bfs_distances,
        connected_components,
        pagerank,
    )

    epath = str(tmp_path / "edges.parquet")
    spark.createDataFrame(
        [(i, (i + 1) % 7) for i in range(7)] + [(10, 11)], "src long, dst long"
    ).write.parquet(epath)
    edges = spark.read.parquet(epath).filter(F.col("src") >= 0)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
    )

    ckpt_dir = str(tmp_path / "ckpt")
    if mode == "reliable":
        spark.sparkContext.setCheckpointDir(ckpt_dir)
    try:
        results = {
            "connected_components": connected_components(nodes, edges, max_iter=3),
            "pagerank": pagerank(nodes, edges, iters=2),
            "bfs_distances": bfs_distances(edges, source=0, iters=2),
        }
        for name, df in results.items():
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "ExistingRDD" in plan or "LogicalRDD" in plan, (
                f"{name}: no checkpointed RDD in final plan\n{plan}"
            )
            assert "parquet" not in plan.lower(), (
                f"{name}: edge parquet scan leaked past the checkpoint — the "
                f"loop would re-execute caller lineage per iteration\n{plan}"
            )
        if mode == "reliable":
            written = [
                os.path.join(r, f)
                for r, _, fs in os.walk(ckpt_dir)
                for f in fs
            ]
            assert written, "reliable mode configured but no checkpoint files written"
    finally:
        # py4j passes None as null; Scala's Option(null) resets the dir so
        # later tests keep the executor-pinned default.
        spark.sparkContext.setCheckpointDir(None)  # type: ignore[arg-type]
        assert spark.sparkContext.getCheckpointDir() is None


@pytest.mark.parametrize("name", ["sketch_distinct_accuracy"])
def test_rolling_approx_hll_state_never_keyed_by_user(spark, specs, name):
    """Mixed exact+sketch aggregates (r13, found by the sf10 growth
    probe): the naive `agg(count_distinct, approx_count_distinct)`
    plans through planAggregateWithOneDistinct, which keys the PARTIAL
    HLL buffer (~1.6k longs at rsd 0.01, ~13 KB/row) by
    (group, user_id) — one sketch per DISTINCT PAIR through the dedup
    shuffle (measured 227-402 s at sf10, spill-bound; 6-11 s after the
    split). The contract: no aggregate node may compute approx state
    with user_id among its grouping keys — the sketch exists per
    group only, the dedup is its own narrow exchange."""
    plan = plan_of(run(specs, spark, name))
    assert "approx_count_distinct" in plan  # the sketch is still there
    last_keys = ""
    for line in plan.splitlines():
        s = line.strip()
        if s.startswith("Keys ["):
            last_keys = s
        elif s.startswith("Functions [") and "approx_count_distinct" in s:
            assert "user_id" not in last_keys, (
                "HLL partial state is keyed by user_id — the "
                "planAggregateWithOneDistinct regression:\n" + last_keys
            )
