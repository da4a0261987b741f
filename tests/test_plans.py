"""Physical plan quality gates.

Correctness tests prove the WHAT; these prove the HOW survives
refactors: filters reach the parquet scan, small dims broadcast, top-k
never full-sorts, and relational paths stay off the Python-UDF slow
path. A plan regression here is a 100 TB incident that a row-count test
would never catch.
"""

from __future__ import annotations

import json
import pathlib

import pytest

from atiesh_spark.plans import DRIVER_ORDER, QUERIES, ordered_queries
from tests.conftest import SF_SMALL


def plan_of(spark, name: str) -> str:
    df = QUERIES[name].spark(spark, SF_SMALL)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


#: One registry-wide plan scan shared by ALL the aggregate gates —
#: composing all 250 plans costs ~7 minutes (building each query
#: executes its eager checkpoints), so the gates must not each pay it.
#: Each query's QueryExecution yields BOTH the executed (physical)
#: string the aggregate/filter gates read and the optimized (logical)
#: string the shuffle_free_scan classification gate reads — one
#: composition pass, four consumers. Keyed by id(spark) so a fresh
#: session (new conftest scope) re-scans. The consuming gates carry
#: @pytest.mark.planscan and are deselected by default (pytest.ini) so
#: the driver's budget-capped `pytest tests/ -x -q` run stays green;
#: run them explicitly with `-m planscan` (or everything with
#: `-m "planscan or not planscan"`) — recorded every round in
#: OPTIMIZATION_r*.md.
_ALL_PLANS_CACHE: dict = {}


def _logical_node_names(jplan, out: set) -> None:
    """True nodeName()s by JVM tree walk — treeString parsing would
    misread multi-line literals (robots rules, PSL suffixes) as nodes."""
    out.add(jplan.nodeName())
    kids = jplan.children()
    for i in range(kids.size()):
        _logical_node_names(kids.apply(i), out)


def _all_plans(spark) -> dict[str, tuple[str, str, frozenset]]:
    key = id(spark)
    if key not in _ALL_PLANS_CACHE:
        _ALL_PLANS_CACHE.clear()
        plans = {}
        for name, spec in QUERIES.items():
            qe = spec.spark(spark, SF_SMALL)._jdf.queryExecution()
            names: set = set()
            _logical_node_names(qe.optimizedPlan(), names)
            plans[name] = (
                qe.executedPlan().toString(),
                qe.optimizedPlan().treeString(),
                frozenset(names),
            )
        _ALL_PLANS_CACHE[key] = plans
    return _ALL_PLANS_CACHE[key]


def _all_executed_plans(spark) -> dict[str, str]:
    return {name: ex for name, (ex, _, _) in _all_plans(spark).items()}


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "q15_revenue_filter")
    assert "PushedFilters:" in plan
    # shipdate/discount/quantity predicates pushed, not just IsNotNull
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "GreaterThan" in pushed or "LessThan" in pushed


def test_column_pruning(spark):
    plan = plan_of(spark, "q01_null_drop")
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "event_id" in read_schema and "props" in read_schema
    # untouched columns must not be read
    assert "user_id" not in read_schema and "event_type" not in read_schema


def test_small_dims_broadcast(spark):
    plan = plan_of(spark, "q16_revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 2  # nation and region
    plan13 = plan_of(spark, "q13_enrich_broadcast")
    assert "BroadcastHashJoin" in plan13
    assert "SortMergeJoin" not in plan13


def test_topk_avoids_full_sort(spark):
    plan = plan_of(spark, "q19_topk_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_semi_anti_join_strategies(spark):
    assert "LeftSemi" in plan_of(spark, "q17_semi_join")
    assert "LeftAnti" in plan_of(spark, "q18_anti_join")


@pytest.mark.parametrize(
    "name",
    [
        "q14_pricing_summary",
        "q16_revenue_by_nation",
        "q19_topk_orders",
        "q22_window_rank",
        "q24_exact_dedup",
        "q26_minhash_lsh",
        "q29_embedding_topk",
        "q32_text_stats",
        "q51_jaccard_verified_candidates",
        "q52_embedding_near_dup_lsh",
        "q54_pii_redaction",
        "q55_knn_join",
        "q56_mixture_take",
        "q63_decontaminate",
        "q64_stratified_sample",
        "q65_dedup_survivors",
        "q67_asof_join_bucketed",
        "q68_line_dedup",
        "q69_top_ngrams",
        "q70_chunk_documents",
        "q71_temperature_weights",
        "q72_retention_cohorts",
        "q74_profile_table",
        "q75_snapshot_diff",
        "q76_rolling_value",
        "q77_winsorize",
        "q78_histogram",
        "q79_skew_report",
        "q80_inverted_index",
    ],
)
def test_no_python_udf_in_hot_paths(spark, name):
    """Every headline operator stays JVM-side (no row/Arrow Python eval)."""
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_partial_aggregation_before_shuffle(spark):
    """Hash aggs must map-side combine (partial_ functions) so the
    shuffle carries group states, not raw rows."""
    plan = plan_of(spark, "q14_pricing_summary")
    assert "partial_sum" in plan or "Partial" in plan


def test_no_cartesian_in_bucketed_pair_joins(spark):
    """The LSH/bucket family must never degrade to a cross product —
    that's the whole point of bucketing."""
    for name in (
        "q26_minhash_lsh",
        "q28_simhash_pairs",
        "q41_dedup_clusters",
        "q51_jaccard_verified_candidates",
        "q52_embedding_near_dup_lsh",
        "q53_word_jaccard_pairs",
        "q55_knn_join",
        "q63_decontaminate",
        "q65_dedup_survivors",
        # q66 excluded: its three single-row aggregates combine via an
        # intentional 1x1 cross join
        "q67_asof_join_bucketed",
    ):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_tfidf_dfreq_broadcast(spark):
    plan = plan_of(spark, "q42_tfidf_topk")
    assert "BroadcastHashJoin" in plan


def test_driver_order_covers_registry():
    """DRIVER_ORDER and QUERIES must stay in exact 1:1 sync (the sync is
    also enforced at runtime by ordered_queries, but failing here is a
    clearer signal than the driver's verify blowing up)."""
    assert sorted(DRIVER_ORDER) == sorted(QUERIES)
    assert list(ordered_queries()) == DRIVER_ORDER


def test_unverified_queries_inside_driver_window():
    """The correctness driver grades only the first 50 entries of
    ``queries()``. Round 2 learned this the hard way: 12 queries
    registered past position 50 got no correctness row at all. Guard:
    every query that has never had a driver-green CORRECTNESS row must
    sit inside the window so the NEXT run grades it.

    The ledger is the union of all CORRECTNESS_r*.json rows that passed
    all three checks. A brand-new query added without updating
    DRIVER_ORDER fails ordered_queries() sync first; one appended past
    the boundary fails here.
    """
    from atiesh_spark.plans.registry import DEFERRED_FIRST_GRADE

    window = 50
    repo = pathlib.Path(__file__).resolve().parent.parent
    verified: set[str] = set()
    for path in sorted(repo.glob("CORRECTNESS_r*.json")):
        rows = json.loads(path.read_text())
        for name, row in rows.items():
            if row.get("rows_match") and row.get("schema_match") and row.get("hash_match"):
                verified.add(name)
    unverified = [n for n in DRIVER_ORDER if n not in verified]
    stragglers = [
        n for n in unverified
        if DRIVER_ORDER.index(n) >= window and n not in DEFERRED_FIRST_GRADE
    ]
    assert not stragglers, (
        f"queries never driver-verified but registered past position {window} "
        f"(they will get NO correctness row): {stragglers} — either move "
        "them into the window or add a documented DEFERRED_FIRST_GRADE entry"
    )
    # Deferrals are one-round loans forced by CAPACITY, never a
    # parking choice: the cap is exactly the number of never-graded
    # queries that physically cannot fit the window (floor 2, the
    # old fixed allowance). Round 6 session 2 registered 52 new
    # queries against the 50-slot window, so 5 overflow structurally;
    # a deferral count above the overflow would mean someone parked a
    # query that COULD have been graded — still an error.
    structural_overflow = max(0, len(unverified) - window)
    assert len(DEFERRED_FIRST_GRADE) <= max(2, structural_overflow), (
        f"{len(DEFERRED_FIRST_GRADE)} deferred first grades but only "
        f"{structural_overflow} never-graded queries overflow the window"
    )
    for n in DEFERRED_FIRST_GRADE:
        assert n in DRIVER_ORDER, n


def test_ledger_matches_correctness_files():
    """plans/ledger.py is GENERATED from the CORRECTNESS_r*.json files
    by scripts/update_ledger.py; the derived DRIVER_ORDER rotation is
    only as good as the ledger is fresh. Recompute from the files and
    require an exact match, so a new round's file without a ledger
    regen fails loudly."""
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo / "scripts"))
    try:
        from update_ledger import compute_green_rounds
    finally:
        sys.path.pop(0)
    from atiesh_spark.plans import ledger

    green, current = compute_green_rounds(str(repo))
    assert ledger.GREEN_ROUNDS == green, (
        "ledger.py is stale — run `python scripts/update_ledger.py`"
    )
    assert ledger.CURRENT_ROUND == current


def test_rotation_bounds_staleness():
    """Least-recently-graded rotation invariant: any query pushed past
    this round's 50-slot window must have been driver-graded recently
    enough that waiting for the NEXT round keeps its staleness within
    MAX_STALENESS_ROUNDS. (Round 3's floor queries sat two codebase
    generations without a re-grade; this pins the rotation policy.)"""
    from atiesh_spark.plans.ledger import CURRENT_ROUND, GREEN_ROUNDS
    from atiesh_spark.plans.registry import (
        DEFERRED_FIRST_GRADE,
        MAX_STALENESS_ROUNDS,
    )

    window = 50
    too_stale = []
    for name in DRIVER_ORDER[window:]:
        rounds = GREEN_ROUNDS.get(name)
        if not rounds:
            assert name in DEFERRED_FIRST_GRADE, (
                f"{name} never graded AND outside the window"
            )
            continue
        # if skipped this round, it is next gradable in CURRENT_ROUND + 1
        if (CURRENT_ROUND + 1) - rounds[-1] > MAX_STALENESS_ROUNDS:
            too_stale.append((name, rounds[-1]))
    assert not too_stale, (
        f"queries outside the window whose staleness would exceed "
        f"{MAX_STALENESS_ROUNDS} rounds: {too_stale}"
    )
    # the derived order really is least-recently-graded-first
    lasts = [GREEN_ROUNDS.get(n, [0])[-1] for n in DRIVER_ORDER]
    assert lasts == sorted(lasts)


def test_single_shuffle_for_grouped_agg(spark):
    df = QUERIES["q14_pricing_summary"].spark(spark, SF_SMALL)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    # one exchange for the groupBy; AQE may add none beyond it
    assert plan.count("Exchange hashpartitioning") == 1


def test_profile_table_counts_nulls_and_renders_floats(spark):
    from atiesh_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, 2.25), (3, "b", None), (4, "a", 10000000.5)],
        "k long, s string, v double",
    )
    out = {r["col_name"]: r for r in profile_table(df).collect()}
    assert out["k"]["n_rows"] == 4 and out["k"]["n_nulls"] == 0
    assert out["k"]["n_distinct"] == 4
    assert out["k"]["min_value"] == "1" and out["k"]["max_value"] == "4"
    assert out["s"]["n_nulls"] == 1 and out["s"]["n_distinct"] == 2
    # floats render fixed-point, never scientific (1e7 would flip in Java)
    assert out["v"]["max_value"] == "10000000.5000"
    assert out["v"]["min_value"] == "1.5000"


def test_profile_table_rejects_complex_columns(spark):
    import pytest as _pytest

    from atiesh_spark.operators.profile import profile_table

    df = spark.createDataFrame([(1, [1, 2])], "k long, a array<int>")
    with _pytest.raises(ValueError):
        profile_table(df, ["a"])
    with _pytest.raises(KeyError):
        profile_table(df, ["missing"])


def test_winsorize_clips_globally_and_keeps_nulls(spark):
    from atiesh_spark.operators.profile import winsorize

    import pytest as _pytest

    vals = [(i, float(i)) for i in range(1, 11)] + [(99, None)]
    df = spark.createDataFrame(vals, "k long, v double")
    out = {r["k"]: r for r in winsorize(df, "v", p_low=0.1, p_high=0.9).collect()}
    # exact interpolated percentiles over 1..10: p10 = 1.9, p90 = 9.1
    assert out[1]["clipped"] == 1.9
    assert out[10]["clipped"] == 9.1
    assert out[5]["clipped"] == 5.0
    assert out[99]["clipped"] is None  # clipping is not imputation

    with _pytest.raises(ValueError):
        winsorize(df, "v", p_low=0.9, p_high=0.1)


def test_winsorize_grouped_uses_per_group_bounds(spark):
    from atiesh_spark.operators.profile import winsorize

    rows = [("a", float(i)) for i in range(1, 6)] + [("b", float(100 * i)) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = winsorize(df, "v", group_col="g", p_low=0.0, p_high=0.5).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r["clipped"])
    # p50 of 1..5 is 3; of 100..500 is 300 — groups clip independently
    assert max(by_g["a"]) == 3.0 and max(by_g["b"]) == 300.0


def test_snapshot_diff_plan_single_outer_join(spark):
    """q75 is ONE full-outer join on the key — no second pass, no
    nested-loop fallback."""
    df = QUERIES["q75_snapshot_diff"].spark(spark, SF_SMALL)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "FullOuter" in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rolling_value_single_shuffle_shared_window(spark):
    """q76's three rolling stats share one Window operator over one
    key-partition shuffle."""
    df = QUERIES["q76_rolling_value"].spark(spark, SF_SMALL)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1


def test_winsorize_bounds_broadcast_back(spark):
    """q77's per-group percentile bounds are a broadcast dim — the data
    is never shuffled a second time for the clip."""
    plan = plan_of(spark, "q77_winsorize")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_profile_table_single_scan(spark):
    """q74 profiles every column in ONE pass over the table."""
    df = QUERIES["q74_profile_table"].spark(spark, SF_SMALL)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert plan.count("Scan parquet") == 1


def test_histogram_clamps_and_handles_degenerate_domain(spark):
    from atiesh_spark.operators.profile import histogram

    import pytest as _pytest

    df = spark.createDataFrame(
        [(0.0,), (4.9,), (5.0,), (10.0,), (None,), (-3.0,), (99.0,)], "v double"
    )
    # explicit bounds: out-of-range values clamp into edge bins
    out = {r["bin"]: r for r in histogram(df, "v", bins=2, lo=0.0, hi=10.0).collect()}
    assert out[0]["n"] == 3  # 0.0, 4.9, -3.0(clamped)
    assert out[1]["n"] == 3  # 5.0, 10.0, 99.0(clamped); NULL dropped
    assert out[0]["bin_lo"] == 0.0 and out[0]["bin_hi"] == 5.0

    const = spark.createDataFrame([(7.0,), (7.0,)], "v double")
    rows = histogram(const, "v", bins=4).collect()  # lo == hi
    assert len(rows) == 1 and rows[0]["bin"] == 0 and rows[0]["n"] == 2

    with _pytest.raises(ValueError):
        histogram(df, "v", bins=0)


def test_key_skew_report_ranks_and_sizes_salt(spark):
    from atiesh_spark.operators.skew import key_skew_report

    import pytest as _pytest

    rows = [("hot",)] * 30 + [("warm",)] * 6 + [("cold",)] * 3 + [("cool",)] * 1
    df = spark.createDataFrame(rows, "k string")
    out = key_skew_report(df, ["k"], top_k=3, target_rows_per_task=10).collect()
    assert [r["k"] for r in out] == ["hot", "warm", "cold"]  # cool cut by top_k
    top = out[0]
    assert top["n_rows"] == 30 and top["rank"] == 1
    assert top["suggested_salt"] == 3  # ceil(30/10)
    assert top["frac_of_total"] == 0.75  # 30/40
    assert top["skew_ratio"] == 3.0  # 30 / mean(10)
    assert out[2]["suggested_salt"] == 1  # never below 1

    with _pytest.raises(ValueError):
        key_skew_report(df, [], top_k=3)


def test_skew_report_topk_avoids_global_sort(spark):
    """q79's top-k must compile to TakeOrderedAndProject; the rank
    window runs over <= top_k rows only."""
    plan = plan_of(spark, "q79_skew_report")
    assert "TakeOrderedAndProject" in plan


def test_char_entropy_zero_shuffles(spark):
    """q81 computes per-document entropy entirely row-local (nested
    higher-order functions) — the plan must contain NO exchange at all."""
    df = QUERIES["q81_char_entropy"].spark(spark, SF_SMALL)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

def test_salted_skew_agg_two_phase_plan(spark):
    """q83 must show the two-phase shape: one exchange on (key, salt),
    one on key alone — and nothing else."""
    plan = plan_of(spark, "q83_salted_skew_agg")
    assert plan.count("Arguments: hashpartitioning") == 2
    assert "__salt" in plan


def test_salted_broadcast_join_no_fact_shuffle(spark):
    """q84's fact side must reach the join without an exchange: the dim
    is replicated+broadcast; only the final groupBy shuffles."""
    plan = plan_of(spark, "q84_salted_broadcast_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exactly one exchange: the post-join groupBy on p_brand
    assert plan.count("Arguments: hashpartitioning") == 1


def test_scd2_single_exchange(spark):
    # the ONE-shuffle claim: both window passes share the keys partitioning
    plan = plan_of(spark, "q87_scd2_intervals")
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_zorder_layout_no_global_sort(spark):
    plan = plan_of(spark, "q88_zorder_layout")
    assert "Arguments: rangepartitioning" not in plan
    # key + bucket are pure projection math over the scan; the only
    # exchange is the 16-group aggregation
    assert plan.count("Arguments: hashpartitioning") == 1


def test_weighted_sample_take_ordered(spark):
    plan = plan_of(spark, "q89_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Arguments: rangepartitioning" not in plan


def test_moments_broadcast_fact_never_shuffles(spark):
    # q91/q92: per-group stats join back via broadcast; the fact rows
    # reach the join without a hashpartitioning exchange on the group key
    for name in ("q91_group_standardize", "q92_mad_outliers"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_lm_and_dsir_model_tables_broadcast(spark):
    # the model/ratio tables join back onto the shingle/token stream as
    # broadcasts; only the final doc-sized left join may legitimately
    # pick a shuffle join at other scales
    for name in ("q94_lm_quality", "q95_dsir_weights"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        # formatted explain prints each node twice (tree + detail), so
        # <= 2 string hits == at most ONE SortMergeJoin node
        assert plan.count("SortMergeJoin") <= 2, name


def test_triangle_stats_degree_broadcast_no_cartesian(spark):
    plan = plan_of(spark, "q101_triangle_stats")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # degree table joins back as a broadcast; wedge/closure joins are keyed
    assert "BroadcastHashJoin" in plan


def test_threshold_sweep_single_corpus_shuffle(spark):
    """q135's corpus-sized work is ONE groupBy(score) exchange; every
    cumulative/AUC window runs on the distinct-threshold frame (single-
    partition exchanges are over post-aggregation rows, not corpus)."""
    df = QUERIES["q135_threshold_sweep"].spark(spark, SF_SMALL)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_pq_encode_is_zero_shuffle(spark):
    """PQ encoding must ride the scan: codebooks are plan literals and
    the per-subspace argmin is row-local — no exchange anywhere."""
    from atiesh_spark.operators.similarity import pq_encode
    from atiesh_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    cbs = [
        [[float(i + j) for j in range(32)] for i in range(4)]
        for _ in range(2)
    ]
    df = pq_encode(emb, cbs)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan


def test_round6_row_local_queries_zero_shuffle(spark):
    """q144 (URL canonicalization) and q146 (markup strip) are pure
    row-local codegen — no exchange, no Python evaluation anywhere."""
    for name in ("q144_url_canonicalize", "q146_markup_strip"):
        df = QUERIES[name].spark(spark, SF_SMALL)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_heavy_hitters_merge_shuffle_is_summary_sized(spark):
    """q145's only exchange is the partitions x k summary merge: one
    hash exchange, and the item stream reaches mapInPandas WITHOUT
    shuffling first (the sketch consumes scan-partitioned rows)."""
    from atiesh_spark.operators.frequent import heavy_hitters
    from atiesh_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    words = (
        load_table(spark, SF_SMALL, "documents")
        .select(F.explode(F.split("text", r"\s+")).alias("word"))
        .filter(F.col("word") != "")
    )
    df = heavy_hitters(words, "word", k=64)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert plan.count("Exchange hashpartitioning") == 1
    before_udf = plan.split("MapInPandas")[-1]  # plan prints leaves last
    assert "Exchange" not in before_udf, (
        "the corpus item stream must not shuffle before the sketch"
    )


def test_round6b_new_operators_stay_jvm_side(spark):
    """The session-2 families (winnowing, script profile, CCNet split,
    novelty, filter reasons, hashed features) are codegen end-to-end —
    no row/Arrow Python evaluation anywhere in their plans."""
    for name in (
        "q163_winnow_fingerprints",
        "q164_winnow_overlap_pairs",
        "q165_conversation_validate",
        "q170_ccnet_buckets",
        "q172_ngram_novelty",
        "q173_script_profile",
        "q176_filter_reasons",
    ):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_script_profile_zero_shuffle(spark):
    """q173's per-class counting is pure row-local codegen."""
    from atiesh_spark.operators.textstats import script_profile

    df = spark.createDataFrame([(1, "hello мир")], "doc_id long, text string")
    out = script_profile(df, "doc_id", "text")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert "Exchange" not in plan


def test_winnow_single_window_exchange(spark):
    """winnow_fingerprints shuffles exactly twice: the narrow fanout
    repartition and the per-doc window — the distinct dedupes on the
    already-selected ~2/(w+1) fraction without a third full exchange
    of raw grams."""
    from atiesh_spark.operators.textstats import winnow_fingerprints
    from atiesh_spark.sources.tables import load_table

    fp = winnow_fingerprints(
        load_table(spark, SF_SMALL, "documents"), "doc_id", "text"
    )
    plan = fp._sc._jvm.PythonSQLUtils.explainString(
        fp._jdf.queryExecution(), "simple"
    )
    assert plan.count("Exchange") <= 3  # fanout + window + distinct agg
    assert "BatchEvalPython" not in plan


def test_hashed_features_single_aggregate_no_pivot(spark):
    """hashed_features is explode + ONE hash aggregate: conditional
    sums, no pivot node, no second shuffle of the token stream."""
    from atiesh_spark.operators.classify import hashed_features
    from atiesh_spark.sources.tables import load_table

    hf = hashed_features(
        load_table(spark, SF_SMALL, "documents"), "doc_id", "text", 8
    )
    plan = hf._sc._jvm.PythonSQLUtils.explainString(
        hf._jdf.queryExecution(), "simple"
    )
    assert plan.count("Exchange") <= 2  # fanout + the (doc) aggregate
    assert "partial_sum" in plan or "Partial" in plan


def test_oracle_canon_no_mean_of_rounded():
    """Canon rule 2 (registry.py docstring, the q188 lesson): no oracle
    may AVG an expression already ROUND()ed per-row — the mean of 4dp
    values can land exactly on a .00005 rounding boundary where Spark
    and DuckDB round apart. Checks every registered oracle statically,
    and proves the detector actually fires on a violating string."""
    from atiesh_spark.plans.registry import QUERIES, mean_of_rounded_violations

    bad = {
        name: hits
        for name, spec in QUERIES.items()
        if spec.oracle and (hits := mean_of_rounded_violations(spec.oracle))
    }
    assert not bad, f"oracles AVG over ROUND()ed values: {bad}"

    # The detector must fire on the exact shape q188's first attempt had
    # (mean of per-row 4dp scores), including nested/aliased forms...
    assert mean_of_rounded_violations(
        "SELECT src, ROUND(AVG(ROUND(score, 4)), 4) AS mean_q FROM t GROUP BY src"
    )
    assert mean_of_rounded_violations(
        "SELECT avg( 1.0 * round(x, 2) / n ) FROM t"
    )
    # ...and stay quiet on the sanctioned shapes: SUM of rounded values,
    # and rounding applied OUTSIDE the AVG.
    assert not mean_of_rounded_violations(
        "SELECT CAST(SUM(ROUND(score, 4)) AS BIGINT), ROUND(AVG(score), 4) FROM t"
    )


def test_capped_lsh_plan_shapes(spark):
    """Round-11 gate: the hot-bucket cap must stay a WINDOW on the
    partitioning the pair join uses, not an extra aggregate + joins
    (the first implementation cost ~1 s/query at sf0.1 before the
    rewrite — this pins the cheap shape). Post-checkpoint, q26's
    visible plan is the bucket self-join + distinct (<= 2 hash
    exchanges); the incremental twin allows its three join sides +
    distinct (<= 7). No cartesian product or nested-loop join may
    appear in either, cap on or off."""
    for name, max_ex in (
        ("q26_minhash_lsh", 2),
        ("q58_incremental_dedup", 7),
    ):
        df = QUERIES[name].spark(spark, SF_SMALL)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        assert plan.count("Exchange hashpartitioning") <= max_ex, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_crawl_pipeline_plan_shape(spark):
    """q235 composes seven operators in ONE plan: the only hash
    exchanges allowed are the WARC pack groupBy (test-harness-only),
    the KB-sized robots-rule dimension aggregate, and the final
    (host, reason) report aggregate; the robots dimension must reach
    the URL frame via a broadcast join (the URL fact never
    shuffles), and no cartesian product may appear anywhere."""
    df = QUERIES["q235_crawl_pipeline"].spark(spark, SF_SMALL)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_avi_frame_stats_plan_is_zero_exchange(spark):
    """q234 is two chained mapInPandas stages (synth, walk+decode)
    over pruned columns: no hash exchange may appear — frame bytes
    must never shuffle or visit the driver."""
    df = QUERIES["q234_avi_frame_stats"].spark(spark, SF_SMALL)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "Exchange hashpartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_round10_ingestion_plan_shapes(spark):
    """Round-10 ingestion cells keep the container-stack shuffle
    story: the per-document robots parsing is chained mapInPandas over
    pruned columns with ZERO hash exchanges; the archive round trips
    allow exactly ONE (the pack groupBy, test-harness-only — production
    reads binaryFile archives); no plan may contain a cartesian
    product."""
    zero_exchange = ["q250_robots_parse"]
    one_exchange = ["q246_tarxz_roundtrip", "q247_warcgz_roundtrip",
                    "q248_zip64_roundtrip"]
    for name, cap in [(n, 0) for n in zero_exchange] + [
            (n, 1) for n in one_exchange]:
        df = QUERIES[name].spark(spark, SF_SMALL)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        n_ex = plan.count("Exchange hashpartitioning")
        assert n_ex <= cap, (name, n_ex, cap)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_budgeted_take_family_no_per_group_window(spark):
    """The cumulative budget take must stay range-parallel: a
    ``Window PARTITION BY lang`` is one task per language, which
    serializes the whole corpus onto a handful of cores at 1000
    executors. mixture_take's two-pass prefix sum has no Window at
    all — gate every composite that embeds it."""
    for name in (
        "q49_token_budget_take",
        "q56_mixture_take",
        "q82_curation_pipeline",
        "q117_pretrain_pipeline",
    ):
        plan = plan_of(spark, name)
        assert "Window" not in plan, name


def test_ccnet_buckets_no_per_language_window(spark):
    """q170's equal-count tiering must stay boundary-based: an
    ``ntile() OVER (PARTITION BY lang)`` is one task per language —
    the dominant language of a real crawl on a single core."""
    plan = plan_of(spark, "q170_ccnet_buckets")
    assert "Window" not in plan


def test_minhash_pipeline_hash_aggregates_only(spark):
    """r13 plan gate: the MinHash signature pipeline must plan with
    HashAggregate only — no SortAggregate and no Sort below the per-id
    aggregation. Two past defects are pinned here: (a) the global
    DISTINCT over exploded (id, shingle) rows (now a row-local
    array_distinct) scattered each doc's shingles across every task, so
    partial agg state held all ids per task and spilled ~8 GB at 10x
    data; (b) min over md5 hex STRINGS has a variable-width agg buffer,
    which forces SortAggregate (Spark hash aggregation requires
    fixed-width buffers) and sorted+spilled the joined shingle stream.
    The md5_long (60-bit prefix) family keeps the buffer fixed-width.
    Measured: q26 at 10x sf0.1 went 83s -> 6.4s (26.3x -> 1.71x)."""
    from atiesh_spark.operators.dedup import (
        char_shingles, minhash_band_signatures, word_shingles,
    )
    from atiesh_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    bands = minhash_band_signatures(docs, "doc_id", "text", k=3)
    plan = bands._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "ObjectHashAggregate" not in plan
    # the shingle builders themselves must be shuffle-free row-local
    # plans (array_distinct, not a DISTINCT exchange)
    for sh in (
        char_shingles(docs, "doc_id", "text", 3, distinct=True),
        word_shingles(docs, "doc_id", "text", 2, distinct=True),
    ):
        p = sh._jdf.queryExecution().executedPlan().toString()
        assert "array_distinct" in p
        assert "hashpartitioning" not in p  # only the round-robin fanout
        assert "SortAggregate" not in p and "HashAggregate" not in p


def test_fanout_widens_but_never_coalesces(spark):
    """r13: _fanout must be widening-only (the widen_for_python_stage
    discipline). At warehouse scale inputs arrive in thousands of
    splits; an unconditional repartition(cores) would COALESCE them —
    a full shuffle of the (id, text) corpus that buys nothing."""
    from atiesh_spark.operators.dedup import _fanout

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    assert _fanout(narrow).rdd.getNumPartitions() == target

    wide = spark.range(1000).repartition(target * 4)
    out = _fanout(wide)
    # untouched: same partition count, and no new exchange in the plan
    assert out.rdd.getNumPartitions() == target * 4
    assert out is wide


def test_fanout_never_finalizes_aqe_on_shuffled_inputs(spark):
    """r14 (ADVICE): under AQE, df.rdd finalizes the adaptive plan by
    EXECUTING upstream shuffle/broadcast stages as real jobs, and that
    work is then recomputed by the later action (exchange reuse does
    not span QueryExecutions). _fanout therefore gates the partition
    probe on the optimized plan being scan-shaped; anything downstream
    of a join/aggregate/repartition must pass through IDENTICALLY —
    identity return proves .rdd was never consulted."""
    from atiesh_spark.operators.dedup import _fanout, _shuffle_free_scan

    docs = spark.range(100).selectExpr("id", "cast(id as string) AS text")

    # scan-shaped inputs: probe allowed
    assert _shuffle_free_scan(docs)
    assert _shuffle_free_scan(docs.filter("id > 3").select("text"))
    assert _shuffle_free_scan(docs.coalesce(1))          # narrow coalesce
    assert _shuffle_free_scan(docs.localCheckpoint())    # LogicalRDD

    # shuffle-bearing inputs: no probe, identity passthrough
    agged = docs.groupBy("text").count()
    joined = docs.join(docs.selectExpr("id", "text AS t2"), "id")
    for shuffled in (agged, joined, docs.repartition(2), agged.coalesce(1)):
        assert not _shuffle_free_scan(shuffled)
        assert _fanout(shuffled) is shuffled

    # widen_for_python_stage shares the gate (session.py is the single
    # authority): still widens narrow scans, identity on shuffled frames
    from atiesh_spark.session import widen_for_python_stage

    target = spark.sparkContext.defaultParallelism
    narrow_scan = docs.coalesce(1)
    assert (
        widen_for_python_stage(narrow_scan).rdd.getNumPartitions() == target
    )
    assert widen_for_python_stage(agged) is agged
    assert widen_for_python_stage(joined) is joined


def test_widen_treats_python_map_chains_as_narrow(spark):
    """r14 regression fix: MapInPandas / MapInArrow are NARROW (each
    task feeds its own partition through the Python worker — no
    exchange), so a codec stage chained after a synth/parse map stage
    must still be widened; the first r14 gate cut silently stopped
    doing so and q200's GIF decode ran one-task (3.2 -> 4.1 s solo).
    FlatMapGroupsInPandas (groupBy().applyInPandas) realizes as an
    Exchange and must stay excluded — identity passthrough."""
    from atiesh_spark.session import shuffle_free_scan, widen_for_python_stage

    docs = spark.range(64).selectExpr("id", "cast(id as string) AS text")
    narrow = docs.coalesce(1)

    def ident(batches):
        yield from batches

    mip = narrow.mapInPandas(ident, "id long, text string")
    mia = narrow.mapInArrow(lambda it: it, "id long, text string")
    chained = mip.mapInPandas(ident, "id long, text string").select("id")
    for df in (mip, mia, chained):
        assert shuffle_free_scan(df)
        assert (
            widen_for_python_stage(df).rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )

    grouped = docs.groupBy("text").applyInPandas(
        lambda k, p: p, "id long, text string"
    )
    assert not shuffle_free_scan(grouped)
    assert widen_for_python_stage(grouped) is grouped


@pytest.mark.planscan
def test_no_new_object_hash_aggregates_anywhere(spark):
    """r14 companion to the SortAggregate gate (r13 verdict item 8):
    ObjectHashAggregate serves collect_list/collect_set/percentile
    buffers, which hold UNBOUNDED per-group state and spill to a
    sort-based fallback under memory pressure — the same cliff class,
    one config flip away. The r12/r13 collect-site boundedness sweep
    was manual; this freezes it: exactly these queries may plan an
    ObjectHashAggregate (each one's collect is bounded by construction
    — k-row digests, per-doc spans, per-session sequences, sketch
    merges — triaged in SCALE.md). Any OTHER query planning one is a
    new unbounded-state candidate: triage its group cardinality and
    either fix the plan or extend the allowlist WITH a written
    rationale."""
    allowed = {
        "q09_batch_assembly", "q44_percentiles", "q45_approx_sketches",
        # q51/q53 left this list in r14: their collect_set reassembly
        # was replaced by row-local char_gram_set / word_gram_sets
        "q68_line_dedup", "q77_winsorize", "q80_inverted_index",
        "q92_mad_outliers", "q97_interarrival_stats",
        "q100_span_dedup_report", "q111_nb_classify",
        "q113_centroid_outliers", "q120_hll_rollup",
        "q131_session_sequences", "q133_containment_pairs",
        "q150_dataset_card", "q170_ccnet_buckets",
        "q184_winnow_span_removal", "q214_robots_admission",
        "q221_span_corruption", "q231_phrase_search",
        "q235_crawl_pipeline",
    }
    offenders = {}
    for name, plan in _all_executed_plans(spark).items():
        if "ObjectHashAggregate" in plan and name not in allowed:
            offenders[name] = plan.count("ObjectHashAggregate")
    assert not offenders, offenders


@pytest.mark.planscan
def test_no_filter_reevaluation_bombs_anywhere(spark):
    """r14 gate for the q164 winnow defect class: explode over an
    ATTRIBUTE makes InferFiltersFromGenerate add size(attr) > 0, and
    predicate pushdown (which is cost-blind) substitutes the attr's
    defining expression into that filter below every Project — in the
    worst case NESTED (an alias referencing another expensive alias
    several times inlines a full copy per reference), which turned a
    2 s winnow corpus pass into >15 min of interpreted per-gram
    re-evaluation. Two frozen facts:

    (a) exactly these queries may plan a Filter that re-evaluates an
        expensive array builder (each is the query's OWN gate over a
        derived column — one bounded extra evaluation per row, triaged
        in OPTIMIZATION_r14.md); any other query doing so is a new
        instance of the class (fix: explode the expression instead of
        the alias, or localCheckpoint the array before the explode);
    (b) NO query may plan a Filter whose condition holds more than 6
        lambdafunctions — the nested-substitution signature (the q164
        bomb line carried 10+; the largest accepted own-gate carries 5).
    """
    import re

    pat = re.compile(
        r"(?:size|isnotnull)\((?:filter|split|transform|aggregate|"
        r"zip_with|sequence|array_distinct|flatten)"
    )
    allowed = {
        "q82_curation_pipeline", "q115_blocklist_hits",
        "q215_corpus_bleu", "q216_corpus_chrf", "q217_corpus_rouge2",
        "q224_luhn_card_audit",
    }
    rebuilders, bombs = {}, {}
    for name, plan in _all_executed_plans(spark).items():
        for line in plan.splitlines():
            ls = line.strip(" :+-")
            if not ls.startswith("Filter"):
                continue
            if pat.search(ls) and name not in allowed:
                rebuilders[name] = rebuilders.get(name, 0) + 1
            if ls.count("lambdafunction") > 6:
                bombs[name] = ls.count("lambdafunction")
    assert not rebuilders, rebuilders
    assert not bombs, bombs


@pytest.mark.planscan
def test_no_new_sort_aggregates_anywhere(spark):
    """r13 registry-wide gate for the q26 defect class: min/max over
    var-width values (strings, structs) silently falls back to
    SortAggregate, which sorts — and at scale spills — the whole input
    stream. Exactly five queries are allowed to plan one (each triaged
    and accepted in SCALE.md Round 13: q74 profiles string min/max
    inside the count-distinct rewrite; q67/q118/q165 argmax-row via
    max_by/max(struct) rides a stream already shuffled on the same
    keys; q111 per-doc argmax over a class-bounded frame). Any OTHER
    query planning a SortAggregate is a regression of the class that
    made MinHash 26x super-linear at 10x data."""
    allowed = {
        "q74_profile_table", "q67_asof_join_bucketed",
        "q118_resample_ffill", "q165_conversation_validate",
        "q111_nb_classify",
    }
    offenders = {}
    for name, plan in _all_executed_plans(spark).items():
        if "SortAggregate" in plan and name not in allowed:
            offenders[name] = plan.count("SortAggregate")
    assert not offenders, offenders


@pytest.mark.planscan
def test_shuffle_free_scan_classifies_every_registry_node(spark):
    """r14 verdict item 8: ``session.shuffle_free_scan`` classifies
    optimized-plan nodes by treeString prefix and fails SAFE on an
    unknown node (returns False -> the widen gate becomes identity and
    a narrow Python stage silently runs one-task — the q200 regression
    class). This gate enumerates every node name the registry's 250
    optimized plans actually emit and asserts each is KNOWN — either
    narrow (`_NARROW_PLAN_NODES`) or in the frozen wide list below —
    so a Spark upgrade that renames a node degrades LOUDLY (this test
    lists it) instead of silently never widening again. Node names
    come from a JVM tree walk (nodeName()), not treeString parsing —
    multi-line string literals in plans would otherwise read as fake
    nodes."""
    from atiesh_spark.session import _NARROW_PLAN_NODES

    KNOWN_WIDE = (
        "Join", "Aggregate", "Sort", "Window", "WindowGroupLimit",
        "Repartition",            # shuffle=true form; =false is narrow
        "RepartitionByExpression",
        # nodeName() spelling of the narrow treeString "Relation":
        "LogicalRelation",
        "GlobalLimit", "LocalLimit", "Limit", "Deduplicate", "Distinct",
        "Expand", "FlatMapGroupsInPandas", "Intersect", "Except",
        "CollectMetrics", "WithCTE", "CTERelationDef", "CTERelationRef",
        "DeserializeToObject", "SerializeFromObject",
        "MapElements", "TypedFilter", "AppendColumns", "OneRowRelation",
        "ReturnAnswer", "Offset", "Tail",
    )
    unknown: dict[str, set] = {}
    for name, (_, _, nodes) in _all_plans(spark).items():
        for node in nodes:
            if node.startswith(_NARROW_PLAN_NODES) or node.startswith(
                KNOWN_WIDE
            ):
                continue
            unknown.setdefault(node, set()).add(name)
    assert not unknown, {
        k: sorted(v)[:3] for k, v in unknown.items()
    }


def test_jaccard_sets_attach_joins_broadcast(spark):
    """r14 verdict item 4 (the q51 watch item): the row-local gram-sets
    frames must BROADCAST onto the widened candidate pairs at bench
    scale — if a Spark change or a stats regression flips the set
    attach to a sort-merge join, the array-heavy set rows get shuffled
    and sorted per pair side (a silent ~10x at the next scale jump).
    At true scale the planner's fallback to SMJ once the sets frame
    outgrows the 64 MB estimate is the HONEST shape (a per-doc frame
    cannot broadcast forever) — this gate pins bench scale only, where
    the estimate is far under the threshold; the flip point itself is
    probed in SCALE.md."""
    plan = plan_of(spark, "q51_jaccard_verified_candidates")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
