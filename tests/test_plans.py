"""Physical-plan assertions: the scale claims the docstrings make must
hold in the actual plans, so plan regressions fail CI (VERDICT r1 next
round #9).

- filters reach the parquet scan (PushedFilters);
- dimension joins are broadcast hash joins;
- NO BroadcastNestedLoopJoin / CartesianProduct anywhere except the
  explicitly sanctioned queries (tiny broadcast sides by contract);
- the LSH near-dup candidate join is an equi (hash) join, never
  all-pairs.
"""

from __future__ import annotations

import pytest

from radares_spark.plans import REGISTRY
from tests.conftest import SF_SMOKE

# Queries whose plans legitimately contain a nested-loop join over a
# BROADCAST side that is tiny by contract:
#   range_join_price_bands  — 25-row generated band dim (range predicate)
#   q22_idle_customers      — single-row scalar-subquery threshold
#   similarity_cosine_topk  — few-row query set vs corpus (non-equi !=)
#   similarity_ivf_topk     — few-row probe set (crossJoin with centroids)
#   q11_important_stock     — single-row global-threshold broadcast
#   q15_top_supplier        — single-row MAX-revenue broadcast
#   text_bm25_topk          — single-row (n_docs, avgdl) stats broadcast
#   text_hybrid_rrf_topk    — same stats broadcast inside its BM25 leg
SANCTIONED_NESTED_LOOP = {
    "range_join_price_bands",
    "q22_idle_customers",
    "similarity_cosine_topk",
    "similarity_ivf_topk",
    "q11_important_stock",
    "q15_top_supplier",
    "text_bm25_topk",
    "text_hybrid_rrf_topk",
    # r10/r11 rotations: the KN recursion joins the ONE-ROW grand
    # total (count of bigram/trigram types) to the model — a broadcast
    # of exactly one row, the q11/q15 scalar-total pattern
    # (operators/dsir.py:567,654)
    "corpus_kn_trigram_logprob",
    "corpus_kn_bigram_logprob",
}


def _plan(spark, name: str) -> str:
    # executedPlan (initial AQE plan): join strategies chosen AND
    # exchanges inserted (sparkPlan() is pre-EnsureRequirements and
    # shows no shuffles). Nothing is executed — toString only.
    if name in REGISTRY:
        fn = REGISTRY[name].fn
    else:  # rotated to the library tier; plan contract still pinned
        from radares_spark.plans.library import ALL_LIBRARY_SPECS

        fn = ALL_LIBRARY_SPECS[name].fn
    df = fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(REGISTRY))
@pytest.mark.slow  # >=10 s in the r15 full-suite durations log
def test_no_unsanctioned_nested_loop(spark, name):
    plan = _plan(spark, name)
    has_nlj = "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
    if name in SANCTIONED_NESTED_LOOP:
        return  # allowed (broadcast side tiny by contract)
    assert not has_nlj, f"{name}: unsanctioned nested-loop/cartesian join in plan"


def test_q1_filter_pushed_to_scan(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q5_broadcasts_dim_chain(spark):
    plan = _plan(spark, "q5_nation_revenue")
    assert plan.count("BroadcastHashJoin") >= 2  # nation+region+customer chain
    assert "BroadcastNestedLoopJoin" not in plan


def test_q7_nation_filter_before_fact_join(spark):
    # the two-nation IN filter must sit on the nation scans (broadcast
    # side), not above the lineitem joins
    plan = _plan(spark, "q7_nation_volume")
    # isin of 2 values rewrites to Or(EqualTo, EqualTo) — pushed to the
    # nation scan, i.e. it appears as a data filter on the dim side
    assert "Or(EqualTo(n_name,NATION_" in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_embedding_lsh_is_bucketed_equi_join(spark):
    plan = _plan(spark, "dedup_embedding_lsh")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # candidate generation joins on (band, band_val) — a hash-joinable key
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_dedup_exact_single_shuffle(spark):
    plan = _plan(spark, "dedup_exact")
    # one hash aggregate pair (partial + final) around one exchange
    assert plan.count("Exchange hashpartitioning") == 1


def test_q18_single_fact_shuffle(spark):
    # the HAVING aggregate doubles as the output measure: lineitem is
    # exchanged once (the per-order agg); orders joins it and the
    # customer dim broadcasts — no second scan/shuffle of the fact
    plan = _plan(spark, "q18_large_orders")
    assert plan.count("FileScan parquet") == 3  # lineitem, orders, customer — once each
    assert plan.count("Exchange hashpartitioning") <= 3


def test_text_scans_have_no_shuffle(spark):
    for name in ("text_token_count", "text_quality_score", "multimodal_inspect"):
        plan = _plan(spark, name)
        assert "Exchange hashpartitioning" not in plan, f"{name}: unexpected shuffle"


# ---- TPC-H completion library (plans/tpch_full.py Group A) ---------


def _library_plan(spark, name: str) -> str:
    from radares_spark.plans.tpch_full import LIBRARY_SPECS

    df = LIBRARY_SPECS[name].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name",
    [
        "q6_forecast_revenue",
        "q8_market_share",
        "q12_priority_by_flag",
        "q13_customer_distribution",
        "q14_promo_revenue",
        "q17_small_quantity_revenue",
    ],
)
def test_tpch_full_no_nested_loop_no_python(spark, name):
    plan = _library_plan(spark, name)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan, f"{name}: Python UDF in hot path"


def test_q6_all_predicates_pushed(spark):
    # every Q6 predicate is scan-evaluable: shipdate range, discount
    # band, quantity cap all reach PushedFilters
    plan = _library_plan(spark, "q6_forecast_revenue")
    # toString truncates the PushedFilters list, so assert the scan
    # pushdown started (shipdate reached the parquet reader) and the
    # full Filter node carries every predicate scan-side (below the
    # aggregate, above the FileScan — nothing evaluates post-shuffle)
    assert "GreaterThanOrEqual(l_shipda" in plan
    for frag in (">= 1996-01-01", "< 1997-01-01", ">= 0.05)", "<= 0.07)", "< 24.0)"):
        assert frag in plan, f"predicate missing from scan-side Filter: {frag}"
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp" in plan  # column pruning: 4 of 11 columns read


def test_q17_single_shuffle_for_threshold_and_joinback(spark):
    # the decorrelated per-part AVG and its join-back share the
    # partkey hash partitioning: the brand-pruned lineitem is
    # exchanged ONCE, and the final single-row agg adds its
    # SinglePartition exchange — nothing else shuffles
    plan = _library_plan(spark, "q17_small_quantity_revenue")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert plan.count("BroadcastHashJoin") >= 1  # brand part pruning
