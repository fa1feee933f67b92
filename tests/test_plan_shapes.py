"""Physical-plan shape regression tests for headline queries.

tools/plan_audit.py scans all 98 registered queries for red flags as an
offline artifact; these tests pin the STRONGER per-query properties the
bench relies on — shuffle-exchange budgets, dimension broadcasts, parquet
filter pushdown, and the no-row-at-a-time-Python invariant — so an edit
that silently adds a shuffle or knocks a filter off the scan fails CI
instead of showing up as a bench regression two rounds later.

Plans are built at sf0.001 and never executed (plan construction only);
shuffle counts are UPPER bounds so a genuine improvement passes while a
regression trips.
"""

from __future__ import annotations

import io
import contextlib
import re

import pytest


def _plan(spark, name: str, sf: str = "/root/testdata/sf0.001") -> str:
    from lcr_etl_upgrade_spark.plans import QUERIES

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES[name](spark, sf).explain()  # simple mode: one line per node
    return buf.getvalue()


def _shuffles(plan: str) -> int:
    # \bExchange\b matches shuffle exchanges only (BroadcastExchange has a
    # word character before the E, so the boundary rejects it). Count
    # DISTINCT plan ids: simple-mode explain re-prints the lineage of a
    # shared (persisted) subtree under every consumer branch, so raw
    # occurrences would count one physical shuffle several times.
    return len(
        set(re.findall(r"\bExchange\b.*?\[plan_id=(\d+)\]", plan))
    )


# name -> (max shuffle exchanges, why that number is the right shape)
SHUFFLE_BUDGET = {
    # scan -> partial agg -> exchange -> final agg -> exchange -> sort
    "q1_pricing_summary": 2,
    # one window partitioning (user) + final sort; no join (lag/cumsum)
    "events_sessionization": 2,
    # hash-groupBy on the content hash + result ordering
    "doc_dedup_exact": 2,
    # 101-column conform+cleanse is ONE projection pipeline; the only
    # wide step is the final validation ordering
    "pipeline_lead_end_to_end": 1,
    # minhash groupBy, LSH bucket groupBy, pair distinct (2), Jaccard
    # collect_set + candidate join requirements — the measured r4 plan
    # carries 7 distinct shuffles; the r3 plan (pre probe-side-distinct
    # removal) carried more
    "doc_minhash_near_dup": 7,
    # orders/lineitem join under AQE + final agg/sort; customer is not a
    # fixed-size dim, so its join is AQE's call, not a forced broadcast
    "q3_shipping_priority": 1,
    # dims broadcast (see test_q5_broadcasts_fixed_dims); the SF-scaling
    # customer/orders/lineitem chain carries the shuffles
    "q5_nation_revenue": 4,
    "q10_returned_items": 1,
    # key-grouped anti-join + union replacement: one shuffle
    "merge_upsert": 1,
    # SCD2 adds the change-detection window over the key history
    "merge_scd2": 3,
    # union + running-last window (no join at all) + result ordering
    "events_asof_join": 2,
    # pure per-row expressions: the only shuffle is the result ordering
    "doc_text_stats": 1,
    # broadcast-nested-loop scoring (no shuffle) + per-query top-k window
    # + the r13 fan_out round-robin repartition (deliberate: widens the
    # provably-narrow local corpus scan; a no-op — and no exchange — at
    # cluster scale where the scan already carries enough splits)
    "embedding_cosine_topk": 3,
    "window_topk_per_group": 2,
    "events_tumbling_window": 2,
    "agg_rollup": 2,
    "join_semi": 1,
    # r10 additions — measured shapes at sf0.001:
    # 7-relation join: region/nation broadcast; part/orders/cust/supp
    # joins under AQE carry the exchanges + final agg/sort
    "q8_market_share": 4,
    # outer join + agg-of-agg + presentation sort on shrinking keys
    "q13_customer_distribution": 3,
    # order-date join + per-order stats agg + stats join (shares the
    # l_orderkey key) + supplier probe + final agg/sort
    "q21_suppliers_kept_waiting": 6,
    # ONE exchange: the Morton-key range repartition doubling as the
    # presentation sort — the whole point of the operator
    "layout_zorder_key": 1,
    # token explode is narrow; summaries merge + candidate recount +
    # result ordering carry the shuffles (candidates broadcast)
    "doc_heavy_hitter_tokens": 3,
    # r11: the five queries completing the TPC-H 22. q2: pair-grain min
    # agg + per-part min agg + the value-equality join back + top-k
    # ordering (dims broadcast); the composite-key and part-key
    # aggregations cannot share one clustering
    "q2_min_cost_supplier": 5,
    # part/supplier broadcast; orders join + grouped sum + sort
    "q9_product_type_profit": 2,
    # one scan feeds value-agg and the broadcast single-row total;
    # persisted-subtree reuse keeps it at the agg + total + ordering
    "q11_important_stock": 3,
    # broadcast anti + broadcast part probe; COUNT DISTINCT expands to
    # two exchanges + ordering
    "q16_parts_supplier_relationship": 3,
    # both INs are broadcast semi joins; (supplier, part) agg + order
    "q20_potential_promotion": 2,
}


@pytest.mark.parametrize("name", sorted(SHUFFLE_BUDGET))
def test_shuffle_budget(spark, name):
    plan = _plan(spark, name)
    n = _shuffles(plan)
    assert n <= SHUFFLE_BUDGET[name], (
        f"{name}: {n} shuffle exchanges (budget {SHUFFLE_BUDGET[name]})\n{plan}"
    )


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_nation_revenue",
        "doc_minhash_near_dup",
        "doc_dedup_exact",
        "events_sessionization",
        "pipeline_lead_end_to_end",
        "merge_upsert",
        "window_topk_per_group",
    ],
)
def test_no_row_at_a_time_python(spark, name):
    """BatchEvalPython (per-row Python UDF) must never appear; Arrow-batched
    nodes (ArrowEvalPython / MapInPandas) are the sanctioned Python form
    and only on paths that declare them."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, plan


def test_q1_filter_reaches_parquet_scan(spark):
    """The shipdate predicate must be pushed into the lineitem scan
    (PushedFilters non-empty), not applied post-scan only."""
    plan = _plan(spark, "q1_pricing_summary")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), plan
    assert "l_shipdate" in m.group(1)


def test_q5_broadcasts_fixed_dims(spark):
    """region (5 rows) and nation (25 rows) are fixed-size dimensions:
    their joins must be broadcast, never shuffled, at any SF."""
    plan = _plan(spark, "q5_nation_revenue")
    assert "BroadcastHashJoin" in plan, plan


def test_minhash_has_no_cartesian(spark):
    """LSH candidate generation is bucketed in-array pair expansion —
    a CartesianProduct anywhere in this plan means the self-join
    anti-pattern crept back in."""
    plan = _plan(spark, "doc_minhash_near_dup")
    assert "CartesianProduct" not in plan, plan


def test_rollup_partial_agg_below_expand_shuffle(spark):
    """agg_rollup's scale bound (round 10): the Expand x(sets) row
    multiplication must be absorbed by a PARTIAL HashAggregate BEFORE
    the exchange — i.e. plan order (top-down) final agg < Exchange <
    partial agg < Expand. If Spark ever shuffled the raw Expand output,
    the shuffle would carry sets-times the input and the sf10 memory
    bound in BENCH_sf10_r10.json would no longer hold."""
    plan = _plan(spark, "agg_rollup")
    aggs = [m.start() for m in re.finditer(r"HashAggregate", plan)]
    expand = plan.find("Expand")
    exchange = plan.find("Exchange")
    assert expand != -1 and exchange != -1 and len(aggs) >= 2, plan
    partial = [a for a in aggs if exchange < a < expand]
    assert partial, (
        "no partial HashAggregate between the shuffle and Expand:\n"
        + plan
    )


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark):
    """The 100 TB shuffle-join pruning path: when a join's build side is
    selectively filtered and the probe side is too big to broadcast,
    Spark injects a runtime bloom filter (bloom_filter_agg on the build
    keys, might_contain on the probe scan) so probe rows that cannot
    match are dropped BEFORE the shuffle. Locally the probe scan is far
    below the 10 GB applicationSideScanSizeThreshold, so this test
    lowers that threshold to 0 and disables broadcast to reproduce the
    at-scale decision; at real scale the defaults fire organically.
    Pinned because the engine RELIES on this: the scale story for
    selective fact-fact joins (SCALE.md) assumes probe-side pruning."""
    from lcr_etl_upgrade_spark.sources.testdata import load_table
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
        orders = load_table(spark, "/root/testdata/sf0.001", "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in optimized, optimized
        assert "might_contain" in optimized, optimized
        # and the filter lands on the PROBE (lineitem) side key
        assert re.search(r"might_contain.*l_orderkey", optimized), optimized
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---- deletion-vector paths run without Python workers -------------------
# Unlike the plan-only checks above, these run the commands and read the
# physical plans Spark recorded for every execution they started.

PYTHON_WORKER_NODES = ("MapInPandas", "FlatMapCoGroupsInPandas", "ArrowEvalPython")


def _executed_plans(spark, action) -> list[str]:
    """Run ``action`` and return the physical plan of every SQL execution
    it started, read from the SQL status store (kept with the UI off)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions() -> dict[int, str]:
        bus.waitUntilEmpty()
        seq = store.executionsList()
        return {
            int(e.executionId()): e.physicalPlanDescription()
            for e in (seq.apply(i) for i in range(seq.size()))
        }

    seen = executions()
    action()
    return [p for i, p in executions().items() if i not in seen]


def test_dv_paths_start_no_python_worker(spark, tmp_path):
    """delete_rows, the DV write paths of update_rows/merge_rows and the
    DV readers (read_delta_lite, read_delta_changes) build, union and
    expand deletion vectors with Spark built-ins: none of their executed
    plans may hold a Python-worker node."""
    from pyspark.sql import functions as F

    from lcr_etl_upgrade_spark.delta_lite import (
        delete_rows,
        merge_rows,
        read_delta_changes,
        read_delta_lite,
        replay_log,
        set_table_properties,
        update_rows,
        write_delta_lite,
    )

    path = str(tmp_path / "dv")
    write_delta_lite(
        spark.range(400).selectExpr("id", "id % 10 AS v").repartition(2),
        path,
    )
    set_table_properties(
        spark,
        path,
        {
            "delta.enableDeletionVectors": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    start = replay_log(spark, path).version + 1
    src = spark.range(0, 400, 50).selectExpr("id", "-1 AS v")
    steps = {
        "delete": lambda: delete_rows(spark, path, "id % 7 = 0"),
        "delete_again": lambda: delete_rows(spark, path, "id % 11 = 0"),
        "update": lambda: update_rows(
            spark, path, "id % 13 = 1", {"v": F.lit(99)}, use_dvs=True
        ),
        "merge": lambda: merge_rows(
            spark, path, src, "t.id = s.id",
            matched=(("update", None, {"v": "s.v"}),),
            use_dvs=True,
        ),
        "read": lambda: read_delta_lite(spark, path).collect(),
        "changes": lambda: read_delta_changes(spark, path, start).collect(),
    }
    for name, step in steps.items():
        plans = _executed_plans(spark, step)
        assert plans, name
        for plan in plans:
            for node in PYTHON_WORKER_NODES:
                assert node not in plan, f"{name}: {node}\n{plan}"
    assert replay_log(spark, path).dvs
    rows = {r.id: r.v for r in read_delta_lite(spark, path).collect()}
    assert not any(i % 7 == 0 or i % 11 == 0 for i in rows)
    assert all(rows[i] == 99 for i in rows if i % 13 == 1 and i % 50)
    assert all(rows[i] == -1 for i in rows if i % 50 == 0)
