"""Physical-plan audits — the 100TB design gate (SURVEY.md 'optimize for
scale'). Correctness tests prove the small-SF answer; these prove the PLAN
is the one we'd want on a 1000-executor cluster: no accidental cross
products anywhere, dimensions broadcast, filters pushed into scans.

Mostly planning-only (a cartesian/bad-broadcast in the initial plan is
already a bug, whatever AQE later does); the AQE skew test at the bottom
executes its join because runtime re-planning is the thing under test."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_example_spark import registry
from kafka_streams_example_spark.sources.files import load_table
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_no_cartesian_product(spark, name):
    """No registry query may plan a CartesianProduct. Broadcast nested
    loop against a 1-row aggregate (scalar subquery) is fine — a true
    cartesian between scaling tables is never fine at 100TB."""
    df = registry.QUERIES[name](spark, SF_SMOKE)
    assert "CartesianProduct" not in _plan(df), name


@pytest.mark.parametrize(
    "name",
    [
        "q5_region_revenue",
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_profit",
        "q10_returned_items",
        "q16_supplier_variety",
        "q21_waiting_suppliers",
    ],
)
def test_dimension_joins_are_broadcast(spark, name):
    """Multi-way TPC-H-shape joins must attach dimensions via
    BroadcastHashJoin — a sort-merge against nation/supplier/filtered
    part would shuffle the fact table once per dimension."""
    plan = _plan(registry.QUERIES[name](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, name


def test_anti_join_is_broadcast(spark):
    """NOT IN / NOT EXISTS rewrites must be broadcast anti-joins, not
    shuffled ones, when the exclusion side is small."""
    plan = _plan(registry.QUERIES["q16_supplier_variety"](spark, SF_SMOKE))
    assert "LeftAnti, BuildRight" in plan or (
        "BroadcastHashJoin" in plan and "LeftAnti" in plan
    )


@pytest.mark.parametrize(
    "name",
    ["minhash_jaccard_estimate", "neardup_dedup_corpus", "similarity_pair_histogram"],
)
def test_at_most_one_parallelism_floor_per_scan(spark, name):
    """The call site floors a scan once (``_load_parallel``); an operator
    must not round-robin the same input a second time. Each extra
    RoundRobinPartitioning exchange reshuffles the full input for no
    added parallelism."""
    plan = _plan(registry.QUERIES[name](spark, SF_SMOKE))
    floors = plan.count("Exchange RoundRobinPartitioning")
    assert floors <= plan.count("FileScan parquet"), plan[:3000]


def test_selective_filters_pushed_to_scan(spark):
    """q19's brand/size predicates must reach the part parquet scan as
    PushedFilters, not run post-scan only."""
    plan = _plan(registry.QUERIES["q19_disjunctive_filter"](spark, SF_SMOKE))
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("p_brand" in p or "p_size" in p for p in pushed), pushed


def test_q1_scan_prunes_columns(spark):
    """q1 touches 7 of lineitem's 11 columns — the scan must not read
    the rest (l_partkey/l_suppkey/l_orderkey/l_linenumber)."""
    plan = _plan(registry.QUERIES["q1_pricing_summary"](spark, SF_SMOKE))
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_returnflag" in read_schema
    assert "l_partkey" not in read_schema and "l_orderkey" not in read_schema


def test_solar_panel_stats_single_shuffle_no_join(spark):
    """The reference's A2+J1+A3 stage chain (two repartition topics + a
    co-partitioned join, SURVEY.md §3.2) must collapse to window
    functions over ONE hash-partitioning — zero joins, one Exchange.

    The A1 module-aggregate stage is session-cached (r11:
    queries/solar.py:_module_agg_cached), so the plan string nests the
    cached stage's own exchange inside its InMemoryRelation subtree
    (printed at the bottom of the tree). The bound this test pins is the
    exchange count ABOVE the cached stage: the panel-level window
    functions and the (w, panel) dedup must share ONE partitioning."""
    df = registry.QUERIES["solar_panel_stats"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "Join" not in plan
    # Anchor the above-cache/below-cache split on the cached A1 stage
    # itself (ADVICE r11): the formatted plan prints each InMemoryRelation
    # subtree after the main tree, and the A1 stage is the one whose
    # cached subtree aggregates on the module key. Splitting on the FIRST
    # InMemoryRelation occurrence was brittle against a second cached
    # frame appearing earlier in the plan string.
    idx = plan.find("InMemoryRelation")
    assert idx != -1, plan[:2000]
    above_cached, cached_stage = plan[:idx], plan[idx:]
    assert "module" in cached_stage, cached_stage[:1500]
    n_exchanges = above_cached.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, f"{n_exchanges} exchanges:\n{plan[:2000]}"
    # and the whole plan incl. the cached A1 stage stays within the r11
    # bound (the cached subtree prints the module-agg aggregation's
    # partial+final exchange pair)
    total = plan.count("Exchange hashpartitioning")
    assert total <= 3, f"{total} exchanges incl. cached stage:\n{plan[:2000]}"


def test_asof_join_avoids_range_explosion(spark):
    """The as-of join must be a union+window last-value plan (linear),
    not a range join that explodes into a cross product per key."""
    plan = _plan(registry.QUERIES["asof_join_orders"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_broadcast_hint_respected_under_stats_absence(spark):
    """Explicit F.broadcast() must survive planning even when the dim
    side is a derived (stats-free) aggregate — the scalar-subquery
    pattern used across the registry."""
    cust = load_table(spark, SF_SMOKE, "customer")
    one_row = cust.agg(F.avg("c_acctbal").alias("a"))
    plan = _plan(cust.join(F.broadcast(one_row)))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """A 100x-hot join key must trigger AQE's runtime skew-join split
    (SortMergeJoin(skew=true) in the final adaptive plan) — the engine's
    no-manual-salting answer to skewed joins at scale. Thresholds are
    lowered to make a test-sized skew visible; production keeps the
    defaults and the same re-plan fires at 256MB partitions."""
    conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in conf.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        big = spark.range(0, 300000).select(
            F.when(F.col("id") % 3 != 0, 0).otherwise(F.col("id") % 1000).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
        )
        small = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        joined = big.join(small, "k")
        # execute THIS DataFrame's QueryExecution: AQE finalizes the plan
        # per-execution, so a separate .count() would re-plan elsewhere
        joined._jdf.collectToPython()
        plan = _plan(joined)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:1500]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    """All testdata tables with their real (load_table-normalized) schemas
    and zero rows."""
    from kafka_streams_example_spark.schemas import ALL_TABLES
    from kafka_streams_example_spark.sources.files import load_table

    out = str(tmp_path_factory.mktemp("sf_empty"))
    for t in ALL_TABLES:
        load_table(spark, "/root/testdata/sf0.001", t).limit(0).write.mode(
            "overwrite"
        ).parquet(f"{out}/{t}.parquet")
    return out


@pytest.mark.slow  # full-surface replay (~80s) — exhaustive tier
def test_every_query_survives_empty_input(spark, empty_sf_dir):
    """Robustness sweep: all registered queries must run (not crash) on
    zero-row tables — empty aggregation states, empty windows, empty
    numpy batches, zero-row recursions, division guards. Caught a real
    bug in cosine_topk_vectorized (1-D np.array on an empty query set)."""
    failures = []
    for name, fn in registry.QUERIES.items():
        try:
            fn(spark, empty_sf_dir).count()
        except Exception as ex:  # noqa: BLE001 — collecting all failures
            failures.append(f"{name}: {str(ex).splitlines()[0][:120]}")
    assert not failures, "\n".join(failures)


@pytest.fixture(scope="module")
def nullish_sf_dir(spark, tmp_path_factory):
    """Testdata tables with every nullable payload column NULLed on a
    third of the rows — text, lang, source, event_type, value, props,
    embedding."""
    from kafka_streams_example_spark.schemas import ALL_TABLES

    nullable = {
        "documents": ("doc_id", ["text", "lang", "source"]),
        "events": ("event_id", ["event_type", "value", "props"]),
        "embeddings": ("vec_id", ["embedding"]),
    }
    out = str(tmp_path_factory.mktemp("sf_nullish"))
    for t in ALL_TABLES:
        df = load_table(spark, "/root/testdata/sf0.001", t).limit(200)
        key, cols = nullable.get(t, (None, []))
        for c in cols:
            df = df.withColumn(
                c, F.when(F.col(key) % 3 == 0, None).otherwise(F.col(c))
            )
        df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    return out


@pytest.mark.slow  # full-surface replay (~120s) — exhaustive tier
def test_every_query_survives_null_heavy_input(spark, nullish_sf_dir):
    """Robustness sweep: NULL text/lang/source/event_type/value/props/
    embedding must not crash any query. Caught three real bugs: NULL map
    keys (map_functions_roundtrip), NULL payloads in the byte-features
    kernels, ragged np.array on NULL embeddings (vectorized top-k)."""
    failures = []
    for name, fn in registry.QUERIES.items():
        try:
            fn(spark, nullish_sf_dir).count()
        except Exception as ex:  # noqa: BLE001 — collecting all failures
            failures.append(f"{name}: {str(ex).splitlines()[0][:120]}")
    assert not failures, "\n".join(failures)


def test_key_skew_report_is_single_scan_no_join(spark):
    """The skew report must read events ONCE: the hottest-subkey cell
    comes from a struct-max inside the key-cardinality aggregate (not a
    rank window over a second scan) and the grand total from a window
    over the aggregate's few rows (not a re-scanned broadcast branch) —
    the naive three-branch plan tripled the corpus work."""
    plan = _plan(registry.QUERIES["key_skew_report"](spark, SF_SMOKE))
    assert plan.count("Scan parquet") == 1, plan[:2000]
    assert "Join" not in plan


def test_weighted_sample_is_take_ordered_not_global_sort(spark):
    """The weighted sample must plan TakeOrderedAndProject (per-partition
    local top-k, k-row driver merge) — a global Sort before the limit
    would shuffle the whole corpus."""
    plan = _plan(registry.QUERIES["weighted_domain_sample"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_plan_fingerprint_ignores_expand_order_and_ids():
    """Two builds of one multi-distinct aggregate that differ only in
    expression ids, lambda-variable counters and the order the optimizer
    lists the distinct groups (projections, grouping columns, gid
    numbers) normalize to the same text; a changed plan does not."""
    from tools.plan_report import normalized_plan, plan_fingerprint

    a = (
        "Aggregate [count(x#12L) FILTER (WHERE (gid#40 = 1)) AS nd_x#50L, "
        "count(y#13) FILTER (WHERE (gid#40 = 2)) AS nd_y#51L]\n"
        "+- Aggregate [x#41L, y#42, gid#40], [x#41L, y#42, gid#40]\n"
        "   +- Expand [[x#12L, null, 1], [null, y#13, 2]], [x#41L, y#42, gid#40]\n"
        "      +- Project [x#12L, y#13, filter(t#14, lambdafunction("
        "NOT (lambda x_55#60 = ), lambda x_55#60, false)) AS f#15]\n"
        "         +- Exchange hashpartitioning(x#12L, 4), [plan_id=7]"
    )
    b = (
        "Aggregate [count(x#112L) FILTER (WHERE (gid#140 = 2)) AS nd_x#150L, "
        "count(y#113) FILTER (WHERE (gid#140 = 1)) AS nd_y#151L]\n"
        "+- Aggregate [y#142, x#141L, gid#140], [y#142, x#141L, gid#140]\n"
        "   +- Expand [[null, y#113, 1], [x#112L, null, 2]], [y#142, x#141L, gid#140]\n"
        "      +- Project [x#112L, y#113, filter(t#114, lambdafunction("
        "NOT (lambda x_7#160 = ), lambda x_7#160, false)) AS f#115]\n"
        "         +- Exchange hashpartitioning(x#112L, 4), [plan_id=93]"
    )
    assert normalized_plan(a) == normalized_plan(b)
    assert plan_fingerprint(a) == plan_fingerprint(b)
    assert len(plan_fingerprint(a)) == 12
    changed = a.replace("hashpartitioning(x#12L, 4)", "hashpartitioning(y#13, 4)")
    assert plan_fingerprint(changed) != plan_fingerprint(a)
