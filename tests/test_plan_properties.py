"""Plan-property tests over the driver tables: pushdowns, join
strategies, two-phase aggregation, top-k fusion — the ported version
of the reference's golden plan snapshots (SURVEY §5)."""

import pytest
from pyspark.sql import functions as F

import sparkplans.queries as Q
from sparkplans import plans
from tests.conftest import SF_DIR


def _df(spark, name):
    return Q.REGISTRY[name].fn(spark, SF_DIR)


def test_filter_reaches_parquet_scan(spark):
    pushed = plans.scan_pushed_filters(_df(spark, "filter_pushdown"))
    assert any("l_quantity" in p or "l_returnflag" in p for p in pushed), pushed


def test_projection_prunes_read_schema(spark):
    schemas = plans.scan_read_schema(_df(spark, "projection_pushdown"))
    assert schemas and all("o_orderkey" in s and "o_comment" not in s for s in schemas)
    assert all(s.count(":") <= 2 for s in schemas), schemas  # only 2 columns read


def test_broadcast_join_selected_for_small_dim(spark):
    strategies = plans.join_strategies(_df(spark, "broadcast_join_agg"))
    assert "BroadcastHashJoin" in strategies


def test_merge_hint_produces_sort_merge_join(spark):
    assert "SortMergeJoin" in plans.join_strategies(_df(spark, "merge_join"))


def test_shuffle_hash_hint_produces_shuffled_hash_join(spark):
    assert "ShuffledHashJoin" in plans.join_strategies(_df(spark, "shuffle_hash_join"))


def test_two_phase_aggregation(spark):
    plan = plans.physical_plan_str(_df(spark, "agg_count_star"))
    # partial + final HashAggregate around one exchange — the exact
    # analog of the reference's mode=Partial/FinalPartitioned
    # (docs/7:67-97)
    assert plan.count("HashAggregate") >= 2
    assert plans.num_exchanges(_df(spark, "agg_count_star")) == 1


def test_topk_fuses_into_take_ordered(spark):
    plan = plans.physical_plan_str(_df(spark, "topk"))
    assert "TakeOrderedAndProject" in plan
    assert plans.num_sorts(_df(spark, "topk")) == 0


def test_flagship_broadcasts_dim(spark):
    df = _df(spark, "flagship_datebin")
    assert "BroadcastHashJoin" in plans.join_strategies(df)
    assert plans.num_exchanges(df) <= 1  # only the group-by exchange


def test_explain_modes_render(spark):
    df = _df(spark, "agg_count_star")
    assert "HashAggregate" in plans.plan_text(df, "tree")
    ext = plans.plan_text(df, "indent")
    assert "== Optimized Logical Plan ==" in ext
    assert "== Physical Plan ==" in ext


def test_explain_analyze_metrics(spark):
    out = plans.explain_analyze(_df(spark, "agg_count_star"))
    assert "numOutputRows" in out or "number of output rows" in out


def test_observation_metrics_piggyback_on_execution(spark):
    """Spark's Observation API: named aggregates ride along with a
    real action (no second scan) — the runtime row-level metrics
    surface next to EXPLAIN ANALYZE's operator metrics.  Values match
    a direct aggregation exactly."""
    from pyspark.sql import Observation, functions as F

    from sparkplans.sources import load_table
    from tests.conftest import SF_DIR

    orders = load_table(spark, SF_DIR, "orders")
    obs = Observation("orders_stats")
    watched = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
    )
    watched.write.format("noop").mode("overwrite").save()
    direct = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
    ).first()
    assert obs.get["n"] == direct.n
    assert obs.get["total"] == direct.total


def test_q5_broadcasts_everything_at_test_scale(spark):
    """Structural perf gate (BASELINE.md): the 6-table join chain
    broadcasts every small side — only the agg + final sort exchange
    remain."""
    df = _df(spark, "tpch_q5_local_supplier")
    assert plans.num_exchanges(df) <= 2
    strategies = plans.join_strategies(df)
    assert strategies.count("BroadcastHashJoin") >= 4, strategies


def test_pricing_summary_two_phase_only(spark):
    df = _df(spark, "pricing_summary")
    # one hash exchange (partial->final agg) + one range (ORDER BY)
    assert plans.num_exchanges(df) <= 2


def test_coalesce_and_repartition_plumbing(spark):
    df = _df(spark, "projection_pushdown")
    assert df.coalesce(1).rdd.getNumPartitions() == 1
    assert df.repartition(4).rdd.getNumPartitions() == 4


def test_limit0_schema_peek(spark, engine):
    from sparkplans.sources import load_table

    load_table(spark, SF_DIR, "nation").createOrReplaceTempView("nation")
    schema = spark.table("nation").limit(0).schema
    assert [f.name for f in schema.fields] == ["n_nationkey", "n_name", "n_regionkey"]


def test_no_python_in_any_query_hot_path(spark, registry_frame):
    """Global structural gate: every registered query plans entirely
    JVM-side — no Python exec node of any kind (plans.num_python_stages)
    — unless it is registered ``python=True``, the Python-by-design
    operators whose reason sits at their registration.  Guards against
    a convenience UDF sneaking into a hot path."""
    offenders = [
        name
        for name, spec in sorted(Q.REGISTRY.items())
        if not spec.python and plans.num_python_stages(registry_frame(name))
    ]
    assert offenders == [], f"Python stages found in: {offenders}"


def test_python_stages_count_grouped_pandas_nodes(spark):
    """Every Python exec node counts, not only the scalar and map ones:
    grouped applyInPandas, cogrouped applyInPandas and a grouped-agg
    pandas UDF each plan one Python stage."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    df = spark.range(8).withColumn("g", F.col("id") % 2)

    @pandas_udf("double")
    def mean_id(v: pd.Series) -> float:
        return float(v.mean())

    grouped = df.groupBy("g")
    assert plans.num_python_stages(grouped.applyInPandas(lambda p: p, df.schema)) == 1
    cogrouped = grouped.cogroup(df.groupBy("g")).applyInPandas(
        lambda a, b: a, df.schema
    )
    assert plans.num_python_stages(cogrouped) == 1
    assert plans.num_python_stages(grouped.agg(mean_id("id"))) == 1
    assert plans.num_python_stages(df) == 0


def test_config_shapes_join_strategy(spark):
    """Same query, different session config -> different physical join
    (the reference's whole docs/8:140-181 vs tests/opt_parallel_execution.rs
    story: config steers the plan, results stay identical)."""
    import sparkplans.queries as Q
    from sparkplans import plans as P
    from tests.conftest import SF_DIR

    def build():
        # hint-free join: strategy is the planner's choice, so the
        # threshold config decides (an explicit broadcast() hint would
        # — correctly — override it)
        return Q.REGISTRY["join_implicit_equi"].fn(spark, SF_DIR)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        assert "BroadcastHashJoin" in P.join_strategies(build())
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        no_bc = P.join_strategies(build())
        assert "BroadcastHashJoin" not in no_bc and no_bc, no_bc
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_prefer_existing_sort_flag_shapes_plan(spark, tmp_path):
    """Engine flag prefer_existing_sort=False disables sort elision —
    the same ORDER BY then emits a SortExec-analog (mirrors the
    reference's prefer_existing_sort knob, opt_parallel_execution.rs:21)."""
    from sparkplans import plans as P, sinks
    from sparkplans.engine import Engine
    from sparkplans.session import EngineOptions
    from sparkplans.sources import load_table
    from tests.conftest import SF_DIR

    orders = load_table(spark, SF_DIR, "orders")
    p = str(tmp_path / "so")
    on_eng = Engine(spark=spark, options=EngineOptions(prefer_existing_sort=True))
    sinks.write_sorted(orders, p, order_by=["o_orderkey"], num_files=1,
                       catalog=on_eng.catalog, register_as="so_on")
    assert plans.num_sorts(on_eng.table("so_on").order_by("o_orderkey").df) == 0

    off_eng = Engine(spark=spark, options=EngineOptions(prefer_existing_sort=False))
    off_eng.catalog.create_external_table("so_off", p, with_order=["o_orderkey"])
    assert plans.num_sorts(off_eng.table("so_off").order_by("o_orderkey").df) == 1


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join handling: a hot key (~90% of rows) joined against
    a medium table gets split at runtime — OptimizeSkewedJoin marks
    the SMJ 'skew=true'.  This is the no-manual-salting path; the
    manual salted operator is tests/test_operators.py's salted join."""
    from pyspark.sql import functions as F
    from sparkplans import plans as P

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    olds = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
        ),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        ),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        n = 200_000
        left = spark.range(n).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 1000).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        joined = left.join(right, "k")
        # execute THIS plan (count() would be a different query
        # execution and the AQE final plan lives on the executed one)
        assert len(joined.collect()) == n
        executed = P.physical_plan_str(joined)
        assert "skew=true" in executed, executed[:1500]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        for k, v in olds.items():
            spark.conf.set(k, v)


def test_file_split_config_controls_scan_partitions(spark):
    """§2.11 target_partitions at the scan: small maxPartitionBytes
    splits one parquet file into many byte-range partitions (the
    analog of the reference's RoundRobinBatch auto-parallelization,
    docs/5:18-44); a huge setting reads one file as one partition
    (the ordered per-file mode, tests/setup_tables.rs:86-88)."""
    path = f"{SF_DIR}/lineitem.parquet"
    olds = {k: spark.conf.get(k) for k in
            ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")}
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        many = spark.read.parquet(path).rdd.getNumPartitions()
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 40))
        spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 40))
        one = spark.read.parquet(path).rdd.getNumPartitions()
        assert many > one and one == 1, (many, one)
    finally:
        for k, v in olds.items():
            spark.conf.set(k, v)


def test_plan_helper_surface(spark):
    """The remaining plan-inspection helpers: codegen-span counting
    (docs/3's WholeStageCodegen visibility), broadcast counting, and
    the golden-normalizer (the reference's insta-filter counterpart,
    tests/test_utils.rs:5-15)."""
    df = _df(spark, "broadcast_join_agg")
    assert plans.num_broadcasts(df) >= 1
    assert plans.wholestage_codegen_spans(df) >= 1
    raw = plans.physical_plan_str(df)
    norm = plans.normalize_plan(raw)
    import re
    assert not re.search(r"#\d", norm)       # expr ids stripped
    assert "file:PATH" in norm or "file:" not in raw
    assert plans.normalize_plan(raw) == norm  # idempotent-stable


def test_explain_verbose_shows_all_stages(spark):
    """docs/3:83-180 analog: the verbose dump shows all four Catalyst
    stages in order."""
    out = plans.explain_verbose(_df(spark, "agg_count_star"))
    stages = ["== Parsed Logical Plan ==", "== Analyzed Logical Plan ==",
              "== Optimized Logical Plan ==", "== Physical Plan =="]
    idx = [out.index(s) for s in stages]
    assert idx == sorted(idx)


def test_explain_cost_shows_statistics(spark):
    """EXPLAIN COST: the logical plan annotated with size/row stats —
    the visible face of statistics-driven planning (reference
    collect_stat / aggregate_statistics, SURVEY §4.2)."""
    out = plans.plan_text(_df(spark, "agg_count_star"), "cost")
    assert "Statistics(" in out and "sizeInBytes" in out


def test_audit_summary_and_exchange_reuse(spark):
    """plans.audit returns the full structural cost summary in one
    call, and a diamond-lineage query shows Catalyst deduplicating
    identical exchanges (ReusedExchange) — lineage is paid for once."""
    import sparkplans.queries as Q
    from tests.conftest import SF_DIR

    df = Q.REGISTRY["lsh_candidates"].fn(spark, SF_DIR)
    a = plans.audit(df)
    assert set(a) == {
        "exchanges", "reused_exchanges", "broadcasts", "sorts",
        "python_stages", "join_strategies", "pushed_filters",
    }
    assert a["python_stages"] == 0
    assert a["exchanges"] <= Q.REGISTRY["lsh_candidates"].exchanges

    # diamond lineage: self-join of one aggregated subtree => the
    # second scan+shuffle is a ReusedExchange, not a recomputation
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    per_user = ev.groupBy("user_id").count()
    diamond = per_user.alias("a").join(
        per_user.alias("b"), "user_id"
    )
    # static: read before execution, though AQE applies the reuse
    # only when the query stages materialize
    assert plans.num_reused_exchanges(diamond) >= 1
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # a non-adaptive plan carries the reuse as a ReusedExchange leaf
        again = per_user.alias("a").join(per_user.alias("b"), "user_id")
        assert plans.num_reused_exchanges(again) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_pushed_in_filter_lists_whole(spark):
    """A pushed ``In`` filter keeps its bracketed value list whole in
    the scan's PushedFilters entry."""
    pushed = plans.scan_pushed_filters(_df(spark, "between_and_in_list"))
    assert any("In(l_returnflag, [A,N])" in p for p in pushed), pushed


@pytest.mark.parametrize(
    "name", ["tdigest_price_quantiles", "copurchase_rules", "audio_vad_segments"]
)
def test_audit_same_before_and_after_collect(spark, name):
    """The audit reads the static plan: running the frame, after which
    its AQE plan string prints both the final and the initial plan,
    changes no field."""
    df = _df(spark, name)
    before = plans.audit(df)
    df.collect()
    assert plans.audit(df) == before


def test_cached_build_plan_counts(spark):
    """The cache rule: a Python node in a cached build plan counts as a
    Python stage (as in the plan text), while the cached repartition
    is not an exchange of this query (it ran once, when the cache
    filled); running the frame changes neither count."""
    cached = (
        spark.range(100).repartition(4, "id").mapInPandas(lambda it: it, "id long").cache()
    )
    try:
        df = cached.groupBy((F.col("id") % 3).alias("k")).count()

        def counts():
            live = [n for n, _ in plans.live_plan_nodes(df) if n == "ShuffleExchangeExec"]
            return plans.num_python_stages(df), plans.num_exchanges(df), len(live)

        assert counts() == (1, 1, 1)
        df.collect()
        assert counts() == (1, 1, 1)
    finally:
        cached.unpersist()


def test_partition_histogram_balanced_and_skewed(spark):
    from pyspark.sql import functions as F

    even = spark.range(0, 10000, 1, 8)
    h = plans.partition_histogram(even)
    assert h["partitions"] == 8 and h["rows"] == 10000
    assert h["skew"] <= 1.01

    # all rows share one key -> one hot partition after a keyed shuffle
    hot = spark.range(0, 10000).withColumn("k", F.lit(1)).repartition(8, "k")
    h2 = plans.partition_histogram(hot)
    assert h2["rows"] == 10000
    assert h2["skew"] >= 7.9  # max==total, mean==total/8


def test_runtime_bloom_filter_fires(spark):
    """The reference's DynamicFilterPhysicalExpr (docs/8:126,178): the
    build side's keys prune the probe scan at runtime.  Spark's analog
    is the runtime bloom filter — proven live here, not just by conf."""
    from pyspark.sql import functions as F
    from sparkplans.sources import load_table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        # shuffle join (no broadcast) + thresholds sized for test data
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = load_table(spark, SF_DIR, "lineitem")
        orders = load_table(spark, SF_DIR, "orders")
        j = li.join(
            orders.filter(F.col("o_totalprice") > 400000),
            li.l_orderkey == orders.o_orderkey,
        )
        phys = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom" in phys.lower(), "runtime bloom filter did not fire"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """DPP — the partition-level dynamic filter: a selective dim
    filter prunes the fact's hive partitions via a reused broadcast
    subquery (dynamicpruningexpression in PartitionFilters)."""
    from pyspark.sql import functions as F
    from sparkplans.sources import load_table

    orders = load_table(spark, SF_DIR, "orders")
    p = str(tmp_path / "part_orders")
    orders.withColumn(
        "bucket", (F.col("o_orderkey") % 10).cast("int")
    ).write.partitionBy("bucket").mode("overwrite").parquet(p)
    po = spark.read.parquet(p)
    dim = spark.createDataFrame(
        [(i, "x" if i < 2 else "y") for i in range(10)], "bucket int, tag string"
    )
    j = po.join(dim.filter(F.col("tag") == "x"), "bucket").select(
        F.sum("o_totalprice")
    )
    phys = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in phys.lower(), "DPP did not fire"


def test_revenue_gini_rank_window_is_partitioned(spark):
    """The round-1 scale defect: revenue_gini ranked every customer
    through one single-partition window.  The distributed-rank rewrite
    must keep EVERY window in the plan partitioned — no
    windowspecdefinition may start at an ordered (ASC/DESC) column."""
    import re

    import sparkplans.queries as Q

    df = Q.REGISTRY["revenue_gini"].fn(spark, SF_DIR)
    phys = df._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)", phys)
    assert specs, "expected a rank window in the plan"
    for spec in specs:
        first = spec.split(",")[0].strip()
        assert " ASC" not in first and " DESC" not in first, (
            f"unpartitioned window spec: {spec[:120]}"
        )


def test_fact_side_never_broadcast_without_threshold(spark):
    """100 TB regression guard: with autoBroadcastJoinThreshold off,
    the lineitem/orders fact joins in q3 and q5 must fall back to
    shuffle strategies (SMJ/SHJ) — a plan change that broadcasts a
    FACT table would OOM a real cluster even though it passes at test
    scale.  The dimension-broadcast assertions elsewhere pin the happy
    path; this pins the guard rail."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for q in ("tpch_q3_topk_revenue", "tpch_q5_local_supplier",
                  "multi_fact_join"):
            df = _df(spark, q)
            strategies = plans.join_strategies(df)
            assert "BroadcastHashJoin" not in strategies, (q, strategies)
            assert any(
                s in ("SortMergeJoin", "ShuffledHashJoin")
                for s in strategies
            ), (q, strategies)
            phys = plans.physical_plan_str(df)
            assert "BroadcastNestedLoopJoin" not in phys, q
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_explain_verbose_per_rule_trace(spark):
    """Reference docs/3_cli_query_plans.md:96-172 parity: EXPLAIN
    VERBOSE shows the plan after every named rule that changed it.
    per_rule=True captures Catalyst's PlanChangeLogger — named rule
    transitions with before/after plans — and restores logging state
    afterwards."""
    df = _df(spark, "filter_pushdown")
    out = plans.explain_verbose(df, per_rule=True)
    assert "== Per-Rule Plan Changes ==" in out
    # at least one fully-qualified named rule fired with a diff
    assert "=== Applying Rule org.apache.spark.sql.catalyst." in out
    # rule trace shows before/after plan lines (the ! diff marker)
    assert "=== Result of Batch" in out
    # logging state restored: a second plain call captures nothing new
    assert "Per-Rule" not in plans.explain_verbose(df)


def test_aqe_skew_join_split_fires(spark):
    """Planted-skew join evidence (r5 verdict item 5): one key owning
    20% of the fact rows must trigger AQE's skew-join split — the
    post-execution adaptive plan marks the join ``skew=true`` and the
    hot side's shuffle read ``skewed``.  Broadcast is disabled to
    simulate the 100 TB big-big case (at test scale the dim side would
    broadcast and there would be nothing to split), and the skew
    thresholds are scaled to the planted data the same way a real
    deployment scales them to executor memory.  The fact side is a
    multi-split range (a single-mapper shuffle stage is unsplittable —
    skew splitting works by mapper ranges, which is also why the
    parquet-backed twin `skewed_join_salted` pins the deterministic
    SALTED plan instead of relying on AQE)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {}
    for k, v in confs.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    try:
        f = spark.range(0, 800_000, 1, 8).select(
            F.when(F.col("id") % 5 == 0, F.lit(0))
            .otherwise(F.pmod(F.col("id"), F.lit(50_000)))
            .alias("k"),
            (F.col("id") * 2).alias("v"),
        )
        d = spark.range(0, 50_000, 1, 8).select(
            F.col("id").alias("k"), F.lit("x").alias("attr")
        )
        j = f.join(d, "k")
        # execute THIS frame (a derived count() would run a different
        # adaptive plan and leave j's at isFinalPlan=false)
        assert len(j.collect()) == 800_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
        assert "AQEShuffleRead skewed" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pagerank_iteration_no_corpus_exchange_or_sort(spark, monkeypatch):
    """The per-iteration plan contract behind the shuffle path's 100x
    story (the reference's never-repartition-pre-partitioned-data
    rule, docs/7_cli_read_plans_aggregation.md:100-160): the static
    edge corpus is laid out + sorted by `src` ONCE behind a
    partition-preserving materialize, so one iteration executes NO
    exchange and NO sort keyed on the corpus (`src`) — only the slim
    ranks-side shuffle (node) and the dst partial-agg exchange.
    Before round 9 the localCheckpoint route lost the layout and each
    iteration re-exchanged + re-sorted the full corpus (probe-proven:
    3 exchanges + 2 sorts vs 1).  Every iteration's cut is checked,
    walked as the operator hands it over (tests/cuts.py)."""
    from pyspark.sql import functions as F
    from sparkplans.operators import graph
    from tests.cuts import pagerank_path, record_cuts

    edges = spark.range(0, 20_000).select(
        (F.col("id") % 700).alias("src"),
        ((F.col("id") * 37) % 650).alias("dst"),
    )
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # broadcast off so the toy ranks frame takes the same SMJ route a
    # 20M-node graph would — otherwise the ranks join broadcasts and
    # the corpus-side assertion is vacuous
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with monkeypatch.context() as mp:
            mp.setattr(graph, "_PAGERANK_BROADCAST_NODES", 0)
            cuts = record_cuts(mp, graph)
            graph.pagerank(edges, iterations=2).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
    assert pagerank_path(cuts) == "shuffle"
    iters = [c for c in cuts if not c["preserve"]]
    assert len(iters) == 2, iters
    for it in iters:
        exchanges, sorts = it["exchanges"], it["sorts"]
        # the corpus key must appear in NO live exchange or sort
        offenders = [d for d in exchanges + sorts if "src#" in d]
        assert not offenders, offenders
        # ratchet: at most the ranks(node) + agg(dst) exchanges, and
        # the matching two slim sorts
        assert len(exchanges) <= 2, exchanges
        assert len(sorts) <= 2, sorts

    # broadcast path: zero live exchanges per iteration (the docstring
    # claim, now actually true — localCheckpoint used to erase the
    # layout and re-exchange the partial-agg rows every pass)
    with monkeypatch.context() as mp:
        cuts = record_cuts(mp, graph)
        graph.pagerank(edges, iterations=2).count()
    assert pagerank_path(cuts) == "broadcast"
    iters = [c for c in cuts if not c["preserve"]]
    assert len(iters) == 2, iters
    for it in iters:
        assert it["exchanges"] == [], it["exchanges"]


def test_label_propagation_round_no_corpus_exchange(spark, monkeypatch):
    """label_propagation's symmetric edge list is STATIC, so round 9
    lays it out + sorts it on the join key `b` once behind a
    partition-preserving materialize: one round must execute NO
    exchange and NO sort on `b` — only the slim node-keyed shuffles
    (labels join side, vote counts, argmax).  Every round's cut is
    checked; the first non-preserving cut is the initial labels."""
    from pyspark.sql import functions as F
    from sparkplans.operators import graph
    from tests.cuts import record_cuts

    edges = spark.range(0, 5_000).select(
        (F.col("id") % 300).alias("src"), ((F.col("id") * 17) % 280).alias("dst")
    )
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cuts = record_cuts(monkeypatch, graph)
        graph.label_propagation(edges, iterations=2).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
    assert [c["preserve"] for c in cuts] == [True, False, False, False]
    for shape in cuts[2:]:
        offenders = [d for d in shape["exchanges"] + shape["sorts"] if "b#" in d]
        assert not offenders, offenders
        assert len(shape["exchanges"]) <= 3, shape["exchanges"]


def test_connected_components_round_shape_ratchet(spark, monkeypatch):
    """connected_components has NO static corpus frame — both stars
    REWRITE the edge set every round, so the per-round corpus
    exchange is the round-output re-layout itself and there is
    nothing for a partition-preserving materialize to preserve (the
    round-9 audit conclusion).  What CAN regress silently is the
    number of distinct shuffles one round plans: the inner star's
    subtree is referenced four times by the outer star (adj union x
    m/nbrs), which canonicalizes to ReusedExchange at runtime — a
    refactor that breaks that canonical equality would multiply real
    shuffle work.  Ratchet the static round shape at its measured
    size.  The round is read from the eager cut each round hands to
    ``materialize`` (the node and edge cuts before it are lazy)."""
    from pyspark.sql import functions as F
    from sparkplans.operators import dedup
    from tests.cuts import record_cuts

    pairs = spark.range(0, 3_000).select(
        (F.col("id") % 400).alias("id_a"), ((F.col("id") * 13) % 390).alias("id_b")
    )
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cuts = record_cuts(monkeypatch, dedup)
        dedup.connected_components(pairs).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
    rounds = [c for c in cuts if not c["lazy"]]
    assert rounds, cuts
    shape = rounds[0]
    # measured 22 static exchanges / 14 sorts on Spark 4.1.2 (inner
    # star referenced 4x; runtime collapses the copies via
    # ReusedExchange) — lowering is an optimization, raising must be
    # argued in the diff
    assert len(shape["exchanges"]) <= 22, len(shape["exchanges"])
    assert len(shape["sorts"]) <= 14, len(shape["sorts"])
