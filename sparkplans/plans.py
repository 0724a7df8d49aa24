"""Plan inspection surface.

The reference treats plans as first-class inspectable artifacts
(``docs/3_cli_query_plans.md``): EXPLAIN tree/indent forms, EXPLAIN
ANALYZE with runtime metrics, EXPLAIN VERBOSE with per-rule traces,
and golden *plan-property* assertions in tests
(``tests/setup_tables.rs:118-123``: no SortExec inserted;
``tests/opt_parallel_execution.rs:65-82``: no RepartitionExec, a
CollectLeft hash join).

Spark mapping: ``explain`` modes wrap ``df.explain``; ``analyze``
executes the plan and pulls SQLMetrics off ``executedPlan``; plan
properties are filters over one py4j walk of the physical plan tree.
Property assertions (``num_exchanges``, ``num_sorts``,
``join_strategies``) are version-drift-proof, unlike golden plan text.
In Spark, every Exchange is a process/node shuffle boundary — counting
them is the scale-relevant analog of the reference counting
RepartitionExec (SURVEY §4.3).
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


# -- plan text --------------------------------------------------------------


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    """Render a plan like the reference's EXPLAIN variants.

    mode: 'tree' (physical, formatted), 'indent' (logical+physical),
    'simple', 'cost', 'codegen', 'executed' (post-AQE final plan).
    """
    if mode == "executed":
        return physical_plan_str(df)
    spark_mode = {"tree": "formatted", "indent": "extended"}.get(mode, mode)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=spark_mode)
    return buf.getvalue()


def physical_plan_str(df: DataFrame) -> str:
    """Current physical plan string.  Under AQE this is the adaptive
    plan — initial shape before any action; after one it prints the
    re-planned final plan AND the initial plan, so never count nodes
    in it (the counters below walk the plan instead)."""
    return df._jdf.queryExecution().executedPlan().toString()


def normalize_plan(text: str) -> str:
    """Strip ids, paths and pointer-ish tokens so plan text is stable
    across runs/versions (counterpart of the reference's insta filters,
    ``tests/test_utils.rs:5-15``)."""
    text = re.sub(r"#\d+[A-Z]*", "#N", text)
    text = re.sub(r"\[id=#?\d+\]", "[id=N]", text)
    text = re.sub(r"file:[^\s,\]]+", "file:PATH", text)
    text = re.sub(r"\(\d+\)", "(N)", text)
    return text


# -- plan properties --------------------------------------------------------


# Every concrete Python exec node of Spark 4.1 (sql/execution/python):
# scalar UDFs and UDTFs, grouped/window aggregate UDFs, map/group/
# cogroup functions over pandas or Arrow batches, and stateful groups.
_PYTHON_EXECS = {
    "BatchEvalPythonExec", "BatchEvalPythonUDTFExec",
    "ArrowEvalPythonExec", "ArrowEvalPythonUDTFExec",
    "ArrowAggregatePythonExec", "ArrowWindowPythonExec",
    "MapInPandasExec", "MapInArrowExec",
    "FlatMapGroupsInPandasExec", "FlatMapGroupsInArrowExec",
    "FlatMapCoGroupsInPandasExec", "FlatMapCoGroupsInArrowExec",
    "FlatMapGroupsInPandasWithStateExec", "TransformWithStateInPySparkExec",
}

# join_strategies lists them in this order, "Exec" dropped
_JOIN_EXECS = (
    "BroadcastHashJoinExec", "SortMergeJoinExec", "ShuffledHashJoinExec",
    "BroadcastNestedLoopJoinExec", "CartesianProductExec",
)


def _each(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _walk(df: DataFrame) -> list[tuple[str, object, bool]]:
    """``(class name, node, cached)`` for every physical node of the
    frame's plan, pre-order from the root; every counter below filters
    one such walk.  It reads the static plan, so it gives the same
    answer before and after the frame has run:

    * ``AdaptiveSparkPlanExec`` resolves to its ``initialPlan``
      (post-EnsureRequirements, pre-runtime-replan — the shape a
      ratchet should pin; runtime AQE only ever REMOVES work from it),
      a ``*QueryStageExec`` to its ``plan``;
    * below the ``InMemoryTableScanExec`` leaf the walk goes on into
      the cached build plan with ``cached=True``: that work ran once,
      when the cache filled, not in this query;
    * plans nested in EXPRESSIONS (scalar and IN subqueries, DPP filter
      plans) are not ``children()``; each distinct one is visited once.
    """
    out: list = []
    subqueries: list = []

    def tree(root, cached: bool) -> None:
        # a tree's own nodes first, then each subquery it met, in order
        # (EXPLAIN FORMATTED's order)
        found = []
        stack = [(root, cached)]
        while stack:
            node, cached = stack.pop()
            name = node.getClass().getSimpleName()
            out.append((name, node, cached))
            if name == "AdaptiveSparkPlanExec":
                stack.append((node.initialPlan(), cached))
                continue
            if name.endswith("QueryStageExec"):
                stack.append((node.plan(), cached))
                continue
            for sub in _each(node.subqueries()):
                if not any(sub.sameResult(seen) for seen in subqueries):
                    subqueries.append(sub)
                    found.append((sub, cached))
            nested = [(child, cached) for child in _each(node.children())]
            if name == "InMemoryTableScanExec":
                nested.append((node.relation().cachedPlan(), True))
            stack.extend(reversed(nested))
        for sub, sub_cached in found:
            tree(sub, sub_cached)

    tree(df._jdf.queryExecution().executedPlan(), False)
    return out


def _names(df: DataFrame) -> list[str]:
    return [name for name, _, _ in _walk(df)]


def _exchange_counts(walk: list) -> tuple[int, int]:
    """(distinct shuffle exchanges, reused exchanges), cached build
    plans left out.  An exchange that ``sameResult``s an earlier one —
    the equality Spark's ReuseExchange uses — is a reuse; a
    non-adaptive plan already carries those as ``ReusedExchangeExec``."""
    distinct: list = []
    shuffles = reused = 0
    for name, node, cached in walk:
        if cached:
            continue
        if name == "ReusedExchangeExec":
            reused += 1
        elif name in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            if any(n == name and node.sameResult(d) for n, d in distinct):
                reused += 1
            else:
                distinct.append((name, node))
                shuffles += name == "ShuffleExchangeExec"
    return shuffles, reused


def num_exchanges(df: DataFrame) -> int:
    """Count the shuffle boundaries the query would EXECUTE (the
    scale-critical metric; the reference's RepartitionExec analog).
    Broadcast exchanges are not counted — they are the *cheap*
    alternative we want — and neither are a cached build plan's.

    Canonically-identical exchanges count ONCE: Spark's ReuseExchange
    (``spark.sql.exchange.reuse``, on by default and never disabled by
    this engine) runs one shuffle per canonically-equal subtree and
    feeds every consumer from it — verified on copurchase_rules, whose
    final AQE plan carries 4 ReusedExchange nodes over one basket
    repartition.  Counting every exchange node would charge a shared
    exchange once per consumer, penalizing exactly the
    share-one-exchange-across-branches design the reference's
    never-repartition rule asks for."""
    return _exchange_counts(_walk(df))[0]


def num_reused_exchanges(df: DataFrame) -> int:
    """Count the shuffle and broadcast exchanges that repeat an
    earlier one — lineage that appears twice in the plan (self-joins,
    diamonds) and that Catalyst's exchange reuse runs once.  The copies
    of a repeated subtree's inner exchanges count too: each is a
    shuffle not run.  The pair ``(num_exchanges,
    num_reused_exchanges)`` is the full shuffle story.  Static: AQE
    applies reuse when query stages materialize, but which exchanges
    it merges is known from the plan before that."""
    return _exchange_counts(_walk(df))[1]


def num_broadcasts(df: DataFrame) -> int:
    return _names(df).count("BroadcastExchangeExec")


def num_sorts(df: DataFrame) -> int:
    return _names(df).count("SortExec")


def num_python_stages(df: DataFrame) -> int:
    """Count plan nodes that leave the JVM (row-at-a-time or
    Arrow-batched Python), cached build plans included.  0 for every
    registered query not declared ``python=True`` — the global gate in
    tests/test_plan_properties.py."""
    return sum(name in _PYTHON_EXECS for name in _names(df))


def _join_strategies(names: list[str]) -> list[str]:
    return [j.removesuffix("Exec") for j in _JOIN_EXECS for n in names if n == j]


def join_strategies(df: DataFrame) -> list[str]:
    return _join_strategies(_names(df))


def live_plan_nodes(df: DataFrame) -> list[tuple[str, str]]:
    """(class_name, one_line_desc) for every physical operator this
    query EXECUTES: the walk without cached build plans (the
    ``InMemoryTableScanExec`` leaf itself is listed).  The tool for
    asserting that an iterative consumer of a partition-preserving
    ``materialize`` really pays no per-iteration Exchange/Sort (the
    reference's never-repartition-pre-partitioned-data rule,
    docs/7:100-160)."""
    return [(name, node.simpleString(100)) for name, node, cached in _walk(df) if not cached]


def _scan_metadata(walk: list, key: str) -> list[str]:
    """``key``'s value in each file scan's metadata; empty lists are
    dropped, as EXPLAIN FORMATTED drops them."""
    values = [n.metadata().apply(key) for name, n, _ in walk if name == "FileSourceScanExec"]
    return [v for v in values if v not in ("", "[]")]


def _pushed_filters(walk: list) -> list[str]:
    return [v[1:-1] for v in _scan_metadata(walk, "PushedFilters")]  # strip [ ]


def scan_pushed_filters(df: DataFrame) -> list[str]:
    """The PushedFilters list of each file scan — evidence that
    predicates reached the parquet scan (reference 'partial_filters',
    docs/5:31-32)."""
    return _pushed_filters(_walk(df))


def scan_read_schema(df: DataFrame) -> list[str]:
    """ReadSchema of each file scan — evidence of column pruning
    (docs/4:113-140 projection pushdown)."""
    return _scan_metadata(_walk(df), "ReadSchema")


def audit(df: DataFrame) -> dict:
    """One-call structural cost summary of a plan — the quantities the
    engine treats as the performance contract (SCALE.md).  Cheap: one
    plan walk, no execution; the same answer before and after the
    frame has run."""
    walk = _walk(df)
    names = [name for name, _, _ in walk]
    exchanges, reused = _exchange_counts(walk)
    return {
        "exchanges": exchanges,
        "reused_exchanges": reused,
        "broadcasts": names.count("BroadcastExchangeExec"),
        "sorts": names.count("SortExec"),
        "python_stages": sum(name in _PYTHON_EXECS for name in names),
        "join_strategies": _join_strategies(names),
        "pushed_filters": _pushed_filters(walk),
    }


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Distinct whole-stage-codegen spans.  In simple plan text a
    codegen'd operator prints as ``*(n) Op``; the span count is the
    number of distinct n (formatted/executed trees also print
    ``WholeStageCodegen (n)`` nodes — counted the same way)."""
    def _ids(plan: str) -> set[str]:
        return set(re.findall(r"\*\((\d+)\)", plan)) | set(
            re.findall(r"WholeStageCodegen \((\d+)\)", plan)
        )

    ids = _ids(physical_plan_str(df))
    if not ids:
        # under AQE the pre-execution plan is an un-decorated
        # AdaptiveSparkPlan; after an action the final plan shows the
        # codegen stars — execute a cheap action and read that.
        df.collect()  # executes THIS df's QueryExecution (diagnostics cost)
        ids = _ids(physical_plan_str(df))
    return len(ids)


# -- EXPLAIN ANALYZE --------------------------------------------------------


def explain_analyze(df: DataFrame) -> str:
    """Execute the plan and render per-operator runtime metrics —
    the reference's ``EXPLAIN ANALYZE`` (docs/3:69-80): output_rows,
    elapsed times etc., pulled from Spark SQLMetrics."""
    df.collect()
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    lines: list[str] = []
    _walk_metrics(plan, 0, lines)
    return "\n".join(lines)


def _walk_metrics(jplan, depth: int, out: list[str]) -> None:
    name = jplan.nodeName()
    metrics = jplan.metrics()
    it = metrics.iterator()
    parts = []
    while it.hasNext():
        kv = it.next()
        metric = kv._2()
        parts.append(f"{kv._1()}={metric.value()}")
    out.append("  " * depth + f"{name} [{', '.join(sorted(parts))}]")
    # AQE wrappers hide their subtree from children(): descend through
    # the final re-planned tree / materialized stage plans explicitly.
    if name == "AdaptiveSparkPlan":
        _walk_metrics(jplan.finalPhysicalPlan(), depth + 1, out)
        return
    if name.endswith("QueryStage"):
        _walk_metrics(jplan.plan(), depth + 1, out)
        return
    children = jplan.children()
    cit = children.iterator()
    while cit.hasNext():
        _walk_metrics(cit.next(), depth + 1, out)


# -- EXPLAIN VERBOSE --------------------------------------------------------


def explain_verbose(df: DataFrame, per_rule: bool = False) -> str:
    """All four Catalyst stages (parsed/analyzed/optimized/physical);
    with ``per_rule=True``, appends the full PER-RULE transformation
    trace — every named Catalyst rule that changed the plan, with its
    before/after diff — the true analog of the reference's EXPLAIN
    VERBOSE rule dump (docs/3_cli_query_plans.md:96-172)."""
    base = plan_text(df, "extended")
    if not per_rule:
        return base
    return base + "\n\n== Per-Rule Plan Changes ==\n" + rule_trace(df)


def rule_trace(df: DataFrame) -> str:
    """Capture Catalyst's PlanChangeLogger output for this frame's
    full analysis->optimization->physical-planning pipeline.

    Mechanics: a log4j2 WriterAppender is attached to the
    PlanChangeLogger logger, ``spark.sql.planChangeLog.level`` routes
    the rule diffs through it, and the plan pipeline is re-run from
    the raw logical plan (a fresh Dataset — the cached queryExecution
    would skip the rules).  Appender, logger level, and conf are
    restored afterwards.  Driver-side metadata only; nothing
    executes."""
    spark = df.sparkSession
    jvm = spark.sparkContext._jvm
    writer = jvm.java.io.StringWriter()
    layout = (
        jvm.org.apache.logging.log4j.core.layout.PatternLayout.newBuilder()
        .withPattern("%m%n")
        .build()
    )
    appender = jvm.org.apache.logging.log4j.core.appender.WriterAppender.createAppender(
        layout, None, writer, f"planCapture-{id(df)}", False, True
    )
    appender.start()
    name = "org.apache.spark.sql.catalyst.rules.PlanChangeLogger"
    ctx = jvm.org.apache.logging.log4j.core.LoggerContext.getContext(False)
    logger = ctx.getLogger(name)
    old_level = logger.getLevel()
    configurator = jvm.org.apache.logging.log4j.core.config.Configurator
    try:
        old_conf = spark.conf.get("spark.sql.planChangeLog.level")
    except Exception:
        old_conf = None
    logger.addAppender(appender)
    configurator.setLevel(name, jvm.org.apache.logging.log4j.Level.ALL)
    spark.conf.set("spark.sql.planChangeLog.level", "info")
    try:
        fresh = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, df._jdf.queryExecution().logical()
        )
        fresh.queryExecution().executedPlan()
        return writer.toString()
    finally:
        logger.removeAppender(appender)
        appender.stop()
        configurator.setLevel(name, old_level)
        if old_conf is not None:
            spark.conf.set("spark.sql.planChangeLog.level", old_conf)
        else:
            spark.conf.unset("spark.sql.planChangeLog.level")


def partition_histogram(df: DataFrame) -> dict:
    """Runtime skew diagnostic: rows per partition of the final stage.

    The structural metrics above say *where* the shuffles are; this
    says whether their output is balanced — the quantity that decides
    straggler behaviour on a real cluster (one hot partition = one
    task running while 999 executors idle).  Executes the frame once;
    only per-partition counts come back to the driver (one long per
    partition, never data).

    Returns ``{"partitions", "rows", "max", "mean", "skew"}`` where
    ``skew`` = max/mean row count (1.0 = perfectly balanced;
    SCALE.md's rule of thumb flags > ~5 on a keyed shuffle as a
    salting/AQE-skew candidate).
    """
    counts = sorted(
        df.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
    )
    total = sum(counts)
    n = len(counts)
    mean = total / n if n else 0.0
    mx = counts[-1] if counts else 0
    return {
        "partitions": n,
        "rows": total,
        "max": mx,
        "mean": round(mean, 2),
        "skew": round(mx / mean, 3) if mean else 0.0,
    }
