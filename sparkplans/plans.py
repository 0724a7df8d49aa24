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
properties are regex counts over the executed/physical plan string.
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
        return executed_plan_str(df)
    spark_mode = {"tree": "formatted", "indent": "extended"}.get(mode, mode)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=spark_mode)
    return buf.getvalue()


def physical_plan_str(df: DataFrame) -> str:
    """Current physical plan string.  Under AQE this is the adaptive
    plan — initial shape before any action, re-planned final shape
    after one (same accessor as :func:`executed_plan_str`; both names
    kept because call sites read differently pre- vs post-action)."""
    return df._jdf.queryExecution().executedPlan().toString()


def executed_plan_str(df: DataFrame) -> str:
    """Final plan string; if the query already ran under AQE this shows
    the re-planned form."""
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


def _plan_for_matching(df: DataFrame) -> str:
    return physical_plan_str(df)


def num_exchanges(df: DataFrame) -> int:
    """Count the shuffle boundaries the query would EXECUTE (the
    scale-critical metric; the reference's RepartitionExec analog).
    Broadcast exchanges are not counted — they are the *cheap*
    alternative we want.

    Canonically-identical exchanges count ONCE: Spark's ReuseExchange
    (``spark.sql.exchange.reuse``, on by default and never disabled by
    this engine) runs one shuffle per canonically-equal subtree and
    feeds every consumer from it — verified on copurchase_rules, whose
    final AQE plan carries 4 ReusedExchange nodes over one basket
    repartition.  A plain regex count over the plan STRING charges a
    shared exchange once per consumer, penalizing exactly the
    share-one-exchange-across-branches design the reference's
    never-repartition rule asks for.  The dedup key is the
    canonicalized subtree — the same equality ReuseExchange uses — so
    two different shuffles never collapse."""
    try:
        nodes: list = []
        _walk_live(df._jdf.queryExecution().executedPlan(), nodes)
        distinct: list = []
        for name, jp in nodes:
            if name.startswith("ShuffleExchangeExec"):
                if not any(jp.sameResult(other) for other in distinct):
                    distinct.append(jp)
        return len(distinct)
    except Exception:
        # py4j walk unavailable (e.g. mocked plan) — regex fallback,
        # which may over-count shared exchanges
        plan = _plan_for_matching(df)
        return len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)", plan))


def num_broadcasts(df: DataFrame) -> int:
    return len(re.findall(r"BroadcastExchange", _plan_for_matching(df)))


def _walk_live(jplan, out: list) -> None:
    name = jplan.getClass().getSimpleName().removesuffix("$")
    out.append((name, jplan))
    # AQE wraps the real tree in leaf containers; descend explicitly.
    # initialPlan (post-EnsureRequirements, pre-runtime-replan) is the
    # static shape a ratchet should pin — runtime AQE only ever
    # REMOVES work (coalesce, reuse, skew-split) from it.
    if name.startswith("AdaptiveSparkPlanExec"):
        _walk_live(jplan.initialPlan(), out)
        return
    if name.endswith("QueryStageExec"):
        _walk_live(jplan.plan(), out)
        return
    # Plans nested in EXPRESSIONS (non-correlated scalar subqueries,
    # in-subqueries, DPP filter plans) are not in children() — without
    # this, a shuffle inside a subquery is invisible to the exchange
    # ratchet.
    try:
        sit = jplan.subqueries().iterator()
        while sit.hasNext():
            _walk_live(sit.next(), out)
    except Exception:
        pass
    it = jplan.children().iterator()
    while it.hasNext():
        _walk_live(it.next(), out)


def live_plan_nodes(df: DataFrame) -> list[tuple[str, str]]:
    """(class_name, one_line_desc) for every physical operator this
    query EXECUTES — a py4j tree walk from the plan root that, unlike
    the regex counters above, never sees cached subtrees:
    ``InMemoryTableScan`` is a physical LEAF (its cached build plan —
    which legitimately holds the one-time layout Exchange — is
    printed inline by ``toString`` but is not part of this query), so
    the walk stops there.  The tool for asserting that an iterative
    consumer of a partition-preserving ``materialize`` really pays no
    per-iteration Exchange/Sort (the reference's never-repartition-
    pre-partitioned-data rule, docs/7:100-160)."""
    nodes: list = []
    _walk_live(df._jdf.queryExecution().executedPlan(), nodes)
    out = []
    for name, jp in nodes:
        try:
            desc = str(jp.simpleString(100))
        except Exception:
            desc = name
        out.append((name, desc))
    return out


def live_exchanges(df: DataFrame) -> list[str]:
    """One-line descs of the shuffle exchanges this query executes,
    excluding cached subtrees and broadcasts (see
    :func:`live_plan_nodes`)."""
    return [
        d
        for n, d in live_plan_nodes(df)
        if n.startswith("ShuffleExchangeExec")
    ]


def live_sorts(df: DataFrame) -> list[str]:
    """One-line descs of the sorts this query executes, excluding
    cached subtrees (see :func:`live_plan_nodes`)."""
    return [d for n, d in live_plan_nodes(df) if n.startswith("SortExec")]


def num_sorts(df: DataFrame) -> int:
    plan = _plan_for_matching(df)
    return len(re.findall(r"^\s*[+\-:*\s]*Sort ", plan, flags=re.M)) + len(
        re.findall(r"SortExec", plan)
    )


def join_strategies(df: DataFrame) -> list[str]:
    plan = _plan_for_matching(df)
    out = []
    for name in (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        out.extend([name] * len(re.findall(name, plan)))
    return out


def scan_pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters lists from the formatted plan — evidence that
    predicates reached the parquet scan (reference 'partial_filters',
    docs/5:31-32)."""
    txt = plan_text(df, "formatted")
    return re.findall(r"PushedFilters: \[([^\]]*)\]", txt)


def scan_read_schema(df: DataFrame) -> list[str]:
    """ReadSchema of each scan — evidence of column pruning
    (docs/4:113-140 projection pushdown)."""
    txt = plan_text(df, "formatted")
    return re.findall(r"ReadSchema: (\S+)", txt)


def num_reused_exchanges(df: DataFrame) -> int:
    """Count ``ReusedExchange`` nodes — shuffles/broadcasts Catalyst
    deduplicated because an identical subtree appears elsewhere in the
    plan (self-joins, diamond lineage).  High reuse means the plan
    pays for shared lineage once; the pair ``(num_exchanges,
    num_reused_exchanges)`` is the full shuffle story.

    Under AQE, reuse is decided when query stages materialize, so the
    marker often appears only in the executed plan — count whichever
    rendering shows more (execute the df first for the runtime
    answer)."""
    pre = len(re.findall(r"ReusedExchange", _plan_for_matching(df)))
    try:
        post = len(re.findall(r"ReusedExchange", executed_plan_str(df)))
    except Exception:
        post = 0
    return max(pre, post)


# Every concrete Python exec node of Spark 4.1 (sql/execution/python):
# scalar UDFs and UDTFs, grouped/window aggregate UDFs, map/group/
# cogroup functions over pandas or Arrow batches, and stateful groups.
_PYTHON_NODES = re.compile(
    r"\b(?:BatchEvalPython|ArrowEvalPython)(?:UDTF)?\b"
    r"|\bArrow(?:Aggregate|Window)Python\b"
    r"|\b(?:MapIn|FlatMapGroupsIn|FlatMapCoGroupsIn)(?:Pandas|Arrow)\b"
    r"|\bFlatMapGroupsInPandasWithState\b"
    r"|\bTransformWithStateInPySpark\b"
)


def num_python_stages(df: DataFrame) -> int:
    """Count plan nodes that leave the JVM (row-at-a-time or
    Arrow-batched Python).  0 for every registered query not declared
    ``python=True`` — the global gate in tests/test_plan_properties.py."""
    return len(_PYTHON_NODES.findall(_plan_for_matching(df)))


def audit(df: DataFrame) -> dict:
    """One-call structural cost summary of a plan — the quantities the
    engine treats as the performance contract (SCALE.md).  Cheap: pure
    plan-text inspection, no execution."""
    return {
        "exchanges": num_exchanges(df),
        "reused_exchanges": num_reused_exchanges(df),
        "broadcasts": num_broadcasts(df),
        "sorts": num_sorts(df),
        "python_stages": num_python_stages(df),
        "join_strategies": join_strategies(df),
        "pushed_filters": scan_pushed_filters(df),
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
        ids = _ids(executed_plan_str(df))
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
