"""The engine's query library — one entry per operator family from
SURVEY.md §2, each with a DuckDB oracle.

Two kinds of entries:

- **shared-SQL**: one ANSI-SQL string valid in both Spark SQL and
  DuckDB; the Spark side runs it via ``spark.sql`` over registered
  views, the oracle runs it verbatim.  Declarative-first: Catalyst
  owns the physical strategy.
- **DataFrame-API**: queries that showcase engine features (broadcast
  / merge / shuffle-hash join strategies, ``date_bin`` windows, text
  and vector functions, dedup / similarity operators); the oracle SQL
  is written separately to produce identical columns.

Numeric discipline: floating sums/avgs accumulate in DECIMAL (exact,
order-independent) and cast back to double at the end, so Spark and
DuckDB produce BIT-IDENTICAL results regardless of summation order —
no round-half ties (a plain round(sum(..), 2) flipped on a .005
boundary at sf0.01).  Per-row scalar arithmetic and min/max are left
unrounded: same doubles, same IEEE ops, same order on both engines.
Dot products fold sequentially in the same order on both sides and
are rounded to 6dp as a belt-and-suspenders.

Decimal WIDTH within that discipline (round 9): operands of plain
sums use the narrowest precision the generator's value contract
allows WHEN p <= 8 unlocks Catalyst's DecimalAggregates rewrite —
``sum(decimal(8,2))`` executes as a LONG sum of unscaled values
inside whole-stage codegen (measured ~15% off TPC-H q1's wall)
instead of per-row BigDecimal adds.  Applied only where the 100 TB
sum stays orders of magnitude under the rewrite's 9.2e16 absolute
ceiling: l_quantity (<= 50/row => ~3e13 at a petabyte) and
l_discount (<= 0.10/row).  Money columns (l_extendedprice,
o_totalprice) KEEP DECIMAL(18,2): their 100 TB sums (~2e16) sit
within 2.5x of the narrow form's overflow cliff, so the safety
margin is not there.  Values are identical at any width — decimal
addition is exact and the final double cast sees the same number.

Scale notes per query are in the docstrings — the same plans run on a
real cluster: small dims broadcast, aggregations are partial+final,
filters/projections reach the parquet scan.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from sparkplans.functions import (
    cosine_similarity,
    date_bin,
    doc_fingerprint,
    dot,
    l2_norm,
    quality_score,
    token_count,
)
from sparkplans.sources import TABLES, load_table
from sparkplans.materialize import materialize, materialize_lazy


@dataclass
class QuerySpec:
    """One registered query and its whole plan contract, declared where
    the query is registered (tests/test_shuffle_budgets.py,
    tests/test_runtime_budgets.py and the no-Python gate in
    tests/test_plan_properties.py loop over ``REGISTRY`` and read it).

    ``exchanges`` is the ratcheted maximum of EXECUTED shuffle exchanges
    in the pre-AQE physical plan at sf0.001 (``plans.num_exchanges``:
    broadcasts excluded, canonically-identical exchanges counted once).
    ``jobs`` caps the scheduler jobs of one warm run, for the iterative
    queries whose job count (plan shape x iteration count, not data
    size) is the cost that matters.  ``python`` marks a query whose plan
    leaves the JVM by design; any other query with a Python stage fails
    the gate.  Each is a ratchet: lowering one is an optimization,
    raising one must be argued beside it."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, None => rows-only check
    exchanges: int
    jobs: int | None = None
    python: bool = False


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    *,
    exchanges: int,
    jobs: int | None = None,
    python: bool = False,
):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn, oracle, exchanges, jobs, python)
        return fn

    return deco


def _shared_sql(name: str, sql: str, *, exchanges: int) -> None:
    """Register a query whose Spark and DuckDB text are identical."""

    def fn(spark: SparkSession, sf_dir: str, _sql=sql) -> DataFrame:
        _register_needed_views(spark, sf_dir, _sql)
        return spark.sql(_sql)

    REGISTRY[name] = QuerySpec(fn, sql, exchanges)


def _register_needed_views(spark: SparkSession, sf_dir: str, sql: str) -> None:
    # Word-boundary match, not substring: "part" lives inside
    # "PARTITION BY" and "nation" inside "decontamination", so a
    # substring test over-registers views — harmless when every table
    # exists, but it loads footers nobody asked for and fails outright
    # on subset data dirs (generate_sf --tables; sessionize_batch at
    # sf30 tried to load part.parquet because of its window clause).
    import re as _re

    low = sql.lower()
    for t in TABLES:
        if _re.search(rf"\b{t}\b", low):
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


_ROWCOUNT_MAX_FOOTERS = 64


def _rowcount(sf_dir: str, name: str) -> int:
    """Table row count from parquet footer metadata — the statistic
    ANALYZE TABLE records and the CBO reads.  Zero Spark jobs, and
    BOUNDED driver work: at most ``_ROWCOUNT_MAX_FOOTERS`` footers are
    read; for a larger directory the count is extrapolated from the
    sampled rows-per-byte ratio times the total file size (a knob-
    sizing estimate, not an exact count — every use here sizes a
    cluster/bucket count where ±a few % is immaterial).  A sequential
    walk of ALL footers would be a slow driver loop at 800k files; a
    production deployment would read the count from table-format
    metadata (a lakehouse snapshot / Parquet _metadata summary)
    instead."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    path = _os.path.join(sf_dir, f"{name}.parquet")
    if _os.path.isdir(path):
        files = sorted(_glob.glob(_os.path.join(path, "*.parquet")))
        sample = files[:_ROWCOUNT_MAX_FOOTERS]
        rows = sum(_pq.ParquetFile(f).metadata.num_rows for f in sample)
        if len(files) > len(sample):
            sampled_bytes = sum(_os.path.getsize(f) for f in sample)
            total_bytes = sum(_os.path.getsize(f) for f in files)
            return int(rows * total_bytes / max(sampled_bytes, 1))
        return rows
    return _pq.ParquetFile(path).metadata.num_rows


def _t_cpu(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a table for a CPU-heavy per-row stage (shingling, hashing,
    vector math): fans a narrow small-file scan out to the session's
    parallelism (sources.fan_out — the reference's RoundRobinBatch
    analog, docs/5:18-44).  No-op once the input is already split
    across enough files, i.e. at real scale."""
    from sparkplans.sources import fan_out

    return fan_out(spark, load_table(spark, sf_dir, name))


# =====================================================================
# Scans / filters / projections / sorts / limits  (SURVEY §2.1-2.2, §2.6)
# =====================================================================


@register(
    "scan_order",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    exchanges=1,
)
def q_scan_order(spark, sf_dir):
    """Full scan + ORDER BY (docs/4 sort cases).  Tiny table; at scale
    a global sort = range exchange, unavoidable for a total order."""
    return _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).orderBy("n_nationkey")


@register(
    "filter_pushdown",
    "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem "
    "WHERE l_quantity > 45 AND l_returnflag = 'R'",
    exchanges=0,
)
def q_filter_pushdown(spark, sf_dir):
    """Predicate reaches the parquet scan (PushedFilters) — the
    reference's partial_filters (docs/5:31-38)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R")).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@register(
    "projection_pushdown",
    "SELECT o_orderkey, o_totalprice FROM orders",
    exchanges=0,
)
def q_projection_pushdown(spark, sf_dir):
    """Column pruning: ReadSchema shows only two columns
    (docs/4:113-140)."""
    return _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")


@register(
    "topk",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    exchanges=0,
)
def q_topk(spark, sf_dir):
    """ORDER BY + LIMIT fuses into TakeOrderedAndProject — no global
    sort, each partition keeps k then merges (free in Spark; SURVEY
    §2.6)."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


# =====================================================================
# Aggregations  (SURVEY §2.4)
# =====================================================================


@register(
    "agg_count_star",
    "SELECT o_orderstatus, count(*) AS cnt FROM orders GROUP BY o_orderstatus",
    exchanges=1,
)
def q_agg_count_star(spark, sf_dir):
    """Single group-by count (docs/7:4-12); partial+final two-phase
    automatically."""
    return _t(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt")
    )


_shared_sql(
    "pricing_summary",
    # TPC-H Q1 shape: the classic two-phase aggregation workout
    # (docs/7:67-97 multi-step aggregate).
    """
    SELECT l_returnflag,
           l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE)          AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)     AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) * CAST(1 + l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) / count(*)      AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) / count(*)      AS avg_disc,
           count(*)                                                       AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    exchanges=2,
)

_shared_sql(
    "distinct_agg",
    "SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts, "
    "count(DISTINCT l_suppkey) AS distinct_supps FROM lineitem GROUP BY l_returnflag",
    exchanges=2,
)

_shared_sql(
    "rollup_agg",
    "SELECT l_returnflag, l_linestatus, count(*) AS cnt, "
    "CAST(sum(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS sum_qty "
    "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)",
    exchanges=1,
)

_shared_sql(
    "cube_agg",
    "SELECT o_orderstatus, o_orderpriority, count(*) AS cnt, "
    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price "
    "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)",
    exchanges=1,
)

_shared_sql(
    "grouping_sets_agg",
    "SELECT o_orderstatus, o_orderpriority, count(*) AS cnt "
    "FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())",
    exchanges=1,
)

_shared_sql(
    "case_when_agg",
    "SELECT l_linestatus, "
    "CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(8,2)) ELSE CAST(0 AS DECIMAL(8,2)) END) AS DOUBLE) AS returned_qty, "
    "CAST(sum(CASE WHEN l_discount > 0.05 THEN CAST(l_extendedprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS discounted_price, "
    "count(*) FILTER (WHERE l_tax > 0.04) AS high_tax_rows "
    "FROM lineitem GROUP BY l_linestatus",
    exchanges=1,
)


# =====================================================================
# Joins  (SURVEY §2.3)
# =====================================================================


@register(
    "broadcast_join_agg",
    "SELECT s_name, count(*) AS cnt, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
    "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
    "GROUP BY s_name",
    exchanges=1,
)
def q_broadcast_join_agg(spark, sf_dir):
    """Small dim broadcast — the reference's CollectLeft hash join
    (docs/8:120,188-196).  At 100 TB the fact side never shuffles for
    the join; only the final agg exchanges on s_name."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )


@register(
    "merge_join",
    "SELECT o_orderkey, o_totalprice, l_linenumber, l_quantity "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
    "WHERE o_totalprice > 400000",
    exchanges=2,
)
def q_merge_join(spark, sf_dir):
    """Sort-merge join via hint — the reference's 'More Advanced Join'
    future (docs/8:201).  The right strategy when both sides are large
    and neither fits a broadcast."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    li = _t(spark, sf_dir, "lineitem")
    return o.hint("merge").join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderkey", "o_totalprice", "l_linenumber", "l_quantity"
    )


@register(
    "shuffle_hash_join",
    "SELECT c_custkey, c_name, o_orderkey, o_totalprice "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "WHERE o_orderstatus = 'F'",
    exchanges=2,
)
def q_shuffle_hash_join(spark, sf_dir):
    """Partitioned hash join via hint — the reference's TODO
    'partitioned hash join' (docs/8:202): many hash tables over
    co-partitioned inputs, no sort."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.hint("shuffle_hash").join(o, c.c_custkey == o.o_custkey).select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


_shared_sql(
    "join_implicit_equi",
    # docs/8:59-89 mirror: implicit join + equality + timestamp
    # predicates; Catalyst extracts the equi-join like DataFusion's
    # extract_equijoin_predicate.
    """
    SELECT o_orderkey, o_orderdate, l_linenumber, l_shipdate, l_quantity
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND o_orderstatus = 'F'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate <> TIMESTAMP '1998-06-01 00:00:00'
    """,
    exchanges=0,
)

@register(
    "left_join_agg",
    "SELECT c_custkey, count(o_orderkey) AS n_orders, "
    "CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent "
    "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
    "GROUP BY c_custkey",
    exchanges=1,
)
def q_left_join_agg(spark, sf_dir):
    """Left outer join keeping customers without orders (inheritance
    scope — the reference never exercises outer joins, SURVEY §2.3)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), F.lit(0)).cast("double").alias("total_spent"),
        )
    )


# A full outer join cannot broadcast; the hint builds the 25-row
# nation side instead of sorting both inputs (DuckDB reads it as a
# comment).
_shared_sql(
    "full_outer_join",
    "SELECT /*+ SHUFFLE_HASH(nation) */ n_nationkey, n_name, s_suppkey, s_name "
    "FROM nation FULL OUTER JOIN supplier ON n_nationkey = s_nationkey",
    exchanges=2,
)

@register(
    "semi_join",
    "SELECT c_custkey, c_name FROM customer c WHERE EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)",
    exchanges=0,
)
def q_semi_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "anti_join",
    # every customer has SOME order in this data, so the anti-join is
    # against urgent orders only — non-empty and non-universal at
    # every sf (checked: 18/150 at sf0.001, 203/1500 at sf0.01)
    "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
    "AND o.o_orderpriority = '1-URGENT')",
    exchanges=0,
)
def q_anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


_shared_sql(
    "cross_join_small",
    "SELECT r_name, n_name FROM region CROSS JOIN nation WHERE n_regionkey = 0",
    exchanges=0,
)


# =====================================================================
# Set operations  (SURVEY §2.7)
# =====================================================================

_shared_sql(
    "union_distinct",
    "SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000 "
    "UNION SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000",
    exchanges=1,
)

_shared_sql(
    "union_all",
    "SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9000 "
    "UNION ALL SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000",
    exchanges=0,
)

_shared_sql(
    "intersect_op",
    "SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000 "
    "INTERSECT SELECT o_custkey AS k FROM orders WHERE o_totalprice > 200000",
    exchanges=1,
)

_shared_sql(
    "except_op",
    "SELECT c_custkey AS k FROM customer "
    "EXCEPT SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'",
    exchanges=1,
)


# =====================================================================
# Window functions  (SURVEY §2.5 — inheritance scope)
# =====================================================================


@register(
    "window_rank",
    "SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice, "
    "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
    "FROM orders) t WHERE rn <= 3",
    exchanges=1,
)
def q_window_rank(spark, sf_dir):
    """Top-3 orders per customer via row_number — one hash exchange on
    the partition key, sort within partitions only."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_lag",
    "SELECT user_id, ts, value, "
    "value - lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS delta "
    "FROM events",
    exchanges=1,
)
def q_window_lag(spark, sf_dir):
    """Per-user time-series delta via lag — the bread-and-butter
    sessionization primitive."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    return e.select(
        "user_id", "ts", "value", (F.col("value") - F.lag("value").over(w)).alias("delta")
    )


# =====================================================================
# date_bin / time-series  (the reference's flagship, §2.8)
# =====================================================================


@register(
    "flagship_datebin",
    # The reference's flagship query shape (tests/opt_parallel_execution.rs:33-41)
    # mapped onto the driver tables: dim=customer (broadcast), fact=events,
    # date_bin(30s) + group + max.
    "SELECT e.user_id, time_bucket(INTERVAL '30 seconds', e.ts) AS time_bin, "
    "c.c_mktsegment, max(e.value) AS max_bin_val "
    "FROM events e JOIN customer c ON e.user_id = c.c_custkey "
    "WHERE c.c_mktsegment = 'BUILDING' "
    "GROUP BY e.user_id, time_bin, c.c_mktsegment",
    exchanges=1,
)
def q_flagship_datebin(spark, sf_dir):
    """dim ⋈ fact + date_bin + grouped max: broadcast the dim, bucket
    timestamps JVM-side, two-phase agg.  Identical plan shape scales to
    100 TB: no fact-side shuffle before the aggregation."""
    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .select("user_id", date_bin("ts", "30 seconds").alias("time_bin"), "c_mktsegment", "value")
        .groupBy("user_id", "time_bin", "c_mktsegment")
        .agg(F.max("value").alias("max_bin_val"))
    )


@register(
    "datebin_5min_counts",
    "SELECT time_bucket(INTERVAL '5 minutes', ts) AS bin, event_type, "
    "count(*) AS cnt, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value "
    "FROM events GROUP BY bin, event_type",
    exchanges=1,
)
def q_datebin_5min(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.select(date_bin("ts", "5 minutes").alias("bin"), "event_type", "value")
        .groupBy("bin", "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


@register(
    "sliding_window_counts",
    """
    SELECT make_timestamp(CAST(((floor(epoch(ts) / 300) - o.off) * 300) * 1000000 AS BIGINT)) AS win_start,
           event_type, count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events, (SELECT unnest([0, 1]) AS off) o
    GROUP BY win_start, event_type
    """,
    exchanges=1,
)
def q_sliding_window_counts(spark, sf_dir):
    """Sliding windows in batch: 10-minute windows every 5 minutes via
    ``F.window(ts, '10 minutes', '5 minutes')`` — each event lands in
    exactly window/slide = 2 panes.  Spark expands panes with a
    projection (no join), then ONE key shuffle of partial counts; at
    100 TB the 2× pane fan-out happens map-side inside codegen.  The
    oracle derives pane starts arithmetically: epoch-aligned
    floor(t/slide)*slide - off*slide, matching Spark's epoch-origin
    window assignment (same origin convention as date_bin, SURVEY
    §2.8)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


@register(
    "heavy_hitters_tokens",
    """
    SELECT tok, count(*) AS cnt
    FROM documents,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS u(tok)
    GROUP BY tok
    ORDER BY cnt DESC, tok
    LIMIT 20
    """,
    exchanges=2,
)
def q_heavy_hitters_tokens(spark, sf_dir):
    """Corpus-wide top-20 tokens: explode is pipelined (no shuffle),
    counts combine map-side, and the final top-k fuses to
    TakeOrderedAndProject — per-partition heaps, no global sort.  The
    classic vocabulary/stopword profile over a training corpus; at
    100 TB the only full-width transfer is one shuffle of partial
    (token, count) states."""
    d = _t_cpu(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "tok")
        .limit(20)
    )


_shared_sql(
    "exists_subquery",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000)
    """,
    exchanges=0,
)


_shared_sql(
    "not_exists_subquery",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
    exchanges=0,
)


@register(
    "approx_distinct_users",
    "SELECT event_type, count(DISTINCT user_id) AS exact_users, "
    "TRUE AS within_tol "
    "FROM events GROUP BY event_type",
    # tolerance-encoded oracle computes exact countDistinct beside the
    # sketch: Spark's distinct-agg expansion adds the second exchange
    exchanges=2,
)
def q_approx_distinct_users(spark, sf_dir):
    """HyperLogLog++ distinct-user counts per event type — the sketch
    path for cardinality at 100 TB (fixed-size state, one pass, no
    exact-distinct shuffle of the full key set).

    Driver contract (tolerance-encoded oracle, same recipe as
    approx_value_quantiles): the sketch value itself can't hash-match
    SQL, so the result carries the exact count plus ``within_tol`` —
    the <=5% sketch-vs-exact check computed in the SAME aggregation —
    and the oracle emits the expected all-true rows."""
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx") - F.col("exact_users"))
            <= F.greatest(0.05 * F.col("exact_users"), F.lit(2))
        ).alias("within_tol"),
    )


@register(
    "approx_value_quantiles",
    """
    SELECT t.event_type, CAST(q.q AS DOUBLE) AS q, TRUE AS within_tol
    FROM (SELECT DISTINCT event_type FROM events) t
    CROSS JOIN (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS q) q
    """,
    exchanges=1,
)
def q_approx_value_quantiles(spark, sf_dir):
    """Greenwald-Khanna quantile sketch over event values: mergeable
    per-partition state, so the plan is partial+final like any agg.

    Driver contract: the sketch output can't hash-match an exact
    oracle, so the *tolerance check itself* is the result — each
    (event_type, q) row carries ``within_tol``, true iff the sketch
    value is within 5% relative (1.0 absolute floor) of Spark's exact
    interpolated percentile computed in the same aggregation.  The
    DuckDB oracle emits the expected all-true grid, so row count,
    schema, and value hash are all exercised.  Scalar rows only — no
    array-typed output (the round-1 canonicalizer failure)."""
    qs = [0.25, 0.5, 0.75, 0.95]
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.percentile_approx("value", qs, 10000).alias("approx"),
        F.expr(
            "percentile(value, array({}))".format(",".join(map(str, qs)))
        ).alias("exact"),
    )
    qarr = F.array(*[F.lit(q) for q in qs])
    return agg.select(
        "event_type",
        F.posexplode(F.arrays_zip("approx", "exact")).alias("pos", "pair"),
    ).select(
        "event_type",
        F.element_at(qarr, F.col("pos") + 1).alias("q"),
        (
            F.abs(F.col("pair.approx") - F.col("pair.exact"))
            <= 0.05 * F.greatest(F.abs(F.col("pair.exact")), F.lit(1.0))
        ).alias("within_tol"),
    )


@register(
    "hypertable_rollup_1h",
    "SELECT time_bucket(INTERVAL '1 hour', ts) AS bin, event_type, "
    "count(*) AS cnt, "
    "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value, "
    "min(value) AS min_value, max(value) AS max_value, "
    "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_value "
    "FROM events GROUP BY bin, event_type",
    exchanges=2,
)
def q_hypertable_rollup(spark, sf_dir):
    """Hypertable rollup cascade (operators/rollup): the 1-hour level
    is re-aggregated from the 5-minute level, never from raw — the
    oracle aggregates raw directly, so a hash match proves the cascade
    exact.  Scale: raw scanned once; coarser levels shuffle
    geometrically less."""
    from sparkplans.operators.rollup import finalize, timeseries_rollup

    e = _t(spark, sf_dir, "events")
    levels = timeseries_rollup(
        e, ["5 minutes", "1 hour"], ts_col="ts", value_col="value",
        keys=["event_type"],
    )
    return finalize(levels["1 hour"])


# =====================================================================
# Scalar function surface  (SURVEY §2.8 inheritance)
# =====================================================================

_shared_sql(
    "string_funcs",
    "SELECT c_custkey, upper(c_name) AS uname, substr(c_name, 1, 8) AS prefix, "
    "length(c_name) AS name_len, concat(c_mktsegment, ':', c_name) AS tagged "
    "FROM customer",
    exchanges=0,
)

_shared_sql(
    "math_funcs",
    "SELECT l_orderkey, l_linenumber, "
    "l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge, "
    "abs(l_discount - 0.05) AS disc_dev, "
    "CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil, "
    "CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_k "
    "FROM lineitem",
    exchanges=0,
)

_shared_sql(
    "date_funcs",
    "SELECT year(o_orderdate) AS y, month(o_orderdate) AS m, count(*) AS cnt, "
    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
    "FROM orders GROUP BY year(o_orderdate), month(o_orderdate)",
    exchanges=1,
)


# =====================================================================
# Multi-join analytical queries (TPC-H shapes)
# =====================================================================

_shared_sql(
    "tpch_q3_topk_revenue",
    """
    SELECT o_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    exchanges=1,
)

_shared_sql(
    "tpch_q5_local_supplier",
    """
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    exchanges=2,
)


@register(
    "multi_fact_join",
    """
    SELECT o_orderpriority, l_returnflag,
           count(*) AS n_items,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM lineitem, orders, customer
    WHERE l_orderkey = o_orderkey
      AND o_custkey = c_custkey
      AND c_mktsegment = 'BUILDING'
    GROUP BY o_orderpriority, l_returnflag
    """,
    # smart partitioned hash join: both big sides shuffle on orderkey,
    # then the group-by; the co-bucketed twin (test_bucketing) is 0
    exchanges=3,
)
def q_multi_fact_join(spark, sf_dir):
    """Multi-fact headline (reference docs/9_what_next.md:4-6: "more
    input files into the join", "smart partitioned hash join"): THREE
    input tables in one join tree, the two big ones joined with an
    explicit shuffle-hash (both sides hash-partitioned on l_orderkey =
    o_orderkey — the reference's smart partitioned hash join, no sort,
    no broadcast of a fact), the filtered customer side left to the
    optimizer (dimension-sized after the segment filter -> broadcast;
    AQE would pick the probe side on a cluster).  The co-located twin
    — all three inputs pre-bucketed on the join key, ZERO exchanges in
    the whole join tree — is pinned in
    tests/test_bucketing.py::test_three_table_cobucketed_join_no_shuffle;
    at 100 TB that is the layout you'd write once and join forever."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(18,2)")
    # The SHUFFLE_HASH hint marks the BUILD side: it must be orders
    # (the smaller fact), not lineitem — building the 60M-row side's
    # per-partition hash map exhausted the task memory slice at sf10
    # ("Can't acquire 128MB to build hash relation" across 32
    # concurrent builds).  Probe-the-bigger-side is also what AQE
    # picks on a cluster; SMJ remains the spill-safe fallback the
    # fact-broadcast guard test pins when hints are ignored.
    j = (
        li.join(o.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
    )
    return j.groupBy("o_orderpriority", "l_returnflag").agg(
        F.count("*").alias("n_items"),
        F.sum(rev).cast("double").alias("revenue"),
    )


# =====================================================================
# Training-data pipeline: dedup / text / similarity  (north star)
# =====================================================================


@register(
    "dedup_exact",
    "SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint, "
    "min(doc_id) AS keep_id, count(*) AS n_copies "
    "FROM documents GROUP BY fingerprint",
    exchanges=1,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on a normalized fingerprint, keep the
    lowest id.  At 100 TB this is one shuffle on a 128-bit key —
    optimal; near-dup variants live in sparkplans.operators.dedup."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", doc_fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


@register(
    "doc_fingerprints",
    "SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint "
    "FROM documents",
    exchanges=0,
)
def q_doc_fingerprints(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", doc_fingerprint("text").alias("fingerprint"))


@register(
    "text_stats",
    "SELECT lang, count(*) AS n_docs, "
    "round(avg(n_chars), 4) AS avg_chars, "
    "round(avg(len(regexp_split_to_array(trim(text), '\\s+'))), 4) AS avg_tokens "
    "FROM documents GROUP BY lang",
    exchanges=1,
)
def q_text_stats(spark, sf_dir):
    """Token counting + per-language profile, all JVM-side."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg(token_count("text")), 4).alias("avg_tokens"),
    )


@register(
    "bpe_token_counts",
    "SELECT doc_id, len(regexp_extract_all(text, "
    "'''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s'']+')) AS bpe_tokens "
    "FROM documents",
    exchanges=0,
)
def q_bpe_token_counts(spark, sf_dir):
    """BPE-ish pre-tokenizer counts per document (functions.text.
    bpe_token_count): regexp_count JVM-side, no Python in the path."""
    from sparkplans.functions.text import bpe_token_count

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", bpe_token_count("text").alias("bpe_tokens"))


@register(
    "ngram_distinct",
    "SELECT doc_id, len(list_distinct(list_transform("
    "range(1, greatest(len(text) - 2, 0) + 1), i -> substr(text, i, 3)))) AS n_distinct_trigrams "
    "FROM documents",
    exchanges=0,
)
def q_ngram_distinct(spark, sf_dir):
    """Distinct character-trigram count per document — the shingle
    stage of MinHash, JVM-side via transform/sequence."""
    d = _t(spark, sf_dir, "documents")
    # Guard: Spark's sequence(1, 0) yields a DESCENDING array (unlike
    # DuckDB's empty range), so short strings need an explicit branch.
    tri = F.when(
        F.length("text") >= 3,
        F.expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"),
    ).otherwise(F.array().cast("array<string>"))
    return d.select(
        "doc_id", F.size(F.array_distinct(tri)).alias("n_distinct_trigrams")
    )


@register(
    "embedding_norms",
    "SELECT vec_id, label, round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS norm "
    "FROM embeddings",
    exchanges=0,
)
def q_embedding_norms(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return e.select("vec_id", "label", F.round(l2_norm("embedding"), 6).alias("norm"))


@register(
    "knn_brute_force",
    """
    WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           round(list_dot_product(e.embedding::DOUBLE[], p.p::DOUBLE[]) /
                 (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(p.p::DOUBLE[], p.p::DOUBLE[]))), 6) AS cos_sim
    FROM embeddings e CROSS JOIN probe p
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    exchanges=0,
)
def q_knn_brute(spark, sf_dir):
    """Brute-force cosine top-k for one probe vector: broadcast the
    probe, score JVM-side, TakeOrderedAndProject keeps k per partition.
    The all-pairs / LSH-bucketed variants live in
    sparkplans.operators.similarity."""
    e = _t(spark, sf_dir, "embeddings")
    probe = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("p"))
    return (
        e.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probe))
        .select(
            "vec_id",
            "label",
            F.round(cosine_similarity("embedding", "p"), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


_QUALITY_ORACLE = """
SELECT doc_id, lang,
  round((
    least(len(text) / 500.0, 1.0)
    + (1.0 - least(len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}-]')) * 1.0 / greatest(len(text), 1) * 4.0, 1.0))
    + least(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        t -> list_contains(['the','a','of','and','to','in','is'], t))) * 1.0
        / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1) * 5.0, 1.0)
  ) / 3.0, 6) AS quality
FROM documents
"""


@register("quality_scores", _QUALITY_ORACLE, exchanges=1)
def q_quality_scores(spark, sf_dir):
    d = _t_cpu(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", quality_score("text").alias("quality"))


_shared_sql(
    "window_range_frame",
    """
    SELECT event_id, user_id,
           CAST(sum(CAST(value AS DECIMAL(18,6)))
                OVER (PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS rolling_10m
    FROM events
    """,
    exchanges=1,
)


@register(
    "percentile_exact",
    "SELECT event_type, "
    "round(quantile_cont(value, 0.5), 6) AS p50, "
    "round(quantile_cont(value, 0.9), 6) AS p90 "
    "FROM events GROUP BY event_type",
    exchanges=1,
)
def q_percentile_exact(spark, sf_dir):
    """Exact interpolated percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``: same linear interpolation on the same sorted
    doubles -> identical results)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
    )


@register(
    "array_agg_ops",
    "SELECT user_id, "
    "array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types, "
    "len(list(DISTINCT event_type)) AS n_types "
    "FROM events GROUP BY user_id",
    exchanges=1,
)
def q_array_agg_ops(spark, sf_dir):
    """Array aggregation surface: collect_set -> sorted array (DuckDB
    twin: list(DISTINCT) + list_sort).  The array is serialized with
    ``array_join`` so the result is scalar-typed — the driver's
    canonicalizer hashes row values and can't hash raw arrays."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
            "types"
        ),
        F.size(F.collect_set("event_type")).alias("n_types"),
    )


_shared_sql(
    "length_histogram",
    """
    SELECT CAST(floor(n_chars / 100) * 100 AS BIGINT) AS bucket_lo,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY bucket_lo
    """,
    exchanges=1,
)


@register(
    "session_window_agg",
    """
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM (
      SELECT user_id, ts,
             sum(CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL '30' MINUTE
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts) AS session_id
      FROM (SELECT user_id, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
            FROM events) t
    ) s
    GROUP BY user_id, session_id
    """,
    exchanges=1,
)
def q_session_window_agg(spark, sf_dir):
    """Native ``session_window`` sessionization — Spark's built-in
    gap-merge operator (one shuffle on user_id, sessions merged
    map-side).  The oracle is the classic lag/cumsum SQL formulation:
    identical sessions prove the built-in's gap semantics.  The
    applyInPandasWithState twin (streaming/sessionize) covers the
    custom-stateful path; this is the declarative one."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
        )
    )


_shared_sql(
    "window_distribution",
    """
    SELECT o_orderkey, o_orderstatus,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
    exchanges=1,
)


# Email-ish / US-phone-ish patterns; the lookahead-free subset so
# Java regex (Spark) and RE2 (DuckDB) agree byte-for-byte.
PII_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+|[0-9]{3}-[0-9]{3}-[0-9]{4}"


@register(
    "pii_redaction_stats",
    "SELECT lang, count(*) AS n_docs, "
    "CAST(sum(CASE WHEN regexp_matches(text, "
    f"'{PII_PATTERN}') THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii, "
    "CAST(sum(len(text) - len(regexp_replace(text, "
    f"'{PII_PATTERN}', '[PII]', 'g'))) AS BIGINT) AS chars_delta "
    "FROM documents GROUP BY lang",
    exchanges=1,
)
def q_pii_redaction_stats(spark, sf_dir):
    """PII scrubbing stage: per-language counts of documents with
    email/phone-shaped spans and the character delta after redaction —
    pure regexp projections, one shuffle on lang.  The redaction
    itself is ``regexp_replace(text, PII_PATTERN, '[PII]')``."""
    d = _t(spark, sf_dir, "documents")
    has_pii = F.when(F.col("text").rlike(PII_PATTERN), 1).otherwise(0)
    delta = F.length("text") - F.length(
        F.regexp_replace("text", PII_PATTERN, "[PII]")
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(has_pii).cast("bigint").alias("docs_with_pii"),
        F.sum(delta).cast("bigint").alias("chars_delta"),
    )


@register(
    "k_anonymity_audit",
    """
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS grp_n
      FROM customer GROUP BY c_nationkey, c_mktsegment
    ),
    tot AS (SELECT count(*) AS n FROM customer)
    SELECT c_nationkey, c_mktsegment, grp_n,
           CAST(grp_n < 5 AS INT) AS below_k,
           round(CAST(grp_n AS DOUBLE) / n, 6) AS pop_share
    FROM qi CROSS JOIN tot
    """,
    # quasi-identifier groupBy + 1-row total agg (broadcast back)
    exchanges=2,
)
def q_k_anonymity_audit(spark, sf_dir):
    """k-anonymity audit over quasi-identifiers — the privacy
    complement of the PII redaction stage: any (nationkey, mktsegment)
    equivalence class with fewer than k=5 members re-identifies its
    members and must be suppressed or generalized before release
    (Sweeney 2002).  Emits every class with its size, the below-k
    flag a suppression pass consumes, and its population share.

    Scale: ONE two-phase groupBy on the quasi-identifier tuple — the
    audit costs the same as any aggregate; the 1-row total broadcasts
    back.  Exact oracle."""
    c = _t(spark, sf_dir, "customer")
    qi = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("grp_n")
    )
    tot = c.agg(F.count("*").alias("n"))
    return qi.crossJoin(F.broadcast(tot)).select(
        "c_nationkey",
        "c_mktsegment",
        "grp_n",
        (F.col("grp_n") < 5).cast("int").alias("below_k"),
        F.round(F.col("grp_n").cast("double") / F.col("n"), 6).alias(
            "pop_share"
        ),
    )


@register(
    "train_test_split",
    "SELECT lang, CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT "
    "% 100 < 90 THEN 'train' ELSE 'test' END AS split, count(*) AS n_docs "
    "FROM documents GROUP BY lang, split",
    exchanges=1,
)
def q_train_test_split(spark, sf_dir):
    """Reproducible train/test split: assignment = md5(id) mod 100 —
    stable across runs, engines, and re-partitioning (never
    rand()-based, which reshuffles membership every execution).  The
    split is a pure projection: zero extra shuffles at any scale."""
    d = _t(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast("bigint")
    split = F.when(h % 100 < 90, F.lit("train")).otherwise(F.lit("test"))
    return d.select("lang", split.alias("split")).groupBy("lang", "split").agg(
        F.count("*").alias("n_docs")
    )


@register(
    "argmax_struct",
    "SELECT o_custkey, o_totalprice AS best_price, o_orderkey AS best_order "
    "FROM orders QUALIFY row_number() OVER (PARTITION BY o_custkey "
    "ORDER BY o_totalprice DESC, o_orderkey DESC) = 1",
    exchanges=1,
)
def q_argmax_struct(spark, sf_dir):
    """Arg-max via struct ordering: max(struct(price, key)) compares
    lexicographically, so one hash aggregate replaces a window sort —
    at scale this is a partial+final agg instead of a per-group sort.
    Oracle states the same semantics as a QUALIFY window."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.max(F.struct("o_totalprice", "o_orderkey")).alias("m"))
        .select(
            "o_custkey",
            F.col("m.o_totalprice").alias("best_price"),
            F.col("m.o_orderkey").alias("best_order"),
        )
    )


_TREND_ORACLE = """
WITH s AS (
  SELECT user_id, count(*) AS n,
    CAST(sum(CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DECIMAL(19,0))) AS DOUBLE) AS sx,
    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sy,
    CAST(sum(CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DECIMAL(19,0))
             * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
    CAST(sum(CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DECIMAL(19,0))
             * CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DECIMAL(19,0))) AS DOUBLE) AS sxx
  FROM events GROUP BY user_id
)
SELECT user_id, n,
  round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0), 9) + 0.0 AS slope
FROM s
"""


@register("user_value_trend", _TREND_ORACLE, exchanges=1)
def q_user_value_trend(spark, sf_dir):
    """Per-user least-squares slope of value over time — closed form
    from exact DECIMAL moment sums (deterministic across engines; the
    final double arithmetic is the same IEEE ops on identical inputs).
    The applyInPandas grouped-map twin is cross-checked in
    tests/test_operators.py — same numbers, different engine path.

    The ``+ 0.0`` after round (both engines) canonicalizes signed
    zero: a numerator like -1e-13 rounds to +0.0 through Spark's
    BigDecimal HALF_UP but to IEEE -0.0 through DuckDB's round —
    observed as a 1-row hash mismatch at sf3.  x + 0.0 is exact for
    every other double, and -0.0 + 0.0 = +0.0 is IEEE-mandated."""
    e = _t(spark, sf_dir, "events")
    # NTZ has no direct long cast; via TIMESTAMP under the UTC session
    # this equals DuckDB's floor(epoch(ts)) on the same wall-clock
    x = F.col("ts").cast("timestamp").cast("long").cast("decimal(19,0)")
    v = F.col("value").cast("decimal(18,6)")
    s = e.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(v).cast("double").alias("sy"),
        F.sum(x * v).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    return s.select(
        "user_id", "n", (F.round(slope, 9) + F.lit(0.0)).alias("slope")
    )


_CURATION_ORACLE = """
WITH fp AS (
  SELECT *, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents
),
keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fingerprint),
curated AS (SELECT f.* FROM fp f WHERE f.doc_id IN (SELECT doc_id FROM keep)),
scored AS (
  SELECT lang, text,
    round((
      least(len(text) / 500.0, 1.0)
      + (1.0 - least(len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}-]')) * 1.0 / greatest(len(text), 1) * 4.0, 1.0))
      + least(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
          t -> list_contains(['the','a','of','and','to','in','is'], t))) * 1.0
          / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1) * 5.0, 1.0)
    ) / 3.0, 6) AS quality
  FROM curated
)
SELECT lang,
  count(*) AS n_docs,
  CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS total_ws_tokens,
  CAST(sum(len(regexp_extract_all(text,
    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s'']+'))) AS BIGINT) AS total_bpe_tokens,
  CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) AS sum_quality
FROM scored
WHERE quality >= 0.5
GROUP BY lang
"""


@register("curation_pipeline", _CURATION_ORACLE, exchanges=2)
def q_curation_pipeline(spark, sf_dir):
    """End-to-end training-data curation: exact dedup (fingerprint
    groupBy, lowest id wins) -> quality gate -> per-language token
    budget.  One pass over documents, two key-only shuffles
    (fingerprint, lang); every stage JVM-side; the whole composite is
    hash-matched against DuckDB."""
    from sparkplans.functions.text import bpe_token_count

    d = _t(spark, sf_dir, "documents")
    fp = d.withColumn("fingerprint", doc_fingerprint("text"))
    keep = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    curated = fp.join(keep, "doc_id", "left_semi")
    scored = curated.withColumn("quality", quality_score("text")).filter(
        F.col("quality") >= 0.5
    )
    return scored.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).alias("total_ws_tokens"),
        F.sum(bpe_token_count("text")).alias("total_bpe_tokens"),
        F.sum(F.col("quality").cast("decimal(18,6)")).cast("double").alias("sum_quality"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle}


# =====================================================================
# Pipeline operators as queries: MinHash / SimHash / LSH / as-of /
# sessionization  (sparkplans.operators, SURVEY §7 phase F)
# =====================================================================

_MINHASH_ORACLE = """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      FROM toks, unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)
    ), h AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS hv
      FROM sh
    )
    SELECT doc_id, p.perm,
           min((hv * (p.perm * 2 + 1) + (p.perm * 997 + 31)) % 2147483647) AS minhash
    FROM h, (SELECT unnest(range(0, 8)) AS perm) p
    GROUP BY doc_id, p.perm
"""


@register("minhash_signatures", _MINHASH_ORACLE, exchanges=2)
def q_minhash_signatures(spark, sf_dir):
    """MinHash signature stage (8 perms, word-trigram shingles):
    explode -> one shuffle on (doc, perm).  Cross-engine-deterministic
    md5-affine hashing, exact oracle."""
    from sparkplans.operators import dedup

    d = _t_cpu(spark, sf_dir, "documents")
    return dedup.minhash_signatures(d, num_perm=8)


_LSH_PAIR_CTES = """
    toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      FROM toks, unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)
    ), h AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS hv
      FROM sh
    ), sig AS (
      SELECT doc_id, p.perm,
             min((hv * (p.perm * 2 + 1) + (p.perm * 997 + 31)) % 2147483647) AS minhash
      FROM h, (SELECT unnest(range(0, 8)) AS perm) p
      GROUP BY doc_id, p.perm
    ), bands AS (
      SELECT doc_id, perm // 2 AS band,
             md5(array_to_string(list_sort(list(perm || ':' || minhash)), ',')) AS band_hash
      FROM sig GROUP BY doc_id, perm // 2
    ), cand_pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    )
"""

_LSH_ORACLE = f"""
    WITH {_LSH_PAIR_CTES}
    SELECT id_a, id_b FROM cand_pairs
"""


@register("lsh_candidates", _LSH_ORACLE, exchanges=4)
def q_lsh_candidates(spark, sf_dir):
    """LSH banding stage (8 perms, 4 bands of 2): wide-signature path
    — banding is a projection, the bucket self-join shuffles only
    band-hash keys, never all-pairs."""
    from sparkplans.operators import dedup

    d = _t_cpu(spark, sf_dir, "documents")
    wide = dedup.minhash_wide(d, num_perm=8)
    return dedup.lsh_candidate_pairs_wide(wide, num_perm=8, bands=4)


_SIMHASH_ORACLE = """
    WITH toks AS (
      SELECT DISTINCT doc_id, tok
      FROM documents,
           unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS u(tok)
    ), h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks
    ), bit_sums AS (
      SELECT doc_id, b.bit,
             sum(CASE WHEN (hv >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h, (SELECT unnest(range(0, 32)) AS bit) b
      GROUP BY doc_id, b.bit
    )
    SELECT doc_id,
           sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS simhash
    FROM bit_sums GROUP BY doc_id
"""


@register("simhash_fingerprints", _SIMHASH_ORACLE, exchanges=2)
def q_simhash_fingerprints(spark, sf_dir):
    """32-bit SimHash per document; near-dups differ in few bits
    (compare with bit_count(a ^ b))."""
    from sparkplans.operators import dedup

    d = _t_cpu(spark, sf_dir, "documents")
    return dedup.simhash(d, bits=32)


_NEAR_DUP_ORACLE = """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      FROM toks, unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)
    ), h AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS hv
      FROM sh
    ), sig AS (
      SELECT doc_id, p.perm,
             min((hv * (p.perm * 2 + 1) + (p.perm * 997 + 31)) % 2147483647) AS minhash
      FROM h, (SELECT unnest(range(0, 16)) AS perm) p
      GROUP BY doc_id, p.perm
    ), bands AS (
      SELECT doc_id, perm // 2 AS band,
             md5(array_to_string(list_sort(list(perm || ':' || minhash)), ',')) AS band_hash
      FROM sig GROUP BY doc_id, perm // 2
    ), cand_pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT c.id_a, c.id_b, count(*) AS ni
      FROM cand_pairs c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5
"""


# exchanges: candidates localCheckpointed; verify = semi-filter +
# set-array jaccard (was 10 with the exploded equi-join formulation)
@register("near_dup_pairs", _NEAR_DUP_ORACLE, exchanges=6)
def q_near_dup_pairs(spark, sf_dir):
    """Full MinHash-LSH near-dup pipeline (16 perms, 8 bands,
    Jaccard >= 0.5) — now with a FULL exact oracle: the banding is
    cross-engine-deterministic (md5-affine permutations), so DuckDB
    reproduces the identical candidate set, then verifies with exact
    shingle-set Jaccard (intersection-join / sizes form).  The
    jaccard column is an int/int double division on both engines —
    bit-identical."""
    from sparkplans.operators import dedup

    d = _t_cpu(spark, sf_dir, "documents")
    return dedup.near_dup_pairs(d, num_perm=16, bands=8, threshold=0.5)


_CC_ORACLE = f"""
    WITH RECURSIVE {_LSH_PAIR_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM cand_pairs
      UNION
      SELECT id_b, id_a FROM cand_pairs
    ),
    reach(node, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node
    )
    SELECT node, min(comp) AS comp FROM reach GROUP BY node
"""


# exchanges: 1 = the RETURNED plan assembles labels from the converged
# star edge set (nodes left-join min-agg over the checkpoint); the
# large-star/small-star rounds shuffle during construction (bounded:
# 4/round x O(log^2 n) rounds, diameter-independent)
# jobs: measured 36 (was 59 in round 9)
@register("dedup_clusters", _CC_ORACLE, exchanges=1, jobs=46)
def q_dedup_clusters(spark, sf_dir):
    """Candidate pairs -> connected components: every doc in a
    near-dup cluster labeled with the cluster's min doc id (the
    canonical survivor).  Iterative min-label propagation with
    checkpointed lineage (operators/dedup.connected_components);
    the oracle computes the same components via a recursive CTE —
    min reachable label == min component member on an undirected
    graph."""
    from sparkplans.operators import dedup

    d = _t_cpu(spark, sf_dir, "documents")
    wide = dedup.minhash_wide(d, num_perm=8)
    pairs = dedup.lsh_candidate_pairs_wide(wide, num_perm=8, bands=4)
    return dedup.connected_components(pairs)


_CLUSTER_REP_ORACLE = f"""
    WITH RECURSIVE {_LSH_PAIR_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM cand_pairs
      UNION
      SELECT id_b, id_a FROM cand_pairs
    ),
    reach(node, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node
    ),
    comp AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node),
    j AS (
      SELECT c.comp, c.node, d.n_chars
      FROM comp c JOIN documents d ON d.doc_id = c.node
    ),
    r AS (
      SELECT comp, node, n_chars,
             row_number() OVER (PARTITION BY comp
                                ORDER BY n_chars DESC, node) AS rn,
             count(*) OVER (PARTITION BY comp) AS sz
      FROM j)
    SELECT comp AS cluster_id, node AS rep_id,
           CAST(n_chars AS BIGINT) AS rep_n_chars,
           CAST(sz AS BIGINT) AS cluster_size
    FROM r WHERE rn = 1
"""


# exchanges: star-edge label assembly (1) + doc join-back + election agg
@register("cluster_representatives", _CLUSTER_REP_ORACLE, exchanges=3)
def q_cluster_representatives(spark, sf_dir):
    """Keep-best-in-cluster dedup policy: after near-dup clustering
    (same LSH pipeline as `dedup_clusters`), each cluster elects the
    LONGEST member (n_chars, doc_id tie-break) as its canonical
    representative — the curation rule real pipelines use instead of
    "keep the lowest id" when near-dups differ in completeness
    (truncated mirrors, paywalled prefixes).

    Scale shape: the cluster labels come from the checkpointed
    min-label propagation (bounded rounds); the election is a
    map-side-combined groupBy of max(struct(n_chars, -doc_id)) plus a
    count — ONE shuffle keyed by cluster, no window over cluster-sized
    partitions."""
    from sparkplans.operators import dedup

    d = _t_cpu(spark, sf_dir, "documents")
    wide = dedup.minhash_wide(d, num_perm=8)
    pairs = dedup.lsh_candidate_pairs_wide(wide, num_perm=8, bands=4)
    comp = dedup.connected_components(pairs)
    j = comp.join(
        d.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    return (
        j.groupBy("comp")
        .agg(
            F.count("*").cast("bigint").alias("cluster_size"),
            F.max(
                F.struct(
                    F.col("n_chars").cast("bigint").alias("nc"),
                    (-F.col("node")).alias("nn"),
                )
            ).alias("b"),
        )
        .select(
            F.col("comp").alias("cluster_id"),
            (-F.col("b.nn")).alias("rep_id"),
            F.col("b.nc").alias("rep_n_chars"),
            "cluster_size",
        )
    )


@register(
    "asof_join_events",
    """
    SELECT a.user_id, a.ts, a.purchase_value, b.view_value AS right_view_value
    FROM (SELECT user_id, ts, value AS purchase_value FROM events WHERE event_type = 'purchase') a
    ASOF LEFT JOIN (SELECT user_id, ts, value AS view_value FROM events WHERE event_type = 'view') b
      ON a.user_id = b.user_id AND b.ts <= a.ts
    """,
    exchanges=1,
)
def q_asof_join_events(spark, sf_dir):
    """As-of join (latest view before each purchase, per user) —
    union + window carry-forward, one shuffle on the key; checked
    against DuckDB's native ASOF JOIN."""
    from sparkplans.operators import asof

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    return asof.asof_join(purchases, views, key="user_id")


_shared_sql(
    "sessionize_batch",
    """
    SELECT user_id, session_id,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS n_events
    FROM (
      SELECT user_id, ts,
             sum(CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL '30' MINUTE
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts) AS session_id
      FROM (SELECT user_id, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
            FROM events) t
    ) s
    GROUP BY user_id, session_id
    """,
    exchanges=1,
)


def _lsh_bucket_sql(num_planes: int, dim: int, vec: str = "embedding") -> str:
    """DuckDB expression reproducing operators/similarity.hyperplane_signs
    EXACTLY: plane p's component i is +1 iff the first 15 hex digits of
    md5(f"{p}:{i}") are even — a pure function of (p, i), so the ±1
    plane vectors are baked here as DOUBLE[] literals and the bucket id
    is the same sign-bit integer Spark computes."""
    import hashlib

    terms = []
    for p in range(num_planes):
        comps = ",".join(
            "1.0"
            if int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:15], 16) % 2 == 0
            else "-1.0"
            for i in range(dim)
        )
        terms.append(
            f"(CASE WHEN list_dot_product({vec}::DOUBLE[], [{comps}]::DOUBLE[]) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


_COS_SQL = (
    "round(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))), 6)"
)


@register(
    "embedding_near_dups",
    f"""
    WITH sig AS (
      SELECT vec_id, embedding, {_lsh_bucket_sql(6, 64)} AS bucket
      FROM embeddings
    )
    SELECT id_a, id_b, cos_sim FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_COS_SQL.format(a="a.embedding", b="b.embedding")} AS cos_sim
      FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ) t
    WHERE cos_sim >= 0.35
    """,
    exchanges=2,
    # per-cell pair scoring is one BLAS matmul per triangle cell;
    # the codegen'd per-pair fold it replaced cost 5.8 µs/pair and
    # pinned 32 cores for an hour at sf10's ~930M candidate pairs
    # (same matmul-heavy exception as fit_pca's moment pass)
    python=True,
)
def q_embedding_near_dups(spark, sf_dir):
    """Embedding cosine near-dup pairs within LSH buckets.  FULL exact
    oracle: the md5-affine hyperplanes are pure functions of (plane,
    component), so the DuckDB side rebuilds the identical ±1 plane
    literals, the identical sign-bit buckets, and the identical
    rounded cosines — candidate generation AND scoring both hash-
    checked.  Threshold 0.35 is tuned to the driver's random synthetic
    embeddings (organic max cosine ~0.45) so the query produces real
    pairs; production near-dup thresholds (~0.95) are exercised by the
    planted-clone test in tests/test_operators.py."""
    from sparkplans.operators import similarity

    e = _t_cpu(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(e, threshold=0.35, num_planes=6)


@register(
    "lsh_ann_topk",
    f"""
    WITH sig AS (
      SELECT vec_id, embedding, {_lsh_bucket_sql(6, 64)} AS bucket
      FROM embeddings
    )
    SELECT probe_id, vec_id, cos_sim FROM (
      SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
             {_COS_SQL.format(a="c.embedding", b="p.embedding")} AS cos_sim
      FROM sig c JOIN sig p ON c.bucket = p.bucket
      WHERE p.vec_id < 5
    ) t
    QUALIFY row_number() OVER (
      PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id
    ) <= 10
    """,
    exchanges=3,
)
def q_lsh_ann_topk(spark, sf_dir):
    """Hyperplane-LSH approximate top-k.  FULL exact oracle (upgraded
    from rows-only): buckets come from deterministic md5-affine planes
    reproduced as literal DOUBLE[] arrays in the DuckDB SQL, so the
    oracle re-derives the same buckets, scores the same candidates,
    and ranks by the same rounded cosine + vec_id tie-break — the
    whole approximate pipeline is hash-checked, not just invariants."""
    from sparkplans.operators import similarity

    e = _t_cpu(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    return similarity.lsh_bucket_topk(e, probes, k=10, num_planes=6)


def _ann_invariant_wrap(spark, sf_dir, topk: DataFrame, k: int) -> DataFrame:
    """Fold an ANN top-k result (probe_id, vec_id, cos_sim) into
    per-probe invariant booleans — the driver-contract encoding for
    index structures whose *candidate sets* depend on driver-fit model
    state (k-means centroids/codebooks) that a SQL oracle cannot
    re-derive.  Checked per probe: ``self_hit`` (the probe's own
    vector, always in its own cluster/bucket, is returned with cosine
    ~1), ``n_ok`` (1..k results), ``cos_exact_ok`` (every reported
    score equals an independent exact-cosine recompute joined back
    from the corpus — catches candidate mislabeling and scoring
    bugs).  The oracle emits the expected all-true probe grid."""
    e = _t(spark, sf_dir, "embeddings")
    va = e.select("vec_id", F.col("embedding").alias("__va"))
    vb = e.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("__vb")
    )
    chk = (
        topk.join(va, "vec_id")
        .join(vb, "probe_id")
        .withColumn("__exact", F.round(cosine_similarity("__va", "__vb"), 6))
    )
    return chk.groupBy("probe_id").agg(
        F.max(
            (F.col("vec_id") == F.col("probe_id"))
            & (F.col("cos_sim") >= 0.999999)
        ).alias("self_hit"),
        F.count("*").between(1, k).alias("n_ok"),
        F.min(F.abs(F.col("cos_sim") - F.col("__exact")) <= 2e-6).alias(
            "cos_exact_ok"
        ),
    )


@register(
    "ivf_ann_topk",
    "SELECT vec_id AS probe_id, TRUE AS self_hit, TRUE AS n_ok, "
    "TRUE AS cos_exact_ok FROM embeddings WHERE vec_id < 5",
    exchanges=4,  # r6: projection assignment dropped one exchange
)
def q_ivf_ann_topk(spark, sf_dir):
    """IVF ANN scale path: deterministic k-means coarse quantizer, then
    probes score only their nprobe nearest clusters.  See
    operators/similarity.ivf_build for the 100 TB deployment notes.

    Driver contract (upgraded from rows-only): the centroids are
    driver-fit model state a SQL oracle cannot reproduce, so the
    result is the per-probe invariant grid from
    ``_ann_invariant_wrap`` vs the all-true oracle; exact recall gates
    live in tests/test_operators.py."""
    from sparkplans.operators import similarity

    e = _t_cpu(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    assigned, centroids = similarity.ivf_build(e, num_centroids=8, iters=2)
    topk = similarity.ivf_topk(assigned, centroids, probes, k=10, nprobe=2)
    return _ann_invariant_wrap(spark, sf_dir, topk, k=10)


@register(
    "semantic_dedup",
    "SELECT vec_id, TRUE AS policy_ok, TRUE AS dup_of_ok FROM embeddings",
    # the operator's pairwise scan + min-agg run ONCE (assigned and
    # dup_of are both checkpointed inside it); the audit re-derives
    # pairs from the ASSIGNED checkpoint directly (round 9 — the old
    # res-based audit re-joined the corpus to dup_of first, paying
    # exchange+sort pairs for columns the triangle never read), so
    # what remains is the audit's own fold join + min-agg + the final
    # slim join
    exchanges=3,
    jobs=18,  # measured 14 (was 20 in round 9)
)
def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means clusters over embeddings,
    pairwise cosine only within a cluster, deterministic first-keeper
    — the semantic completion of the dedup family (exact md5 →
    MinHash/LSH token → SimHash → embedding-LSH → k-means semantic).

    Driver contract (the IVF recipe): k-means centroids are driver-fit
    model state no SQL oracle can re-derive, so the result is a
    per-vector invariant grid vs the all-true oracle — ``policy_ok``
    (kept iff no same-cluster smaller-id neighbor at >= threshold,
    re-derived by an independent join over the operator's own cluster
    assignment) and ``dup_of_ok`` (the recorded provenance id equals
    the recomputed minimum qualifying neighbor).  Planted-duplicate
    recall lives in tests/test_semdedup.py."""
    from sparkplans.operators import similarity

    thr = 0.35
    e = _t_cpu(spark, sf_dir, "embeddings")
    # The paper's cost dial: cells grow linearly with the corpus so the
    # per-cell pairwise step stays ~50² regardless of N (pair count =
    # N²/2k, so 4x smaller cells = 4x less pairwise work — measured
    # 4.4s -> 2.5s at sf0.1).  Sized from parquet footer stats (no
    # Spark job).  The invariant grid is policy-relative — any cell
    # count yields an all-true result.
    k = max(8, min(256, _rowcount(sf_dir, "embeddings") // 50))
    # iters=0: sampled-anchor quantizer (nearest md5-sampled point, no
    # Lloyd refinement).  Near-identical vectors co-locate under any
    # anchor set, the policy contract is assignment-relative, and each
    # skipped iteration is one fewer sequential driver job.
    res, assigned, _ = similarity.semdedup(
        e, num_centroids=k, threshold=thr, iters=0, return_parts=True
    )
    # Both parents are checkpointed inside the operator (assigned
    # corpus-sized once, dup_of slim once), so every re-read below is
    # a block read — no pairwise recompute.
    #
    # The re-derivation enumerates the same within-cluster pair set
    # through the shared triangle core, but under a DIFFERENT cell
    # partitioning (split=5 vs the operator's 8) so the two runs
    # never agree by sharing a partition layout; at sf10 the previous
    # per-pair codegen re-join was the query's dominant cost (the
    # same quadratic the operator itself had already retired).
    # Brute-force numpy parity at small scale lives in
    # tests/test_semdedup.py.
    #
    # The audit reads the operator's ASSIGNED part (exactly the
    # cluster-assignment rows — res is assigned left-joined to
    # dup_of, which preserves its rows) rather than re-deriving the
    # same columns from res: that re-derivation paid an exchange+sort
    # pair on both corpus and dup_of sides of a join whose joined
    # columns the triangle never reads (Catalyst cannot drop the join
    # — the checkpoint hides dup_of's per-id uniqueness).  The final
    # join projects res to its slim columns up front for the same
    # reason (the checkpoint scan cannot column-prune itself).
    # Measured 3.28 -> 2.68 s at sf0.1, rows identical.
    m = (
        similarity.triangle_pair_scores(
            assigned.select("cid", "vec_id", "embedding"),
            "cid",
            id_col="vec_id",
            vec_col="embedding",
            threshold=thr,
            split=5,
            size_hint=similarity.plan_size_bytes(e),
        )
        .groupBy(F.col("id_b").alias("vec_id"))
        .agg(F.min("id_a").alias("__m"))
    )
    return res.select("vec_id", "kept", "dup_of").join(m, "vec_id", "left").select(
        "vec_id",
        (F.col("kept") == F.col("__m").isNull()).alias("policy_ok"),
        F.col("dup_of").eqNullSafe(F.col("__m")).alias("dup_of_ok"),
    )


# =====================================================================
# Subqueries (decorrelation — the reference lists the rules but never
# fires them: docs/3:103-105; inheritance scope, fully oracle-checked)
# =====================================================================

_shared_sql(
    "scalar_subquery",
    "SELECT o_orderkey, o_totalprice FROM orders "
    "WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders)",
    exchanges=2,
)

_shared_sql(
    "in_subquery",
    "SELECT o_orderkey, o_custkey FROM orders "
    "WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 8000)",
    exchanges=0,
)

_shared_sql(
    "correlated_scalar_subquery",
    # Q2 shape: max within a correlated group
    "SELECT s_suppkey, s_name, s_acctbal FROM supplier s "
    "WHERE s_acctbal = (SELECT max(s2.s_acctbal) FROM supplier s2 "
    "                   WHERE s2.s_nationkey = s.s_nationkey)",
    exchanges=1,
)

_shared_sql(
    "tpch_q4_priority",
    # Q4 shape: EXISTS-correlated count by priority
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    exchanges=2,
)

_shared_sql(
    "tpch_q17_small_qty",
    # Q17 shape: correlated avg threshold
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l, part p
    WHERE p.p_partkey = l.l_partkey
      AND p.p_brand = 'Brand#2'
      AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
    exchanges=2,
)

_shared_sql(
    "tpch_q19_disjunctive",
    # Q19 shape: OR-of-ANDs predicate bundle across a join
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#2'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
        OR (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
        OR (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40))
    """,
    exchanges=1,
)

_shared_sql(
    "tpch_q14_promo",
    # Q14 shape: conditional revenue share
    """
    SELECT CAST(100.0 * CAST(sum(CASE WHEN p_type = 'ECONOMY'
                 THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
           / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS DOUBLE) AS promo_revenue_pct
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
    """,
    exchanges=1,
)


# =====================================================================
# Scalar-function breadth: LIKE / regexp / JSON / null handling
# =====================================================================

_shared_sql(
    "like_patterns",
    "SELECT p_partkey, p_name, p_type FROM part "
    "WHERE p_name LIKE '%red%' OR (p_name LIKE 'small%' AND p_type LIKE 'ECON%')",
    exchanges=0,
)

_shared_sql(
    "regexp_extract_ids",
    "SELECT c_custkey, CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS name_num "
    "FROM customer",
    exchanges=0,
)

_shared_sql(
    "null_handling",
    """
    SELECT c_custkey,
           coalesce(CAST(o_orderkey AS BIGINT), -1) AS order_or_default,
           CASE WHEN o_orderkey IS NULL THEN 'none' ELSE 'some' END AS has_order,
           nullif(c_acctbal, 0.0) AS acctbal_nz
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey AND o_totalprice > 450000
    """,
    exchanges=0,
)

_shared_sql(
    "between_and_in_list",
    "SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem "
    "WHERE l_quantity BETWEEN 10 AND 12 AND l_returnflag IN ('A', 'N')",
    exchanges=0,
)


@register(
    "json_extract_agg",
    "SELECT event_type, count(*) AS cnt, "
    "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k "
    "FROM events GROUP BY event_type",
    exchanges=1,
)
def q_json_extract_agg(spark, sf_dir):
    """JSON path extraction from a string column (get_json_object —
    JVM-side), aggregated; DuckDB oracle uses its JSON extension."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).cast("bigint").alias("sum_k"),
    )


@register(
    "variant_extract",
    "SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k "
    "FROM events WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 50",
    exchanges=0,
)
def q_variant_extract(spark, sf_dir):
    """Semi-structured columns as first-class VARIANT (Spark 4):
    parse once, typed-path extraction (variant_get) — the binary
    variant encoding scans ~8× faster than per-access JSON re-parsing
    at corpus scale, and the predicate on the extracted field stays in
    codegen.  Oracle: DuckDB JSON path semantics on the same column."""
    e = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return e.select("event_id", k.alias("k")).filter(F.col("k") > 50)


# =====================================================================
# Pivot / unpivot
# =====================================================================


@register(
    "pivot_status",
    """
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS O,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS P
    FROM orders GROUP BY o_orderpriority
    """,
    exchanges=2,
)
def q_pivot_status(spark, sf_dir):
    """DataFrame pivot (explicit value list => single-pass, no extra
    distinct-scan job); oracle is the manual CASE form."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"))
    )


@register(
    "unpivot_metrics",
    """
    SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount' AS metric, l_discount AS val FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax' AS metric, l_tax AS val FROM lineitem
    """,
    exchanges=0,
)
def q_unpivot_metrics(spark, sf_dir):
    """unpivot/melt: wide numeric columns -> (metric, val) long form."""
    li = _t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "val",
    ).withColumn("metric", F.expr("substring(metric, 3)"))


# =====================================================================
# Language identification (n-gram/stopword heuristic, SURVEY §7F)
# =====================================================================

_LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "es"),
    "de": ("der", "die", "und", "ist", "das"),
    "fr": ("le", "la", "et", "est", "les"),
    "zh": ("的", "是", "了", "在", "我"),
}


@register(
    "lang_id_heuristic",
    """
    WITH toks AS (
      SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents
    ), scores AS (
      SELECT doc_id, lang,
        len(list_filter(t, x -> list_contains(['the','and','of','to','is'], x))) AS s_en,
        len(list_filter(t, x -> list_contains(['el','la','de','que','es'], x))) AS s_es,
        len(list_filter(t, x -> list_contains(['der','die','und','ist','das'], x))) AS s_de,
        len(list_filter(t, x -> list_contains(['le','la','et','est','les'], x))) AS s_fr,
        len(list_filter(t, x -> list_contains(['的','是','了','在','我'], x))) AS s_zh
      FROM toks
    )
    SELECT doc_id, lang,
           CASE WHEN s_en >= greatest(s_es, s_de, s_fr, s_zh) THEN 'en'
                WHEN s_es >= greatest(s_de, s_fr, s_zh) THEN 'es'
                WHEN s_de >= greatest(s_fr, s_zh) THEN 'de'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS predicted_lang
    FROM scores
    """,
    exchanges=0,
)
def q_lang_id_heuristic(spark, sf_dir):
    """Stopword-marker language ID, fully JVM-side (array filter +
    greatest); deterministic tie-break en>es>de>fr>zh."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")

    def marker_count(markers):
        arr = F.array(*[F.lit(m) for m in markers])
        # single-arg lambda: a second (defaulted) param would make
        # PySpark bind the (element, index) two-arg variant
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    cols = {lang: marker_count(m) for lang, m in _LANG_MARKERS.items()}
    pred = (
        F.when(cols["en"] >= F.greatest(cols["es"], cols["de"], cols["fr"], cols["zh"]), "en")
        .when(cols["es"] >= F.greatest(cols["de"], cols["fr"], cols["zh"]), "es")
        .when(cols["de"] >= F.greatest(cols["fr"], cols["zh"]), "de")
        .when(cols["fr"] >= cols["zh"], "fr")
        .otherwise("zh")
    )
    return d.select("doc_id", "lang", pred.alias("predicted_lang"))


# =====================================================================
# Window breadth: rank/dense_rank/ntile/running totals over joins
# =====================================================================

_shared_sql(
    "window_running_total",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS running_spend,
           dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
    FROM orders
    """,
    exchanges=1,
)

_shared_sql(
    "top_suppliers_per_nation",
    """
    SELECT * FROM (
      SELECT n_name, s_name,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             rank() OVER (PARTITION BY n_name
                          ORDER BY sum(CAST(l_extendedprice AS DECIMAL(18,2))) DESC, s_name) AS rnk
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name, s_name
    ) t WHERE rnk <= 2
    """,
    exchanges=2,
)


# =====================================================================
# TPC-H breadth: the remaining classic shapes expressible over this
# star schema (no partsupp / comment / shipmode columns in the driver
# data, so q2/q11/q16/q20/q21 shapes are adapted or folded into the
# nearest expressible variant).  All shared-SQL: Catalyst picks
# broadcast joins for dims, partial+final aggs, pushes every filter
# to the parquet scan.  Decimal-accumulate-then-double per module
# docstring.
# =====================================================================

_shared_sql(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
    exchanges=1,
)

_shared_sql(
    "tpch_q7_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM supplier, lineitem, orders, customer, nation n1, nation n2
    WHERE s_suppkey = l_suppkey
      AND o_orderkey = l_orderkey
      AND c_custkey = o_custkey
      AND s_nationkey = n1.n_nationkey
      AND c_nationkey = n2.n_nationkey
      AND ((n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_2'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    ORDER BY supp_nation, cust_nation, l_year
    """,
    exchanges=2,
)

_shared_sql(
    "tpch_q8_market_share",
    """
    SELECT o_year,
           round(CAST(sum(CASE WHEN nation = 'NATION_8' THEN volume ELSE 0 END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2)) AS volume,
             n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      WHERE p_partkey = l_partkey
        AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey
        AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey
        AND n1.n_regionkey = r_regionkey
        AND r_name = 'EUROPE'
        AND s_nationkey = n2.n_nationkey
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    exchanges=2,
)

_shared_sql(
    "tpch_q9_product_profit",
    """
    SELECT nation, o_year,
           CAST(sum(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2))
               - CAST(p_retailprice AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2)) / 100 AS amount
      FROM part, supplier, lineitem, orders, nation
      WHERE s_suppkey = l_suppkey
        AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey
        AND s_nationkey = n_nationkey
        AND p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    exchanges=2,
)

_shared_sql(
    "tpch_q10_returned_items",
    """
    SELECT c_custkey, c_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND l_returnflag = 'R'
      AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    exchanges=1,
)

_shared_sql(
    "tpch_q12_priority_shipping",
    """
    SELECT year(l_shipdate) AS ship_year,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate >= o_orderdate
    GROUP BY year(l_shipdate)
    ORDER BY ship_year
    """,
    exchanges=2,
)

_shared_sql(
    "tpch_q13_custdist",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    exchanges=3,
)

_shared_sql(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    exchanges=4,
)

_shared_sql(
    "tpch_q18_large_volume",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(sum(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS DECIMAL(8,2))) > 200
      )
      AND c_custkey = o_custkey
      AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    exchanges=3,
)

_shared_sql(
    "tpch_q2_min_cost_supplier",
    """
    SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_type
    FROM part, supplier, lineitem, nation, region
    WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      AND p_size = 10
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND s_acctbal = (
        SELECT max(s2.s_acctbal)
        FROM supplier s2, lineitem l2, nation n2, region r2
        WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
          AND s2.s_nationkey = n2.n_nationkey
          AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'ASIA'
      )
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 20
    """,
    exchanges=4,
)

_shared_sql(
    "tpch_q20_excess_shippers",
    """
    WITH shipped AS (
      SELECT l_suppkey, CAST(sum(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS total_qty
      FROM lineitem, part
      WHERE p_partkey = l_partkey AND p_type = 'ECONOMY'
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_name, s_acctbal
    FROM supplier, nation
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM shipped
        WHERE total_qty > (SELECT 0.5 * max(total_qty) FROM shipped)
      )
      AND s_nationkey = n_nationkey
    ORDER BY s_name
    """,
    exchanges=5,
)

_shared_sql(
    "tpch_q11_important_value",
    """
    WITH partvalue AS (
      SELECT n_name, l_partkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS value
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      GROUP BY n_name, l_partkey
    )
    SELECT n_name, l_partkey, value
    FROM partvalue
    WHERE value > (SELECT 3.0 * sum(value) / count(*) FROM partvalue)
    ORDER BY value DESC, n_name, l_partkey
    LIMIT 50
    """,
    exchanges=3,
)

_shared_sql(
    "tpch_q16_supplier_cnt",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand <> 'BRAND_1'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 40
    """,
    exchanges=2,
)

_shared_sql(
    "tpch_q21_waiting_supplier",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAYS
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAYS
      )
      AND s_nationkey = n_nationkey
      AND n_name = 'NATION_3'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    exchanges=1,
)

_shared_sql(
    "tpch_q22_idle_customers",
    """
    SELECT n_name AS cntrycode, count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer, nation
    WHERE c_nationkey = n_nationkey
      AND c_acctbal > (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        FROM customer WHERE c_acctbal > 0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY n_name
    ORDER BY cntrycode
    """,
    exchanges=4,
)

_shared_sql(
    "recursive_cte_reach",
    # WITH RECURSIVE (Spark 4 executes it natively — UnionLoop — and
    # DuckDB runs the identical text): reachability over the derived
    # next-nation-in-region edge graph, depth-guarded.  The recursive
    # working set is dimension-sized (nations), so the loop cost is
    # independent of fact-table scale; corpus-scale iteration belongs
    # to the large-star/small-star operator (operators/dedup.py).
    """
    WITH RECURSIVE edges AS (
      SELECT a.n_nationkey AS src, min(b.n_nationkey) AS dst
      FROM nation a JOIN nation b
        ON a.n_regionkey = b.n_regionkey AND b.n_nationkey > a.n_nationkey
      GROUP BY a.n_nationkey
    ),
    reach(node, depth) AS (
      SELECT CAST(0 AS BIGINT) AS node, 0 AS depth
      UNION ALL
      SELECT e.dst AS node, r.depth + 1 AS depth
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.depth < 10
    )
    SELECT node, min(depth) AS hops FROM reach GROUP BY node
    """,
    # dimension-sized UnionLoop recursion + final min-agg
    exchanges=1,
)



# =====================================================================
# Round-1 continuation: higher-order array functions, corpus TF-IDF,
# quota sampling, repetition-ratio quality signal
# =====================================================================


@register(
    "higher_order_funcs",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           round(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS sum_sq,
           round(list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))), 6) AS max_abs
    FROM embeddings
    """,
    exchanges=0,
)
def q_higher_order_funcs(spark, sf_dir):
    """Higher-order array functions (SURVEY §2.8 inheritance scope):
    transform / filter / aggregate lambdas evaluate JVM-side inside
    codegen — the idiomatic way to process array<float> columns without
    ever leaving the executor.  Zero shuffles; scales as a pure map.
    Sums fold left-to-right on both engines; 6dp round is the same
    belt-and-suspenders as the dot-product queries."""
    e = _t(spark, sf_dir, "embeddings")
    x2 = lambda x: x.cast("double") * x.cast("double")  # noqa: E731
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.round(
            F.aggregate("embedding", F.lit(0.0), lambda acc, x: acc + x2(x)), 6
        ).alias("sum_sq"),
        F.round(
            F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
            , 6
        ).alias("max_abs"),
    )


@register(
    "tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, tok
      FROM documents,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS u(tok)
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    stats AS (SELECT tok, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
              FROM tf GROUP BY tok),
    total AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tok, df, cf,
           round(cf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
    FROM stats, total
    ORDER BY tfidf DESC, tok
    LIMIT 20
    """,
    # fan_out + tf + per-token stats + single-row corpus count
    exchanges=4,
)
def q_tfidf_top_terms(spark, sf_dir):
    """Corpus TF-IDF vocabulary profile: collection frequency weighted
    by inverse document frequency — the standard signal for stopword
    and boilerplate discovery in training-corpus curation.  Tokenize →
    per-doc tf (1 shuffle on (doc_id, tok)) → per-token df/cf (1 more,
    map-side combined) → the corpus row count joins in as a broadcast
    (one aggregated row, never a driver collect) → top-20 fuses to
    TakeOrderedAndProject.  At 100 TB nothing wider than (token, df,
    cf) ever crosses the wire after the tf stage."""
    d = _t_cpu(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    stats = tf.groupBy("tok").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )
    # plain read for the scalar count — no fan_out repartition needed
    total = _t(spark, sf_dir, "documents").agg(F.count("*").alias("n_docs"))
    return (
        stats.crossJoin(F.broadcast(total))
        .select(
            "tok",
            "df",
            "cf",
            F.round(
                F.col("cf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
        .orderBy(F.col("tfidf").desc(), "tok")
        .limit(20)
    )


@register(
    "quota_sample_per_lang",
    """
    SELECT doc_id, lang, rn
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    WHERE rn <= 10
    """,
    exchanges=1,
)
def q_quota_sample_per_lang(spark, sf_dir):
    """Deterministic per-language quota sampling — the data-mixing
    primitive (fix a per-language budget, pick a reproducible uniform
    sample).  Ordering by md5(doc_id) is a seedable uniform shuffle
    with no RNG state, so the sample is identical on any cluster and
    any partitioning (same property as train_test_split).  One shuffle
    on lang.  Scale note: parallelism is bounded by #languages, which
    is fine — the window input can be pre-thinned with a generous
    md5-threshold filter when groups are huge, keeping ≥ quota rows
    per group, before the exact rank."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
    )


@register(
    "repetition_ratio",
    """
    SELECT doc_id, count(*) AS n_tokens,
           count(DISTINCT tok) AS n_distinct,
           round(CAST(count(DISTINCT tok) AS DOUBLE) / count(*), 6)
             AS distinct_ratio
    FROM (SELECT doc_id, tok
          FROM documents,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS u(tok))
    GROUP BY doc_id
    """,
    # fan_out + distinct-agg expand (2 keyed shuffles)
    exchanges=3,
)
def q_repetition_ratio(spark, sf_dir):
    """Distinct-token ratio per document — the Gopher-style repetition
    quality signal (heavily repeated documents have low ratios and are
    candidates for removal).  Explode is pipelined; the distinct-agg
    expands to two shuffles keyed by doc_id — partial combines keep
    the transfer at one row per (doc_id, tok).  Pure corpus-quality
    map-reduce: no joins, no driver state."""
    d = _t_cpu(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    )
    return toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
        F.round(
            F.countDistinct("tok").cast("double") / F.count("*"), 6
        ).alias("distinct_ratio"),
    )


@register(
    "decontamination_ngrams",
    """
    WITH base AS (
      SELECT doc_id,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                  % 100 < 90 THEN 'train' ELSE 'test' END AS split,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, split,
             unnest(CASE WHEN len(toks) >= 8
                    THEN list_transform(range(0, len(toks) - 7),
                         i -> md5(array_to_string(toks[i+1:i+8], ' ')))
                    ELSE []::VARCHAR[] END) AS gram
      FROM base)
    SELECT a.doc_id, count(DISTINCT a.gram) AS n_shared_grams
    FROM g a
    JOIN (SELECT DISTINCT gram FROM g WHERE split = 'train') b
      ON a.gram = b.gram
    WHERE a.split = 'test'
    GROUP BY a.doc_id
    """,
    # fan_out x2 (test/train gram subtrees) + train distinct + per-doc
    # verdict agg + gram join
    exchanges=5,
)
def q_decontamination_ngrams(spark, sf_dir):
    """Train/test decontamination by token 8-gram overlap — the
    GPT-3/Pile recipe (there, 13-grams): a held-out document sharing
    any long token n-gram with the training split is contaminated and
    must be dropped before evaluation.  Gram streams are projections
    of one tokenized scan; the overlap check is an equi-join on the
    md5 of the gram (one keyed shuffle per side, never all-pairs) and
    the verdict aggregates per test doc.  The split itself is the
    md5-mod hash of train_test_split, so the whole check is
    deterministic end-to-end at any scale."""
    d = _t_cpu(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    base = d.select(
        "doc_id",
        F.when(h % 100 < 90, F.lit("train")).otherwise(F.lit("test")).alias("split"),
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks"),
    )
    grams_expr = (
        "CASE WHEN size(toks) >= 8 THEN "
        "transform(sequence(0, size(toks) - 8), "
        "i -> md5(concat_ws(' ', slice(toks, i + 1, 8)))) "
        "ELSE array() END"
    )
    g = base.select(
        "doc_id", "split", F.explode(F.expr(grams_expr)).alias("gram")
    )
    train_grams = g.filter(F.col("split") == "train").select("gram").distinct()
    return (
        g.filter(F.col("split") == "test")
        .join(train_grams, "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared_grams"))
    )


@register(
    "unigram_logprob_scores",
    """
    WITH toks AS (
      SELECT doc_id, tok
      FROM documents,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS u(tok)),
    freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    total AS (SELECT count(*) AS t FROM toks)
    SELECT doc_id, count(*) AS n_tokens,
           round(sum(ln(cnt / CAST(t AS DOUBLE))) / count(*), 6) AS avg_logprob
    FROM toks JOIN freq USING (tok), total
    GROUP BY doc_id
    """,
    # vocab localCheckpointed (the persisted-table stand-in): corpus
    # tokenized twice, not three times; total is a vocab rollup
    exchanges=3,
)
def q_unigram_logprob_scores(spark, sf_dir):
    """Per-document mean token log-probability under the corpus's own
    unigram LM — the classic cheap perplexity proxy for quality
    filtering (rare-token-heavy gibberish scores low, natural text
    scores high).  The vocabulary (token, count) table is small
    relative to the corpus, so the score join broadcasts at any scale;
    the corpus token total rides along as one aggregated broadcast
    row.  In a production pipeline the vocabulary would be a persisted
    table from a previous pass rather than recomputed lineage."""
    d = _t_cpu(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    )
    # The vocabulary is the persisted-table stand-in: localCheckpoint
    # materializes it once, so the corpus is tokenized exactly twice
    # (vocab build + scoring pass) instead of three times, and the
    # token total is a free rollup of the vocab instead of a third
    # corpus scan.
    # EAGER: freq is the build side of TWO concurrent broadcasts
    # (the scoring join + the total) — lazy would race them into
    # tokenizing the corpus once per build on a cluster
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt")).transform(materialize)
    total = freq.agg(F.sum("cnt").alias("t"))
    return (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.sum(F.log(F.col("cnt") / F.col("t").cast("double")))
                / F.count("*"),
                6,
            ).alias("avg_logprob"),
        )
    )


@register(
    "dsir_importance_weights",
    """
    WITH toks AS (
      SELECT doc_id, lang, tok
      FROM documents,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS u(tok)),
    tb AS (
      SELECT doc_id, lang,
             (('0x' || substr(md5(tok), 1, 15))::BIGINT % 64) AS b,
             count(*) AS c
      FROM toks GROUP BY doc_id, lang, b),
    stats AS (
      SELECT b, sum(c) AS cr,
             sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS ct
      FROM tb GROUP BY b),
    tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM stats),
    lam AS (
      SELECT b,
             CAST(round(ln((ct + 1) / CAST(tt + 64 AS DOUBLE))
                        - ln((cr + 1) / CAST(tr + 64 AS DOUBLE)), 6)
                  AS DECIMAL(18,6)) AS lam
      FROM stats, tot)
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(c * lam) AS DOUBLE) AS log_weight
    FROM tb JOIN lam USING (b)
    GROUP BY doc_id
    """,
    # (doc,bucket) count shuffle; 64-row stats/total/lambda stay small
    # and broadcast back; final per-doc agg
    exchanges=4,
)
def q_dsir_importance_weights(spark, sf_dir):
    """DSIR (Xie et al. 2023, arXiv:2302.03169): data selection via
    importance resampling on hashed n-gram features.  Each document's
    log importance weight is sum over tokens of
    ln(p_target[bucket] / p_raw[bucket]) where buckets are 64 hashed
    unigram bins, the target domain is the ``lang = 'en'`` slice, the
    raw distribution is the whole corpus, and both use add-one
    smoothing.  Feed ``exp(log_weight)`` to operators/sampling's A-ES
    ``weighted_sample`` for the resampling step itself.

    Exactness: the per-bucket log-ratios are rounded to 6 dp and
    carried as DECIMAL(18,6); a document's weight is then an exact
    integer-x-decimal sum (order-free), so Spark and DuckDB agree
    bit-for-bit — ln() is evaluated once per bucket, never per token.

    Scale: one (doc, bucket) shuffle over the tokenized corpus; the
    64-row bucket table and its 1-row total broadcast back — the same
    broadcast-LM shape as unigram_logprob_scores, with a fixed-width
    feature table no matter the vocabulary size (the reason DSIR
    hashes in the first place)."""
    B = 64
    d = _t_cpu(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).withColumn(
        "b",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint") % B,
    )
    dc = toks.groupBy("doc_id", "lang", "b").agg(F.count("*").alias("c"))
    dc = dc.transform(materialize_lazy)  # feeds stats AND the scoring join
    stats = dc.groupBy("b").agg(
        F.sum("c").alias("cr"),
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(0)).alias("ct"),
    )
    tot = stats.agg(F.sum("cr").alias("tr"), F.sum("ct").alias("tt"))
    lam = stats.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            F.log((F.col("ct") + 1) / (F.col("tt") + B))
            - F.log((F.col("cr") + 1) / (F.col("tr") + B)),
            6,
        )
        .cast("decimal(18,6)")
        .alias("lam"),
    )
    return (
        dc.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.col("c") * F.col("lam")).cast("double").alias("log_weight"),
        )
    )


@register(
    "sequence_packing",
    """
    WITH t AS (
      SELECT doc_id, lang,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, lang, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM t)
    SELECT lang, (cum - n_tokens) // 2048 AS seq_idx,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens
    FROM c
    GROUP BY lang, seq_idx
    """,
    exchanges=1,
)
def q_sequence_packing(spark, sf_dir):
    """Concat-and-chunk sequence packing: documents are laid out in a
    deterministic order (doc_id) per shard (lang), token offsets
    accumulate via a running-total window, and each document is
    assigned to the 2048-token context window its start offset lands
    in — the standard way training examples are packed from a corpus.
    One shuffle on the shard key; the window is a single ordered pass
    per shard, and shard count (not corpus size) bounds parallelism —
    real pipelines shard much finer than language (e.g. hash(doc_id)
    buckets) for exactly that reason, which this plan inherits by
    swapping the partition column."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w).cast("bigint"))
    return (
        c.select(
            "lang",
            F.expr("(cum - n_tokens) DIV 2048").alias("seq_idx"),
            "n_tokens",
        )
        .groupBy("lang", "seq_idx")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("tokens"))
    )


@register(
    "posexplode_vectors",
    """
    SELECT vec_id, pos, embedding[pos + 1] AS val
    FROM embeddings, unnest(range(0, len(embedding))) AS u(pos)
    WHERE vec_id < 100
    """,
    exchanges=0,
)
def q_posexplode_vectors(spark, sf_dir):
    """Ordinal array explode (posexplode): unpivot array<float> to
    (id, position, value) rows — the layout conversions between
    vector-per-row and element-per-row that feature stores need.
    Pure pipelined generate, zero shuffles at any scale."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.filter(F.col("vec_id") < 100)
        .select("vec_id", F.posexplode("embedding").alias("pos", "val"))
    )


@register(
    "bitwise_agg",
    """
    SELECT event_type,
           bit_and(user_id) AS band,
           bit_or(user_id) AS bor,
           bit_xor(user_id) AS bxor
    FROM events GROUP BY event_type
    """,
    exchanges=1,
)
def q_bitwise_agg(spark, sf_dir):
    """Bitwise aggregates (bit_and/bit_or/bit_xor) — exact integer
    semantics, associative+commutative so partial/final combine is
    free; the building block for bitmap-style set summaries."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.bit_and("user_id").alias("band"),
        F.bit_or("user_id").alias("bor"),
        F.bit_xor("user_id").alias("bxor"),
    )


@register(
    "stats_moments",
    """
    WITH m AS (
      SELECT event_type, count(*) AS n,
             sum(CAST(value AS DECIMAL(18,6))) AS sx,
             sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
               AS sx2
      FROM events GROUP BY event_type)
    SELECT event_type, n,
           round(CAST(sx AS DOUBLE) / n, 6) AS mean,
           round((CAST(sx2 AS DOUBLE)
                  - n * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
                 / (n - 1), 6) AS var_samp,
           round(sqrt((CAST(sx2 AS DOUBLE)
                  - n * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
                 / (n - 1)), 6) AS stddev_samp
    FROM m
    """,
    exchanges=1,
)
def q_stats_moments(spark, sf_dir):
    """Variance/stddev from exact DECIMAL moment sums — the same
    discipline as user_value_trend: the only order-dependent step
    (summation) is exact, every double op after it is a fixed scalar
    expression, so Spark's partial/final combine and DuckDB's
    single-node fold agree bit-for-bit before the 6dp round.  One
    shuffle of three machine words per group at any scale; the
    pattern extends to skewness/kurtosis with higher moments."""
    e = _t(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(18,6)")
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum(x).alias("sx"), F.sum(x * x).alias("sx2")
    )
    mean = F.col("sx").cast("double") / F.col("n")
    var = (
        F.col("sx2").cast("double") - F.col("n") * mean * mean
    ) / (F.col("n") - 1)
    return m.select(
        "event_type",
        "n",
        F.round(mean, 6).alias("mean"),
        F.round(var, 6).alias("var_samp"),
        F.round(F.sqrt(var), 6).alias("stddev_samp"),
    )


@register(
    "map_roundtrip",
    """
    SELECT user_id, event_type AS etype, count(*) AS cnt
    FROM events GROUP BY user_id, event_type
    """,
    # per-(user,type) counts then per-user map assembly
    exchanges=2,
)
def q_map_roundtrip(spark, sf_dir):
    """MapType round-trip: per-user (event_type -> count) built with
    map_from_entries over collected structs, then exploded back to
    rows.  The oracle is the plain relational twin, so a hash match
    proves the map construction/explosion is lossless.  Maps here are
    per-user and bounded by the event-type vocabulary, so the
    collect_list state stays small at any corpus size (state is
    per-group, not per-corpus)."""
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    maps = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "cnt"))
        ).alias("m")
    )
    return maps.select(
        "user_id", F.explode("m").alias("etype", "cnt")
    )


@register(
    "salted_agg",
    """
    SELECT event_type, count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
    # (key,salt) spread stage + tiny per-key merge stage — by design
    exchanges=2,
)
def q_salted_agg(spark, sf_dir):
    """Salted two-stage aggregation — the deterministic fallback for
    hot grouping keys (AQE skew-join splitting covers joins, but a
    degenerate agg key still funnels into one reducer).  Stage 1
    aggregates on (key, salt) — the hot key's rows spread over 16
    reducers; stage 2 merges the 16 partial states per key (rows =
    16 x #groups, negligible).  Salt is derived from a data column
    (not rand()), so the result is reproducible and the DECIMAL sums
    make it order-exact; the oracle is the unsalted twin, proving the
    decomposition lossless."""
    e = _t(spark, sf_dir, "events")
    salted = e.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(16))
    )
    partial = salted.groupBy("event_type", "salt").agg(
        F.count("*").alias("c"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("c").alias("cnt"),
        F.sum("s").cast("double").alias("sum_value"),
    )


@register(
    "skewed_join_salted",
    """
    WITH f AS (
      SELECT CASE WHEN l_orderkey % 5 = 0 THEN 0 ELSE l_orderkey END AS k,
             l_extendedprice
      FROM lineitem)
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS rev
    FROM f JOIN orders ON k = o_orderkey
    GROUP BY o_orderpriority
    """,
    # salted fact shuffle on (k, salt) + replicated dim shuffle + agg
    # partial/final (at test scale the dim side broadcasts => 1)
    exchanges=4,
)
def q_skewed_join_salted(spark, sf_dir):
    """Planted-skew fact-fact join, salted — the join twin of
    `salted_agg` (r5 verdict item 5).  Every 5th orderkey collapses to
    key 0, so ONE key owns ~20% of the fact rows; a plain shuffled
    join funnels those rows through one reducer — the 100×-scale
    failure mode a shuffle-count ratchet can't see (counts, not
    sizes).  Two mitigations exist and both are pinned:

    * **AQE skew-join split** (the runtime path): on by default in
      this engine's sessions; `tests/test_plan_properties.py::
      test_aqe_skew_join_split_fires` proves the split actually
      triggers on this exact planted shape (broadcast disabled to
      simulate the big-big case, `skewedPartitionFactor` scaled to
      test data) by asserting the post-execution adaptive plan marks
      the shuffle read `skewed`.
    * **Deterministic salting** (this registered plan): works for any
      join strategy at any scale without waiting for a stage to
      materialize — `operators/skew.salted_join` spreads key 0 over
      16 reducers and replicates the (unique-keyed) orders side per
      salt.  Lossless by construction; the oracle is the UNSALTED
      relational twin, so the hash match proves it.

    DECIMAL sum keeps the revenue order-independent across engines."""
    from sparkplans.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem")
    f = li.select(
        F.when(F.col("l_orderkey") % 5 == 0, F.lit(0))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    j = salted_join(
        f,
        o,
        ["k"],
        num_salts=16,
        salt_src=["l_orderkey", "l_linenumber", "l_partkey"],
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev"),
    )


@register(
    "label_centroids",
    """
    SELECT label, pos,
           round(CAST(sum(CAST(embedding[pos + 1] AS DECIMAL(18,9)) )
                 AS DOUBLE) / count(*), 6) AS centroid
    FROM embeddings, unnest(range(0, len(embedding))) AS u(pos)
    GROUP BY label, pos
    """,
    exchanges=1,
)
def q_label_centroids(spark, sf_dir):
    """Per-label embedding centroids in exploded form (label, dim,
    mean) — the inner step of k-means / IVF training, expressed as a
    plain two-key aggregation: posexplode is pipelined, component sums
    accumulate in DECIMAL (exact, order-independent), and the single
    shuffle carries one partial state per (label, dim) — constant in
    corpus size.  Reassembling array centroids is a sort_array over
    collect_list downstream (operators/similarity.ivf_build does
    exactly that)."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(18,9)")).cast("double")
                / F.count("*"),
                6,
            ).alias("centroid")
        )
    )


@register(
    "event_funnel",
    """
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id)
    SELECT count(*) AS n_users,
           count(t_view) AS saw_view,
           count(CASE WHEN t_click > t_view THEN 1 END) AS view_then_click,
           count(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END)
             AS full_funnel
    FROM firsts
    """,
    # per-user pivot + single-row rollup
    exchanges=2,
)
def q_event_funnel(spark, sf_dir):
    """Conversion funnel (view -> click -> purchase) via conditional
    min-timestamp pivoting — sequential pattern analysis with ONE
    shuffle keyed by user (the MATCH_RECOGNIZE-lite formulation).
    NULL ordering semantics do the step gating: a missing stage makes
    the comparison NULL, which counts as not-converted on both
    engines.  At 100 TB the per-user state is three timestamps, and
    the final rollup is a single-row combine."""
    e = _t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("saw_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias(
            "view_then_click"
        ),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("full_funnel"),
    )


@register(
    "cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id),
    activity AS (
      SELECT e.user_id,
             time_bucket(INTERVAL '1 day', f.first_ts) AS cohort_day,
             datediff('day', time_bucket(INTERVAL '1 day', f.first_ts),
                      time_bucket(INTERVAL '1 day', e.ts)) AS day_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id)
    SELECT cohort_day, day_offset,
           count(DISTINCT user_id) AS active_users
    FROM activity
    GROUP BY cohort_day, day_offset
    """,
    # first-seen agg + join-back + distinct-user expand
    exchanges=3,
)
def q_cohort_retention(spark, sf_dir):
    """Cohort retention: users bucketed by first-seen day, activity
    counted per day offset — the standard engagement triangle.  The
    first-seen table is one user-keyed aggregation that joins back to
    the event stream (broadcast when users ≪ events, AQE decides);
    distinct-user counts shuffle (cohort, offset, user) once.  Date
    arithmetic is integer-exact on both engines."""
    e = _t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    activity = e.join(firsts, "user_id").select(
        "user_id",
        F.date_trunc("day", F.col("first_ts")).cast("timestamp_ntz").alias("cohort_day"),
        F.datediff(
            F.date_trunc("day", F.col("ts")), F.date_trunc("day", F.col("first_ts"))
        ).alias("day_offset"),
    )
    return activity.groupBy("cohort_day", "day_offset").agg(
        F.countDistinct("user_id").alias("active_users")
    )


@register(
    "gopher_quality_rules",
    """
    WITH sig AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             length(text) AS n_chars,
             length(text)
               - length(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))
               AS n_symbols
      FROM documents)
    SELECT count(*) AS n_docs,
           count(CASE WHEN n_tokens BETWEEN 50 AND 100000 THEN 1 END)
             AS pass_length,
           count(CASE WHEN n_tokens > 0 AND
                 CAST(n_chars AS DOUBLE) / n_tokens BETWEEN 3 AND 10 THEN 1 END)
             AS pass_mean_word_len,
           count(CASE WHEN n_chars > 0 AND
                 CAST(n_symbols AS DOUBLE) / n_chars < 0.1 THEN 1 END)
             AS pass_symbol_ratio,
           count(CASE WHEN n_tokens BETWEEN 50 AND 100000
                 AND n_tokens > 0
                 AND CAST(n_chars AS DOUBLE) / n_tokens BETWEEN 3 AND 10
                 AND n_chars > 0
                 AND CAST(n_symbols AS DOUBLE) / n_chars < 0.1 THEN 1 END)
             AS pass_all
    FROM sig
    """,
    # fan_out + single-row rollup
    exchanges=2,
)
def q_gopher_quality_rules(spark, sf_dir):
    """Gopher-style rule-based quality gate (length bounds, mean word
    length band, symbol-to-char ratio) evaluated corpus-wide in one
    pass: every signal is a per-row JVM expression, the rollup is a
    single-row combine — zero keyed shuffles at any corpus size.
    Ratios compare as doubles on integer inputs (exact on both
    engines); thresholds follow Rae et al.'s published heuristics,
    loosened to this corpus's synthetic shape."""
    d = _t_cpu(spark, sf_dir, "documents")
    sig = d.select(
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z ]", ""))
        ).alias("n_symbols"),
    )
    mean_wl = F.col("n_chars").cast("double") / F.col("n_tokens")
    sym = F.col("n_symbols").cast("double") / F.col("n_chars")
    ok_len = F.col("n_tokens").between(50, 100000)
    ok_wl = (F.col("n_tokens") > 0) & mean_wl.between(3, 10)
    ok_sym = (F.col("n_chars") > 0) & (sym < 0.1)
    return sig.agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(ok_len, 1)).alias("pass_length"),
        F.count(F.when(ok_wl, 1)).alias("pass_mean_word_len"),
        F.count(F.when(ok_sym, 1)).alias("pass_symbol_ratio"),
        F.count(F.when(ok_len & ok_wl & ok_sym, 1)).alias("pass_all"),
    )


# Batch-2 registrations (warehouse / retrieval / chunking) live in a
# sibling module; importing it populates REGISTRY.
from sparkplans.queries import warehouse  # noqa: E402,F401

# Batch-3 (rolling actives / attribution / percentiles / EWMA /
# mixture weights) likewise.
from sparkplans.queries import analytics  # noqa: E402,F401

# Batch-6 (interval concurrency / time-weighted avg / MAD outliers /
# Pareto frontier / RRF hybrid retrieval) likewise.
from sparkplans.queries import temporal  # noqa: E402,F401

# Batch-7 (OHLC bars / streaks / weighted median / Benford /
# association rules) likewise.
from sparkplans.queries import quant  # noqa: E402,F401

# Batch-8 (quality classifier inference / temperature mixture /
# bigram LM scoring / exact distributed ROC-AUC) likewise.
from sparkplans.queries import mlprep  # noqa: E402,F401

# Batch-9: the remaining 19 canonical TPC-H shapes (q2,q4,q6-q22),
# completing all 22 together with pricing_summary/q3/q5 above.
from sparkplans.queries import tpch  # noqa: E402,F401
