"""Batch-7 queries: quantitative/ops analytics — OHLC bars,
gaps-and-islands streaks, weighted median, Benford's-law audit, and
market-basket association rules.

Same contract as the main registry (every entry DuckDB-oracled) and
the same numeric discipline: DECIMAL-exact accumulation for sums,
integer arithmetic wherever the semantics allow, single-op IEEE
scalars rounded at the edge, deterministic tie-breaks everywhere.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkplans.materialize import materialize, materialize_lazy
from pyspark.sql.window import Window

from sparkplans.queries import _rowcount, _shared_sql, _t, _t_cpu, register

# lineitem row count at which q_weighted_median_price switches from the
# single-window plan to the two-phase bucket plan.
_MEDIAN_TWO_PHASE_ROWS = 20_000_000


# ---------------------------------------------------------------------
# OHLC candlestick bars (hypertable first/last aggregates)
# ---------------------------------------------------------------------

_shared_sql(
    "ohlc_daily_bars",
    """
    WITH r AS (
      SELECT event_type, CAST(ts AS DATE) AS day, value,
             row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events)
    SELECT event_type, day,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*) AS n_obs
    FROM r GROUP BY event_type, day
    """,
    # both bar-local windows and the OHLC aggregate share one
    # (event_type, day) shuffle (+ tiny final hop)
    exchanges=2,
)
# TimescaleDB's first()/last() time-bucketed OHLC as one pass: rank
# within the bar from both ends ((ts, event_id) is a total order, so
# open/close are unique rows), then a conditional max plucks them
# while high/low/count fold in the same aggregation.  min/max over
# doubles are exact; no float arithmetic at all.  Scale: both windows
# and the aggregate share the (event_type, day) partitioning — one
# shuffle, then per-bar state only.


# ---------------------------------------------------------------------
# Gaps-and-islands: consecutive-day activity streaks
# ---------------------------------------------------------------------


@register(
    "activity_streaks",
    """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    g AS (
      SELECT user_id, day,
             CAST(day - DATE '1970-01-01' AS BIGINT)
               - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
      FROM d)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS streak_days,
           min(day) AS streak_start,
           max(day) AS streak_end
    FROM g GROUP BY user_id, grp
    HAVING count(*) >= 3
    """,
    # one user-keyed shuffle shared by the island window and the
    # streak rollup (+ distinct pre-agg hop)
    exchanges=2,
)
def q_activity_streaks(spark, sf_dir):
    """Longest-run detection (gaps-and-islands): a user's consecutive
    active days share `epoch_day - row_number()` — the classic
    constant-group trick, all integer arithmetic.  The oracle differs
    only in the day-difference spelling (DuckDB ``day - DATE`` vs
    Spark ``datediff``), both exact BIGINTs.  One user-keyed shuffle
    shared by the window and the aggregate; per-user state is the
    distinct-day list, never raw events."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.withColumn(
        "grp",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).cast(
            "bigint"
        )
        - F.row_number().over(w),
    )
    return (
        g.groupBy("user_id", "grp")
        .agg(
            F.count("*").cast("bigint").alias("streak_days"),
            F.min("day").alias("streak_start"),
            F.max("day").alias("streak_end"),
        )
        .filter(F.col("streak_days") >= 3)
        .drop("grp")
    )


# ---------------------------------------------------------------------
# Weighted median (quantity-weighted price)
# ---------------------------------------------------------------------

@register(
    "weighted_median_price",
    """
    WITH w AS (
      SELECT l_returnflag, l_extendedprice AS v,
             CAST(l_quantity AS DECIMAL(18,2)) AS wt
      FROM lineitem),
    c AS (
      SELECT l_returnflag, v,
             sum(wt) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
             sum(wt) OVER (PARTITION BY l_returnflag) AS tot
      FROM w)
    SELECT l_returnflag, min(v) AS weighted_median
    FROM c WHERE 2 * cum >= tot
    GROUP BY l_returnflag
    """,
    # was 1 with the naive flag-partitioned running window — which
    # capped parallelism at |flags| = 3 (sf30: 7x wall for 3x data).
    # The scalable two-phase plan pays 6 exchanges, but every one is
    # either a combine-heavy aggregation of the corpus (1 pass) or an
    # exchange of the bounded bucket/median-slice frames
    exchanges=6,
)
def q_weighted_median_price(spark, sf_dir):
    """Weighted median = smallest value whose cumulative weight
    reaches half the total.  Weights accumulate as DECIMAL (exact,
    any order); the half-total test is ``2*cum >= tot`` — integer-
    scaled DECIMAL compare, no division, no float anywhere (the
    median is a picked input value, not an interpolation).

    The oracle keeps the naive one-window form; the Spark plan is the
    SCALABLE exact two-phase: the naive ``sum(wt) OVER (PARTITION BY
    l_returnflag ORDER BY v)`` has parallelism = |distinct flags| = 3
    no matter the corpus (sf30 measured it at 7x wall for 3x data —
    three tasks each sorting 60M rows), so instead

    1. rows fold into monotone integer VALUE BUCKETS — groupBy(flag,
       floor(v)): map-side combinable, full cluster parallelism, and
       the only pass over corpus-scale data;
    2. the running sum runs over the BUCKET frame (|flags| x
       |buckets| ~ 300k rows — bounded regardless of corpus size),
       finding each flag's median bucket and the cumulative weight
       before it;
    3. the within-bucket tie-exact cumsum (the default RANGE frame's
       "ties share one cum" semantics, reproduced by grouping on v
       first) runs over only the median bucket's slice, joined by a
       3-row broadcast.

    Same answer bit-for-bit (buckets are monotone in v, and
    cum_before < tot/2 <= cum_bucket pins the answer inside the
    bucket), but the corpus-scale stages are all combine-heavy
    aggregations instead of a 3-task global sort.

    Size-adaptive (same pattern as the triangle core's fold-vs-BLAS
    switch): below ``_MEDIAN_TWO_PHASE_ROWS`` (20M, read from
    parquet footers — zero jobs) the naive single-
    window plan wins on fixed cost (sf0.1: 0.98 s vs 1.9 s for six
    stages); above it the 3-task sort is the bottleneck (sf10 77 →
    8.6 s, sf30 539 → 34 s two-phase).  Both plans are exact and
    hash-identical to the oracle."""
    w = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("decimal(18,2)").alias("wt"),
    )
    if _rowcount(sf_dir, "lineitem") < _MEDIAN_TWO_PHASE_ROWS:
        win_n = Window.partitionBy("l_returnflag").orderBy("v")
        win_t = Window.partitionBy("l_returnflag")
        c = w.withColumn("cum", F.sum("wt").over(win_n)).withColumn(
            "tot", F.sum("wt").over(win_t)
        )
        return (
            c.filter(2 * F.col("cum") >= F.col("tot"))
            .groupBy("l_returnflag")
            .agg(F.min("v").alias("weighted_median"))
        )
    agg_b = w.groupBy(
        "l_returnflag", F.floor("v").cast("long").alias("b")
    ).agg(F.sum("wt").alias("wb"))
    win_b = Window.partitionBy("l_returnflag").orderBy("b")
    win_all = Window.partitionBy("l_returnflag")
    cb = agg_b.withColumn("cumb", F.sum("wb").over(win_b)).withColumn(
        "tot", F.sum("wb").over(win_all)
    )
    # median bucket + exact cumulative weight strictly before it
    mb = (
        cb.filter(2 * F.col("cumb") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(F.min("b").alias("mb"))
        .join(cb, "l_returnflag")
        .filter(F.col("b") == F.col("mb"))
        .select(
            F.col("l_returnflag").alias("mf"),
            "mb",
            (F.col("cumb") - F.col("wb")).alias("before"),
            "tot",
        )
    )
    sliced = w.join(
        F.broadcast(mb),
        (F.col("l_returnflag") == F.col("mf"))
        & (F.floor(F.col("v")).cast("long") == F.col("mb")),
    ).select("l_returnflag", "v", "wt", "before", "tot")
    per_v = sliced.groupBy("l_returnflag", "v", "before", "tot").agg(
        F.sum("wt").alias("wv")
    )
    win_v = Window.partitionBy("l_returnflag").orderBy("v")
    cum = per_v.withColumn(
        "cum", F.col("before") + F.sum("wv").over(win_v)
    )
    return (
        cum.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(F.min("v").alias("weighted_median"))
    )


# ---------------------------------------------------------------------
# Benford's-law first-digit audit (fraud/data-quality signal)
# ---------------------------------------------------------------------

_shared_sql(
    "benford_first_digit",
    """
    WITH d AS (
      SELECT substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                            AS STRING), 1, 1) AS first_digit
      FROM orders WHERE o_totalprice >= 1),
    c AS (SELECT first_digit, count(*) AS n FROM d GROUP BY first_digit)
    SELECT first_digit, n,
           round(CAST(n AS DOUBLE) / sum(n) OVER (), 6) AS frac,
           round(log10(1.0 + 1.0 / CAST(first_digit AS DOUBLE)), 6)
             AS benford_expected
    FROM c
    """,
    # 9-group digit count (map-side combined) + the 9-row OVER ()
    exchanges=2,
)
# First-significant-digit distribution vs Benford's log10(1 + 1/d)
# expectation — the standard bulk-data fraud/entry-error screen.
# The digit comes from integer string math (floor → BIGINT → first
# char): no engine-dependent double formatting, and DuckDB's
# round-to-nearest double→int cast is sidestepped by the explicit
# floor.  The 9-row result makes the empty OVER () window free; the
# only shuffle is the 9-group digit count, combined map-side.


# ---------------------------------------------------------------------
# Maximum drawdown (running-peak decline, per series)
# ---------------------------------------------------------------------

_shared_sql(
    "max_drawdown",
    """
    WITH s AS (
      SELECT event_type, value,
             max(value) OVER (PARTITION BY event_type
                              ORDER BY ts, event_id) AS peak
      FROM events)
    SELECT event_type,
           round(max(peak - value), 6) AS max_abs_drawdown,
           round(max((peak - value) / peak), 6) AS max_rel_drawdown
    FROM s GROUP BY event_type
    """,
    # running-peak window and the per-series rollup share one
    # series-keyed shuffle
    exchanges=1,
)
# The risk metric for any cumulative series: largest drop from a
# running peak.  The running max is an exact pick (no float
# arithmetic), each drawdown is one/two IEEE ops on engine-identical
# inputs, and the final max is again a pick — rounding only at the
# edge.  (values are strictly positive in this corpus, so the
# relative form is total.)  One series-keyed shuffle shared by the
# window and the rollup; per-series window state is a single double,
# so the plan holds at any series length.


# ---------------------------------------------------------------------
# Revenue-concentration Gini coefficient
# ---------------------------------------------------------------------

@register(
    "revenue_gini",
    """
    WITH c AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
      FROM orders GROUP BY o_custkey),
    r AS (
      SELECT s, row_number() OVER (ORDER BY s, o_custkey) AS i,
             count(*) OVER () AS n, sum(s) OVER () AS tot
      FROM c)
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           round(CAST(sum((2 * i - n - 1) * s) AS DOUBLE)
                 / (CAST(max(n) AS DOUBLE) * max(tot)), 6) AS gini
    FROM r
    """,
    # customer spend agg + the per-customer ranked windows
    exchanges=2,
)
def q_revenue_gini(spark, sf_dir):
    """Gini coefficient of per-customer revenue — the inequality /
    concentration metric behind "what share of revenue do the top
    customers carry".  The rank-sum form G = Σ(2i−n−1)·s / (n·Σs) with
    DECIMAL spend totals and integer ranks keeps every accumulation
    exact (order-free DECIMAL·int sums); only the final divide is IEEE.
    Ranks tie-break on custkey, so the statistic is deterministic.

    Scale: the global rank is computed WITHOUT a single-partition
    window (the round-1 scale-killer).  Distributed two-pass rank:
    approxQuantile on the per-customer spend gives range-bucket bounds
    (kilobyte driver model state, re-entered as literals — the IVF
    centroid pattern); each row's bucket is a literal comparison chain
    (no shuffle); a *partitioned* window ranks locally inside each
    bucket — ONE hash exchange on bucket, the only big-frame shuffle
    after the spend agg.  Per-bucket (count, sum) — <= n_buckets rows,
    model state again — are collected once and re-entered as literal
    rank offsets and the (n, Σs) denominators, so the final plan is
    exactly window-exchange + final agg: the same 2-exchange budget as
    the old global-window form, with no executor ever holding more
    than its bucket's range slice."""
    from functools import reduce

    o = _t(spark, sf_dir, "orders")
    c = (
        o.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"))
        .withColumn("sd", F.col("s").cast("double"))
        .transform(materialize_lazy)
    )
    n_buckets = max(spark.sparkContext.defaultParallelism, 2)
    bounds = sorted(
        set(
            c.approxQuantile(
                "sd", [i / n_buckets for i in range(1, n_buckets)], 0.01
            )
        )
    )
    bucket = reduce(
        lambda acc, b: acc + F.when(F.col("sd") > F.lit(b), 1).otherwise(0),
        bounds,
        F.lit(0),
    )
    # per-bucket row counts and spend sums: <= n_buckets rows of model
    # state (map-side combined), folded into literals like IVF
    # centroids — removes every small-frame exchange from the plan
    bstats = sorted(
        (r["bucket"], r["pc"], r["bs"])
        for r in c.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(F.count("*").alias("pc"), F.sum("s").alias("bs"))
        .collect()
    )
    n = sum(pc for _, pc, _ in bstats)
    tot = sum(bs for _, _, bs in bstats)  # exact Decimal sum
    offsets, acc = {}, 0
    for b, pc, _ in bstats:
        offsets[b] = acc
        acc += pc
    off_expr = reduce(
        lambda e, kv: e.when(F.col("bucket") == kv[0], F.lit(kv[1])),
        offsets.items(),
        F.when(F.lit(False), 0),
    ).otherwise(0)
    ranked = (
        c.withColumn("bucket", bucket)
        .withColumn(
            "li",
            F.row_number().over(
                Window.partitionBy("bucket").orderBy("s", "o_custkey")
            ),
        )
        .select("s", (F.col("li") + off_expr).alias("i"))
    )
    denom = float(n) * float(tot)
    return ranked.agg(
        F.sum((2 * F.col("i") - F.lit(n) - 1) * F.col("s")).alias("rs")
    ).select(
        F.lit(n).cast("bigint").alias("n_customers"),
        F.round(F.col("rs").cast("double") / F.lit(denom), 6).alias("gini"),
    )


# ---------------------------------------------------------------------
# Population stability index (ML monitoring drift score)
# ---------------------------------------------------------------------

@register(
    "psi_value_drift",
    """
    WITH x AS (
      SELECT CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN 'a' ELSE 'b' END AS half,
             value
      FROM events),
    ext AS (SELECT min(value) AS lo, max(value) AS hi FROM x),
    b AS (
      SELECT half,
             CAST(least(floor((value - lo) * 10 / (hi - lo)), 9)
                  AS BIGINT) AS bin,
             count(*) AS n
      FROM x CROSS JOIN ext WHERE hi > lo
      GROUP BY half, CAST(least(floor((value - lo) * 10 / (hi - lo)), 9)
                          AS BIGINT)),
    p AS (
      SELECT bin,
             sum(CASE WHEN half = 'a' THEN n ELSE 0 END) AS na,
             sum(CASE WHEN half = 'b' THEN n ELSE 0 END) AS nb
      FROM b GROUP BY bin),
    t AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM p),
    terms AS (
      SELECT CAST((CAST(na AS DOUBLE) / ta - CAST(nb AS DOUBLE) / tb)
                  * ln((CAST(na AS DOUBLE) / ta)
                       / (CAST(nb AS DOUBLE) / tb))
                  AS DECIMAL(18,12)) AS term
      FROM p CROSS JOIN t WHERE na > 0 AND nb > 0)
    SELECT round(CAST(sum(term) AS DOUBLE), 6) AS psi,
           CAST(count(*) AS BIGINT) AS n_bins
    FROM terms
    """,
    # extent is driver model state; 10-row bin table checkpointed —
    # corpus scanned twice (extent + binning), never re-inlined
    exchanges=2,
)
def q_psi_value_drift(spark, sf_dir):
    """Population stability index between the first and second half of
    the month — THE production-ML drift score (rule of thumb: > 0.2 =
    investigate), completing the drift family beside chi-square
    (categorical) and KS (continuous, nonparametric).  Each bin's term
    is one IEEE expression on exact integer ratios, then cast to
    DECIMAL before summing — the sum is order-free, so the engines
    agree bit-for-bit despite float terms.  Bins with zero mass on
    either side are excluded (standard PSI practice).  Spark side:
    extent is driver model state (two doubles) and the 10-row bin
    table is localCheckpoint-ed, so the corpus is scanned twice
    (extent + binning) instead of the oracle CTE's three re-inlines."""
    ev = _t(spark, sf_dir, "events")
    x = ev.select(
        F.when(
            F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp_ntz"),
            F.lit("a"),
        )
        .otherwise(F.lit("b"))
        .alias("half"),
        "value",
    )
    ext = x.groupBy().agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    ).first()
    if ext.lo is None or not ext.hi > ext.lo:
        # degenerate extent (empty or flat data): the SQL oracle's
        # final aggregate-without-GROUP-BY still emits ONE row
        # (NULL psi, 0 bins) — match it, not a 0-row frame
        return spark.createDataFrame(
            [(None, 0)], "psi double, n_bins bigint"
        )
    lo, hi = F.lit(ext.lo), F.lit(ext.hi)
    b = (
        x.withColumn(
            "bin",
            F.least(
                F.floor((F.col("value") - lo) * 10 / (hi - lo)), F.lit(9)
            ).cast("bigint"),
        )
        .groupBy("half", "bin")
        .agg(F.count("*").alias("n"))
    )
    p = (
        b.groupBy("bin")
        .agg(
            F.sum(F.when(F.col("half") == "a", F.col("n")).otherwise(0)).alias("na"),
            F.sum(F.when(F.col("half") == "b", F.col("n")).otherwise(0)).alias("nb"),
        )
        .transform(materialize_lazy)
    )
    t = p.groupBy().agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    ra = F.col("na").cast("double") / F.col("ta")
    rb = F.col("nb").cast("double") / F.col("tb")
    terms = (
        p.crossJoin(F.broadcast(t))
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(((ra - rb) * F.log(ra / rb)).cast("decimal(18,12)").alias("term"))
    )
    return terms.groupBy().agg(
        F.round(F.sum("term").cast("double"), 6).alias("psi"),
        F.count("*").cast("bigint").alias("n_bins"),
    )


# ---------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov distance (distribution drift)
# ---------------------------------------------------------------------

@register(
    "ks_doc_length_drift",
    """
    WITH d AS (
      SELECT source, n_chars AS v, count(*) AS n
      FROM documents WHERE source IN ('src0', 'src1')
      GROUP BY source, n_chars),
    g AS (
      SELECT v,
             sum(CASE WHEN source = 'src0' THEN n ELSE 0 END) AS na,
             sum(CASE WHEN source = 'src1' THEN n ELSE 0 END) AS nb
      FROM d GROUP BY v),
    cum AS (
      SELECT v,
             sum(na) OVER (ORDER BY v) AS ca,
             sum(nb) OVER (ORDER BY v) AS cb,
             (SELECT sum(na) FROM g) AS ta,
             (SELECT sum(nb) FROM g) AS tb
      FROM g)
    SELECT CAST(max(ta) AS BIGINT) AS n_a,
           CAST(max(tb) AS BIGINT) AS n_b,
           round(max(abs(CAST(ca AS DOUBLE) / ta
                         - CAST(cb AS DOUBLE) / tb)), 6) AS ks_stat
    FROM cum
    """,
    # per-value grid checkpointed (corpus aggregates once); the CDF
    # window + totals + final max run on |distinct lengths| rows
    exchanges=2,
)
def q_ks_doc_length_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov distance between two sources'
    document-length distributions — the continuous-drift companion to
    the chi-square screen: empirical CDFs evaluated at every observed
    value via integer cumulative counts, KS = max CDF gap.  Per-point
    CDF values are single divides of exact integers; max is a pick.
    The per-value grid is localCheckpoint-ed so the corpus aggregates
    ONCE (the oracle's scalar subqueries re-inline it — fine for
    DuckDB's materialized CTEs, a 3× scan for Spark without the
    cut); the ordered window runs on |distinct lengths| rows."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.filter(F.col("source").isin("src0", "src1")).groupBy(
        "source", F.col("n_chars").alias("v")
    ).agg(F.count("*").alias("n"))
    g = (
        d.groupBy("v")
        .agg(
            F.sum(
                F.when(F.col("source") == "src0", F.col("n")).otherwise(0)
            ).alias("na"),
            F.sum(
                F.when(F.col("source") == "src1", F.col("n")).otherwise(0)
            ).alias("nb"),
        )
        .transform(materialize_lazy)
    )
    tot = g.groupBy().agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb")
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = g.select(
        "v",
        F.sum("na").over(w).alias("ca"),
        F.sum("nb").over(w).alias("cb"),
    ).crossJoin(F.broadcast(tot))
    return cum.groupBy().agg(
        F.max("ta").cast("bigint").alias("n_a"),
        F.max("tb").cast("bigint").alias("n_b"),
        F.round(
            F.max(
                F.abs(
                    F.col("ca").cast("double") / F.col("ta")
                    - F.col("cb").cast("double") / F.col("tb")
                )
            ),
            6,
        ).alias("ks_stat"),
    )


# ---------------------------------------------------------------------
# Balanced class weights (training-loop reweighting)
# ---------------------------------------------------------------------

_shared_sql(
    "balanced_class_weights",
    """
    WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
    t AS (SELECT sum(n) AS tot, count(*) AS k FROM c)
    SELECT label, CAST(n AS BIGINT) AS n,
           round(CAST(tot AS DOUBLE) / (k * n), 6) AS class_weight
    FROM c CROSS JOIN t
    """,
    # label census + the one-row totals branch (class-count rows)
    exchanges=3,
)
# sklearn's `class_weight='balanced'` (total / (n_classes * n_label))
# as one aggregation + a one-row totals broadcast — the loss-reweight
# table a training loop consumes for imbalanced labels.  All counts
# integer; one IEEE expression per class at the edge.


# ---------------------------------------------------------------------
# Seasonal-naive forecast backtest (WAPE)
# ---------------------------------------------------------------------

_shared_sql(
    "seasonal_naive_wape",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    f AS (
      SELECT event_type, day, n,
             lag(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS fc
      FROM d)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(abs(n - fc)) AS BIGINT) AS abs_err_total,
           CAST(sum(n) AS BIGINT) AS actual_total,
           round(CAST(sum(abs(n - fc)) AS DOUBLE) / sum(n), 6) AS wape
    FROM f WHERE fc IS NOT NULL
    GROUP BY event_type
    """,
    # daily grid agg + the type-keyed lag window / WAPE rollup
    exchanges=2,
)
# Forecast-quality backtest for the simplest seasonal model (predict
# = same weekday last week), scored with WAPE — which, unlike MAPE,
# stays integer-exact until one final divide: both the absolute-error
# total and the actuals total are integer sums, so the result is
# bit-identical on any engine and any row order.  One (type, day)
# grid agg + one type-keyed lag window — daily-grid-sized all the way.


# ---------------------------------------------------------------------
# Approximate heavy hitters (Misra-Gries scale path)
# ---------------------------------------------------------------------


@register(
    "approx_topk_tokens",
    """
    WITH toks AS (
      SELECT tok
      FROM documents,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS u(tok)
      WHERE tok <> ''
    ),
    tot AS (SELECT count(*) AS n FROM toks)
    SELECT tok, TRUE AS present, TRUE AS lower_bound_ok, TRUE AS error_bound_ok
    FROM (SELECT tok, count(*) AS c FROM toks GROUP BY tok) t, tot
    WHERE t.c > tot.n / 31.0
    """,
    # exact-count agg (1) + distinct-heavy filter; sketch side broadcasts
    # the stream-length scalar moved INTO the plan (broadcast 1-row
    # sum over the token counts), so the exact agg appears twice in
    # the pre-AQE tree (runtime dedupes via ReusedExchange) — was a
    # separate driver count() + extra tokenize pass; 3.5x faster
    exchanges=5,
)
def q_approx_topk_tokens(spark, sf_dir):
    """Bounded-memory heavy-hitter tokens via the Misra-Gries sketch
    (`operators/sketches.misra_gries_topk`) — the scale path beside
    the exact `queries/heavy_hitters_tokens`: partitions×capacity
    counter rows cross the wire instead of the full (token, count)
    table.

    Driver contract (tolerance encoding, like the HLL/GK twins): the
    sketch's estimates depend on stream order, so the theorem itself
    is the result.  For every token whose EXACT count exceeds
    n/(capacity+1) — a set DuckDB computes independently — the row
    carries the three Misra-Gries guarantees: ``present`` (every such
    token must survive the sketch), ``lower_bound_ok`` (estimates
    never exceed true counts), ``error_bound_ok`` (undercount is at
    most n/(capacity+1)).  The oracle emits the expected all-true
    grid, so row count, schema, and value hash are all exercised."""
    from sparkplans.operators.sketches import misra_gries_topk

    capacity = 30
    d = _t_cpu(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    sketch = misra_gries_topk(toks, "tok", capacity=capacity)

    exact = toks.groupBy("tok").agg(F.count("*").alias("c"))
    # the stream length n stays IN the plan (broadcast 1-row sum of the
    # per-token counts — no extra tokenize pass, no driver count job)
    tot = exact.agg(F.sum("c").alias("__n"))
    bound = F.col("__n") / (capacity + 1)
    heavy = exact.crossJoin(F.broadcast(tot)).filter(F.col("c") > bound)
    joined = heavy.join(
        F.broadcast(sketch.withColumnRenamed("item", "tok")), "tok", "left"
    )
    return joined.select(
        "tok",
        F.col("est_count").isNotNull().alias("present"),
        (F.col("est_count") <= F.col("c")).alias("lower_bound_ok"),
        ((F.col("c") - F.col("est_count")) <= bound).alias(
            "error_bound_ok"
        ),
    )


# ---------------------------------------------------------------------
# Daily percentile bands (ops-dashboard p50/p95/p99)
# ---------------------------------------------------------------------


@register(
    "daily_value_percentile_bands",
    """
    SELECT event_type, CAST(ts AS DATE) AS day,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type, CAST(ts AS DATE)
    """,
    # one (series, day)-keyed exact-percentile aggregation
    exchanges=1,
)
def q_daily_value_percentile_bands(spark, sf_dir):
    """p50/p95/p99 bands per series per day — the latency-dashboard
    aggregation.  Exact interpolated percentiles (Spark ``percentile``
    == DuckDB ``quantile_cont``, equivalence pinned by
    `queries/percentile_exact`); per-group buffering is bounded by one
    day of one series, and at 100 TB the GK-sketch path
    (`queries/approx_value_quantiles`) is the registered alternative
    when even that is too hot."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


# ---------------------------------------------------------------------
# Tokenizer fertility per language (tokenizer-health diagnostic)
# ---------------------------------------------------------------------


@register(
    "tokenizer_fertility_by_lang",
    """
    WITH t AS (
      SELECT lang,
             len(regexp_extract_all(text,
                 '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s'']+'))
               AS bpe,
             len(regexp_split_to_array(trim(text), '\\s+')) AS ws
      FROM documents WHERE trim(text) <> '')
    SELECT lang,
           CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
           CAST(sum(ws) AS BIGINT) AS ws_tokens,
           round(CAST(sum(bpe) AS DOUBLE) / sum(ws), 6) AS fertility
    FROM t GROUP BY lang
    """,
    # fan_out hop + one lang-keyed two-phase aggregation
    exchanges=2,
)
def q_tokenizer_fertility_by_lang(spark, sf_dir):
    """Tokenizer fertility (BPE-ish tokens per whitespace word) per
    language — the tokenizer-health diagnostic that flags languages a
    vocabulary serves poorly (fertility spikes → over-segmentation →
    wasted context window).  Integer token counts from the registered
    JVM-side counters (`functions.text`); the ratio is one IEEE divide
    of exact integer sums.  One lang-keyed two-phase aggregation."""
    from sparkplans.functions.text import bpe_token_count, token_count

    d = _t_cpu(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    t = d.select(
        "lang",
        bpe_token_count("text").alias("bpe"),
        token_count("text").alias("ws"),
    )
    return t.groupBy("lang").agg(
        F.sum("bpe").cast("bigint").alias("bpe_tokens"),
        F.sum("ws").cast("bigint").alias("ws_tokens"),
        F.round(
            F.sum("bpe").cast("double") / F.sum("ws"), 6
        ).alias("fertility"),
    )


# ---------------------------------------------------------------------
# Time-to-convert latency percentiles (funnel timing)
# ---------------------------------------------------------------------


@register(
    "time_to_convert_percentiles",
    """
    WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    d AS (
      SELECT c.user_id, c.ts,
             min(CAST(floor(epoch(p.ts)) AS BIGINT)
                 - CAST(floor(epoch(c.ts)) AS BIGINT)) AS delta_s
      FROM c JOIN p ON c.user_id = p.user_id
         AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 24 HOUR
      GROUP BY c.user_id, c.ts)
    SELECT CAST(count(*) AS BIGINT) AS n_converting_clicks,
           round(quantile_cont(delta_s, 0.5), 6) AS p50_s,
           round(quantile_cont(delta_s, 0.9), 6) AS p90_s
    FROM d
    """,
    # user-keyed band join + per-click min + the one-row percentile
    exchanges=2,
)
def q_time_to_convert_percentiles(spark, sf_dir):
    """Funnel timing: for each click that converts within 24h, the
    latency to the FIRST purchase, summarized as interpolated p50/p90
    (Spark ``percentile`` == DuckDB ``quantile_cont`` on integer
    second deltas — equivalence pinned by `queries/percentile_exact`).
    The band join keys on user_id (candidates per-user-per-window,
    never corpus²), min() collapses map-side, and the percentile runs
    over converting clicks only."""
    ev = _t(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    d = (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("ts"))
            & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 24 HOURS")),
        )
        .groupBy("user_id", "ts")
        .agg(
            F.min(
                F.unix_timestamp("p_ts").cast("bigint")
                - F.unix_timestamp("ts").cast("bigint")
            ).alias("delta_s")
        )
    )
    return d.groupBy().agg(
        F.count("*").cast("bigint").alias("n_converting_clicks"),
        F.round(F.expr("percentile(delta_s, 0.5)"), 6).alias("p50_s"),
        F.round(F.expr("percentile(delta_s, 0.9)"), 6).alias("p90_s"),
    )


# ---------------------------------------------------------------------
# Rolling correlation between two series
# ---------------------------------------------------------------------

_shared_sql(
    "rolling_corr_7d",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             count(*) FILTER (WHERE event_type = 'click') AS c,
             count(*) FILTER (WHERE event_type = 'purchase') AS p
      FROM events GROUP BY CAST(ts AS DATE)),
    w AS (
      SELECT day, n, sc, sp, scc, spp, scp
      FROM (
        SELECT day,
               count(*) OVER win AS n,
               sum(c) OVER win AS sc, sum(p) OVER win AS sp,
               sum(c * c) OVER win AS scc, sum(p * p) OVER win AS spp,
               sum(c * p) OVER win AS scp
        FROM d
        WINDOW win AS (ORDER BY day
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) t)
    SELECT day,
           floor((CAST(n AS DOUBLE) * scp - CAST(sc AS DOUBLE) * sp)
                 / (sqrt(CAST(n AS DOUBLE) * scc
                         - CAST(sc AS DOUBLE) * sc)
                    * sqrt(CAST(n AS DOUBLE) * spp
                           - CAST(sp AS DOUBLE) * sp))
                 * 1000000) / 1000000 AS corr7
    FROM w WHERE n = 7
    """,
    # daily grid agg + the one-row-per-day global frame window
    exchanges=2,
)
# Trailing 7-day Pearson correlation between two event series — the
# co-movement diagnostic behind "did clicks decouple from purchases".
# All five frame sums are INTEGER window aggregates over the daily
# grid (exact, order-free); only the final correlation is IEEE, and
# its 6dp edge is floor-truncated (the engines' round() half rules
# diverge on exact ties).  The grid window is global but runs on
# post-agg rows — one row per day, thousands at a century of data.


# ---------------------------------------------------------------------
# Cumulative distinct users (running distinct via first-seen)
# ---------------------------------------------------------------------

_shared_sql(
    "cumulative_distinct_users",
    """
    WITH f AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id),
    d AS (
      SELECT first_day AS day, count(*) AS new_users
      FROM f GROUP BY first_day)
    SELECT day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
    FROM d
    """,
    # per-user first-seen agg + per-day rollup + day-ordered run
    exchanges=3,
)
# Running COUNT(DISTINCT) over time without a quadratic self-join or
# an ever-growing distinct state: each user contributes once at their
# first-seen day, so the cumulative sum of first-appearances IS the
# distinct total (the standard first-touch decomposition).  Per-user
# min() collapses map-side; the running sum sees one row per day.
# All integers — bit-exact on both engines.


# ---------------------------------------------------------------------
# Corpus-source vocabulary overlap (mixture diagnostics)
# ---------------------------------------------------------------------


@register(
    "source_vocab_jaccard",
    """
    WITH st AS (
      SELECT DISTINCT source,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents),
    sz AS (SELECT source, count(*) AS n FROM st GROUP BY source),
    ov AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_common
      FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT source_a, source_b, n_common,
           na.n AS n_a, nb.n AS n_b,
           round(CAST(n_common AS DOUBLE)
                 / (na.n + nb.n - n_common), 6) AS jaccard
    FROM ov
    JOIN sz na ON source_a = na.source
    JOIN sz nb ON source_b = nb.source
    """,
    # (source, tok) dedup checkpointed once; visible plan: token
    # self-join + pair agg + size joins (sources² rows)
    exchanges=3,
)
def q_source_vocab_jaccard(spark, sf_dir):
    """Pairwise vocabulary Jaccard between document sources — the
    mixture-overlap diagnostic behind data-mixing decisions (two
    sources with near-identical vocabularies are redundant; near-zero
    overlap flags a domain gap).  The distinct (source, token) table
    feeds three branches (both self-join sides + sizes), so it is
    localCheckpoint-ed — the tokenize+dedup shuffle runs once.  The
    self-join keys on token; per-token fan-out is bounded by the
    number of sources (≤5 here), so candidate pairs are |vocab|·s²,
    never corpus².  Counts are integers; Jaccard is one IEEE divide,
    rounded 6dp."""
    d = _t_cpu(spark, sf_dir, "documents")
    st = (
        d.select(
            "source",
            F.explode(
                F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
            ).alias("tok"),
        )
        .distinct()
        # EAGER: st feeds the a/b sides of a self-join — sibling map
        # stages that run concurrently; a lazy cut could compute the
        # tokenize+distinct twice on a cluster (block-level dedup is
        # executor-local).  See materialize_lazy's docstring.
        .transform(materialize)
    )
    sz = st.groupBy("source").agg(F.count("*").alias("n"))
    a = st.select(F.col("source").alias("source_a"), "tok")
    b = st.select(F.col("source").alias("source_b"), "tok")
    ov = (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_common"))
    )
    na = sz.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    nb = sz.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        ov.join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------
# Window frame surface: nth_value / first / last with explicit frames
# ---------------------------------------------------------------------

_shared_sql(
    "window_frame_values",
    """
    SELECT user_id, event_id,
           nth_value(value, 2) OVER w AS second_seen,
           first_value(value) OVER w AS first_seen,
           last_value(value) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN CURRENT ROW
                                   AND 2 FOLLOWING) AS two_ahead
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    # both explicit frames share one user-keyed shuffle
    exchanges=1,
)
# The navigation-function surface with explicit ROWS frames and a
# named WINDOW clause — nth_value before its frame holds 2 rows is
# NULL on both engines, and every pick is exact (no arithmetic).
# (ts, event_id) totally orders each partition, so the frames are
# engine-independent.  One user-keyed shuffle shared by both frames.


# ---------------------------------------------------------------------
# GROUP BY ALL (modern SQL-surface parity)
# ---------------------------------------------------------------------

_shared_sql(
    "group_by_all_daily",
    """
    SELECT event_type, CAST(ts AS DATE) AS day,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
    FROM events GROUP BY ALL
    """,
    # one two-phase aggregation
    exchanges=1,
)
# GROUP BY ALL resolves the non-aggregate select list as the grouping
# key on both engines — one shared text, one two-phase aggregation,
# DECIMAL-exact sums.


# ---------------------------------------------------------------------
# BPE tokenizer training (merge table)
# ---------------------------------------------------------------------


def _bpe_oracle_sql(num_merges: int = 6) -> str:
    """DuckDB BPE trainer, UNROLLED.  The merge-application fold
    (left-to-right, no re-merge with own output — `bpe._merge_fold`)
    is reproduced with a string `replace()` trick: each symbol is
    wrapped in single spaces so adjacent symbols are separated by TWO
    spaces (' s1  s2  s3 '); merging pair (a,b) is then
    replace(' a  b ', ' ab ').  Non-overlapping left-to-right replace
    has exactly the fold's semantics ([a,a,a] + merge(a,a) → [aa, a]),
    the mandatory leading space anchors the match to a symbol START
    (so symbols ending in 'a' can't false-match), the mandatory
    trailing space anchors the END, and the replacement re-wraps the
    merged symbol so the two-space invariant survives for the next
    step.  Every CTE is MATERIALIZED — each step's vocab is referenced
    by both the next pair count and the next rewrite, and inlining
    would re-evaluate the chain 2^merges times.  Pair counting splits
    the wrapped string back on '  ' and enumerates adjacent index
    pairs via list_transform(generate_series) (empty for 1-symbol
    words: DuckDB generate_series(1,0) is [])."""
    step = lambda k: f"""
p{k} AS MATERIALIZED (
  SELECT p.a AS a, p.b AS b, CAST(sum(n) AS BIGINT) AS w FROM (
    SELECT n, unnest(list_transform(generate_series(1, len(sym)-1),
                     i -> struct_pack(a := sym[i], b := sym[i+1]))) AS p
    FROM (SELECT n, string_split(trim(s), '  ') AS sym FROM v{k-1})
  ) GROUP BY 1, 2
),
m{k} AS MATERIALIZED (SELECT a, b, w FROM p{k} ORDER BY w DESC, a, b LIMIT 1),
v{k} AS MATERIALIZED (
  SELECT n, replace(s,
      ' ' || (SELECT a FROM m{k}) || '  ' || (SELECT b FROM m{k}) || ' ',
      ' ' || (SELECT a || b FROM m{k}) || ' ') AS s
  FROM v{k-1}
)"""
    steps = ",".join(step(k) for k in range(1, num_merges + 1))
    finals = " UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS rank, a AS \"left\", b AS \"right\","
        f" a || b AS merged, w AS weight FROM m{k}"
        for k in range(1, num_merges + 1)
    )
    return f"""
WITH w AS MATERIALIZED (
  SELECT word, count(*) AS n FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word FROM documents
  ) WHERE word <> '' GROUP BY word
),
v0 AS MATERIALIZED (
  SELECT n, ' ' || array_to_string(regexp_extract_all(word, '.'), '  ') || ' ' AS s FROM w
),
{steps}
SELECT * FROM ({finals})
"""


# exchanges: training iterations run at call time (word-count shuffle +
# tiny vocab aggs); the returned merge table is driver model state
@register("bpe_merge_table", _bpe_oracle_sql(), exchanges=0)
def q_bpe_merge_table(spark, sf_dir):
    """First 6 BPE merges learned from the documents corpus
    (`operators/bpe.bpe_train`): the tokenizer-construction step of a
    training-data pipeline, run as one corpus word-count shuffle plus
    vocabulary-sized iterations.  Deterministic (lexicographic tie
    break), so the merge table is a pure function of the corpus —
    VALUE-oracled since round 6: DuckDB retrains the identical 6
    merges from scratch (see `_bpe_oracle_sql` — the fold semantics
    survive translation to non-overlapping string replace), every
    column exact (strings + integer weights, no float discipline
    needed).  Merge order additionally stays pinned against the
    hand-computed Sennrich corpus in tests/test_operators.py."""
    from sparkplans.operators.bpe import bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges, _ = bpe_train(docs, num_merges=6)
    rows = [
        (i + 1, a, b, a + b, w) for i, (a, b, w) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows,
        "rank int, left string, right string, merged string, weight bigint",
    )


@register(
    "bpe_invariants",
    """
    SELECT CAST(r AS INT) AS rank, TRUE AS rank_dense,
           TRUE AS merged_is_concat, TRUE AS weight_positive,
           TRUE AS weight_monotone
    FROM (SELECT unnest(generate_series(1, 6)) AS r) t
    """,
    # the lag() window over the 6-row driver-local merge table costs a
    # single-partition exchange of 6 rows — bounded by num_merges
    exchanges=1,
)
def q_bpe_invariants(spark, sf_dir):
    """Theorem companion to ``bpe_merge_table`` (which since round 6
    also carries a full value oracle — DuckDB retrains the merges):
    the trainer's THEOREMS are checked independently of the values — ranks are dense 1..N, ``merged`` is the
    concatenation of its parts, weights are positive, and weights are
    non-increasing in rank (each merge step picks the argmax pair, and
    merging can only shrink other pairs' counts, so the chosen maximum
    never rises).  One boolean row per merge vs the oracle's all-true
    grid; exact merge order stays pinned against the hand-computed
    Sennrich corpus in tests/test_operators.py."""
    from pyspark.sql import Window as W

    m = q_bpe_merge_table(spark, sf_dir)
    # 6-row local relation: the unpartitioned window is over a bounded
    # driver-side frame, never a scan
    w = W.orderBy("rank")
    prev_rank = F.lag("rank").over(w)
    prev_weight = F.lag("weight").over(w)
    return m.select(
        "rank",
        F.coalesce(F.col("rank") - prev_rank == 1, F.col("rank") == 1).alias(
            "rank_dense"
        ),
        (F.col("merged") == F.concat("left", "right")).alias(
            "merged_is_concat"
        ),
        (F.col("weight") > 0).alias("weight_positive"),
        F.coalesce(F.col("weight") <= prev_weight, F.lit(True)).alias(
            "weight_monotone"
        ),
    )


# ---------------------------------------------------------------------
# Gap filling with linear interpolation (TimescaleDB `interpolate`)
# ---------------------------------------------------------------------


@register(
    "gap_fill_linear",
    """
    WITH b AS (
      SELECT user_id, date_trunc('hour', ts) AS hr,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)
               AS avg_v
      FROM events GROUP BY user_id, date_trunc('hour', ts)),
    r AS (SELECT user_id, min(hr) AS mn, max(hr) AS mx FROM b
          GROUP BY user_id),
    grid AS (
      SELECT user_id,
             unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS hr
      FROM r),
    j AS (
      SELECT g.user_id, g.hr, b.avg_v
      FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.hr = b.hr),
    x AS (
      SELECT user_id, hr, avg_v,
             last_value(avg_v IGNORE NULLS) OVER wpast AS pv,
             last_value(CASE WHEN avg_v IS NOT NULL THEN hr END
                        IGNORE NULLS) OVER wpast AS phr,
             first_value(avg_v IGNORE NULLS) OVER wfut AS nv,
             first_value(CASE WHEN avg_v IS NOT NULL THEN hr END
                         IGNORE NULLS) OVER wfut AS nhr
      FROM j
      WINDOW wpast AS (PARTITION BY user_id ORDER BY hr
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wfut AS (PARTITION BY user_id ORDER BY hr
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, hr,
           floor(coalesce(avg_v,
                          pv + (nv - pv)
                               * (CAST(floor(epoch(hr)) AS BIGINT)
                                  - CAST(floor(epoch(phr)) AS BIGINT))
                               / (CAST(floor(epoch(nhr)) AS BIGINT)
                                  - CAST(floor(epoch(phr)) AS BIGINT)))
                 * 1000000) / 1000000 AS v_linear
    FROM x
    """,
    # same shape as gap_fill_locf (see above): 2 per branch, fixed-N
    # user_id repartitions keep the sf3 grid explode parallel
    # (438s -> 1.5s); both IGNORE NULLS windows share one partitioning
    exchanges=4,
)
def q_gap_fill_linear(spark, sf_dir):
    """Gap filling with linear interpolation between the neighboring
    observations (TimescaleDB ``time_bucket_gapfill + interpolate``;
    the LOCF variant is `queries/gap_fill_locf`).  Same scale shape as
    LOCF: hourly pre-aggregation FIRST, ``sequence()`` grid (users ×
    hours, never raw events), then ONE user-keyed shuffle shared by
    the backward and forward IGNORE NULLS windows.  The interpolation
    weight derives from integer epoch seconds; the blend is the same
    IEEE sequence on both engines.  The 6dp edge uses floor(x·1e6)/1e6
    TRUNCATION, not round(): interpolated midpoints land on exact
    .0000005 ties (99 rows at sf0.1) where Spark rounds half-up but
    DuckDB rounds half-even — floor of an identical double is
    tie-free.  Grid endpoints are observed by construction, so
    interior gaps always have both neighbors.

    Explode parallelism: the per-user range table is tiny (one row per
    user), so AQE coalesces it to ~1 shuffle partition — and the
    users×hours grid (31M rows at sf3) would then materialize inside a
    SINGLE task (observed: 438 s at sf3).  Both the range table and the
    hourly aggregate are therefore explicitly hash-repartitioned on
    user_id with a FIXED partition count (explicit N disables AQE
    coalescing): the explode fans out in parallel, the grid⋈hourly join
    is co-partitioned (HashPartitioning(user_id) on both sides
    satisfies the join's clustering), and the user-keyed windows reuse
    the same partitioning — the big grid itself is never shuffled."""
    e = _t(spark, sf_dir, "events")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    b = (
        e.groupBy(
            "user_id",
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hr"),
        )
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("avg_v")
        )
        .repartition(n_part, "user_id")
    )
    r = b.groupBy("user_id").agg(
        F.min("hr").alias("mn"), F.max("hr").alias("mx")
    )
    grid = r.select(
        "user_id",
        F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("hr"),
    )
    j = grid.join(b, ["user_id", "hr"], "left")
    wpast = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The forward neighbor is a RUNNING frame over hr DESC, not a
    # (currentRow, unboundedFollowing) frame over hr ASC: Spark's
    # UnboundedFollowing frame implementation rescans current-row→end
    # for EVERY row — O(rows²) per user partition, observed as 265 s
    # vs the LOCF twin's 28.5 s at sf10's 720-hour grids.  last() over
    # the reversed running frame returns the identical value
    # (first non-null at-or-after == last non-null at-or-before in
    # reverse order, both frames include the current row) in O(rows),
    # at the cost of one extra in-partition sort — no extra exchange.
    wfut_rev = (
        Window.partitionBy("user_id")
        .orderBy(F.col("hr").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_hr = F.when(F.col("avg_v").isNotNull(), F.col("hr"))
    x = j.select(
        "user_id",
        "hr",
        "avg_v",
        F.last("avg_v", ignorenulls=True).over(wpast).alias("pv"),
        F.last(obs_hr, ignorenulls=True).over(wpast).alias("phr"),
        F.last("avg_v", ignorenulls=True).over(wfut_rev).alias("nv"),
        F.last(obs_hr, ignorenulls=True).over(wfut_rev).alias("nhr"),
    )
    sec = lambda c: F.unix_timestamp(F.col(c)).cast("bigint")  # noqa: E731
    blend = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        sec("hr") - sec("phr")
    ) / (sec("nhr") - sec("phr"))
    return x.select(
        "user_id",
        "hr",
        (
            F.floor(F.coalesce(F.col("avg_v"), blend) * 1000000) / 1000000
        ).alias("v_linear"),
    )


# ---------------------------------------------------------------------
# Equi-width value histogram (profiling)
# ---------------------------------------------------------------------

_shared_sql(
    "value_histogram",
    """
    WITH ext AS (
      SELECT event_type, min(value) AS lo, max(value) AS hi
      FROM events GROUP BY event_type),
    b AS (
      SELECT e.event_type,
             CAST(least(floor((e.value - x.lo) * 20 / (x.hi - x.lo)),
                        19) AS BIGINT) AS bin
      FROM events e JOIN ext x ON e.event_type = x.event_type
      WHERE x.hi > x.lo)
    SELECT event_type, bin, count(*) AS n
    FROM b GROUP BY event_type, bin
    """,
    # per-type extent pre-agg (broadcast back) + the bin count
    exchanges=1,
)
# 20-bin equi-width histogram per series — the profiling op behind
# every "distribution changed?" dashboard.  Bin edges derive from the
# series' own min/max (one pre-agg, 5 rows, broadcast back); the bin
# index is one IEEE expression + floor, identical on both engines,
# with the right-edge row folded into the last bin via least().
# Flat series are excluded (hi = lo has no width).  Two key shuffles
# total, both post-agg tiny except the bin count itself, which
# combines map-side.


# ---------------------------------------------------------------------
# Chi-square independence screen (event_type x ISO weekday)
# ---------------------------------------------------------------------


@register(
    "event_dow_chisq",
    """
    WITH o AS (
      SELECT event_type, isodow(ts) AS dow, count(*) AS obs
      FROM events GROUP BY event_type, isodow(ts)),
    m AS (
      SELECT event_type, sum(obs) AS row_tot FROM o GROUP BY event_type),
    d AS (SELECT dow, sum(obs) AS col_tot FROM o GROUP BY dow),
    t AS (SELECT sum(obs) AS grand FROM o)
    SELECT o.event_type, o.dow, o.obs,
           round(CAST(m.row_tot AS DOUBLE) * d.col_tot / t.grand, 6)
             AS expected,
           round(pow(o.obs - CAST(m.row_tot AS DOUBLE) * d.col_tot
                             / t.grand, 2)
                 / (CAST(m.row_tot AS DOUBLE) * d.col_tot / t.grand),
                 6) AS chi2_term
    FROM o
    JOIN m ON o.event_type = m.event_type
    JOIN d ON o.dow = d.dow
    CROSS JOIN t
    """,
    # contingency agg checkpointed (corpus aggregates once); marginal
    # rollups + joins run on types×7 rows
    exchanges=3,
)
def q_event_dow_chisq(spark, sf_dir):
    """Pearson chi-square contributions for the event-type × weekday
    contingency table — the standard drift/independence screen over a
    categorical pair.  All marginals are integer sums off one tiny
    contingency aggregation (types×7 rows); expected counts and chi²
    terms are the same IEEE expression sequence on both engines,
    rounded 6dp.  Only the contingency groupBy touches the corpus.
    The oracle differs solely in the weekday spelling (DuckDB
    ``isodow`` = Spark ``weekday()+1``, both 1=Monday..7=Sunday)."""
    ev = _t(spark, sf_dir, "events")
    o = (
        ev.groupBy("event_type", (F.weekday("ts") + 1).alias("dow"))
        .agg(F.count("*").alias("obs"))
        # EAGER: m/d/t are three CONCURRENT broadcast builds over this
        # frame — lazy would race them into recomputing the corpus
        # aggregate per build on a cluster
        .transform(materialize)
    )  # types×7 rows; the corpus aggregates ONCE across the 4 branches
    m = o.groupBy("event_type").agg(F.sum("obs").alias("row_tot"))
    d = o.groupBy("dow").agg(F.sum("obs").alias("col_tot"))
    t = o.groupBy().agg(F.sum("obs").alias("grand"))
    exp = (
        F.col("row_tot").cast("double") * F.col("col_tot") / F.col("grand")
    )
    return (
        o.join(m, "event_type")
        .join(d, "dow")
        .crossJoin(t)
        .select(
            "event_type",
            "dow",
            "obs",
            F.round(exp, 6).alias("expected"),
            F.round(
                F.pow(F.col("obs") - exp, F.lit(2)) / exp, 6
            ).alias("chi2_term"),
        )
    )


# ---------------------------------------------------------------------
# Market-basket association rules (support / confidence / lift)
# ---------------------------------------------------------------------

@register(
    "copurchase_rules",
    """
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    item AS (SELECT l_partkey, count(*) AS cnt FROM b GROUP BY l_partkey),
    pair AS (
      SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
             count(*) AS n_ab
      FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
                       AND a.l_partkey < c.l_partkey
      GROUP BY a.l_partkey, c.l_partkey
      HAVING count(*) >= 2)
    SELECT part_a, part_b, n_ab,
           ia.cnt AS n_a, ib.cnt AS n_b,
           round(CAST(n_ab AS DOUBLE) / ia.cnt, 6) AS confidence_ab,
           round((CAST(n_ab AS DOUBLE) * n_orders)
                 / (CAST(ia.cnt AS DOUBLE) * ib.cnt), 6) AS lift
    FROM pair
    JOIN item ia ON part_a = ia.l_partkey
    JOIN item ib ON part_b = ib.l_partkey
    CROSS JOIN n
    """,
    # ONE basket repartition shared via ReuseExchange by both
    # self-join sides AND the item-support branch (identical not-null
    # filtered subtrees), + item agg + pair agg + the n_orders
    # countDistinct branch (its own column-pruned corpus exchange +
    # SinglePartition).  5 EXECUTED exchanges; the textual plan
    # repeats the shared one per consumer
    exchanges=5,
)
def q_copurchase_rules(spark, sf_dir):
    """Apriori's pairwise step (support / confidence / lift): dedup to
    (order, part) baskets, self-join within the order to count
    co-occurrences, join support counts back for the metrics.  The
    basket table feeds four plan branches (both self-join sides, item
    supports, n_orders); all sit on one explicit repartition by
    l_orderkey whose exchange Catalyst reuses — the dedup shuffle
    runs once, not four times, and the self-join is co-partitioned
    (zero exchanges).
    All counts are integers; the two ratios are single IEEE
    expressions with the same promotion/op order on both engines,
    rounded 6dp.  n_orders stays in the plan as a broadcast 1-row
    aggregate (no separate driver count job).
    At 100 TB the basket self-join is the canonical skew risk: a
    mega-order fans out quadratically — AQE skew-split handles
    moderate cases, and a per-order item cap (drop baskets > K items,
    standard in Apriori at scale) bounds the worst case."""
    li = _t(spark, sf_dir, "lineitem")
    # Round-9 rework: partition on the self-join key FIRST, then
    # dedup in place (hash(ok) satisfies the (ok, part) distinct) —
    # and share the layout through Catalyst's ReuseExchange instead
    # of a materialization.  All four basket consumers (both
    # self-join sides, item supports, n_orders) sit on top of the
    # IDENTICAL repartition exchange, which the engine computes once
    # at runtime; the self-join sides arrive co-partitioned on ok so
    # the pair join pays ZERO exchanges.  vs the old localCheckpoint:
    # the checkpoint came back with UNKNOWN partitioning (LogicalRDD)
    # so both join inputs re-exchanged the corpus, plus the
    # checkpoint job itself — measured 2.5 -> 1.7 s at sf0.1, one
    # corpus shuffle either way, and no cache entry outliving the
    # query (a persist would sit in the CacheManager until an
    # explicit unpersist).  The dedup aggregate re-runs per consumer
    # above the reused exchange — map-side CPU on two long columns,
    # the cheap half of the trade at any scale.
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # The explicit not-null filter makes all three corpus consumers'
    # subtrees canonically IDENTICAL: the self-join pushes an inferred
    # isnotnull(l_orderkey) into its two sides, and without the same
    # predicate on the support branch Catalyst plans a separate
    # (unreusable) corpus exchange for `item`.  With it, ReuseExchange
    # runs ONE basket shuffle for both join sides and the supports
    # (verified: executed-exchange count 6 -> 5).  l_orderkey is a
    # TPC-H primary-key component (never null), so results are
    # unchanged — and n_orders' countDistinct ignores nulls anyway.
    b = (
        li.select("l_orderkey", "l_partkey")
        .filter(F.col("l_orderkey").isNotNull())
        .repartition(parts, "l_orderkey")
        .distinct()
    )
    # n_orders stays IN the plan as a broadcast 1-row aggregate — no
    # separate driver count() job, one fewer synchronization point
    n_orders_df = b.agg(
        F.countDistinct("l_orderkey").alias("__n_orders")
    )
    item = b.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    a = b.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    c = b.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    pair = (
        a.join(c, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("n_b"))
    return (
        pair.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n_orders_df))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(F.col("n_ab").cast("double") / F.col("n_a"), 6).alias(
                "confidence_ab"
            ),
            F.round(
                (F.col("n_ab").cast("double") * F.col("__n_orders"))
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------
# Segment-level dedup (CCNet), stratified split, training-order shuffle
# ---------------------------------------------------------------------


@register(
    "segment_dedup",
    """
    WITH w AS (
      SELECT doc_id, str_split_regex(trim(text), '\\s+') AS words
      FROM documents
    ),
    toks AS (
      SELECT doc_id, unnest(words) AS word,
             generate_subscripts(words, 1) AS pos
      FROM w
    ),
    segs AS (
      SELECT doc_id, CAST((pos - 1) // 3 AS INT) AS seg_no,
             string_agg(word, ' ' ORDER BY pos) AS seg
      FROM toks GROUP BY doc_id, (pos - 1) // 3
    ),
    firsts AS (
      SELECT doc_id, seg_no, seg,
             row_number() OVER (
               PARTITION BY seg ORDER BY doc_id, seg_no
             ) AS rn
      FROM segs
    ),
    rebuilt AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_segments,
             CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             coalesce(string_agg(CASE WHEN rn = 1 THEN seg END,
                                 ' ' ORDER BY seg_no), '') AS clean_text
      FROM firsts GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(r.n_segments, 0) AS n_segments,
           coalesce(r.n_kept, 0) AS n_kept,
           coalesce(r.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN rebuilt r USING (doc_id)
    """,
    # +1 vs the window formulation, deliberately: keeper min-agg
    # combines map-side and the seg join is AQE-skew-splittable,
    # while a window rank over the segment key is neither
    exchanges=5,
)
def q_segment_dedup(spark, sf_dir):
    """CCNet-style segment-level dedup over the corpus
    (`operators/dedup.segment_dedup`, window=3 words): global
    first-occurrence of every distinct segment survives, documents
    reassemble from surviving segments.  Full exact oracle — the
    whole pipeline (segmentation, first-keeper selection, reassembly)
    is deterministic and hash-checked.  ~19% of segments are cross-doc
    duplicates at sf0.01, so the query is non-vacuous."""
    from sparkplans.operators.dedup import segment_dedup

    d = _t_cpu(spark, sf_dir, "documents")
    return segment_dedup(d, window=3)


@register(
    "stratified_split",
    """
    SELECT doc_id, lang,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, lang,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS b
      FROM documents
    ) t
    """,
    # pure projection: split is a hash of the scanned id, zero shuffles
    exchanges=0,
)
def q_stratified_split(spark, sf_dir):
    """Deterministic hash-based train/val/test assignment (80/10/10):
    split membership is a pure function of the stable doc id — the
    property a training pipeline needs so re-runs, backfills, and
    incremental appends never migrate a document across splits.  Uses
    the module-standard cross-engine md5 hash, so the oracle
    recomputes the identical assignment.  Embarrassingly parallel
    (zero shuffles: a projection on the scan)."""
    d = _t(spark, sf_dir, "documents")
    b = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint") % 100
    return d.select(
        "doc_id",
        "lang",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias(
            "split"
        ),
    )


@register(
    "training_order_shuffle",
    """
    SELECT CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT)
             AS shuffle_pos,
           doc_id
    FROM (
      SELECT doc_id, md5('epoch-1:' || doc_id::VARCHAR) AS k
      FROM documents
    ) t
    QUALIFY shuffle_pos <= 100
    """,
    # TakeOrdered + bounded 100-row rank: no full-corpus exchange
    exchanges=0,
)
def q_training_order_shuffle(spark, sf_dir):
    """Deterministic global training-order shuffle: each document's
    position is fixed by md5(seed || id), so every epoch's order is
    reproducible across engines, restarts, and cluster sizes (change
    the seed string to reshuffle).  First 100 positions returned.

    Scale shape: a TakeOrdered on the hash key here; materializing a
    full epoch at 100 TB is a range-partitioned sort on ``k`` —
    Spark's repartitionByRange gives a total order across output
    files without any single-node bottleneck."""
    d = _t(spark, sf_dir, "documents")
    k = F.md5(F.concat(F.lit("epoch-1:"), F.col("doc_id").cast("string")))
    # TakeOrderedAndProject first (distributed per-partition heaps),
    # THEN rank the bounded 100-row frame — never a global window over
    # the full corpus.
    top = d.select("doc_id", k.alias("k")).orderBy("k", "doc_id").limit(100)
    w = Window.orderBy("k", "doc_id")
    return (
        top.withColumn("shuffle_pos", F.row_number().over(w).cast("bigint"))
        .select("shuffle_pos", "doc_id")
    )


@register(
    "token_budget_mixture",
    """
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(str_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS k
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY source ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM t
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM c WHERE cum_tokens - n_tokens < 100
    """,
    # one source-keyed window + fan_out repartition of the small scan
    exchanges=2,
)
def q_token_budget_mixture(spark, sf_dir):
    """Token-budget mixture sampling — the curriculum-mixing step of a
    training pipeline: every source contributes documents in a
    deterministic pseudo-random order (md5 of the stable id) until its
    token budget is filled (greedy fill: the document that crosses the
    budget is kept, the rest are cut).  Budgets in TOKENS, not
    documents, which is what an LM data mixture actually specifies.

    Scale shape: one shuffle on source shared by the window; per-source
    running state is a single counter.  Hash-ordering means re-runs
    and appends keep earlier selections stable (a new doc can only
    displace docs hashed after it)."""
    d = _t_cpu(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("bigint")
        .alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("k"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return c.filter(F.col("cum_tokens") - F.col("n_tokens") < 100).select(
        "doc_id", "source", "n_tokens", "cum_tokens"
    )


@register(
    "incremental_dedup_batch",
    """
    WITH fp AS (
      SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
               AS fingerprint
      FROM documents
    ),
    seen AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 2 = 0),
    batch AS (SELECT doc_id, fingerprint FROM fp WHERE doc_id % 2 = 1),
    firsts AS (
      SELECT fingerprint, min(doc_id) AS doc_id
      FROM batch GROUP BY fingerprint
    )
    SELECT f.doc_id, f.fingerprint
    FROM firsts f LEFT JOIN seen s USING (fingerprint)
    WHERE s.fingerprint IS NULL
    """,
    # batch first-keeper groupBy + index anti join (0 when bucketed —
    # pinned in test_bucketing.py)
    exchanges=2,
)
def q_incremental_dedup_batch(spark, sf_dir):
    """Incremental exact dedup (`operators/dedup.incremental_exact_
    dedup`) — the production shape: dedup a NEW batch (odd doc ids)
    against the persisted fingerprint index of the existing corpus
    (even doc ids), never re-deduping the whole corpus.  Exact oracle
    reproduces fingerprint, within-batch first-keeper, and the
    index anti join.  Planted-duplicate coverage (within-batch and
    cross-batch) lives in tests/test_operators.py; the bucketed
    shuffle-free index join is pinned in tests/test_bucketing.py."""
    from sparkplans.operators.dedup import incremental_exact_dedup

    d = _t(spark, sf_dir, "documents")
    seen_docs = d.filter(F.col("doc_id") % 2 == 0)
    from sparkplans.functions.text import doc_fingerprint

    seen = seen_docs.select(
        doc_fingerprint("text").alias("fingerprint")
    ).distinct()
    batch = d.filter(F.col("doc_id") % 2 == 1)
    clean, _new_seen = incremental_exact_dedup(batch, seen)
    return clean.select("doc_id", "fingerprint")


@register(
    "multimodal_ppm_features",
    """
    WITH px AS (
      SELECT d.doc_id, t.i, (d.doc_id * 7 + t.i * 13) % 256 AS v
      FROM documents d CROSS JOIN generate_series(0, 191) AS t(i)
    )
    SELECT doc_id,
           CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
           round(avg(CASE WHEN i % 3 = 0 THEN v END), 6) AS mean_r,
           round(avg(CASE WHEN i % 3 = 1 THEN v END), 6) AS mean_g,
           round(avg(CASE WHEN i % 3 = 2 THEN v END), 6) AS mean_b
    FROM px GROUP BY doc_id
    """,
    # fan_out repartition only; media decode is per-partition CPU
    exchanges=1,
    python=True,  # per-row media decode: Arrow-batched mapInPandas
)
def q_multimodal_ppm_features(spark, sf_dir):
    """Driver-checked MULTIMODAL round trip: for every document an
    8x8 RGB image is synthesized from the pure formula
    ``pixel[i] = (doc_id*7 + i*13) % 256``, ENCODED as a real binary
    PPM payload, DECODED back through the production codec path
    (`operators/multimodal.extract_image_features`, magic-sniffed,
    Arrow-batched mapInPandas), and reduced to per-channel pixel
    means.  The DuckDB oracle predicts those means independently from
    the formula — so a bug anywhere in encode, decode, batching, or
    feature math breaks the hash.  Means of 64 bytes are exact in binary (sum < 2^53,
    /64), so cross-engine equality is bit-exact.

    Scale shape: two chained mapInPandas stages over the scan, zero
    shuffles until the (tiny) per-image aggregate — media pipelines
    are per-partition CPU, exactly how they run at 100 TB."""
    import numpy as np
    import pandas as pd

    from sparkplans.operators import multimodal as mm

    d = _t_cpu(spark, sf_dir, "documents").select("doc_id")

    def make(it):
        for pdf in it:
            payloads = [
                mm.encode_ppm(
                    ((int(did) * 7 + np.arange(192) * 13) % 256)
                    .astype("uint8")
                    .reshape(8, 8, 3)
                )
                for did in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "image",
                    "mime": "image/x-portable-pixmap",
                    "payload": payloads,
                    "width": 8,
                    "height": 8,
                    "duration_ms": None,
                }
            )

    media = d.mapInPandas(make, mm.MEDIA_SCHEMA)
    feats = mm.extract_image_features(media)
    return feats.select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        F.round(F.element_at("channel_means", 1), 6).alias("mean_r"),
        F.round(F.element_at("channel_means", 2), 6).alias("mean_g"),
        F.round(F.element_at("channel_means", 3), 6).alias("mean_b"),
    )


@register(
    "multimodal_wav_features",
    """
    WITH s AS (
      SELECT d.doc_id, ((d.doc_id * 31 + t.i * 17) % 2001) - 1000 AS v
      FROM documents d CROSS JOIN generate_series(0, 159) AS t(i)
    )
    SELECT doc_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(160 AS BIGINT) AS n_samples,
           CAST(1 AS INT) AS n_channels,
           round(sqrt(avg(CAST(v AS DOUBLE) * v)), 6) AS rms
    FROM s GROUP BY doc_id
    """,
    exchanges=1,
    python=True,  # per-row media decode: Arrow-batched mapInPandas
)
def q_multimodal_wav_features(spark, sf_dir):
    """Driver-checked AUDIO round trip (the PPM query's WAV twin):
    each document becomes a real 160-sample PCM16 WAV built from
    ``sample[i] = ((doc_id*31 + i*17) % 2001) - 1000``, decoded back
    through the production codec (`decode_wav_features`), and its RMS
    compared against the oracle's closed-form prediction.  Squares of
    |v| <= 1000 sum exactly in doubles, so both engines compute the
    identical RMS bit-for-bit before the 6dp round."""
    import numpy as np
    import pandas as pd

    from sparkplans.operators import multimodal as mm

    d = _t_cpu(spark, sf_dir, "documents").select("doc_id")

    def make(it):
        for pdf in it:
            payloads = [
                mm.encode_wav(
                    (((int(did) * 31 + np.arange(160) * 17) % 2001) - 1000)
                    .astype("<i2"),
                    8000,
                )
                for did in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "audio",
                    "mime": "audio/wav",
                    "payload": payloads,
                    "width": None,
                    "height": None,
                    "duration_ms": 20,
                }
            )

    media = d.mapInPandas(make, mm.MEDIA_SCHEMA)
    feats = mm.decode_wav_features(media)
    return feats.select(
        F.col("media_id").alias("doc_id"),
        "sample_rate",
        "n_samples",
        "n_channels",
        F.round("rms", 6).alias("rms"),
    )


@register(
    "multimodal_video_frames",
    """
    WITH clips AS (SELECT doc_id, 4 + doc_id % 3 AS n_frames FROM documents)
    SELECT c.doc_id,
           CAST(t.f AS INT) AS frame_idx,
           CAST(t.f * 100 AS BIGINT) AS t_ms,
           round(CAST((c.doc_id * 5 + t.f * 11) % 256 AS DOUBLE), 6)
             AS luma_mean
    FROM clips c CROSS JOIN generate_series(0, 6) AS t(f)
    WHERE t.f < c.n_frames
    """,
    exchanges=1,
    python=True,  # per-row media decode: Arrow-batched mapInPandas
)
def q_multimodal_video_frames(spark, sf_dir):
    """Driver-checked VIDEO round trip: each document becomes a real
    Y4M clip of ``4 + doc_id % 3`` constant-luma frames
    (``luma_f = (doc_id*5 + f*11) % 256``) at 10 fps, then
    `sample_video_frames(every_ms=100)` — one sample per frame, exact
    integer timestamps — must recover every frame's index, timestamp,
    and luma mean, each predicted in closed form by the oracle.
    Decode, frame walk, and luma statistics all sit on the hash."""
    import numpy as np
    import pandas as pd

    from sparkplans.operators import multimodal as mm

    d = _t_cpu(spark, sf_dir, "documents").select("doc_id")

    def make(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 4 + did % 3
                frames = np.zeros((n, 8, 8, 3), dtype="uint8")
                for f in range(n):
                    frames[f, :, :, 0] = (did * 5 + f * 11) % 256
                    frames[f, :, :, 1] = 128
                    frames[f, :, :, 2] = 128
                rows.append(
                    (did, "video", "video/x-yuv4mpeg",
                     mm.encode_y4m(frames, 10, 1), 8, 8, n * 100)
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in mm.MEDIA_SCHEMA.fields]
            )

    media = d.mapInPandas(make, mm.MEDIA_SCHEMA)
    frames = mm.sample_video_frames(media, every_ms=100)
    return frames.select(
        F.col("media_id").alias("doc_id"),
        "frame_idx",
        "t_ms",
        F.round("luma_mean", 6).alias("luma_mean"),
    )


@register(
    "curation_pipeline_v2",
    """
    WITH w AS (
      SELECT doc_id, str_split_regex(trim(text), '\\s+') AS words
      FROM documents
    ),
    toks AS (
      SELECT doc_id, unnest(words) AS word,
             generate_subscripts(words, 1) AS pos
      FROM w
    ),
    segs AS (
      SELECT doc_id, CAST((pos - 1) // 3 AS INT) AS seg_no,
             string_agg(word, ' ' ORDER BY pos) AS seg
      FROM toks GROUP BY doc_id, (pos - 1) // 3
    ),
    firsts AS (
      SELECT doc_id, seg_no, seg,
             row_number() OVER (
               PARTITION BY seg ORDER BY doc_id, seg_no
             ) AS rn
      FROM segs
    ),
    rebuilt AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             coalesce(string_agg(CASE WHEN rn = 1 THEN seg END,
                                 ' ' ORDER BY seg_no), '') AS clean_text
      FROM firsts GROUP BY doc_id
    ),
    split AS (
      SELECT r.doc_id, d.lang, r.clean_text,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM rebuilt r
      JOIN documents d USING (doc_id)
      CROSS JOIN LATERAL (SELECT ('0x' || substr(md5(r.doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS b) h
      WHERE r.n_kept >= 1
    )
    SELECT lang, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(str_split_regex(trim(clean_text), '\\s+')))
                AS BIGINT) AS total_tokens
    FROM split GROUP BY lang, split
    """,
    # segment-dedup core (5) + lang join + (lang,split) rollup
    exchanges=7,
)
def q_curation_pipeline_v2(spark, sf_dir):
    """The full modern curation chain in one hash-checked composite:
    CCNet segment-level dedup (global first-keeper, docs reassembled
    from surviving 3-word segments) -> empty-shell drop -> stable
    hash-based train/val/test split -> per-(lang, split) doc and
    token totals.  Three key-only shuffles (segment value, doc id,
    lang+split); every stage JVM-side; the DuckDB oracle re-derives
    the identical pipeline end-to-end.

    At 100 TB each stage keeps its standalone scale shape
    (`segment_dedup`, `stratified_split` rows in SCALE.md); composing
    them adds no new shuffle beyond the final rollup."""
    from sparkplans.operators.dedup import segment_dedup

    d = _t_cpu(spark, sf_dir, "documents")
    cleaned = segment_dedup(d, window=3).filter(F.col("n_kept") >= 1)
    b = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint") % 100
    with_split = (
        cleaned.join(d.select("doc_id", "lang"), "doc_id")
        .withColumn(
            "split",
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test"),
        )
    )
    return with_split.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.trim(F.col("clean_text")), r"\s+")))
        .cast("bigint")
        .alias("total_tokens"),
    )


@register(
    "seasonal_decomposition",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    tr AS (
      SELECT event_type, day, cnt,
             sum(cnt) OVER w AS sum7,
             CAST(count(*) OVER w AS BIGINT) AS n7,
             CAST(dayofweek(day) AS INT) AS dow
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    seas AS (
      SELECT event_type, dow,
             sum(420 * (cnt * n7 - sum7) / n7) AS snum,
             CAST(count(*) AS BIGINT) AS sden
      FROM tr GROUP BY event_type, dow
    )
    SELECT t.event_type, t.day, t.cnt,
           round(CAST(t.sum7 AS DOUBLE) / t.n7, 6) AS trend,
           round(CAST(s.snum AS DOUBLE) / (420.0 * s.sden), 6) AS seasonal,
           round(t.cnt - round(CAST(t.sum7 AS DOUBLE) / t.n7, 6)
                 - round(CAST(s.snum AS DOUBLE) / (420.0 * s.sden), 6), 6)
             AS residual
    FROM tr t JOIN seas s USING (event_type, dow)
    """,
    # daily agg + type window + dow agg + rejoin (daily-grid-sized)
    exchanges=4,
)
def q_seasonal_decomposition(spark, sf_dir):
    """STL-lite seasonal decomposition of daily event volumes:
    trend = centered 7-day moving average, seasonal = day-of-week mean
    of the detrended series, residual = remainder — the standard
    additive decomposition behind capacity planning and anomaly
    baselines.

    Numeric discipline (module docstring): the detrended value
    ``cnt - sum7/n7`` is kept RATIONAL as ``(cnt*n7 - sum7)/n7`` and
    scaled by 420 (lcm of all edge-window sizes 4..7), so every
    seasonal numerator term is an exact BIGINT — no float accumulates
    across rows anywhere, and both engines produce bit-identical
    doubles after the single final division.  One (type, day) agg +
    one type-keyed window + one (type, dow) agg; daily-grid-sized
    throughout."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "day",
        "cnt",
        F.sum("cnt").over(w).alias("sum7"),
        F.count("*").over(w).cast("bigint").alias("n7"),
        F.dayofweek("day").cast("int").alias("dow"),
    )
    seas = tr.groupBy("event_type", "dow").agg(
        F.sum(
            (F.lit(420) * (F.col("cnt") * F.col("n7") - F.col("sum7")))
            / F.col("n7")
        ).alias("snum"),
        F.count("*").cast("bigint").alias("sden"),
    )
    trend = F.round(F.col("sum7").cast("double") / F.col("n7"), 6)
    seasonal = F.round(
        F.col("snum").cast("double") / (F.lit(420.0) * F.col("sden")), 6
    )
    return tr.join(seas, ["event_type", "dow"]).select(
        "event_type",
        "day",
        "cnt",
        trend.alias("trend"),
        seasonal.alias("seasonal"),
        F.round(F.col("cnt") - trend - seasonal, 6).alias("residual"),
    )


@register(
    "cusum_changepoint",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    tot AS (
      SELECT event_type, sum(cnt) AS total, CAST(count(*) AS BIGINT) AS n
      FROM daily GROUP BY event_type
    ),
    cs AS (
      SELECT d.event_type, d.day,
             t.n * sum(d.cnt) OVER (PARTITION BY d.event_type
                                    ORDER BY d.day) 
               - CAST(row_number() OVER (PARTITION BY d.event_type
                                         ORDER BY d.day) AS BIGINT)
                 * t.total AS s_scaled,
             t.n
      FROM daily d JOIN tot t USING (event_type)
    )
    SELECT event_type, day AS changepoint_day,
           round(CAST(abs(s_scaled) AS DOUBLE) / n, 6) AS cusum_score
    FROM cs
    QUALIFY row_number() OVER (
      PARTITION BY event_type ORDER BY abs(s_scaled) DESC, day
    ) = 1
    """,
    # daily agg + totals + type-keyed cusum/argmax windows
    exchanges=3,
)
def q_cusum_changepoint(spark, sf_dir):
    """CUSUM changepoint detection on daily event volumes: the day
    maximizing |cumulative deviation from the series mean| — the
    classic level-shift locator behind monitoring alerts.

    Integer-exact throughout: the CUSUM ``cumsum(cnt) - t*mean`` is
    scaled by the series length n, so ``n*cumsum - t*total`` is a pure
    BIGINT — no float accumulates; the single final division is
    identical on both engines.  One (type, day) agg, one type-keyed
    window over the daily grid, one argmax."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    tot = daily.groupBy("event_type").agg(
        F.sum("cnt").alias("total"), F.count("*").cast("bigint").alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    cs = (
        daily.join(tot, "event_type")
        .withColumn(
            "s_scaled",
            F.col("n") * F.sum("cnt").over(w)
            - F.row_number().over(w).cast("bigint") * F.col("total"),
        )
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s_scaled")).desc(), "day"
    )
    return (
        cs.withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("day").alias("changepoint_day"),
            F.round(F.abs(F.col("s_scaled")).cast("double") / F.col("n"), 6)
            .alias("cusum_score"),
        )
    )


@register(
    "daily_trend_slope",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    idx AS (
      SELECT event_type, y,
             CAST(day - min(day) OVER (PARTITION BY event_type) AS BIGINT)
               AS x
      FROM daily
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM idx GROUP BY event_type
    )
    SELECT event_type,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (n * sxx - sx * sx), 6) AS slope_per_day,
           round(CAST(sy * sxx - sx * sxy AS DOUBLE)
                 / (n * sxx - sx * sx), 6) AS intercept
    FROM s
    """,
    # daily agg + type-keyed min-window/normal-equation agg
    exchanges=2,
)
def q_daily_trend_slope(spark, sf_dir):
    """Per-series OLS trend: daily event counts regressed on the day
    index — the capacity-planning "is volume growing" number.  Every
    accumulated quantity (Σx, Σy, Σx², Σxy over integer day indexes
    and counts) is an exact BIGINT, so slope and intercept come from
    single divisions of identical integers on both engines — the
    closed-form normal equations with zero float accumulation.  One
    (type, day) agg + one type-keyed min-window + one type agg."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("y"))
    w = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "y",
        F.datediff(F.col("day"), F.min("day").over(w)).cast("bigint").alias("x"),
    )
    s = idx.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        "event_type",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / den,
            6,
        ).alias("slope_per_day"),
        F.round(
            (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast("double")
            / den,
            6,
        ).alias("intercept"),
    )


@register(
    "daily_autocorr_lag1",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    pairs AS (
      SELECT event_type, y AS a,
             lead(y) OVER (PARTITION BY event_type ORDER BY day) AS b
      FROM daily
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             sum(a) AS sa, sum(b) AS sb,
             sum(a * a) AS saa, sum(b * b) AS sbb, sum(a * b) AS sab
      FROM pairs WHERE b IS NOT NULL GROUP BY event_type
    )
    SELECT event_type,
           round(CAST(n * sab - sa * sb AS DOUBLE)
                 / sqrt(CAST((n * saa - sa * sa) AS DOUBLE)
                        * (n * sbb - sb * sb)), 6) AS autocorr_lag1
    FROM s
    """,
    exchanges=2,
)
def q_daily_autocorr_lag1(spark, sf_dir):
    """Lag-1 autocorrelation of daily volumes per series — the
    persistence diagnostic behind forecastability checks.  Pearson r
    over (y_t, y_{t+1}) pairs with every sum an exact BIGINT; one
    division and one sqrt at the edge give engine-identical doubles
    (same discipline as daily_trend_slope)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("y"))
    w = Window.partitionBy("event_type").orderBy("day")
    pairs = daily.select(
        "event_type",
        F.col("y").alias("a"),
        F.lead("y").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    s = pairs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
    )
    num = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast("double")
        * (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
    )
    return s.select(
        "event_type", F.round(num / den, 6).alias("autocorr_lag1")
    )


# ---------------------------------------------------------------------
# Exact-substring (repeated k-gram span) deduplication
# ---------------------------------------------------------------------

@register(
    "substring_dedup_docs",
    """
    WITH w AS (
      SELECT doc_id, str_split_regex(trim(text), '\\s+') AS words
      FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(range(greatest(len(words) - 5, 0))) AS pos,
             words
      FROM w
    ),
    grams AS (
      SELECT doc_id, pos,
             array_to_string(words[pos + 1:pos + 6], ' ') AS span
      FROM g
    ),
    m AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY span
                                ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY span) AS c
      FROM grams
    ),
    dup_tok AS (
      SELECT DISTINCT doc_id, tp
      FROM (SELECT doc_id, pos + unnest(range(6)) AS tp
            FROM m WHERE c >= 2 AND rn > 1)
    ),
    toks AS (
      SELECT doc_id, unnest(words) AS tok,
             generate_subscripts(words, 1) - 1 AS tp
      FROM w
    ),
    kept AS (
      SELECT t.doc_id, t.tp, t.tok
      FROM toks t
      LEFT JOIN dup_tok d ON d.doc_id = t.doc_id AND d.tp = t.tp
      WHERE d.doc_id IS NULL
    ),
    reb AS (
      SELECT doc_id,
             coalesce(string_agg(tok, ' ' ORDER BY tp), '') AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(len(w.words) AS BIGINT) AS n_tokens,
           CAST(len(w.words) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(r.clean_text, '') AS clean_text
    FROM w LEFT JOIN reb r USING (doc_id)
    """,
    # same skeleton as segment_dedup: span first-keeper agg, the
    # two-sided join-back, per-doc collect_set, reassembly join
    exchanges=5,
)
def q_substring_dedup_docs(spark, sf_dir):
    """Exact-substring dedup over the corpus
    (`operators/dedup.remove_repeated_spans`, k=6 words): the
    distributed form of Lee et al. 2022 ExactSubstr — every token
    covered by a verbatim 6-word span whose first corpus occurrence
    is elsewhere is removed, and documents reassemble from surviving
    tokens.  Fully deterministic, so the whole pipeline (sliding
    k-grams, global first-keeper, span coverage, reassembly) is
    hash-checked against the oracle.  ~5% of span starts at sf0.01
    are non-first duplicates, so the query is non-vacuous."""
    from sparkplans.operators.dedup import remove_repeated_spans

    d = _t_cpu(spark, sf_dir, "documents")
    return remove_repeated_spans(d, k=6)


@register(
    "span_contamination_by_source",
    """
    WITH w AS (
      SELECT doc_id, source, str_split_regex(trim(text), '\\s+') AS words
      FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(range(greatest(len(words) - 5, 0))) AS pos,
             words
      FROM w
    ),
    grams AS (
      SELECT doc_id, pos,
             array_to_string(words[pos + 1:pos + 6], ' ') AS span
      FROM g
    ),
    m AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY span
                                ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY span) AS c
      FROM grams
    ),
    dup_tok AS (
      SELECT DISTINCT doc_id, tp
      FROM (SELECT doc_id, pos + unnest(range(6)) AS tp
            FROM m WHERE c >= 2 AND rn > 1)
    ),
    per_doc AS (
      SELECT w.doc_id, w.source,
             len(w.words) AS n_tokens,
             (SELECT count(*) FROM dup_tok d
              WHERE d.doc_id = w.doc_id) AS n_removed
      FROM w
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(n_tokens) AS BIGINT) AS tokens,
           CAST(sum(n_removed) AS BIGINT) AS removed_tokens,
           round(CAST(sum(n_removed) AS DOUBLE) / sum(n_tokens), 6)
             AS removed_frac
    FROM per_doc GROUP BY source
    """,
    # substring_dedup_docs + the (doc -> source) dim join and the
    # small source rollup
    exchanges=7,
)
def q_span_contamination_by_source(spark, sf_dir):
    """Corpus-health rollup of exact-substring contamination: per
    source, how many token positions sit inside a later occurrence of
    a repeated 6-word span (the fraction ExactSubstr dedup would cut).
    The per-doc removal counts come from the same operator as
    `substring_dedup_docs`; the rollup joins the (doc, source) dim
    back and aggregates — integer sums, one IEEE divide at the edge.

    Scale: the heavy lifting is the span first-keeper aggregate (map-
    side combined); the rollup adds one small shuffle on source."""
    from sparkplans.operators.dedup import remove_repeated_spans

    d = _t_cpu(spark, sf_dir, "documents")
    per_doc = remove_repeated_spans(d, k=6)
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens"),
            F.sum("n_removed").cast("bigint").alias("removed_tokens"),
            F.round(
                F.sum("n_removed").cast("double") / F.sum("n_tokens"), 6
            ).alias("removed_frac"),
        )
    )


@register(
    "curation_pipeline_v3",
    """
    WITH w AS (
      SELECT doc_id, str_split_regex(trim(text), '\\s+') AS words
      FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(range(greatest(len(words) - 5, 0))) AS pos,
             words
      FROM w
    ),
    grams AS (
      SELECT doc_id, pos,
             array_to_string(words[pos + 1:pos + 6], ' ') AS span
      FROM g
    ),
    m AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY span
                                ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY span) AS c
      FROM grams
    ),
    dup_tok AS (
      SELECT DISTINCT doc_id, tp
      FROM (SELECT doc_id, pos + unnest(range(6)) AS tp
            FROM m WHERE c >= 2 AND rn > 1)
    ),
    toks AS (
      SELECT doc_id, unnest(words) AS tok,
             generate_subscripts(words, 1) - 1 AS tp
      FROM w
    ),
    kept AS (
      SELECT t.doc_id, t.tp, t.tok
      FROM toks t
      LEFT JOIN dup_tok d ON d.doc_id = t.doc_id AND d.tp = t.tp
      WHERE d.doc_id IS NULL
    ),
    reb AS (
      SELECT doc_id, count(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    split AS (
      SELECT r.doc_id, d.lang, r.n_kept,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM reb r
      JOIN documents d USING (doc_id)
      CROSS JOIN LATERAL (SELECT ('0x' || substr(md5(r.doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS b) h
      WHERE r.n_kept >= 3
    )
    SELECT lang, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_kept) AS BIGINT) AS total_tokens
    FROM split GROUP BY lang, split
    """,
    # substring_dedup_docs chain + lang dim join + final rollup
    exchanges=7,
)
def q_curation_pipeline_v3(spark, sf_dir):
    """Curation composite with the ExactSubstr stage: repeated-span
    removal (k=6 sliding windows, global first occurrence survives)
    -> drop docs left with < 3 tokens -> stable hash train/val/test
    split -> per-(lang, split) doc and token totals.  The DuckDB
    oracle re-derives the whole chain, so span coverage, reassembly
    counts, split assignment, and the rollup are all hash-checked as
    ONE composite.

    At 100 TB each stage keeps its standalone scale shape
    (`substring_dedup_docs`, `stratified_split` rows in SCALE.md);
    the split is a pure projection, so composing adds only the final
    small rollup shuffle."""
    from sparkplans.operators.dedup import remove_repeated_spans

    d = _t_cpu(spark, sf_dir, "documents")
    spans = remove_repeated_spans(d, k=6)
    survivors = spans.withColumn(
        "n_kept_tok", F.col("n_tokens") - F.col("n_removed")
    ).filter(F.col("n_kept_tok") >= 3)
    b = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint") % 100
    with_split = survivors.join(d.select("doc_id", "lang"), "doc_id").withColumn(
        "split",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test"),
    )
    return with_split.groupBy("lang", "split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_kept_tok").cast("bigint").alias("total_tokens"),
    )


@register(
    "video_shot_boundaries",
    """
    SELECT doc_id,
           CAST(1 + doc_id % 4 AS INT) AS frame_idx,
           round(CAST(20 + doc_id % 30 AS DOUBLE), 6) AS luma_delta
    FROM documents
    """,
    exchanges=1,
    python=True,  # per-row media decode: Arrow-batched mapInPandas
)
def q_video_shot_boundaries(spark, sf_dir):
    """Driver-checked SHOT-BOUNDARY round trip: each document becomes
    a real two-shot Y4M clip — frames 0..k-1 at luma A, frames k..5 at
    luma A+d, with ``k = 1 + doc_id % 4`` and ``d = 20 + doc_id % 30``
    — encoded, decoded, and scanned by the production detector
    (`operators/multimodal.detect_shot_boundaries`, threshold 10).
    Exactly one transition exceeds the threshold, at frame k with mean
    |Δluma| exactly d (constant-luma shots make the mean exact in
    binary), so the oracle predicts every row in closed form.  A bug
    in encode, decode, the pairwise frame walk, or the thresholding
    breaks the hash."""
    import numpy as np
    import pandas as pd

    from sparkplans.operators import multimodal as mm

    d = _t_cpu(spark, sf_dir, "documents").select("doc_id")

    def make(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                k = 1 + did % 4
                a = did * 7 % 200
                delta = 20 + did % 30
                frames = np.zeros((6, 8, 8, 3), dtype="uint8")
                frames[:, :, :, 1] = 128
                frames[:, :, :, 2] = 128
                frames[:k, :, :, 0] = a
                frames[k:, :, :, 0] = a + delta
                rows.append(
                    (did, "video", "video/x-yuv4mpeg",
                     mm.encode_y4m(frames, 10, 1), 8, 8, 600)
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in mm.MEDIA_SCHEMA.fields]
            )

    media = d.mapInPandas(make, mm.MEDIA_SCHEMA)
    cuts = mm.detect_shot_boundaries(media, threshold=10.0)
    return cuts.filter(F.col("is_boundary")).select(
        F.col("media_id").alias("doc_id"),
        "frame_idx",
        F.round("luma_delta", 6).alias("luma_delta"),
    )


@register(
    "audio_vad_segments",
    """
    SELECT doc_id,
           CAST(2 + doc_id % 3 AS INT) AS seg_start_frame,
           CAST(3 + doc_id % 2 AS INT) AS seg_n_frames,
           round(CAST(500 + doc_id % 100 AS DOUBLE), 6) AS peak_rms
    FROM documents
    """,
    exchanges=1,
    python=True,  # per-row media decode: Arrow-batched mapInPandas
)
def q_audio_vad_segments(spark, sf_dir):
    """Driver-checked VOICE-ACTIVITY round trip (the shot-boundary
    query's audio twin): each document becomes a real PCM16 WAV of
    silence | square-wave tone | silence, with the tone spanning
    frames ``a = 2 + doc_id % 3`` .. ``a + 3 + doc_id % 2 - 1`` (16
    samples/frame) at amplitude ``500 + doc_id % 100``.  The
    production VAD (`operators/multimodal.detect_voice_segments`)
    must recover exactly one segment per clip, at exactly those frame
    coordinates, with peak RMS exactly the amplitude (|±amp|
    square-wave RMS is amp, exact in binary) — all predicted in
    closed form by the oracle."""
    import numpy as np
    import pandas as pd

    from sparkplans.operators import multimodal as mm

    FR = 16
    d = _t_cpu(spark, sf_dir, "documents").select("doc_id")

    def make(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                a = 2 + did % 3
                n = 3 + did % 2
                amp = 500 + did % 100
                sig = np.zeros(160, dtype="<i2")
                tone = np.tile([amp, -amp], FR // 2 * n)[: n * FR]
                sig[a * FR : (a + n) * FR] = tone
                rows.append(
                    (did, "audio", "audio/wav",
                     mm.encode_wav(sig, 8000), None, None, 20)
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in mm.MEDIA_SCHEMA.fields]
            )

    media = d.mapInPandas(make, mm.MEDIA_SCHEMA)
    segs = mm.detect_voice_segments(media, frame_samples=FR, threshold=100.0)
    return segs.select(
        F.col("media_id").alias("doc_id"),
        "seg_start_frame",
        "seg_n_frames",
        F.round("peak_rms", 6).alias("peak_rms"),
    )


# ---------------------------------------------------------------------
# t-digest quantile sketch (mergeable quantile rollup state)
# ---------------------------------------------------------------------

_TD_QS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


@register(
    "tdigest_weekly_rollup",
    """
    SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
           count(*) AS n,
           min(l_extendedprice) AS lo,
           max(l_extendedprice) AS hi,
           TRUE AS median_bound_ok
    FROM lineitem
    GROUP BY 1
    ORDER BY week
    """,
    # round-10 fused rollup: ONE fan-out of the shared (day, x) frame
    # (build + audit probe read the same exchange), ONE state-row
    # shuffle into the fused day->week fold (tdigest_rollup replaced
    # build-then-merge's two), audit agg pair + final order
    exchanges=5,
    jobs=12,  # measured 9
    # same sketch build, grouped per day then merged per week —
    # the merge fold is also mapInPandas over KB digest rows
    python=True,
)
def q_tdigest_weekly_rollup(spark, sf_dir):
    """The t-digest MERGEABILITY contract, end-to-end: per-DAY digests
    of lineitem prices (tdigest_build grouped on ~2.5k ship days) are
    coarsened to per-WEEK digests by tdigest_merge — stored-state
    arithmetic only, the raw corpus is never rescanned for the rollup
    — exactly the 'persist daily, answer any coarser window'
    deployment the sketch exists for (hll_union_rollup's quantile
    twin).

    Driver contract (tolerance-encoded like tdigest_price_quantiles):
    per week the merged digest's LOSSLESS fields must equal DuckDB's
    count/min/max exactly (merge must not lose or double-count any
    partial), and ``median_bound_ok`` audits the estimated median's
    true rank interval against 0.005 + 2/n_week in one exact corpus
    pass (grouped by week, estimates broadcast).  The +2/n term is
    discretization slack for SMALL groups: measured at sf0.01
    (125-173 rows/week) the error is ≤ 1.5 RANKS regardless of n —
    the continuous 0.005 band alone only makes sense once a group
    holds ≳1k points; at scale the term vanishes and the band
    governs.

    Plan shape (round-10 rework, guide §4 "pass only the columns the
    function needs" + §2.4 "share one exchange"): ONE fanned corpus
    frame ``base = (day, x)`` feeds both the digest build and the
    audit probe (the r9 shape fanned lineitem out twice with different
    projections — different canonical subtrees, so ReuseExchange
    could not share them — and shipped ``week`` through Arrow even
    though it is a function of ``day``); the day build + week merge
    run FUSED via tdigest_rollup (one state-row shuffle + one fold
    pass instead of two of each — bit-identical digests, ratcheted in
    tests/test_tdigest.py), and the audit derives week from the same
    ``base`` frame, so its subtree reuses the one fan-out exchange.
    Audit = one corpus pass + broadcast join + two-phase agg."""
    from sparkplans.operators.sketches import (
        tdigest_rollup,
        tdigest_quantiles,
    )

    base = _t_cpu(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").cast("date").alias("day"),
        F.col("l_extendedprice").alias("x"),
    )
    li = base.select(
        F.date_trunc("week", F.col("day")).cast("date").alias("week"),
        "x",
    )
    dig_week = tdigest_rollup(
        base,
        "x",
        fine_cols=["day"],
        coarse={"week": F.date_trunc("week", F.col("day")).cast("date")},
    )
    # The lossless fields (n/lo/hi — functionally dependent on week:
    # one digest row per week) RIDE the estimate rows instead of
    # re-reading dig_week in a second branch: the digest build/merge
    # subtree appears ONCE in the plan (ReuseExchange already shared
    # the partials exchange, but the keyed merge stage and a whole
    # broadcast join ran twice), and the final lossless-join is gone —
    # the audit aggregation itself carries the digest state to the
    # output.  Group count is unchanged (the extra keys are functions
    # of week), so the audit shuffle still moves one row per week.
    est = tdigest_quantiles(
        dig_week, [0.5], group_cols=["week", "n", "lo", "hi"]
    ).select(
        "week",
        F.col("n").cast("bigint").alias("n"),
        "lo",
        "hi",
        F.col("est").alias("med"),
    )
    return (
        li.join(F.broadcast(est), "week")
        .groupBy("week", "n", "lo", "hi", "med")
        .agg(
            F.count("*").alias("n_l"),
            F.sum(F.when(F.col("x") < F.col("med"), 1).otherwise(0)).alias("blo"),
            F.sum(F.when(F.col("x") <= F.col("med"), 1).otherwise(0)).alias("bhi"),
        )
        .select(
            "week",
            "n",
            "lo",
            "hi",
            (
                F.greatest(
                    F.lit(0.0),
                    F.col("blo") / F.col("n_l") - F.lit(0.5),
                    F.lit(0.5) - F.col("bhi") / F.col("n_l"),
                )
                <= F.lit(0.005) + F.lit(2.0) / F.col("n_l")
            ).alias("median_bound_ok"),
        )
        .orderBy("week")
    )


@register(
    "tdigest_price_quantiles",
    f"""
    WITH s AS (SELECT count(*) AS n, min(l_extendedprice) AS lo,
                      max(l_extendedprice) AS hi
               FROM lineitem)
    SELECT CAST(q AS DOUBLE) AS q, n, lo, hi, TRUE AS bound_ok
    FROM (SELECT unnest({_TD_QS!r}) AS q), s
    ORDER BY q
    """,
    # digest build (partials -> keyed merge), rank-audit agg, final
    # order; the 7-row estimate/lossless sides ride broadcasts.
    # 4 -> 7 in round 7: the corpus is no longer eagerly checkpointed
    # between the build and audit passes (a single-column parquet
    # re-scan measured CHEAPER than cache write+read at sf10), so the
    # STATIC plan text now carries the digest subtree's merge exchange
    # in each broadcast branch; at runtime ReuseExchange collapses
    # them (executed plan shows 2 ReusedExchange; partials run once —
    # sf10 wall dropped 45.9 -> 34.4 s with the change)
    exchanges=7,
    # t-digest build is bounded per-partition sketch state (the
    # Misra-Gries pattern): mapInPandas partials + one KB-state
    # merge; only digest states cross the wire
    python=True,
)
def q_tdigest_price_quantiles(spark, sf_dir):
    """t-digest (`operators/sketches.tdigest_build`) over lineitem
    prices — the mergeable QUANTILE summary beside the HLL/KMV
    (distinct) and CMS/Misra-Gries (frequency) states: persist per-day
    digests once, answer any coarser quantile question by merging the
    KB-sized states, never re-scanning raw data.

    Driver contract (tolerance-encoded, the cms_token_counts recipe):
    centroid means are float-fold model state no SQL oracle
    reproduces, so the result carries the digest's LOSSLESS fields —
    n/lo/hi must equal DuckDB's count/min/max exactly — plus
    ``bound_ok``: the estimate's true rank interval (count(x<est),
    count(x<=est), computed in one exact corpus pass) must sit within
    0.005 of q (measured error at delta=200 is ~6e-4, an ~8x margin;
    `tests/test_tdigest.py` gates the sharper per-regime bounds).

    Plan shape: digest build is mapInPandas partials + one KB-state
    merge; the rank audit broadcasts the 7 (q, est) rows against one
    corpus scan with map-side partial aggregation — no global sort,
    no driver collect, no row expansion crossing the shuffle.

    Deliberately NOT materialized between the two passes: the corpus
    here is ONE double column, and a columnar parquet re-scan is
    cheaper than a serialized cache write + read — measured at sf10
    (60M rows): build 15.3 s from scan vs 11.5 s cache build + 18.0 s
    build from cache, audit likewise faster from scan.  Caching wins
    when the reused frame is expensive to recompute (joins, UDF
    output); a single-column scan is not."""
    from sparkplans.operators.sketches import tdigest_build, tdigest_quantiles

    li = _t_cpu(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("x")
    )
    dig = tdigest_build(li, "x", delta=200)
    # 7 rows of model state; the lossless digest fields (n/lo/hi —
    # one ungrouped digest row, so constant across the 7) ride the
    # estimate rows: one digest subtree in the plan instead of two,
    # and no second crossJoin to re-attach them (same restructure as
    # tdigest_weekly_rollup — see its comment)
    est = tdigest_quantiles(dig, _TD_QS, group_cols=["n", "lo", "hi"])
    return (
        li.crossJoin(F.broadcast(est))
        .groupBy("q", "est", "n", "lo", "hi")
        .agg(
            F.count("*").alias("n_l"),
            F.sum(F.when(F.col("x") < F.col("est"), 1).otherwise(0)).alias("blo"),
            F.sum(F.when(F.col("x") <= F.col("est"), 1).otherwise(0)).alias("bhi"),
        )
        .select(
            "q",
            F.col("n").cast("bigint").alias("n"),
            "lo",
            "hi",
            (
                F.greatest(
                    F.lit(0.0),
                    F.col("blo") / F.col("n_l") - F.col("q"),
                    F.col("q") - F.col("bhi") / F.col("n_l"),
                )
                <= 0.005
            ).alias("bound_ok"),
        )
        .orderBy("q")
    )
