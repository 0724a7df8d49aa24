"""Analytics query batch 3: rolling-window actives, attribution band
joins, exact percentiles, contribution shares, bag-of-words duplicate
blocking, EWMA smoothing, and dataset-mixture reweighting.

Same contract as the main registry (`sparkplans/queries/__init__.py`):
every entry is DuckDB-oracled; float accumulation is either
DECIMAL-exact or a left-to-right IEEE fold replicated verbatim on the
oracle side.  The reference exercises none of these shapes — they
extend the engine toward the training-data / product-analytics north
star (SURVEY.md §7 phase F) while staying declarative so Catalyst
owns the physical strategy.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkplans.queries import _shared_sql, _t, _t_cpu, register
from sparkplans.materialize import materialize, materialize_lazy


@register(
    "rolling_active_users_7d",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    tgt AS (
      SELECT user_id, d + CAST(i AS INTEGER) AS day
      FROM ud, generate_series(0, 6) g(i))
    SELECT day, count(DISTINCT user_id) AS active_7d
    FROM tgt GROUP BY day
    """,
    # (user,day) distinct + the distinct-agg pair on the exploded grid
    exchanges=3,
)
def q_rolling_active_users_7d(spark, sf_dir):
    """Trailing-7-day distinct active users per day.  The classic
    rolling-distinct problem: COUNT(DISTINCT) over a RANGE window is
    unsupported (Spark) or quadratic (naive self-join), so each
    (user, day) observation is exploded to the <=7 target days it can
    influence and the per-day distinct count becomes a plain two-phase
    aggregate.  Work scales as 7x the deduped (user, day) pairs —
    linear in the corpus, never corpus x days — and the explode is
    codegen `sequence()`, no Python, no driver loop."""
    ud = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    tgt = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("day"),
    )
    return tgt.groupBy("day").agg(F.countDistinct("user_id").alias("active_7d"))


_shared_sql(
    "attribution_clicks_24h",
    """
    SELECT p.event_id, count(c.event_id) AS n_clicks_24h
    FROM events p LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 24 HOUR AND c.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
    # user-keyed self-join; band predicate rides the hash join
    exchanges=1,
)
# Attribution band join: clicks in the 24h window before each
# purchase, same user.  The user_id equi-key keeps this a hash join
# (the band predicate evaluates post-probe), so candidate pairs are
# per-user-quadratic-within-24h, never corpus-quadratic.  At 100 TB
# the purchase side filter is pushed to the scan and the join
# shuffles both sides once on user_id.


@register(
    "exact_value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90
    FROM events GROUP BY event_type
    """,
    exchanges=1,
)
def q_exact_value_percentiles(spark, sf_dir):
    """Exact linear-interpolated percentiles per event type (Spark
    `percentile` == DuckDB `quantile_cont`).  Exact percentiles
    buffer each group's values on one reducer — correct but
    memory-bound by the hottest group; the scale path is
    `approx_value_quantiles` (GK sketch, mergeable, bounded memory).
    Keeping both registered documents the trade explicitly."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
    )


_shared_sql(
    "revenue_share_by_nation",
    """
    WITH n AS (
      SELECT n_name, sum(CAST(o_totalprice AS DECIMAL(28,4))) AS rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name)
    SELECT n_name, CAST(rev AS DOUBLE) AS revenue,
           round(CAST(rev AS DOUBLE) / CAST(sum(rev) OVER () AS DOUBLE), 6)
             AS revenue_share
    FROM n
    """,
    # orders-side agg + one-row OVER() total; dims broadcast
    exchanges=2,
)
# Percent-of-total contribution: revenue accumulates in DECIMAL (sum
# order irrelevant => bit-identical across engines), the share divides
# doubles once per output row.  The OVER () total is computed on 25
# post-aggregate rows — a one-row exchange, not a corpus-wide
# single-partition sort.  customer and nation broadcast below the
# orders-side aggregation.


@register(
    "bow_duplicate_groups",
    """
    WITH sig AS (
      SELECT doc_id,
             md5(array_to_string(
               list_sort(regexp_split_to_array(trim(text), '\\s+')), ' '))
               AS bow_sig
      FROM documents)
    SELECT bow_sig, count(*) AS n_docs, min(doc_id) AS keeper_doc
    FROM sig GROUP BY bow_sig HAVING count(*) > 1
    """,
    # fan_out + fingerprint-keyed agg (32-byte keys, not text)
    exchanges=2,
)
def q_bow_duplicate_groups(spark, sf_dir):
    """Bag-of-words duplicate blocking: md5 over the *sorted* token
    list keys docs that are word-order permutations of each other —
    a cheap canonicalization layer between exact dedup (misses
    reorders) and MinHash (pays shingling).  One fingerprint pass +
    one hash-keyed aggregate; the signature is 32 bytes however long
    the document, so the shuffle carries fingerprints, not text."""
    sig = _t_cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.split(F.trim(F.col("text")), r"\s+")))
        ).alias("bow_sig"),
    )
    return (
        sig.groupBy("bow_sig")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc"))
        .filter(F.col("n_docs") > 1)
    )


@register(
    "ewma_user_value",
    """
    WITH lv AS (
      SELECT user_id,
             list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vals,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id,
           round(list_reduce(vals, (acc, x) -> acc * 0.8 + x * 0.2), 6)
             AS ewma10
    FROM lv WHERE rn = 1
    """,
    # one user-keyed window partitioning shared by frame + rank
    exchanges=1,
)
def q_ewma_user_value(spark, sf_dir):
    """Per-user EWMA (alpha=0.2) over the last 10 events — the
    smoothed-metric primitive behind anomaly scores and engagement
    decay.  The recursion s_i = 0.8*s_{i-1} + 0.2*x_i can't be a
    plain window sum (weights depend on the current row), so the
    last-10 frame is collected and folded left-to-right with
    `F.aggregate` — a JVM lambda over a <=10-element array, identical
    fold order to DuckDB's `list_reduce`, so doubles match
    bit-for-bit.  One user-keyed shuffle; frame-bounded memory."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    wr = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    lv = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.collect_list("value").over(w).alias("vals"),
        )
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
    )
    ewma = F.aggregate(
        F.expr("slice(vals, 2, size(vals) - 1)"),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: acc * F.lit(0.8) + x * F.lit(0.2),
    )
    return lv.select("user_id", F.round(ewma, 6).alias("ewma10"))


_shared_sql(
    "lang_mixture_weights",
    """
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    t AS (SELECT sum(n) AS tot, count(*) AS k FROM c)
    SELECT lang, n AS n_docs,
           round(CAST(tot AS DOUBLE)
                 / (CAST(k AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS mix_weight
    FROM c, t
    """,
    # lang census + one-row totals rollup + broadcast-back
    exchanges=3,
)
# Dataset-mixture reweighting: per-language resampling weight that
# would equalize the language mix (weight = target_share /
# actual_share = tot / (k * n)).  The per-language census is one
# keyed aggregate; the totals table is ONE row, so the join
# broadcasts.  All-double arithmetic, identical on both engines.


@register(
    "hll_daily_users",
    """
    SELECT time_bucket(INTERVAL '1 day', ts) AS bin, event_type,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS within_tol
    FROM events GROUP BY bin, event_type
    """,
    # sketch agg + exact countDistinct (2 exchanges, distinct
    # expansion) for the tolerance oracle; same-key join adds none
    exchanges=3,
)
def q_hll_daily_users(spark, sf_dir):
    """Persistable distinct-user sketches per (day, event_type) with
    read-time estimates (operators/sketches).  The DataSketches binary
    state has no DuckDB equivalent, so the driver contract is
    tolerance-encoded: each (bin, event_type) row carries the exact
    distinct count and ``within_tol`` — true iff the sketch estimate
    is within 5% (floor 2) of it — against the oracle's all-true
    grid.  The lossless-union guarantee stays pinned in
    tests/test_operators.py.  Both aggregations group on the same
    keys, so the equi-join adds no exchange beyond the two aggs."""
    from sparkplans.operators.sketches import hll_rollup

    e = _t(spark, sf_dir, "events")
    sk = hll_rollup(
        e, id_col="user_id", keys=["event_type"], interval="1 day"
    ).select("bin", "event_type", "distinct_est")
    from sparkplans.functions import date_bin

    exact = e.groupBy(
        date_bin("ts", "1 day").alias("bin"), "event_type"
    ).agg(F.countDistinct("user_id").alias("exact_users"))
    return sk.join(exact, ["bin", "event_type"]).select(
        "bin",
        "event_type",
        "exact_users",
        (
            F.abs(F.col("distinct_est") - F.col("exact_users"))
            <= F.greatest(0.05 * F.col("exact_users"), F.lit(2))
        ).alias("within_tol"),
    )


_PROFILE_COLS = (
    ("o_orderkey", True),
    ("o_custkey", True),
    ("o_orderstatus", False),
    ("o_totalprice", True),
    ("o_orderpriority", False),
)

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name, count(*) AS n_rows,
        count(*) - count({c}) AS n_nulls,
        count(DISTINCT {c}) AS n_distinct,
        {f'CAST(min({c}) AS DOUBLE)' if num else 'CAST(NULL AS DOUBLE)'} AS min_value,
        {f'CAST(max({c}) AS DOUBLE)' if num else 'CAST(NULL AS DOUBLE)'} AS max_value
        FROM orders"""
    for c, num in _PROFILE_COLS
)


@register("orders_profile", _PROFILE_ORACLE, exchanges=2)
def q_orders_profile(spark, sf_dir):
    """Exact single-pass column profile of `orders` via
    operators/profile (nulls, distinct cardinality, numeric ranges) —
    the reference's statistics-collection surface exposed as a query.
    Exact mode for oracle parity; `profile(approx=True)` is the scale
    path (HLL++ states, one constant-size aggregation pass)."""
    from sparkplans.operators.profile import profile

    p = profile(
        _t(spark, sf_dir, "orders"),
        columns=[c for c, _ in _PROFILE_COLS],
        approx=False,
    )
    return p.select(
        F.col("column").alias("column_name"),
        "n_rows",
        "n_nulls",
        "n_distinct",
        "min_value",
        "max_value",
    )


_SSJOIN_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)
), tf AS (
  SELECT shingle, count(*) AS df_ FROM sh GROUP BY shingle
), arr AS (
  SELECT doc_id, list(sh.shingle ORDER BY df_, sh.shingle) AS tk
  FROM sh JOIN tf USING (shingle) GROUP BY doc_id
), pref AS (
  SELECT doc_id,
         unnest(tk[1:(len(tk) - CAST(ceil(0.5 * len(tk)) AS INTEGER) + 1)])
           AS p
  FROM arr
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref a JOIN pref b ON a.p = b.p AND a.doc_id < b.doc_id
), ver AS (
  SELECT id_a, id_b, len(list_intersect(x.tk, y.tk)) AS inter,
         len(x.tk) AS na, len(y.tk) AS nb
  FROM cand JOIN arr x ON x.doc_id = id_a JOIN arr y ON y.doc_id = id_b
)
SELECT id_a, id_b,
       round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
FROM ver WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
"""


# exchanges: ranked-shingle arrays are checkpointed (shingle-df join +
# per-doc agg happen before the cut); the visible plan is the prefix
# self-join (broadcast at this scale) + candidate dedup
@register("ssjoin_near_dups", _SSJOIN_ORACLE, exchanges=1)
def q_ssjoin_near_dups(spark, sf_dir):
    """Exact near-duplicate pairs (shingle-Jaccard >= 0.5) via
    dedup.prefix_filter_pairs — the lossless SSJoin counterpart to
    the MinHash/LSH probabilistic path (`near_dup_pairs`): prefix
    filtering on rarity-ordered shingles guarantees no false
    negatives, so this is the ground-truth recall audit for the
    sketch-based dedup operators."""
    from sparkplans.operators.dedup import prefix_filter_pairs

    return prefix_filter_pairs(_t_cpu(spark, sf_dir, "documents"), threshold=0.5)


_WSAMPLE_ORACLE = """
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         power(
           ((((((doc_id + 1) * 48271) % 2147483647)
               * 48271) % 2147483647
              * 48271) % 2147483647 + 1) / 2147483648.0,
           1.0 / greatest(CAST(n_chars AS DOUBLE), 1e-12)) AS sample_key
  FROM documents
), r AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (
           PARTITION BY lang ORDER BY sample_key DESC, doc_id) AS rn
  FROM keyed
)
SELECT doc_id, lang, n_chars FROM r WHERE rn <= 5
"""


# exchanges: one lang-keyed rank window (+ tiny final exchange)
@register("weighted_doc_sample", _WSAMPLE_ORACLE, exchanges=2)
def q_weighted_doc_sample(spark, sf_dir):
    """Per-language weighted sample (5 docs each, weight = n_chars)
    via operators/sampling.weighted_sample — Efraimidis–Spirakis keys
    from a Lehmer LCG over doc_id, so the 'random' sample is a pure
    function of (id, seed) and DuckDB replays it exactly.  The priority
    key itself is excluded from the comparison surface (pow may differ
    in the last ulp across libm builds; membership doesn't).  One
    projection + one per-stratum rank window."""
    from sparkplans.operators.sampling import weighted_sample

    return weighted_sample(
        _t_cpu(spark, sf_dir, "documents"),
        id_col="doc_id",
        weight_col="n_chars",
        k=5,
        strata=["lang"],
    ).select("doc_id", "lang", "n_chars")


_TRIANGLE_ORACLE = """
WITH e AS (
  SELECT a.l_partkey AS lo, b.l_partkey AS hi
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT (SELECT count(*) FROM e) AS n_edges,
       (SELECT count(*)
        FROM e e1 JOIN e e2 ON e1.hi = e2.lo
                  JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi)
         AS n_triangles
"""


# exchanges: triple join over the checkpointed (thresholded) edge list +
# two count rollups; the lineitem self-join shuffles happen once, before
# the checkpoint cut
@register("copurchase_triangles", _TRIANGLE_ORACLE, exchanges=6)
def q_copurchase_triangles(spark, sf_dir):
    """Triangle census of the part co-purchase graph (pairs sharing
    >= 2 orders) via operators/graph.triangle_count — the clustering
    primitive behind community detection and dedup-cluster sanity
    checks.  The >= 2 threshold is the degree cap that keeps the
    deg^2 triple-join bound tame; the canonical edge list is
    checkpointed once and reused by all three legs (the SQL oracle
    recomputes the CTE — Spark doesn't, by construction)."""
    from sparkplans.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )
    return triangle_count(edges)


# Volume anomaly detection: per-event-type daily counts scored
# against that type's own mean/std (sample), flagging |z| > 2 days.
# All moments are INTEGER sums (counts and squared counts) — exact on
# both engines — and the z closed form evaluates in double with
# textually identical expressions, so results hash-match without any
# DECIMAL staging.  The stats side `s` is one row per event type
# (broadcast); work scales with the (type, day) grid, not the corpus.
_shared_sql(
    "daily_volume_anomalies",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), s AS (
      SELECT event_type, count(*) AS n_days,
             sum(cnt) AS s1, sum(cnt * cnt) AS s2
      FROM d GROUP BY event_type
    )
    SELECT * FROM (
      SELECT d.event_type, d.day, d.cnt,
             round((d.cnt - CAST(s1 AS DOUBLE) / n_days)
                   / sqrt((n_days * CAST(s2 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                          / (CAST(n_days AS DOUBLE) * (n_days - 1))), 9)
               AS z_score
      FROM d JOIN s ON d.event_type = s.event_type
      WHERE n_days > 1
    ) WHERE abs(z_score) > 2
    """,
    # (type,day) grid agg + per-type stats rollup + the grid-side
    # re-shuffle under the stats join; all post-aggregate row counts
    exchanges=3,
)


# Recursive CTE (Spark 4 WITH RECURSIVE == DuckDB): a calendar month
# spine generated by recursion drives a LEFT join so zero-order months
# survive — the canonical "report every period" shape.  The recursion
# materializes ~80 calendar rows regardless of fact size (one tiny
# frame per step, bounded by the literal date range); the fact side
# aggregates once on the truncated month.  Literal bounds match the
# generator's fixed o_orderdate range (TESTDATA.md, seed=42).
_shared_sql(
    "recursive_month_spine",
    """
    WITH RECURSIVE months(m) AS (
      SELECT CAST('1995-01-01' AS DATE)
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
      WHERE m < CAST('2001-08-01' AS DATE)
    )
    SELECT m AS order_month, count(o_orderkey) AS n_orders
    FROM months LEFT JOIN orders
      ON date_trunc('month', o_orderdate) = CAST(m AS TIMESTAMP)
    GROUP BY m
    """,
    # ~80-row recursive spine broadcasts; one keyed agg on the fact
    exchanges=1,
)


# Correlated LATERAL derived table — the shape the reference's
# `decorrelate_lateral_join` logical rule (docs/3_cli_query_plans.md:108)
# exists for: a per-outer-row subquery with ORDER BY ... LIMIT,
# decorrelated by both engines into a ranked join (Spark plans a
# window + broadcast join — no per-row re-execution).  The window
# twin of this shape is `top_suppliers_per_nation`; this is the
# SQL-surface twin.
_shared_sql(
    "lateral_top_customers",
    """
    SELECT n.n_name, c.c_name, c.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_name, c_acctbal FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 3) c
    """,
    # LATERAL decorrelated into a ranking window (one keyed shuffle)
    # + broadcast join with nation
    exchanges=1,
)


_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_CORR_PAIRS = [
    (a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1:]
]


def _corr_sum_sql():
    # 19,4 forces DuckDB's int128 multiply path (the int64 fast path
    # overflows on price*price); Spark side stays (15,4) — both exact
    d = lambda c: f"CAST({c} AS DECIMAL(19,4))"  # noqa: E731
    parts = ["count(*) AS n"]
    for c in _CORR_COLS:
        parts.append(f"CAST(sum({d(c)}) AS DOUBLE) AS s_{c}")
        parts.append(f"CAST(sum({d(c)} * {d(c)}) AS DOUBLE) AS ss_{c}")
    for a, b in _CORR_PAIRS:
        parts.append(f"CAST(sum({d(a)} * {d(b)}) AS DOUBLE) AS sp_{a}_{b}")
    return ",\n    ".join(parts)


_CORR_ORACLE = f"""
WITH s AS (
  SELECT {_corr_sum_sql()}
  FROM lineitem)
""" + "\nUNION ALL\n".join(
    f"""SELECT '{a}' AS col_x, '{b}' AS col_y, n,
        round((n * sp_{a}_{b} - s_{a} * s_{b})
              / (sqrt(n * ss_{a} - s_{a} * s_{a})
                 * sqrt(n * ss_{b} - s_{b} * s_{b})), 9) AS corr_r
        FROM s"""
    for a, b in _CORR_PAIRS
)


# exchanges: all 14 co-moments in one partial+final pass of DECIMAL
# states
@register("lineitem_corr_matrix", _CORR_ORACLE, exchanges=1)
def q_lineitem_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix over the lineitem numeric
    columns in ONE aggregation pass: all co-moments accumulate as
    exact DECIMAL sums (order-independent => bit-identical to the
    oracle), the closed form evaluates in double on the single result
    row.  The multi-pair generalization of df.stat.corr — 6 pairs for
    the cost of one scan, constant-size aggregation state; at 100 TB
    this is the only sane way to compute a feature-correlation
    screen."""
    li = _t(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(15,4)")  # noqa: E731
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(d(c)).cast("double").alias(f"s_{c}"))
        aggs.append(F.sum(d(c) * d(c)).cast("double").alias(f"ss_{c}"))
    for a, b in _CORR_PAIRS:
        aggs.append(F.sum(d(a) * d(b)).cast("double").alias(f"sp_{a}_{b}"))
    row = li.agg(*aggs)

    def corr(a, b):
        n = F.col("n")
        num = n * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        den = F.sqrt(n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")) * F.sqrt(
            n * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
        )
        return F.round(num / den, 9)

    structs = [
        F.struct(
            F.lit(a).alias("col_x"),
            F.lit(b).alias("col_y"),
            F.col("n").alias("n"),
            corr(a, b).alias("corr_r"),
        )
        for a, b in _CORR_PAIRS
    ]
    return row.select(F.explode(F.array(*structs)).alias("c")).select("c.*")


_QUALITY_GATE_ORACLE = """
SELECT 'not_null(o_custkey)' AS check_name, count(*) AS n_rows,
       count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_violations,
       count(CASE WHEN o_custkey IS NULL THEN 1 END) = 0 AS passed
FROM orders
UNION ALL
SELECT 'unique(o_orderkey)', count(*),
       count(o_orderkey) - count(DISTINCT o_orderkey),
       count(o_orderkey) - count(DISTINCT o_orderkey) = 0
FROM orders
UNION ALL
SELECT 'accepted_values(o_orderstatus)', count(*),
       count(CASE WHEN o_orderstatus IS NULL
                    OR o_orderstatus NOT IN ('O','F','P') THEN 1 END),
       count(CASE WHEN o_orderstatus IS NULL
                    OR o_orderstatus NOT IN ('O','F','P') THEN 1 END) = 0
FROM orders
UNION ALL
SELECT 'in_range(o_totalprice)', count(*),
       count(CASE WHEN o_totalprice IS NOT NULL
                   AND (o_totalprice < 0 OR o_totalprice > 10000000)
             THEN 1 END),
       count(CASE WHEN o_totalprice IS NOT NULL
                   AND (o_totalprice < 0 OR o_totalprice > 10000000)
             THEN 1 END) = 0
FROM orders
UNION ALL
SELECT 'matches(o_orderpriority)', count(*),
       count(CASE WHEN o_orderpriority IS NOT NULL
                   AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
             THEN 1 END),
       count(CASE WHEN o_orderpriority IS NOT NULL
                   AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
             THEN 1 END) = 0
FROM orders
UNION ALL
SELECT 'foreign_key(o_custkey->customer.c_custkey)', count(*),
       count(CASE WHEN o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
             THEN 1 END),
       count(CASE WHEN o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
             THEN 1 END) = 0
FROM orders o
LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
  ON o.o_custkey = c.c_custkey
"""


# exchanges: one Expand+countDistinct pass for the column-local checks
# (2 single-partition state hops), one dedup of the FK reference keys,
# one final-agg hop after the broadcast join; all constant-size states
# or dimension keys — no fact data shuffles
@register("orders_quality_gate", _QUALITY_GATE_ORACLE, exchanges=4)
def q_orders_quality_gate(spark, sf_dir):
    """Declarative data-quality gate on `orders` via
    operators/expectations: not-null, uniqueness, accepted values,
    range, regex shape, and referential integrity against `customer`.
    All column-local checks fold into ONE aggregation pass (conditional
    counts, constant-size state); the FK check is one broadcast left
    join against the deduped dimension keys — at 100 TB a fact-sized
    reference flips to `broadcast=False` (shuffle hash join)."""
    from sparkplans.operators import expectations as X

    return X.validate(
        _t(spark, sf_dir, "orders"),
        [
            X.not_null("o_custkey"),
            X.unique("o_orderkey"),
            X.accepted_values("o_orderstatus", ["O", "F", "P"]),
            X.in_range("o_totalprice", 0, 10_000_000),
            X.matches("o_orderpriority", "^[1-5]-"),
            X.foreign_key("o_custkey", "customer", "c_custkey"),
        ],
        refs={"customer": _t(spark, sf_dir, "customer")},
    )


_DIFF_ORACLE = """
WITH new_snap AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 101 = 0
), j AS (
  SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN n.o_orderkey IS NULL THEN 'delete'
              WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey
                    AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                    AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                    AND o.o_orderdate IS NOT DISTINCT FROM n.o_orderdate
                    AND o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority)
              THEN 'update' END AS change_type
  FROM orders o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
)
SELECT o_orderkey, change_type FROM j WHERE change_type IS NOT NULL
"""


# exchanges: one full-outer sort-merge join: each side shuffles on the
# key once; bucketed snapshots would bring this to 0
@register("orders_snapshot_diff", _DIFF_ORACLE, exchanges=2)
def q_orders_snapshot_diff(spark, sf_dir):
    """CDC change-set derivation via operators/diff.table_diff: a
    deterministic 'yesterday vs today' pair is built from `orders`
    (every 97th key deleted, every 100th price-bumped, every 101st
    re-inserted under a shifted key) and diffed on the primary key.
    One full-outer shuffle join; on a cluster with both snapshots
    bucketed by key it degrades to a zero-shuffle sort-merge join."""
    from sparkplans.operators.diff import table_diff

    old = _t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    new = (
        old.filter(key % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(key % 100 == 0, F.col("o_totalprice") + 1.0).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            old.filter(key % 101 == 0).withColumn(
                "o_orderkey", key + 10000000
            )
        )
    )
    return table_diff(old, new, keys=["o_orderkey"])


def _copurchase_ranks(spark, sf_dir):
    """Unrounded PageRank over the part co-purchase graph — shared by
    the value-oracled ``pagerank_copurchase`` (rounds for cross-engine
    hashing) and ``pagerank_invariants`` (needs full precision for the
    1e-9 mass-conservation theorem)."""
    from sparkplans.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # The self-join must neither broadcast (the "small" side IS the
    # corpus — Catalyst's post-projection estimate stays under the
    # threshold at bench scale and the driver then rebuilds a
    # 600k-row hash relation every action) nor sort-merge (the
    # many-to-many order groups make SMJ buffer each group; measured
    # 4.5x slower than shuffled-hash at sf0.1).  Shuffled-hash
    # partitions both sides on l_orderkey; per-partition build is
    # rows/partitions x 16 B — bounded at any scale by the partition
    # count the session already sizes.
    a, b = li.alias("a"), li.alias("b").hint("shuffle_hash")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
    )
    return pagerank(edges, damping=0.85, iterations=5)


def _pagerank_oracle_sql(iters: int = 5, d: float = 0.85) -> str:
    """DuckDB power iteration, UNROLLED (fixed iteration count needs
    no recursion; an unrolled chain also sidesteps the single-
    recursive-reference rule — each step reads r{k-1} twice: once for
    the dangling-mass fold, once for the inflow join).  Every CTE is
    MATERIALIZED: without it DuckDB inlines each doubly-referenced
    step and the chain re-evaluates 2^iters times.  The arithmetic is
    the operator's exactly — r' = (1-d)/N + d*dm/N + d*inflow with
    inflow = sum(rank/outdeg) over in-edges — so the only cross-engine
    daylight is float summation order (measured |Δ|rel ≈ 1e-15);
    round(rank, 10) on both sides leaves ~5 orders of margin."""
    step = lambda k: f"""
r{k} AS MATERIALIZED (
  SELECT nd.node, nd.outdeg,
         (1 - {d})/(SELECT n FROM nn)
         + {d}*(SELECT coalesce(sum(rank), 0) FROM r{k-1} WHERE outdeg IS NULL)/(SELECT n FROM nn)
         + {d}*coalesce(i.inflow, 0) AS rank
  FROM nodes_deg nd LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / r.outdeg) AS inflow
    FROM edges e JOIN r{k-1} r ON e.src = r.node GROUP BY e.dst
  ) i USING (node)
)"""
    steps = ",".join(step(k) for k in range(1, iters + 1))
    return f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
),
outdeg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
nodes_deg AS MATERIALIZED (
  SELECT node, outdeg FROM (
    SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
  ) LEFT JOIN outdeg ON node = src
),
nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes_deg),
r0 AS MATERIALIZED (SELECT node, outdeg, 1.0/(SELECT n FROM nn) AS rank FROM nodes_deg),
{steps}
SELECT node, round(rank, 10) AS rank FROM r{iters}
"""


# exchanges: per-iteration lineage is cut by localCheckpoint; the
# returned frame reads the final checkpoint (iteration shuffles are
# keyed aggregates counted per pass, not accumulated in the plan)
# jobs: measured 22 (was 40 in round 9): one job per lazy iteration
@register("pagerank_copurchase", _pagerank_oracle_sql(), exchanges=0, jobs=26)
def q_pagerank_copurchase(spark, sf_dir):
    """PageRank over the part co-purchase graph (parts sharing an
    order, both directions) — the iterative-algorithm showcase
    (operators/graph).  VALUE-oracled since round 6: a fixed-iteration
    power iteration with deterministic damping is a pure (if
    non-algebraic) function of the corpus, so DuckDB recomputes the
    identical 5 unrolled steps and both sides round to 10 dp — the
    measured cross-engine summation noise is ~1e-15 relative, five
    orders below the rounding grain, so the hash comparison is exact
    in practice (flake probability ~1e-8 per node).  Edge building is
    one self-join on l_orderkey; each Spark iteration is one dst-keyed
    aggregate over lineage cut by localCheckpoint (zero exchanges per
    iteration on the broadcast-ranks path)."""
    return _copurchase_ranks(spark, sf_dir).select(
        "node", F.round("rank", 10).alias("rank")
    )


@register(
    "pagerank_invariants",
    """
    SELECT count(*) AS n_nodes, TRUE AS mass_conserved, TRUE AS all_positive
    FROM (
      SELECT DISTINCT a.l_partkey AS node
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ) nodes
    """,
    # single-row theorem agg over checkpointed ranks
    exchanges=1,
)
def q_pagerank_invariants(spark, sf_dir):
    """Theorem companion to `pagerank_copurchase` (which since round 6
    also carries a full value oracle — DuckDB reruns the unrolled
    power iteration): the
    power iteration's numeric output can't hash-match SQL, but its
    THEOREMS can — total rank mass stays 1 (no dangling nodes in the
    symmetric co-purchase graph), every rank is >= (1-d)/N > 0, and
    the node set is exactly the distinct parts in co-purchase edges
    (which DuckDB recomputes independently).  One boolean row vs the
    oracle's independently-derived (n_nodes, true, true).  Uses the
    UNROUNDED helper: the registered query rounds to 10 dp for value
    hashing, and 2000 nodes' rounding residues would swamp the 1e-9
    mass-conservation tolerance."""
    ranks = _copurchase_ranks(spark, sf_dir)
    return ranks.agg(
        F.count("*").alias("n_nodes"),
        (F.abs(F.sum("rank") - F.lit(1.0)) < F.lit(1e-9)).alias(
            "mass_conserved"
        ),
        (F.min("rank") > F.lit(0.0)).alias("all_positive"),
    )


_LPA_ORACLE = """
WITH RECURSIVE e0 AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
), edges AS (
  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
), reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node
), comp AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node)
SELECT count(*) AS n_nodes,
       count(DISTINCT comp) AS n_components,
       TRUE AS labels_are_node_ids,
       TRUE AS labels_within_components
FROM comp
"""


# exchanges: invariant join of two iterative outputs (labels ⋈ comp ⋈
# comp): both sides are node-sized at 100 TB so neither broadcasts; the
# iterations themselves are behind localCheckpoint cuts
@register("label_propagation_communities", _LPA_ORACLE, exchanges=8)
def q_label_propagation_communities(spark, sf_dir):
    """Community detection on the part co-purchase graph (pairs
    sharing >= 2 orders) via operators/graph.label_propagation — the
    third iterative-graph operator beside pagerank and
    connected_components.

    LPA's community assignment has no closed form, so (like
    `pagerank_invariants`) the oracle pins its THEOREMS: labels are
    always node ids (they only ever copy), and a label can travel at
    most one edge per round, so it can never escape its connected
    component — which DuckDB re-derives independently via recursive
    transitive closure.  The exact communities are pinned against
    hand-computed graphs in tests/test_operators.py.

    Scale note (mirrors dedup_clusters): the ORACLE's transitive
    closure is Σ component_size² and times out at sf3; the engine
    side is rounds × one keyed shuffle and is fine."""
    from sparkplans.operators.dedup import connected_components
    from sparkplans.operators.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("src", "dst")
        .transform(materialize_lazy)
    )
    labels = label_propagation(edges, iterations=5)
    comp = connected_components(
        edges.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    )
    lc = labels.join(comp, "node")
    label_comp = comp.select(
        F.col("node").alias("label"), F.col("comp").alias("label_comp")
    )
    # the inner join on label already enforces "labels are node ids":
    # a non-node label would drop its row and n_nodes would mismatch
    # the oracle's independent count.
    j = lc.join(label_comp, "label")
    return j.agg(
        F.count("*").alias("n_nodes"),
        F.count_distinct("comp").alias("n_components"),
        F.every(F.col("label").isNotNull()).alias("labels_are_node_ids"),
        F.every(F.col("comp") == F.col("label_comp")).alias(
            "labels_within_components"
        ),
    )


# ---------------------------------------------------------------------
# Hard-negative mining for contrastive training
# ---------------------------------------------------------------------

@register(
    "hard_negatives_per_probe",
    """
    WITH probes AS (
      SELECT vec_id AS probe_id, label AS probe_label, embedding AS p
      FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT pr.probe_id,
             round(list_dot_product(e.embedding::DOUBLE[], pr.p::DOUBLE[]) /
                   (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(pr.p::DOUBLE[],
                                          pr.p::DOUBLE[]))), 6) AS sim,
             e.vec_id, e.label
      FROM embeddings e
      JOIN probes pr ON e.label <> pr.probe_label),
    r AS (
      SELECT probe_id, sim, vec_id, label,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY sim DESC, vec_id) AS rn
      FROM scored)
    SELECT probe_id, vec_id AS neg_id, label AS neg_label,
           sim AS cos_sim
    FROM r WHERE rn = 1
    """,
    # probes broadcast; ONE map-side-combined argmax shuffle
    exchanges=1,
)
def q_hard_negatives_per_probe(spark, sf_dir):
    """Hard-negative mining (contrastive-training data prep): for
    each probe vector, the single most cosine-similar corpus vector
    carrying a DIFFERENT label — the negatives that sit closest to
    the decision boundary.

    Scale shape: probes broadcast (a training batch is KBs of
    vectors), scoring is one JVM-side pass over the corpus, and the
    per-probe argmax is a map-side-combined groupBy of
    max(struct(sim, -vec_id)) — ONE shuffle of n_probes rows, no
    window over corpus-sized partitions and no all-pairs.  The
    similarity is rounded to 6 dp BEFORE the argmax on both engines,
    so ties break identically (then by min vec_id)."""
    from sparkplans.functions import cosine_similarity

    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("probe_label"),
        F.col("embedding").alias("p"),
    )
    scored = (
        e.join(F.broadcast(probes), F.col("label") != F.col("probe_label"))
        .select(
            "probe_id",
            F.round(cosine_similarity("embedding", "p"), 6).alias("sim"),
            "vec_id",
            "label",
        )
    )
    return (
        scored.groupBy("probe_id")
        .agg(
            F.max(
                F.struct(
                    F.col("sim"),
                    (-F.col("vec_id")).alias("nv"),
                    F.col("label").alias("nl"),
                )
            ).alias("b")
        )
        .select(
            "probe_id",
            (-F.col("b.nv")).alias("neg_id"),
            F.col("b.nl").alias("neg_label"),
            F.col("b.sim").alias("cos_sim"),
        )
    )


@register(
    "key_skew_report",
    """
    WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(max(cnt) AS BIGINT) AS top_cnt
          FROM c),
    h AS (SELECT CAST(count(*) AS BIGINT) AS hot_keys_100x
          FROM c, t WHERE cnt > 100.0 * n_rows / n_keys)
    SELECT n_rows, n_keys, top_cnt,
           round(CAST(top_cnt AS DOUBLE) / n_rows, 6) AS top_share,
           round(CAST(n_rows AS DOUBLE) / n_keys, 6) AS mean_per_key,
           hot_keys_100x
    FROM t CROSS JOIN h
    """,
    # ONE corpus shuffle into the checkpointed (key,cnt) frame; the 3
    # rollup branches shuffle slim checkpoint scans only
    exchanges=3,
)
def q_key_skew_report(spark, sf_dir):
    """Shuffle-key skew diagnostic (`operators/skew.skew_report`) —
    the decision input that precedes salting at 100 TB: row/key
    totals, the heaviest key's share, mean rows-per-key, and the
    count of keys over 100x the mean.  The per-key count frame is
    checkpointed once and rolled up three ways; the report costs ONE
    corpus shuffle regardless of input size.  Exact oracle."""
    from sparkplans.operators.skew import skew_report

    e = _t(spark, sf_dir, "events")
    return skew_report(e, "user_id")


@register(
    "holt_trend_forecast",
    """
    WITH lv AS (
      SELECT user_id,
             list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS vals,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    f AS (
      SELECT user_id,
             list_reduce(
               list_transform(vals, v -> [v, 0.0]),
               (acc, x) -> [
                 0.4 * x[1] + 0.6 * (acc[1] + acc[2]),
                 0.3 * ((0.4 * x[1] + 0.6 * (acc[1] + acc[2])) - acc[1])
                      + 0.7 * acc[2]]) AS st
      FROM lv WHERE rn = 1)
    SELECT user_id, round(st[1], 6) AS level, round(st[2], 6) AS trend,
           round(st[1] + 3 * st[2], 6) AS forecast3
    FROM f
    """,
    # same shape as ewma_user_value: one user-keyed window shuffle,
    # fold is a JVM lambda over a <=12-element array
    exchanges=1,
)
def q_holt_trend_forecast(spark, sf_dir):
    """Holt double-exponential smoothing (level + trend, alpha=0.4,
    beta=0.3) per user over the last 12 events, plus a 3-step-ahead
    forecast — the trend-aware sibling of `ewma_user_value`.  The
    coupled recurrence (level feeds trend feeds level) can't be a
    window sum, so the bounded frame is collected and folded with
    `F.aggregate` over a STRUCT accumulator; DuckDB's `list_reduce`
    folds the identical expressions in the identical order over a
    LIST accumulator, so the doubles match bit-for-bit (l_new appears
    twice in the lambda — deliberately, since lambdas can't bind
    intermediates; both engines evaluate the same expression tree).
    The oracle deliberately avoids a struct accumulator: DuckDB
    v1.0.0's list_reduce updates struct fields sequentially, so a
    later field reading acc.l observes the NEW level — a cross-engine
    trap this query's first draft hit.  One user-keyed shuffle;
    <=12-element arrays bound executor memory."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-11, Window.currentRow)
    )
    wr = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    lv = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.collect_list("value").over(w).alias("vals"),
        )
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
    )

    def step(acc, x):
        l_new = F.lit(0.4) * x + F.lit(0.6) * (acc["l"] + acc["b"])
        return F.struct(
            l_new.alias("l"),
            (
                F.lit(0.3) * (l_new - acc["l"]) + F.lit(0.7) * acc["b"]
            ).alias("b"),
        )

    st = F.aggregate(
        F.expr("slice(vals, 2, size(vals) - 1)"),
        F.struct(
            F.element_at(F.col("vals"), 1).alias("l"),
            F.lit(0.0).alias("b"),
        ),
        step,
    )
    return lv.select(
        "user_id",
        F.round(st["l"], 6).alias("level"),
        F.round(st["b"], 6).alias("trend"),
        F.round(st["l"] + F.lit(3) * st["b"], 6).alias("forecast3"),
    )
