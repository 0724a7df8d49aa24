"""The canonical TPC-H suite, 19 close-to-dbgen-text queries
(q1/q3/q5 live in queries/__init__.py as ``pricing_summary`` /
``tpch_q3_topk_revenue`` / ``tpch_q5_local_supplier``), completing
all 22 — the standard warehouse-breadth claim, and the shapes the
reference's plan-reading docs build toward (reference
docs/8_cli_read_plans_join.md multi-join futures;
docs/9_what_next.md:3-6 "more input files into the join").

Relationship to the earlier ``tpch_q*`` entries: queries/__init__.py
also registers *adapted* ``tpch_q2..q22`` shapes from rounds 2–4 —
looser paraphrases that keep each query's join/subquery CLASS but
reshape predicates around the reduced testdata schema.  This
``tpch22_*`` set SUPERSEDES those for canonical-parity claims: it
stays near the dbgen text (synthesized ``partsupp``, derived
late-line/shipmode/phone attributes — see below) where the old set
substituted different predicates entirely.

**Round-7 decision — both suites stay, deliberately.**  Considered
demoting the adapted ``tpch_q*`` set from the budget ratchet +
PLANS regeneration; kept it because (a) the driver's FIXED
correctness sample pins several of the old names — deregistering any
breaks every future round's gate, and a registry entry that is
sampled but un-ratcheted could silently regress its plan; (b) the
adapted shapes are not plan-duplicates of ``tpch22_*`` — different
predicates/join orders give Catalyst different trees, so the ~20
extra ratchet rows are independent plan-shape coverage; (c) the
marginal cost is sub-second per query per sweep at sf0.01.  The rule
stands: new work targets ``tpch22_*``; the old names are frozen
legacy surface, never extended.

Every query is a **shared-SQL** registration: one ANSI-SQL text that
Spark SQL and DuckDB both execute — Catalyst owns the physical plan
(join order, broadcast vs shuffle, partial aggregation, DPP), the
oracle runs the identical text, and the driver hash-compares the
results.  Numeric discipline follows the package rule: money sums
accumulate in DECIMAL(18,2) products and cast to DOUBLE at the end
(order-independent, bit-identical across engines); ratios divide the
two exact doubles.  Every ORDER BY under a LIMIT carries a unique
tie-breaker so the selected row set is deterministic on both engines.

**Adaptations to the reduced testdata schema** (TESTDATA.md tables
lack a few dbgen columns) — each preserves the canonical query's
*shape* (the join tree, the subquery class, the predicate surface)
while deriving the missing attribute deterministically so both
engines compute identical values from identical arithmetic:

- ``partsupp`` (q2, q9, q11, q16, q20) is synthesized by the dbgen
  rule — each part gets 4 suppliers at
  ``(p_partkey + i*(S/4 + (p_partkey-1)/S)) % S + 1`` (S = supplier
  count, read by scalar subquery, so the rule scales with SF) — with
  availqty/supplycost derived by integer hashing of the key pair.
  The CTE text is shared verbatim by both engines (``_PARTSUPP``).
  Since round 6 it is ALSO a first-class generated table:
  ``examples/generate_sf.py`` materializes the same CTE to
  ``partsupp.parquet`` and the Spark side prefers that scan when the
  data dir carries one (see ``_partsupp_sql``) — the driver's fixed
  testdata has no such file, so its oracle runs stay on the CTE.
- ``l_commitdate < l_receiptdate`` ("late line", q4, q12, q21)
  becomes an integer-hash predicate over the lineitem key — the
  ``_LATE()`` template — same comparison semantics, same rows.
- ``l_shipmode`` (q12, q19) is derived as a 3-way CASE over
  ``(l_suppkey + l_linenumber) % 3``; ``l_shipinstruct = 'DELIVER IN
  PERSON'`` (q19) as ``(l_orderkey + l_partkey) % 4 = 0``.
- ``o_comment NOT LIKE '%special%requests%'`` (q13) keeps its
  NOT-LIKE-with-wildcards surface on the real column
  ``o_orderpriority NOT LIKE '%SPECIFIED%'``.
- ``c_phone`` (q22) is synthesized (country code = 10 + c_nationkey %
  25, line number from c_custkey) so the canonical
  ``substring(c_phone, 1, 2) IN (...)`` surface survives verbatim.
- ``p_container``/``p_mfgr`` filters map onto ``p_size`` ranges and
  ``p_type`` LIKEs (the testdata's six types / 25 brands / 1-50
  sizes); date constants sit inside the testdata's 1995-2001 span.

Scale notes: the fact-side joins (q9's five-way, q18's IN-over-60M
groups, q21's triple lineitem self-correlation) are exactly the plans
the shuffle-budget ratchet pins — dims broadcast, facts
shuffle-partitioned on join keys, aggregates partial+final.  The
synthesized ``partsupp`` is 4x |part| rows built from a column-pruned
part scan: at 100 TB it materializes nothing, flowing straight into
the join like any other dimension-derived frame.
"""

from __future__ import annotations

from sparkplans.queries import QuerySpec, REGISTRY, _register_needed_views, _shared_sql


def _partsupp_sql(name: str, body: str, *, exchanges: int) -> None:
    """Register a partsupp-joining query (q2/q9/q11/q16/q20).

    The ORACLE text always synthesizes partsupp through the shared
    ``_PARTSUPP`` CTE — the driver's fixed testdata ships no partsupp
    file, and DuckDB computes the identical rows from the rule.  The
    SPARK side prefers a real ``partsupp.parquet`` scan when ``sf_dir``
    carries one (``examples/generate_sf.py`` writes it by executing
    the same CTE text, so scan and synthesis agree bit-for-bit) and
    falls back to the CTE otherwise.  The scan path exists for plan
    quality, not semantics: with the CTE, Catalyst re-derives the
    4x|part| frame on each side of a correlated boundary (q2 paid 10
    exchanges re-building it inside the MIN subquery); as a table it
    is one shared scan with pushed filters."""
    cte_sql = f"\n    WITH {_PARTSUPP}" + body
    scan_sql = body

    def fn(spark, sf_dir, _cte=cte_sql, _scan=scan_sql):
        import os

        from sparkplans.sources import load_table

        _register_needed_views(spark, sf_dir, _cte)
        if os.path.exists(os.path.join(sf_dir, "partsupp.parquet")):
            load_table(spark, sf_dir, "partsupp").createOrReplaceTempView(
                "partsupp"
            )
            return spark.sql(_scan)
        return spark.sql(_cte)

    REGISTRY[name] = QuerySpec(fn, cte_sql, exchanges)

# ---------------------------------------------------------------------
# Shared derived-attribute SQL fragments (identical text both engines)
# ---------------------------------------------------------------------

# dbgen's partsupp rule, S read from the data so it holds at every SF.
# DISTINCT guards tiny SFs where the stride collides mod S (S=10 at
# sf0.001 makes step=5 hit the same supplier twice); cost/qty hash the
# surviving (partkey, suppkey) pair so they stay pair-deterministic.
_PARTSUPP = """
  icnt AS (SELECT 0 AS i UNION ALL SELECT 1 UNION ALL
           SELECT 2 UNION ALL SELECT 3),
  scnt AS (SELECT count(*) AS s FROM supplier),
  ps0 AS (
    SELECT DISTINCT
           p_partkey AS ps_partkey,
           (p_partkey + i * (CAST(floor(s / 4.0) AS BIGINT)
              + CAST(floor((p_partkey - 1) / CAST(s AS DOUBLE)) AS BIGINT)
           )) % s + 1 AS ps_suppkey
    FROM part, icnt, scnt),
  partsupp AS (
    SELECT ps_partkey, ps_suppkey,
           CAST((ps_partkey * 23 + ps_suppkey * 17) % 9999 + 1 AS INT)
             AS ps_availqty,
           CAST((ps_partkey * 31 + ps_suppkey * 7) % 99901 AS DOUBLE)
             / 100.0 + 1.0 AS ps_supplycost
    FROM ps0)
"""


def _late(alias: str = "") -> str:
    """The ``l_commitdate < l_receiptdate`` stand-in: a deterministic
    integer-hash comparison over the lineitem key (the testdata has no
    commit/receipt dates).  Same text, same rows, both engines."""
    p = f"{alias}." if alias else ""
    return (
        f"({p}l_orderkey * 7 + {p}l_linenumber * 3) % 31"
        f" < ({p}l_partkey * 5 + {p}l_linenumber) % 29"
    )


# l_shipmode stand-in: 3-way hash CASE (MAIL / SHIP / AIR).
_SHIPMODE = (
    "CASE (l_suppkey + l_linenumber) % 3 WHEN 0 THEN 'MAIL' "
    "WHEN 1 THEN 'SHIP' ELSE 'AIR' END"
)

# money discipline shorthand used throughout the package
_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * CAST(1 - l_discount AS DECIMAL(18,2))"
)


# ---------------------------------------------------------------------
# q2 — minimum-cost supplier (correlated scalar MIN subquery)
# ---------------------------------------------------------------------

_partsupp_sql(
    "tpch22_q2_min_cost_supplier",
    f"""
    SELECT s_acctbal, s_name, n_name, p_partkey, ps_supplycost
    FROM part, supplier, partsupp, nation, region
    WHERE p_partkey = ps_partkey
      AND s_suppkey = ps_suppkey
      AND p_size BETWEEN 10 AND 20
      AND p_type LIKE '%ARGE'
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND ps_supplycost = (
        SELECT min(ps2.ps_supplycost)
        FROM partsupp ps2, supplier s2, nation n2, region r2
        WHERE p_partkey = ps2.ps_partkey
          AND s2.s_suppkey = ps2.ps_suppkey
          AND s2.s_nationkey = n2.n_nationkey
          AND n2.n_regionkey = r2.r_regionkey
          AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    # partsupp is synthesized per use (CTE, not a table), so q2/q11/
    # q16/q20 pay its DISTINCT shuffle once per reference; q2's
    # correlated MIN re-derives it for the subquery side (Catalyst
    # does not share CTE subtrees across a correlated boundary) —
    # dimension-derived frames, so each exchange moves |part|-scale
    # rows, never fact-scale
    exchanges=10,
)


# ---------------------------------------------------------------------
# q4 — order priority checking (EXISTS semi-join)
# ---------------------------------------------------------------------

_shared_sql(
    "tpch22_q4_order_priority",
    f"""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND {_late()})
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    exchanges=2,
)


# ---------------------------------------------------------------------
# q6 — forecasting revenue change (pure scan-side filters)
# ---------------------------------------------------------------------

_shared_sql(
    "tpch22_q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    exchanges=1,
)


# ---------------------------------------------------------------------
# q7 — volume shipping between two nations (symmetric pair OR)
# ---------------------------------------------------------------------

_shared_sql(
    "tpch22_q7_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             {_REV} AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey
        AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey
        AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                           AND TIMESTAMP '1997-12-31 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    exchanges=2,
)


# ---------------------------------------------------------------------
# q8 — national market share (CASE-conditional share of revenue)
# ---------------------------------------------------------------------

_shared_sql(
    "tpch22_q8_market_share",
    f"""
    SELECT o_year,
           CAST(sum(CASE WHEN nation = 'NATION_5' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           / CAST(sum(volume) AS DOUBLE) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             {_REV} AS volume,
             n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer,
           nation n1, nation n2, region
      WHERE p_partkey = l_partkey
        AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey
        AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey
        AND n1.n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND s_nationkey = n2.n_nationkey
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                            AND TIMESTAMP '1997-12-31 00:00:00'
        AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    exchanges=2,
)


# ---------------------------------------------------------------------
# q9 — product type profit measure (LIKE scan + partsupp join)
# ---------------------------------------------------------------------

_partsupp_sql(
    "tpch22_q9_product_profit",
    f"""
    SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             {_REV}
             - CAST(ps_supplycost AS DECIMAL(18,2))
               * CAST(l_quantity AS DECIMAL(18,2)) AS amount
      FROM part, supplier, lineitem, partsupp, orders, nation
      WHERE s_suppkey = l_suppkey
        AND ps_suppkey = l_suppkey
        AND ps_partkey = l_partkey
        AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey
        AND s_nationkey = n_nationkey
        AND p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    exchanges=4,
)


# ---------------------------------------------------------------------
# q10 — returned item reporting (top-20 lost revenue)
# ---------------------------------------------------------------------

_shared_sql(
    "tpch22_q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           CAST(sum({_REV}) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_returnflag = 'R'
      AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    exchanges=1,
)


# ---------------------------------------------------------------------
# q11 — important stock identification (scalar subquery in HAVING)
# ---------------------------------------------------------------------

_partsupp_sql(
    "tpch22_q11_important_stock",
    f"""
    SELECT ps_partkey,
           CAST(sum(CAST(ps_supplycost AS DECIMAL(18,2)) * ps_availqty)
                AS DOUBLE) AS val
    FROM partsupp, supplier, nation
    WHERE ps_suppkey = s_suppkey
      AND s_nationkey = n_nationkey
      AND n_name = 'NATION_3'
    GROUP BY ps_partkey
    HAVING CAST(sum(CAST(ps_supplycost AS DECIMAL(18,2)) * ps_availqty)
                AS DOUBLE)
           > (SELECT CAST(sum(CAST(ps_supplycost AS DECIMAL(18,2))
                              * ps_availqty) AS DOUBLE) * 0.0001
              FROM partsupp, supplier, nation
              WHERE ps_suppkey = s_suppkey
                AND s_nationkey = n_nationkey
                AND n_name = 'NATION_3')
    ORDER BY val DESC, ps_partkey
    """,
    exchanges=7,
)


# ---------------------------------------------------------------------
# q12 — shipping modes and order priority (CASE-conditional counts)
# ---------------------------------------------------------------------

_shared_sql(
    "tpch22_q12_shipmode_priority",
    f"""
    SELECT l_shipmode,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                           OR o_orderpriority = '2-HIGH'
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
                          AND o_orderpriority <> '2-HIGH'
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM (
      SELECT o_orderpriority, {_SHIPMODE} AS l_shipmode
      FROM orders, lineitem
      WHERE o_orderkey = l_orderkey
        AND {_late()}
        AND year(l_shipdate) = 1997
    ) marked
    WHERE l_shipmode IN ('MAIL', 'SHIP')
    GROUP BY l_shipmode
    ORDER BY l_shipmode
    """,
    exchanges=2,
)


# ---------------------------------------------------------------------
# q13 — customer order-count distribution (outer join + NOT LIKE)
# ---------------------------------------------------------------------

_shared_sql(
    "tpch22_q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey
       AND o_orderpriority NOT LIKE '%SPECIFIED%'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    exchanges=3,
)


# ---------------------------------------------------------------------
# q14 — promotion effect (conditional share over a month)
# ---------------------------------------------------------------------

_shared_sql(
    "tpch22_q14_promo_effect",
    f"""
    SELECT CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN {_REV}
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           * 100.0
           / CAST(sum({_REV}) AS DOUBLE) AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
    exchanges=1,
)


# ---------------------------------------------------------------------
# q15 — top supplier (revenue view + scalar MAX equality)
# ---------------------------------------------------------------------

_shared_sql(
    "tpch22_q15_top_supplier",
    f"""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no,
             sum({_REV}) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier, revenue0
    WHERE s_suppkey = supplier_no
      AND total_rev = (SELECT max(total_rev) FROM revenue0)
    ORDER BY s_suppkey
    """,
    exchanges=4,
)


# ---------------------------------------------------------------------
# q16 — parts/supplier relationship (NOT IN subquery + count distinct)
# ---------------------------------------------------------------------

_partsupp_sql(
    "tpch22_q16_parts_supplier",
    f"""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey) AS supplier_cnt
    FROM partsupp, part
    WHERE p_partkey = ps_partkey
      AND p_brand <> 'Brand#23'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (3, 9, 14, 19, 23, 36, 45, 49)
      AND ps_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    exchanges=5,
)


# ---------------------------------------------------------------------
# q17 — small-quantity-order revenue (correlated AVG subquery)
# ---------------------------------------------------------------------

_shared_sql(
    "tpch22_q17_small_quantity",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           / 7.0 AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#23'
      AND p_size < 15
      AND l_quantity < (
        SELECT 0.2 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(8,2)))
                           AS DOUBLE) / count(*))
        FROM lineitem l2
        WHERE l2.l_partkey = p_partkey)
    """,
    exchanges=2,
)


# ---------------------------------------------------------------------
# q18 — large volume customers (IN over a grouped HAVING subquery)
# ---------------------------------------------------------------------

_shared_sql(
    "tpch22_q18_large_volume_customer",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(sum(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE)
             AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(8,2))) > 300)
      AND c_custkey = o_custkey
      AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """,
    exchanges=3,
)


# ---------------------------------------------------------------------
# q19 — discounted revenue (OR-of-ANDs pushable disjunction)
# ---------------------------------------------------------------------

def _q19_arm(brand: str, size_hi: int, qty_lo: int) -> str:
    # one disjunct: brand + size range + quantity band + derived
    # shipmode AIR + derived DELIVER IN PERSON
    return (
        f"(p_brand = '{brand}' AND p_size BETWEEN 1 AND {size_hi}"
        f" AND l_quantity >= {qty_lo} AND l_quantity <= {qty_lo + 10}"
        " AND (l_suppkey + l_linenumber) % 3 = 2"
        " AND (l_orderkey + l_partkey) % 4 = 0)"
    )


_shared_sql(
    "tpch22_q19_discounted_revenue",
    f"""
    SELECT CAST(sum({_REV}) AS DOUBLE) AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ({_q19_arm('Brand#12', 5, 1)}
        OR {_q19_arm('Brand#23', 10, 10)}
        OR {_q19_arm('Brand#34', 15, 20)})
    """,
    exchanges=1,
)


# ---------------------------------------------------------------------
# q20 — potential part promotion (nested IN + correlated half-stock)
# ---------------------------------------------------------------------

_partsupp_sql(
    "tpch22_q20_part_promotion",
    f"""
    SELECT s_name, s_acctbal
    FROM supplier, nation
    WHERE s_suppkey IN (
        SELECT ps_suppkey FROM partsupp
        WHERE ps_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          AND ps_availqty > (
            SELECT 0.5 * CAST(sum(CAST(l_quantity AS DECIMAL(8,2)))
                              AS DOUBLE)
            FROM lineitem
            WHERE l_partkey = ps_partkey
              AND l_suppkey = ps_suppkey
              AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'))
      AND s_nationkey = n_nationkey
      AND n_name = 'NATION_3'
    ORDER BY s_name
    """,
    exchanges=6,
)


# ---------------------------------------------------------------------
# q21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS + agg)
# ---------------------------------------------------------------------

_shared_sql(
    "tpch22_q21_suppliers_waiting",
    f"""
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND {_late('l1')}
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND {_late('l3')})
      AND s_nationkey = n_nationkey
      AND n_name = 'NATION_3'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    exchanges=1,
)


# ---------------------------------------------------------------------
# q22 — global sales opportunity (substring buckets + anti-join +
#        uncorrelated AVG scalar).  The canonical "no orders in the
#        last 7 years" anti-join window maps to >= 1999 here: the
#        testdata's order volume gives every customer at least one
#        all-time order, so the unwindowed NOT EXISTS is degenerate.
# ---------------------------------------------------------------------

_CODES = "'13', '15', '18', '23', '29', '30', '31'"

_shared_sql(
    "tpch22_q22_global_sales",
    f"""
    WITH cphone AS (
      SELECT c_custkey, c_acctbal,
             concat(CAST(10 + c_nationkey % 25 AS STRING), '-',
                    lpad(CAST(c_custkey % 10000000 AS STRING), 7, '0'))
               AS c_phone
      FROM customer)
    SELECT cntrycode, count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS totacctbal
    FROM (
      SELECT substring(c_phone, 1, 2) AS cntrycode, c_acctbal, c_custkey
      FROM cphone
      WHERE substring(c_phone, 1, 2) IN ({_CODES})
        AND c_acctbal > (
          SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*)
          FROM cphone
          WHERE c_acctbal > 0.00
            AND substring(c_phone, 1, 2) IN ({_CODES}))
        AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    ) custsale
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
    exchanges=4,
)
