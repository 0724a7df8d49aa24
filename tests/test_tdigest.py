"""t-digest quantile sketch: rank-error guarantee, mergeability,
determinism, bounded state, tie/null handling.

Measured at delta=200 over 200k uniform points: max rank error 6e-4
on both the direct and the merged digest (tails tighter than the
median, as the k1 scale function promises).  Gates sit ~10x above
the measured error: 0.005 mid-range, 0.002 at the 1% tails.
"""

from __future__ import annotations

import bisect

import pyspark.sql.functions as F

from sparkplans.operators.sketches import (
    tdigest_build,
    tdigest_merge,
    tdigest_quantiles,
)

QS = [0.001, 0.01, 0.25, 0.5, 0.75, 0.99, 0.999]
DELTA = 200


def _stream(spark, n=100_000):
    """Deterministic pseudo-uniform values with a group key."""
    return spark.range(n).select(
        "id",
        (F.abs(F.xxhash64("id") % 1_000_000) / 1_000_000.0).alias("x"),
        (F.col("id") % 4).alias("g"),
    )


def _rank_err(sorted_vals, est, q):
    """Distance from q to the rank INTERVAL est occupies (ties give an
    interval, not a point — any estimate inside it is exact)."""
    n = len(sorted_vals)
    lo = bisect.bisect_left(sorted_vals, est) / n
    hi = bisect.bisect_right(sorted_vals, est) / n
    return max(0.0, lo - q, q - hi)


def _gate(q):
    return 0.002 if (q <= 0.01 or q >= 0.99) else 0.005


def test_rank_error_bound(spark):
    df = _stream(spark)
    dig = tdigest_build(df, "x", delta=DELTA)
    ests = {r["q"]: r["est"] for r in tdigest_quantiles(dig, QS).collect()}
    xs = sorted(r["x"] for r in df.select("x").collect())
    for q in QS:
        assert _rank_err(xs, ests[q], q) <= _gate(q), (q, ests[q])


def test_merge_preserves_guarantee(spark):
    """Digest-of-merged-partials answers as accurately as a direct
    digest — the property that makes stored per-key digests reusable
    for any coarser rollup."""
    df = _stream(spark)
    per_group = tdigest_build(df, "x", group_cols=["g"], delta=DELTA)
    assert per_group.count() == 4
    merged = tdigest_merge(per_group, delta=DELTA)
    ests = {r["q"]: r["est"] for r in tdigest_quantiles(merged, QS).collect()}
    xs = sorted(r["x"] for r in df.select("x").collect())
    for q in QS:
        assert _rank_err(xs, ests[q], q) <= _gate(q), (q, ests[q])


def test_grouped_weights_exact(spark):
    """Each group's digest carries the group's exact row count and
    true min/max — the lossless parts of the state."""
    df = _stream(spark, n=20_000)
    per_group = tdigest_build(df, "x", group_cols=["g"], delta=DELTA)
    got = {r["g"]: r for r in per_group.collect()}
    exact = {
        r["g"]: r
        for r in df.groupBy("g")
        .agg(
            F.count("*").alias("n"),
            F.min("x").alias("lo"),
            F.max("x").alias("hi"),
        )
        .collect()
    }
    for g, e in exact.items():
        assert got[g]["n"] == float(e["n"])
        assert got[g]["lo"] == e["lo"]
        assert got[g]["hi"] == e["hi"]
        assert abs(sum(got[g]["weights"]) - e["n"]) < 1e-9


def test_deterministic_state(spark):
    """Same input, same partitioning => bit-identical digest state
    (mergesort + canonical partial ordering; no RNG anywhere)."""
    df = _stream(spark, n=50_000).repartition(8, "id")
    a = tdigest_build(df, "x", delta=DELTA).collect()[0]
    b = tdigest_build(df, "x", delta=DELTA).collect()[0]
    assert a["means"] == b["means"]
    assert a["weights"] == b["weights"]


def test_centroid_count_bounded(spark):
    """State stays O(delta) regardless of input size — the property
    that makes the shuffle carry sketches, not the corpus."""
    df = _stream(spark, n=200_000)
    row = tdigest_build(df, "x", delta=DELTA).collect()[0]
    assert len(row["means"]) <= 2 * DELTA
    row_small = tdigest_build(df, "x", delta=50).collect()[0]
    assert len(row_small["means"]) <= 100


def test_ties_and_nulls(spark):
    """90%-tied data: the estimate for any q inside the tie's rank
    interval must be the tied value itself; nulls are ignored."""
    df = spark.range(10_000).select(
        F.when(F.col("id") % 100 < 10, F.col("id").cast("double")).otherwise(
            F.lit(0.0)
        ).alias("x")
    )
    df = df.unionAll(spark.range(5).select(F.lit(None).cast("double").alias("x")))
    dig = tdigest_build(df, "x", delta=DELTA)
    row = dig.collect()[0]
    assert row["n"] == 10_000.0  # nulls dropped
    ests = {r["q"]: r["est"] for r in tdigest_quantiles(dig, [0.5, 0.85]).collect()}
    # ranks 0..0.9 are all the value 0.0
    assert abs(ests[0.5] - 0.0) < 0.6
    xs = sorted(
        r["x"] for r in df.filter(F.col("x").isNotNull()).collect()
    )
    assert _rank_err(xs, ests[0.85], 0.85) <= 0.01


def test_group_col_name_collision_rejected(spark):
    """A group column named like a state field (n, lo, hi, means,
    weights) would be silently misclassified by tdigest_quantiles'
    key inference — build/merge must reject it at plan time."""
    import pytest

    df = _stream(spark, n=100).withColumnRenamed("g", "n")
    with pytest.raises(ValueError, match="collide"):
        tdigest_build(df, "x", group_cols=["n"])
    dig = tdigest_build(_stream(spark, n=100), "x", group_cols=["g"])
    with pytest.raises(ValueError, match="collide"):
        tdigest_merge(dig.withColumnRenamed("g", "lo__renamed").withColumnRenamed(
            "lo__renamed", "g"), group_cols=["hi"])
    # explicit group_cols override on quantiles: same answer as inference
    inferred = {(r["g"], r["q"]): r["est"]
                for r in tdigest_quantiles(dig, [0.5]).collect()}
    explicit = {(r["g"], r["q"]): r["est"]
                for r in tdigest_quantiles(dig, [0.5], group_cols=["g"]).collect()}
    assert inferred == explicit
    with pytest.raises(ValueError, match="not in digest table"):
        tdigest_quantiles(dig, [0.5], group_cols=["nope"])


def test_high_cardinality_groups_memory_valve(spark):
    """~2,000 distinct groups in few partitions: the cross-group
    buffer valve trips (total_cap = 8*32*delta points at delta=25 is
    6,400 < 40,000 input rows), and every group's lossless fields and
    rank guarantee still hold."""
    df = spark.range(40_000).coalesce(2).select(
        (F.abs(F.xxhash64("id") % 1_000_000) / 1_000_000.0).alias("x"),
        (F.col("id") % 2_000).alias("g"),
    )
    per_group = tdigest_build(df, "x", group_cols=["g"], delta=25)
    rows = per_group.collect()
    assert len(rows) == 2_000
    exact = {
        r["g"]: r["n"]
        for r in df.groupBy("g").agg(F.count("*").alias("n")).collect()
    }
    for r in rows:
        assert r["n"] == float(exact[r["g"]])
        assert len(r["means"]) <= 2 * 25 + 8
    merged = tdigest_merge(per_group, delta=DELTA)
    ests = {r["q"]: r["est"] for r in tdigest_quantiles(merged, [0.5]).collect()}
    xs = sorted(r["x"] for r in df.select("x").collect())
    assert _rank_err(xs, ests[0.5], 0.5) <= 0.01


def test_null_group_key_merges_across_batches(spark):
    """A null group key arrives in pandas as NaN, and NaN != NaN — so
    dict-keyed accumulation without canonicalization creates a fresh
    entry per Arrow batch and the null group's partials never merge
    (reproduced: 60 partitions gave 24 duplicate null-group rows).
    The canonical key maps all missing values to None, restoring SQL
    null-group semantics in both the partial pass and the fold."""
    df = (
        spark.range(3_000)
        .repartition(60)
        .select(
            (F.col("id").cast("double") / 1000.0).alias("x"),
            F.when(F.col("id") % 3 == 0, F.col("id") % 2).alias("g"),
        )
    )
    per_group = tdigest_build(df, "x", group_cols=["g"], delta=DELTA)
    rows = per_group.collect()
    assert len(rows) == 3, [r["g"] for r in rows]  # 0, 1, null — each ONCE
    by_g = {r["g"]: r for r in rows}
    assert None in by_g
    # the null group's lossless fields match the exact aggregate
    exact = (
        df.filter(F.col("g").isNull())
        .agg(F.count("x").alias("n"), F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()[0]
    )
    assert by_g[None]["n"] == float(exact["n"]) == 2000.0
    assert by_g[None]["lo"] == exact["lo"]
    assert by_g[None]["hi"] == exact["hi"]
    # same for a null STRING key (arrives as None, not NaN) and a
    # null TIMESTAMP key (arrives as NaT) — all one group each
    for cast in ("string", "timestamp"):
        df2 = df.withColumn("g", F.col("g").cast(cast))
        rows2 = tdigest_build(df2, "x", group_cols=["g"], delta=DELTA).collect()
        assert len(rows2) == 3, (cast, [r["g"] for r in rows2])
        nulls = [r for r in rows2 if r["g"] is None]
        assert len(nulls) == 1 and nulls[0]["n"] == 2000.0, cast


def test_empty_and_single_value(spark):
    empty = spark.range(0).select(F.col("id").cast("double").alias("x"))
    assert tdigest_build(empty, "x", delta=DELTA).count() == 0
    one = spark.range(1).select(F.lit(42.0).alias("x"))
    dig = tdigest_build(one, "x", delta=DELTA)
    est = tdigest_quantiles(dig, [0.0, 0.5, 1.0]).collect()
    for r in est:
        assert r["est"] == 42.0


def test_rollup_fused_bit_identical(spark):
    """tdigest_rollup (one shuffle + one fused fold) must reproduce
    the unfused build-then-merge pair BIT-IDENTICALLY — same centroid
    means/weights, same n/lo/hi, same groups — because both paths are
    concatenate -> canonical-sort -> compress over the same partial
    multiset.  This is the equivalence the weekly-rollup query's
    round-10 plan rework leans on."""
    from sparkplans.operators.sketches import tdigest_rollup

    df = _stream(spark, 20_000).select(
        (F.col("id") % 97).cast("int").alias("day"), "x"
    )
    coarse_expr = (F.col("day") % 7).cast("int")
    fused = tdigest_rollup(
        df, "x", fine_cols=["day"], coarse={"wk": coarse_expr}, delta=DELTA
    )
    dig_day = tdigest_build(df, "x", group_cols=["day"], delta=DELTA)
    unfused = tdigest_merge(
        dig_day.withColumn("wk", coarse_expr), group_cols=["wk"], delta=DELTA
    )

    def canon(frame):
        return sorted(
            (
                r["wk"],
                tuple(r["means"]),
                tuple(r["weights"]),
                r["n"],
                r["lo"],
                r["hi"],
            )
            for r in frame.collect()
        )

    assert canon(fused) == canon(unfused)


def test_rollup_coarse_key_named_like_fine_key_rejected(spark):
    """A coarse key named like a fine_cols entry would replace that
    fine key through withColumn and fold at the wrong grain — the
    rollup must reject it instead."""
    import pytest

    from sparkplans.operators.sketches import tdigest_rollup

    df = _stream(spark, 100).select(
        (F.col("id") % 14).cast("int").alias("day"), "x"
    )
    with pytest.raises(ValueError, match=r"coarse key\(s\) \['day'\] collide"):
        tdigest_rollup(
            df, "x", fine_cols=["day"],
            coarse={"day": (F.col("day") % 7).cast("int")}, delta=DELTA,
        )
