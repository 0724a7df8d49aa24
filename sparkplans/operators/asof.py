"""As-of and range joins — time-series operators the reference lacks
(SURVEY §2.3 'not present anywhere'), expressed as compositions of
built-in DataFrame ops so Catalyst/AQE still optimize them.

- **asof_join**: for each left row, the latest right row with
  ``right.ts <= left.ts`` (within an optional tolerance), per key.
  Implemented as union + window last_value — one shuffle on
  (key), no range cross-product, scales linearly.
- **range_join**: inequality-band join with a coarse-bucket equi-join
  prefilter so Spark gets an equi-key to shuffle on instead of a
  broadcast-nested-loop over everything.
- **interval_overlap_join**: interval × interval overlap through the
  same bucketing trick, with owner-bucket pair dedup (no extra
  shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    tolerance_seconds: int | None = None,
    right_value_cols: list[str] | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Pandas merge_asof semantics, distributed.

    ``direction='backward'`` (default): latest right row with
    ``right.ts <= left.ts``; ``'forward'``: earliest right row with
    ``right.ts >= left.ts`` — same plan with the window traversal
    reversed.  Union both sides tagged by origin, sort within (key) by
    time via a window, and carry the adjacent right values onto left
    rows.  One hash shuffle on the key; the window sort is
    partition-local.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    rv = right_value_cols or [c for c in right.columns if c not in (key, right_ts)]
    l_tag = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in rv],
    )
    r_tag = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_is_left"),
        F.lit(None).cast(l_tag.schema["_lrow"].dataType).alias("_lrow"),
        *[F.col(c).alias(f"_r_{c}") for c in rv],
    )
    # right rows sort before left rows at equal ts => <= (or >=) holds
    order = (
        [F.col("_ts").asc(), F.col("_is_left").asc()]
        if direction == "backward"
        else [F.col("_ts").desc(), F.col("_is_left").asc()]
    )
    w = Window.partitionBy("_k").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    merged = l_tag.unionByName(r_tag)
    carried = merged.select(
        "_k",
        "_ts",
        "_is_left",
        "_lrow",
        *[F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"_r_{c}") for c in rv],
        F.last(F.when(F.col("_is_left") == 0, F.col("_ts")), ignorenulls=True)
        .over(w)
        .alias("_r_ts"),
    ).filter(F.col("_is_left") == 1)
    if tolerance_seconds is not None:
        gap = (
            F.unix_timestamp("_ts") - F.unix_timestamp("_r_ts")
            if direction == "backward"
            else F.unix_timestamp("_r_ts") - F.unix_timestamp("_ts")
        )
        within = F.col("_r_ts").isNotNull() & (gap <= tolerance_seconds)
        carried = carried.select(
            "_k", "_ts", "_lrow",
            *[F.when(within, F.col(f"_r_{c}")).otherwise(F.lit(None)).alias(f"_r_{c}") for c in rv],
        )
    return carried.select(
        *[F.col("_lrow")[c].alias(c) for c in left.columns],
        *[F.col(f"_r_{c}").alias(f"right_{c}") for c in rv],
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    lower_seconds: int,
    upper_seconds: int,
    bucket_seconds: int | None = None,
) -> DataFrame:
    """Join rows where right.ts ∈ [left.ts + lower, left.ts + upper].

    Coarse time buckets give Catalyst an equi-join key (shuffle hash
    join on the bucket) and the precise band predicate filters inside
    the bucket — avoiding the nested-loop cross product a naive
    inequality join produces."""
    width = upper_seconds - lower_seconds
    bucket = bucket_seconds or max(width, 1)
    lb = F.explode(
        F.sequence(
            ((F.unix_timestamp(F.col(left_ts)) + lower_seconds) / bucket).cast("long"),
            ((F.unix_timestamp(F.col(left_ts)) + upper_seconds) / bucket).cast("long"),
        )
    ).alias("_bucket")
    l = left.select(F.struct(*left.columns).alias("_l"), F.col(left_ts).alias("_lts"), lb)
    r = right.select(
        F.struct(*right.columns).alias("_r"),
        F.col(right_ts).alias("_rts"),
        (F.unix_timestamp(F.col(right_ts)) / bucket).cast("long").alias("_bucket"),
    )
    # Exact band check in MICROSECONDS: unix_timestamp() truncates to
    # whole seconds, which silently widens the band by up to 1s at the
    # boundary (a sub-second event just past start+upper would join).
    # Caught by the sf3 oracle sweep — at small SF no row sits on the
    # boundary.  The coarse bucket enumeration above still covers the
    # exact band: buckets are second-truncated, and truncation moves a
    # timestamp down by <1s, never across a bucket more than the
    # sequence already spans.
    def _us(c: str):
        # cast: unix_micros rejects TIMESTAMP_NTZ (what parquet nanos
        # read as here); the NTZ->TZ shift is identical on both sides
        # of the comparison so the band is unaffected
        return F.unix_micros(F.col(c).cast("timestamp"))

    cond = (
        (_us("_rts") >= _us("_lts") + lower_seconds * 1_000_000)
        & (_us("_rts") <= _us("_lts") + upper_seconds * 1_000_000)
    )
    joined = l.join(r, "_bucket").filter(cond)
    # No dedup needed: the right row lives in exactly ONE bucket and
    # the left side enumerates consecutive buckets, so a matching pair
    # joins exactly once.  (A trailing distinct() would cost a full-
    # width exchange AND collapse legitimately duplicate input rows.)
    return joined.select(
        *[F.col("_l")[c].alias(c) for c in left.columns],
        *[F.col("_r")[c].alias(f"right_{c}") for c in right.columns],
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_seconds: int,
    keys: list[str] | None = None,
) -> DataFrame:
    """Pairs whose half-open intervals ``[start, end)`` overlap.

    The classic interval-overlap join has no equi-key, so a naive plan
    is a broadcast-nested-loop over the full cross product.  Instead
    both sides explode into the coarse time buckets their interval
    covers and Catalyst gets an equi-join on ``(*keys, bucket)``; the
    exact overlap predicate (``l.start < r.end AND r.start < l.end``)
    filters inside the bucket.

    Each overlapping pair shares every bucket in its intersection, so
    candidates would duplicate — eliminated WITHOUT a dropDuplicates
    shuffle by the owner-bucket rule: a pair is emitted only from the
    first bucket both intervals cover, ``max(floor(l.start/w),
    floor(r.start/w))`` (the bucket of ``greatest(l.start, r.start)``,
    which both sides provably enumerate when they overlap).

    ``bucket_seconds`` should be on the order of the typical interval
    length: explode factor per row is ``len/width + 2``, and a too-fine
    width multiplies the shuffled candidate volume.  Right-side output
    columns are prefixed ``right_``.
    """
    keys = list(keys or [])

    def _b(col: str):
        return (F.unix_timestamp(F.col(col)) / bucket_seconds).cast("long")

    l = left.select(
        F.struct(*left.columns).alias("_l"),
        _b(left_start).alias("_lsb"),
        F.col(left_start).alias("_ls"),
        F.col(left_end).alias("_le"),
        *[F.col(k) for k in keys],
        F.explode(F.sequence(_b(left_start), _b(left_end))).alias("_bucket"),
    )
    r = right.select(
        F.struct(*right.columns).alias("_r"),
        _b(right_start).alias("_rsb"),
        F.col(right_start).alias("_rs"),
        F.col(right_end).alias("_re"),
        *[F.col(k) for k in keys],
        F.explode(F.sequence(_b(right_start), _b(right_end))).alias("_bucket"),
    )
    joined = l.join(r, keys + ["_bucket"]).filter(
        (F.col("_ls") < F.col("_re"))
        & (F.col("_rs") < F.col("_le"))
        & (F.col("_bucket") == F.greatest("_lsb", "_rsb"))
    )
    return joined.select(
        *[F.col("_l")[c].alias(c) for c in left.columns],
        *[F.col("_r")[c].alias(f"right_{c}") for c in right.columns],
    )

