"""Skew mitigation for shuffled joins: deterministic key salting.

AQE's skew-join splitting (on in this engine's sessions) handles
moderate skew at runtime by splitting oversized partitions, but it
only fires for sort-merge joins and only after a stage materializes.
``salted_join`` is the planner-level fallback that works for any join
the optimizer picks and guarantees the spread up front: the skewed
(fact) side gets a deterministic salt in ``[0, num_salts)``, the
other side is replicated once per salt value, and the join keys on
``(key…, salt)`` — a hot key's rows land on ``num_salts`` reducers
instead of one.

Cost model: replicating the small side multiplies its shuffled bytes
by ``num_salts`` — worth it exactly when the hot key's partition
would otherwise dominate the stage.  At 100 TB pick ``num_salts``
around the cluster's per-key overload factor (rows of hottest key /
rows per healthy partition), not higher.

The salt derives from fact columns via xxhash64 (never ``rand()``),
so results are reproducible run-to-run and the decomposition is
provably lossless — the equality test in ``tests/test_operators.py``
pins ``salted_join == plain join`` on a corpus with a planted
mega-key.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F
from sparkplans.materialize import materialize, materialize_lazy


def salted_join(
    facts: DataFrame,
    other: DataFrame,
    on: Sequence[str],
    num_salts: int = 16,
    salt_src: Sequence[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join ``facts`` (large, skewed) with ``other`` (small enough to
    replicate ``num_salts``×) on key columns ``on``, spreading each
    key over ``num_salts`` reducers.

    ``salt_src`` names the fact columns the salt hashes (default: all
    fact columns — any per-row-varying subset works; prefer a unique
    id).  Supports the join types where replicate-right is lossless:
    inner and left outer (every fact row carries exactly one salt, so
    it meets each matching right row exactly once and null-extends at
    most once).
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left joins, got {how!r}"
        )
    on = list(on)
    src = [F.col(c) for c in (salt_src or facts.columns)]
    f = facts.withColumn("__salt", F.pmod(F.xxhash64(*src), F.lit(num_salts)))
    d = other.withColumn(
        "__salt",
        F.explode(
            F.sequence(F.lit(0), F.lit(num_salts - 1)).cast("array<bigint>")
        ),
    )
    # Force a SHUFFLE strategy: salting only spreads a hot key when the
    # join shuffles on (key…, salt) — if Catalyst instead broadcasts
    # the replicated side (its size estimate is num_salts x the dim,
    # often still under the threshold), the salt is dead weight AND
    # the driver pays a num_salts-times-larger broadcast build
    # (measured round 9: 2.4M-row exploded broadcast cost ~2 s/run at
    # sf0.1).  Shuffled-hash: no sort, and the build side is the
    # salted dim slice per partition, bounded by construction.
    return f.join(d.hint("shuffle_hash"), on + ["__salt"], how).drop("__salt")


def skew_report(df, key: str):
    """One-row skew diagnostic for a prospective shuffle key — the
    decision input for :func:`salted_join` / salted aggregation: total
    rows, distinct keys, the heaviest key's count and share, the mean
    rows-per-key, and how many keys exceed 100x the mean (the
    classic needs-salting signal).  One two-phase count per key, then
    a single-row rollup of the slim (key, cnt) frame — the report
    costs one aggregate however large the input."""
    from pyspark.sql import functions as F

    # three consumers (totals, top, hot-key census) share the slim
    # (key, cnt) frame — materialize it once, so the corpus is scanned
    # and shuffled exactly one time
    counts = (
        df.groupBy(key)
        .agg(F.count("*").alias("cnt"))
        .transform(materialize_lazy)
    )
    return counts.agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_keys"),
        F.max("cnt").cast("bigint").alias("top_cnt"),
    ).select(
        "n_rows",
        "n_keys",
        "top_cnt",
        F.round(F.col("top_cnt") / F.col("n_rows"), 6).alias("top_share"),
        F.round(F.col("n_rows") / F.col("n_keys"), 6).alias("mean_per_key"),
    ).crossJoin(
        counts.select(F.sum("cnt").alias("__t"), F.count("*").alias("__k"))
        .crossJoin(counts.select(F.col("cnt").alias("__c")))
        .filter(F.col("__c") > 100 * F.col("__t") / F.col("__k"))
        .agg(F.count("*").cast("bigint").alias("hot_keys_100x"))
    )
