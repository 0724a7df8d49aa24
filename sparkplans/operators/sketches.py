"""Mergeable distinct-count sketch persistence (Apache DataSketches
HLL, built into Spark as ``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate``).

The 100 TB pattern this enables: materialize per-(bin, key) sketches
ONCE, then answer any coarser distinct-count question (per week, per
key overall, whole corpus) by unioning the stored 1-4 KB sketch
states — never re-scanning raw data.  Plain ``approx_count_distinct``
gives the estimate but not the mergeable state; sketches are the
continuous-aggregate form of COUNT(DISTINCT).

Complements `queries/approx_distinct_users` (HLL++ estimate-only) and
`streaming.continuous_rollup` (mergeable cnt/sum/min/max); a sketch
column composes with both — it is just a binary aggregation buffer.
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from sparkplans.functions import date_bin


def hll_rollup(
    df: DataFrame,
    id_col: str,
    keys: list[str] | None = None,
    interval: str | None = None,
    ts_col: str = "ts",
    lgk: int = 12,
) -> DataFrame:
    """Per-(bin, *keys) HLL sketch of distinct ``id_col`` values.

    Output: (bin?, *keys, sketch binary, distinct_est long).  The
    sketch column is the mergeable state — persist it; the estimate
    column is a read-time convenience.  One keyed shuffle of
    fixed-size (<= 2^lgk bytes) states regardless of corpus size.
    """
    keys = keys or []
    cols = []
    if interval is not None:
        cols.append(date_bin(ts_col, interval).alias("bin"))
    cols.extend(F.col(k) for k in keys)
    grouped = df.select(*cols, F.col(id_col)).groupBy(
        *(["bin"] if interval is not None else []), *keys
    )
    return grouped.agg(
        F.hll_sketch_agg(id_col, F.lit(lgk)).alias("sketch")
    ).withColumn("distinct_est", F.hll_sketch_estimate("sketch"))


def hll_union_rollup(
    sketches: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Coarsen a sketch table: union the stored states up to
    ``group_cols`` (e.g. day sketches -> per-key totals).  Union is
    lossless at matching lgK — the merged estimate equals what a
    direct sketch over the raw rows would report — so the raw corpus
    is never touched again."""
    out = (
        sketches.groupBy(*group_cols)
        .agg(F.hll_union_agg("sketch").alias("sketch"))
        .withColumn("distinct_est", F.hll_sketch_estimate("sketch"))
    )
    return out


MG_SCHEMA = StructType(
    [
        StructField("item", StringType()),
        StructField("cnt", LongType()),
    ]
)


def misra_gries_topk(
    df: DataFrame, col: str, capacity: int = 64
) -> DataFrame:
    """Misra-Gries heavy hitters: bounded-memory approximate top items
    with a deterministic error guarantee — every item with true count
    > n/(capacity+1) survives, and each reported count undercounts by
    at most n/(capacity+1).

    The mergeable-summary shape (Agarwal et al.): each partition
    maintains ``capacity`` counters over its Arrow batches
    (mapInPandas — per-partition imperative state is exactly what the
    sketch needs, and the slow path touches ``capacity`` counters per
    row, not the corpus); partial summaries then merge by summing
    per-item and re-trimming to ``capacity`` by subtracting the
    (capacity+1)-th largest merged weight.  What crosses the wire is
    partitions x capacity rows — constant per partition, like the HLL
    states above.  The exact TakeOrdered twin
    (`queries/heavy_hitters_tokens`) is the small-scale oracle; this
    is the bounded-memory scale path for when even the (item, count)
    table is too hot to shuffle exactly.
    """

    def partition_summaries(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in it:
            for item in pdf[col]:
                if item is None:
                    continue
                if item in counters:
                    counters[item] += 1
                elif len(counters) < capacity:
                    counters[item] = 1
                else:
                    dead = []
                    for k in counters:
                        counters[k] -= 1
                        if counters[k] == 0:
                            dead.append(k)
                    for k in dead:
                        del counters[k]
        if counters:
            yield pd.DataFrame(
                {"item": list(counters), "cnt": list(counters.values())}
            )

    partials = df.select(F.col(col).cast("string").alias(col)).mapInPandas(
        partition_summaries, MG_SCHEMA
    )
    merged = partials.groupBy("item").agg(F.sum("cnt").alias("cnt"))
    rows = merged.collect()  # partitions x capacity rows — driver-safe
    rows.sort(key=lambda r: (-r["cnt"], r["item"]))
    if len(rows) > capacity:
        cut = rows[capacity]["cnt"]
        rows = [
            (r["item"], r["cnt"] - cut)
            for r in rows[:capacity]
            if r["cnt"] - cut > 0
        ]
    else:
        rows = [(r["item"], r["cnt"]) for r in rows]
    spark = df.sparkSession
    return spark.createDataFrame(rows or [], "item string, est_count bigint")


def kmv_sketch(
    df: DataFrame, col: str, k: int = 256, salt: str = "kmv"
) -> DataFrame:
    """KMV / bottom-k sketch: the k smallest md5 hashes of a column's
    DISTINCT values, with the values carried alongside.  Three
    properties make it the third mergeable summary beside the HLL and
    Misra-Gries states above:

    - **deterministic**: hash order replaces RNG, so the sketch is a
      pure function of the value set (same guarantee style as the
      repo's other samplers);
    - **mergeable**: sketch(A ∪ B) = bottom_k(sketch(A) ∪ sketch(B))
      EXACTLY (min-wise hashing), proven by the merge-equivalence
      test;
    - **dual-use**: the k-th smallest hash estimates distinct counts
      ((k-1)/h_k on the unit interval), and the carried values are a
      uniform sample of the distinct set, so order statistics
      (median, quantiles) fall out of the same state.

    Plan shape: one column projection, then ``ORDER BY hash LIMIT k``
    — Spark fuses that to TakeOrderedAndProject (per-partition heaps,
    no global sort), so corpus cost is one scan and k·partitions rows
    of transfer."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(salt), F.col("value"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    return (
        df.select(F.col(col).cast("string").alias("value"))
        .distinct()
        .select("value", h.alias("h"))
        .orderBy("h", "value")
        .limit(k)
    )


def kmv_merge(sketches: list[DataFrame], k: int = 256) -> DataFrame:
    """Merge KMV sketches: union the states, keep the global bottom-k
    (dedup by value first — the same value hashes identically in every
    sketch)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.distinct().orderBy("h", "value").limit(k)


def kmv_distinct_estimate(sketch_rows: list, k: int) -> float:
    """(k-1) / h_k estimator on the unit interval (h normalized by the
    60-bit hash space).  ``sketch_rows`` is the collected sketch (a
    list of Rows) — KB-sized driver state, like the HLL registers."""
    if len(sketch_rows) < k:
        return float(len(sketch_rows))  # exact: sketch holds everything
    hk = max(r.h for r in sketch_rows)
    return (k - 1) / (hk / float(1 << 60))


# ---------------------------------------------------------------------
# Count-Min Sketch (Cormode & Muthukrishnan 2005)
# ---------------------------------------------------------------------

def cms_build(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 1024,
    seed: int = 11,
) -> DataFrame:
    """Count-Min Sketch as a DataFrame: the d×w counter table
    ``(row, bucket, cnt)`` — frequency estimation with O(d·w) state
    for any number of distinct items.

    Build is ONE two-phase aggregation: each value explodes to its
    ``depth`` (row, bucket) cells (``xxhash64`` per row seed), counts
    combine map-side, and the shuffle carries at most d·w rows — the
    sketch, never the corpus.  Two sketches with the same (depth,
    width, seed) merge by unioning tables and summing ``cnt`` —
    mergeability is the point: per-partition/per-day sketches roll up
    without re-scanning raw data (same deployment note as hll_rollup).

    Guarantees (fixed seeds => deterministic): estimates never
    UNDER-count; over-count ≤ e·N/width with probability 1-e^{-depth}
    per query (Markov over independent rows).
    """
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                F.pmod(F.xxhash64(F.col(col), F.lit(seed + i)), F.lit(width))
                .cast("int")
                .alias("bucket"),
            )
            for i in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    items: DataFrame,
    col: str,
    cms: DataFrame,
    depth: int = 4,
    width: int = 1024,
    seed: int = 11,
) -> DataFrame:
    """Point-query the sketch for every row of ``items``: join each
    item's d cells against the (broadcast — d·w rows, KBs) sketch
    table and take the min over rows.  Absent cells count 0 only if a
    bucket row is genuinely missing from the sketch (possible for
    sparse sketches) — coalesced accordingly.  Adds one small-keyed
    aggregation; the sketch side never shuffles."""
    probes = items.select(
        F.col(col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        F.pmod(
                            F.xxhash64(F.col(col), F.lit(seed + i)),
                            F.lit(width),
                        )
                        .cast("int")
                        .alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("c"),
    ).select(col, F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
    joined = probes.join(F.broadcast(cms), ["row", "bucket"], "left")
    return joined.groupBy(col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate")
    )


# ---------------------------------------------------------------------
# t-digest (Dunning & Ertl, "Computing extremely accurate quantiles
# using t-digests") — the mergeable QUANTILE summary beside the
# distinct-count (HLL/KMV) and frequency (CMS/Misra-Gries) states.
# ---------------------------------------------------------------------
#
# Why it exists when Spark already has percentile_approx: the built-in
# gives an ESTIMATE but not persistable state.  A t-digest row is a
# few-KB (means[], weights[], n, min, max) record that merges
# losslessly-in-guarantee — materialize per-(day, key) digests once,
# answer any coarser quantile question (per week, per key overall) by
# merging stored digests, never re-scanning raw data.  Same deployment
# note as hll_rollup.

_TD_STATE_DDL = (
    "means array<double>, weights array<double>, "
    "n double, lo double, hi double"
)


def _td_compress(means, weights, delta: int):
    """Merge sorted-by-mean centroids down to ~delta using the k1
    scale function k(q) = (delta/2π)·asin(2q−1) — tight buckets at the
    tails (where quantile queries need precision), wide at the median.

    The greedy fold ("next cluster = longest prefix whose end rank
    satisfies k(cum/n) − k_lo ≤ 1") is computed cluster-at-a-time, not
    point-at-a-time: each cluster boundary is a searchsorted on the
    cumulative-weight array against the INVERSE scale function
    q = (sin(k/s)+1)/2, and the cluster's centroid is a difference of
    weighted-prefix sums — O(delta·log n) Python ops per compress
    instead of O(n), with n numpy ops for the sort/prefix sums.  Same
    cluster assignment as the sequential point fold (k and cum are
    both monotone), so the k-span ≤ 1 guarantee is unchanged.
    Deterministic: mergesort keyed on (mean, weight), left-to-right
    cumulative sums — a pure function of the input centroid
    multiset."""
    import numpy as np

    means = np.asarray(means, dtype="float64")
    weights = np.asarray(weights, dtype="float64")
    order = np.lexsort((weights, means))
    means, weights = means[order], weights[order]
    n = float(weights.sum())
    if len(means) <= 1 or n == 0.0:
        return means, weights
    scale = delta / (2.0 * math.pi)
    half_pi = math.pi / 2.0
    cum = np.cumsum(weights)
    mw_cum = np.cumsum(means * weights)
    count = len(means)

    def k(q: float) -> float:
        return scale * math.asin(max(-1.0, min(1.0, 2.0 * q - 1.0)))

    out_m: list[float] = []
    out_w: list[float] = []
    pos = 0
    k_lo = k(0.0)
    while pos < count:
        t = (k_lo + 1.0) / scale
        if t >= half_pi:
            j = count  # remaining points all fit in the last cluster
        else:
            q_lim = (math.sin(t) + 1.0) / 2.0
            j = int(np.searchsorted(cum, q_lim * n, side="right"))
            # a cluster always takes at least its first point, even if
            # that single point's own k-span exceeds 1 (a singleton
            # centroid is exact, so the guarantee is unaffected)
            j = min(max(j, pos + 1), count)
        w_prev = float(cum[pos - 1]) if pos else 0.0
        mw_prev = float(mw_cum[pos - 1]) if pos else 0.0
        cw = float(cum[j - 1]) - w_prev
        # difference of weighted-prefix sums == the exact weighted mean
        # of the member points (the invariant the estimator needs)
        out_m.append((float(mw_cum[j - 1]) - mw_prev) / cw)
        out_w.append(cw)
        k_lo = k(float(cum[j - 1]) / n)
        pos = j
    return np.asarray(out_m), np.asarray(out_w)


def tdigest_build(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    delta: int = 200,
    chunk_rows: int = 500_000,
) -> DataFrame:
    """Per-group t-digest of ``col``: one row per group with the
    mergeable state ``(means, weights, n, lo, hi)``.

    Plan: one partial pass (:func:`_td_partials`) + one keyed merge
    (:func:`_td_merge_rows`).  When the group digests are immediately
    coarsened to a derived key (day -> week), use
    :func:`tdigest_rollup` instead — it fuses the fine fold and the
    coarse merge into a single shuffle + fold pass.

    Null-key caveat: a genuine NaN value in a double-typed group
    column merges into the SQL NULL group (Arrow delivers Spark
    nulls as NaN on this path, so the two were never distinguishable
    here) — Spark's own ``groupBy`` keeps NaN as a group distinct
    from null, so a groupBy-based oracle over NaN-bearing keys will
    see one extra group.  See ``_td_canon_key``.

    Plan shape (the classic two-phase sketch build): mapInPandas keeps
    a bounded buffer per group per partition and compresses every
    32·delta points (Arrow batches pooled to ``chunk_rows`` before
    ONE grouped numpy dispatch — a ~10k-row Arrow batch under a
    uniformly-spread key touches nearly every group at a few rows
    each, and the per-group loop, not digest math, was the measured
    sf10 bottleneck: 101 s -> ~24 s with 500k-row chunks); total
    buffered points across ALL groups in a partition are additionally
    capped at 8·32·delta, so worker memory is bounded even under
    high-cardinality group_cols (beyond the valve, each group holds
    only its ~delta centroid state).  What crosses the shuffle is
    partitions × groups digest states (KBs each), never the corpus;
    one keyed applyInPandas then merges partials by concatenate →
    sort → compress.  Deterministic given the input partitioning and
    Arrow batch sizes (partials are canonically sorted before the
    final fold, so the merged digest is a pure function of the partial
    multiset)."""
    part, group_cols, state_schema, keyed = _td_partials(
        df, col, group_cols, delta, chunk_rows
    )
    merged = _td_merge_rows(part, group_cols, state_schema, delta)
    return merged.drop("__g") if not keyed else merged


def _td_partials(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None,
    delta: int,
    chunk_rows: int,
) -> tuple[DataFrame, list[str], str, bool]:
    """The partial pass of :func:`tdigest_build`: mapInPandas over the
    corpus producing one bounded digest-state row per (partition,
    group) — the map-side aggregation that keeps the shuffle
    state-sized.  Returns ``(part, group_cols, state_schema, keyed)``
    so build/rollup variants can attach different merge shapes."""
    import numpy as np

    group_cols = list(group_cols or [])
    _td_check_group_cols(group_cols)
    keyed = bool(group_cols)
    src = df.select(*group_cols, F.col(col).cast("double").alias("__v"))
    if not keyed:
        src = src.withColumn("__g", F.lit(1))
        group_cols = ["__g"]
    key_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in src.schema.fields
        if f.name != "__v"
    )
    state_schema = f"{key_ddl}, {_TD_STATE_DDL}"
    buf_cap = 32 * delta
    # Memory valve: buffers across ALL groups in a partition are capped
    # at 8x the per-group cap (~400 KB of doubles at delta=200), so a
    # high-cardinality group_cols can't accumulate #groups x buf_cap
    # doubles in the Python worker — when the total trips the valve,
    # every group's buffer folds into its (bounded, ~delta-sized)
    # centroid state.
    total_cap = 8 * buf_cap

    def partials(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: dict[tuple, dict] = {}
        buffered = 0  # points buffered across all groups

        def fresh() -> dict:
            return {"buf": [], "blen": 0, "m": None, "w": None,
                    "lo": math.inf, "hi": -math.inf}

        def ingest(pdf: pd.DataFrame) -> None:
            nonlocal buffered
            ok = ~pd.isna(pdf["__v"]).to_numpy()
            if not ok.all():
                pdf = pdf[ok]
            vals = pdf["__v"].to_numpy(dtype="float64")
            if len(vals) == 0:
                return
            # Grouped dispatch: one numpy slice per (group, chunk)
            # instead of a per-row Python loop — the digest math was
            # always numpy; this keeps the group routing vectorized
            # too (the per-row zip/enumerate form cost an interpreted
            # iteration per input row, the measured sf100 bottleneck).
            if not keyed:
                items = [((1,), None)]  # whole chunk is one group
            elif len(group_cols) == 1:
                gb = pdf.groupby(group_cols[0], sort=False,
                                 dropna=False).indices
                items = [((k,), ix) for k, ix in gb.items()]
            else:
                gb = pdf.groupby(group_cols, sort=False,
                                 dropna=False).indices
                items = list(gb.items())
            for key, ix in items:
                arr = vals if ix is None else vals[ix]
                s = state.setdefault(_td_canon_key(key), fresh())
                s["buf"].append(arr)
                s["blen"] += len(arr)
                buffered += len(arr)
                lo = float(arr.min())
                hi = float(arr.max())
                if lo < s["lo"]:
                    s["lo"] = lo
                if hi > s["hi"]:
                    s["hi"] = hi
                if s["blen"] >= buf_cap:
                    buffered -= s["blen"]
                    _td_flush(s, delta)
            if buffered > total_cap:
                for s in state.values():
                    _td_flush(s, delta)
                buffered = 0

        # Chunked ingestion (round-9 profile fix): Arrow delivers
        # ~10k-row batches, and with a uniformly-distributed key a
        # batch touches nearly EVERY group at a handful of rows each —
        # at sf10's 2.5k day-groups the dispatch loop ran 14M times on
        # ~4-row slices and the grouped build cost 5.6x the ungrouped
        # one (101 vs 18 s; the measured premium was dispatch, not
        # digest math).  Pooling batches to ~chunk_rows before ONE
        # groupby amortizes the loop ~chunk/batch-fold (measured 86 ->
        # 22 s at sf10 via the session Arrow-batch conf; done here
        # instead so no session-wide memory knob changes).  Pending
        # pool is bounded at chunk_rows rows (~25 MB at 3 narrow
        # columns) per worker.
        pend: list = []
        pend_rows = 0
        for pdf in it:
            pend.append(pdf)
            pend_rows += len(pdf)
            if pend_rows >= chunk_rows:
                ingest(pd.concat(pend) if len(pend) > 1 else pend[0])
                pend, pend_rows = [], 0
        if pend:
            ingest(pd.concat(pend) if len(pend) > 1 else pend[0])
        rows = []
        for key, s in state.items():
            _td_flush(s, delta)
            m = s["m"] if s["m"] is not None else np.array([])
            w = s["w"] if s["w"] is not None else np.array([])
            rows.append(
                (*key, list(m), list(w), float(w.sum()), s["lo"], s["hi"])
            )
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[*group_cols, "means", "weights", "n", "lo", "hi"],
            )

    part = src.mapInPandas(partials, state_schema)
    return part, group_cols, state_schema, keyed


def tdigest_rollup(
    df: DataFrame,
    col: str,
    fine_cols: list[str],
    coarse: dict[str, Column],
    delta: int = 200,
    chunk_rows: int = 500_000,
) -> DataFrame:
    """Fused build-then-coarsen: per-``fine_cols`` digests merged up to
    the derived ``coarse`` keys in ONE shuffle + ONE fold pass.

    Result is BIT-IDENTICAL to the unfused pair ::

        dig_fine = tdigest_build(df, col, group_cols=fine_cols)
        tdigest_merge(dig_fine.withColumns(coarse), group_cols=list(coarse))

    (ratcheted by tests/test_tdigest.py) — the fine fold and the
    coarse merge are both concatenate -> canonical-sort -> compress,
    so fusing them into the same partition pass changes no arithmetic;
    it removes one digest-row exchange and one Python stage from the
    plan.  Requires every ``coarse`` entry to be a deterministic
    column expression over the fine key columns (day -> week): then
    partitioning the partial states by the coarse key co-locates every
    fine group's partials too, and the fold can compress each fine
    group before merging fine digests into their coarse group.

    Shuffle budget: the corpus never moves — what crosses the one
    exchange is (input partitions x fine groups) KB-sized state rows,
    exactly the build's own partial shuffle; the extra digest-row
    exchange of the unfused pair (fine -> coarse) is gone."""
    import numpy as np

    fine_cols = list(fine_cols)
    if not fine_cols:
        raise ValueError("tdigest_rollup requires non-empty fine_cols")
    coarse_names = list(coarse)
    _td_check_group_cols(fine_cols + coarse_names)
    # withColumn would silently replace a same-named fine key, and
    # the fold would then group at the wrong grain.
    clash = set(coarse_names) & set(fine_cols)
    if clash:
        raise ValueError(
            f"tdigest_rollup coarse key(s) {sorted(clash)} collide with "
            "fine_cols; give the coarse keys their own names"
        )
    part, fine_cols, _state_schema, _keyed = _td_partials(
        df, col, fine_cols, delta, chunk_rows
    )
    for name, expr in coarse.items():
        part = part.withColumn(name, expr)
    key_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in part.schema.fields
        if f.name in coarse_names
    )
    out_schema = f"{key_ddl}, {_TD_STATE_DDL}"

    def fused_fold(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[tuple, dict] = {}
        for pdf in it:
            if len(fine_cols) == 1:
                gb = pdf.groupby(fine_cols[0], sort=False, dropna=False).indices
                items = [((k,), ix) for k, ix in gb.items()]
            else:
                gb = pdf.groupby(fine_cols, sort=False, dropna=False).indices
                items = list(gb.items())
            means_col = pdf["means"].to_numpy()
            weights_col = pdf["weights"].to_numpy()
            lo_col = pdf["lo"].to_numpy()
            hi_col = pdf["hi"].to_numpy()
            coarse_cols_np = {c: pdf[c].to_numpy() for c in coarse_names}
            for key, ix in items:
                a = acc.setdefault(
                    _td_canon_key(key),
                    {
                        "ms": [],
                        "ws": [],
                        "lo": math.inf,
                        "hi": -math.inf,
                        # coarse keys are functions of the fine key, so
                        # any row of the fine group carries them
                        "ck": tuple(coarse_cols_np[c][ix[0]] for c in coarse_names),
                    },
                )
                for i in ix:
                    a["ms"].append(np.asarray(means_col[i], dtype="float64"))
                    a["ws"].append(np.asarray(weights_col[i], dtype="float64"))
                lo = float(lo_col[ix].min())
                hi = float(hi_col[ix].max())
                if lo < a["lo"]:
                    a["lo"] = lo
                if hi > a["hi"]:
                    a["hi"] = hi
        # level 1: one compress per FINE group (identical to the
        # build's own fold); level 2: concatenate the fine digests per
        # COARSE group and compress once (identical to tdigest_merge's
        # fold) — both order-independent via the canonical sort.
        wacc: dict[tuple, dict] = {}
        for a in acc.values():
            ms = np.concatenate(a["ms"]) if a["ms"] else np.array([])
            ws = np.concatenate(a["ws"]) if a["ws"] else np.array([])
            m, w = _td_compress(ms, ws, delta)
            wa = wacc.setdefault(
                _td_canon_key(a["ck"]),
                {"ms": [], "ws": [], "lo": math.inf, "hi": -math.inf},
            )
            wa["ms"].append(m)
            wa["ws"].append(w)
            if a["lo"] < wa["lo"]:
                wa["lo"] = a["lo"]
            if a["hi"] > wa["hi"]:
                wa["hi"] = a["hi"]
        rows = []
        for key, a in wacc.items():
            ms = np.concatenate(a["ms"]) if a["ms"] else np.array([])
            ws = np.concatenate(a["ws"]) if a["ws"] else np.array([])
            m, w = _td_compress(ms, ws, delta)
            rows.append((*key, list(m), list(w), float(w.sum()), a["lo"], a["hi"]))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[*coarse_names, "means", "weights", "n", "lo", "hi"],
            )

    return part.repartition(*coarse_names).mapInPandas(fused_fold, out_schema)


def _td_merge_rows(
    part: DataFrame, group_cols: list[str], state_schema: str, delta: int
) -> DataFrame:
    """Merge digest-state rows up to ``group_cols``: repartition on
    the key (each group's partials co-locate in one partition), then
    ONE mapInPandas that folds all of a partition's groups with the
    same grouped-numpy dispatch the build pass uses — per-group cost
    is a concatenate + compress, not a pandas per-group apply (the
    applyInPandas form cost ~ms of framework overhead per group:
    ~9 s for 2.3k tiny groups at sf0.001, vs <1 s folded).
    Deterministic regardless of row arrival order: _td_compress
    canonically sorts the concatenated centroids, and lo/hi/n are
    order-free reductions."""
    import numpy as np

    def fold(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[tuple, dict] = {}
        for pdf in it:
            if len(group_cols) == 1:
                gb = pdf.groupby(group_cols[0], sort=False,
                                 dropna=False).indices
                items = [((k,), ix) for k, ix in gb.items()]
            else:
                gb = pdf.groupby(group_cols, sort=False,
                                 dropna=False).indices
                items = list(gb.items())
            means_col = pdf["means"].to_numpy()
            weights_col = pdf["weights"].to_numpy()
            lo_col = pdf["lo"].to_numpy()
            hi_col = pdf["hi"].to_numpy()
            for key, ix in items:
                a = acc.setdefault(
                    _td_canon_key(key),
                    {"ms": [], "ws": [], "lo": math.inf, "hi": -math.inf},
                )
                for i in ix:
                    a["ms"].append(np.asarray(means_col[i], dtype="float64"))
                    a["ws"].append(np.asarray(weights_col[i], dtype="float64"))
                lo = float(lo_col[ix].min())
                hi = float(hi_col[ix].max())
                if lo < a["lo"]:
                    a["lo"] = lo
                if hi > a["hi"]:
                    a["hi"] = hi
        # ONE compress per group at the end, never incrementally:
        # shuffle fetch order is not deterministic, and intermediate
        # flush boundaries would make the final state depend on it —
        # the single canonical-sort compress is order-independent.
        # Memory bound: a group holds at most (#input partitions ×
        # 2·delta) centroid doubles before the fold (~400 KB/group at
        # 128 partitions, delta=200) — the partition's own shuffled
        # rows, nothing corpus-sized.
        rows = []
        for key, a in acc.items():
            ms = np.concatenate(a["ms"]) if a["ms"] else np.array([])
            ws = np.concatenate(a["ws"]) if a["ws"] else np.array([])
            m, w = _td_compress(ms, ws, delta)
            rows.append((*key, list(m), list(w), float(w.sum()), a["lo"], a["hi"]))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[*group_cols, "means", "weights", "n", "lo", "hi"],
            )

    return part.repartition(*group_cols).mapInPandas(fold, state_schema)


def _td_canon_key(key: tuple) -> tuple:
    """Canonicalize a pandas groupby key tuple for dict accumulation:
    NaN/NaT group values are fresh objects per Arrow batch (NaN != NaN),
    so without this a null-keyed group would accumulate one dict entry
    per batch and its digest rows would never merge.  Mapping every
    missing value to None restores SQL null-group semantics (the same
    collapse the old groupBy().applyInPandas path performed) — note
    Arrow already delivers Spark float-column nulls as NaN, so null
    and NaN were never distinguishable on this path to begin with."""
    out = []
    for v in key:
        try:
            if v is None or pd.isna(v):
                out.append(None)
                continue
        except (TypeError, ValueError):
            pass
        out.append(v)
    return tuple(out)


def _td_check_group_cols(group_cols: list[str]) -> None:
    """Group columns must not collide with the digest state field
    names — tdigest_quantiles infers group keys by excluding those
    names, so a group column called e.g. ``n`` would be silently
    misclassified as state downstream.  Fail loudly at build time."""
    bad = set(group_cols) & {"means", "weights", "n", "lo", "hi"}
    if bad:
        raise ValueError(
            f"t-digest group column(s) {sorted(bad)} collide with the "
            "digest state field names (means, weights, n, lo, hi); "
            "alias them before tdigest_build/tdigest_merge"
        )


def _td_flush(s: dict, delta: int) -> None:
    """Fold a group's buffered point arrays into its centroid state
    (in place).  The buffer is a list of numpy slices (one per
    (group, Arrow-batch) the partial pass saw)."""
    import numpy as np

    if not s["buf"]:
        return
    bm = s["buf"][0] if len(s["buf"]) == 1 else np.concatenate(s["buf"])
    bw = np.ones(len(bm))
    if s["m"] is not None:
        bm = np.concatenate([s["m"], bm])
        bw = np.concatenate([s["w"], bw])
    s["m"], s["w"] = _td_compress(bm, bw, delta)
    s["buf"] = []
    s["blen"] = 0


def tdigest_merge(
    digests: DataFrame, group_cols: list[str] | None = None, delta: int = 200
) -> DataFrame:
    """Coarsen a digest table: merge stored states up to ``group_cols``
    (e.g. day digests -> per-key totals) without touching raw data —
    the quantile analog of hll_union_rollup.  Shuffles digest rows
    only."""
    group_cols = list(group_cols or [])
    _td_check_group_cols(group_cols)
    keyed = bool(group_cols)
    if not keyed:
        digests = digests.withColumn("__g", F.lit(1))
        group_cols = ["__g"]
    cols = [*group_cols, "means", "weights", "n", "lo", "hi"]
    src = digests.select(*cols)
    key_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in src.schema.fields
        if f.name in group_cols
    )
    state_schema = f"{key_ddl}, {_TD_STATE_DDL}"
    merged = _td_merge_rows(src, group_cols, state_schema, delta)
    return merged.drop("__g") if not keyed else merged


def tdigest_quantiles(
    digests: DataFrame,
    qs: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Estimate quantiles from digest rows: one output row per
    (digest-group, q) with the interpolated estimate.  Digest rows are
    KB-sized, so this is driver-free arithmetic over a tiny frame —
    the standard mid-point interpolation between adjacent centroids,
    clamped to [lo, hi] at the extremes.

    Group-key columns are inferred by excluding the digest state field
    names (safe because tdigest_build/merge reject colliding group
    names); pass ``group_cols`` explicitly to override the inference
    for digest tables built elsewhere."""
    import numpy as np
    from pyspark.sql.types import ArrayType, DoubleType

    qs = [float(q) for q in qs]

    @F.pandas_udf(ArrayType(DoubleType()))
    def _est(
        means: pd.Series, weights: pd.Series, n: pd.Series,
        lo: pd.Series, hi: pd.Series,
    ) -> pd.Series:
        out = []
        for m, w, nn, l, h in zip(means, weights, n, lo, hi):
            m = np.asarray(m, dtype="float64")
            w = np.asarray(w, dtype="float64")
            if len(m) == 0 or nn <= 0:
                out.append([float("nan")] * len(qs))
                continue
            # centroid k covers ranks (cum[k]-w[k]/2) ± w[k]/2 — the
            # mean sits at the centroid's mid-rank
            cum = np.cumsum(w)
            mids = cum - w / 2.0
            ests = []
            for q in qs:
                r = q * nn
                if r <= mids[0]:
                    # interpolate between the true min and 1st centroid
                    t = r / mids[0] if mids[0] > 0 else 1.0
                    ests.append(float(l + t * (m[0] - l)))
                elif r >= mids[-1]:
                    span = nn - mids[-1]
                    t = (r - mids[-1]) / span if span > 0 else 0.0
                    ests.append(float(m[-1] + t * (h - m[-1])))
                else:
                    j = int(np.searchsorted(mids, r, side="right"))
                    t = (r - mids[j - 1]) / (mids[j] - mids[j - 1])
                    ests.append(float(m[j - 1] + t * (m[j] - m[j - 1])))
            out.append(ests)
        return pd.Series(out)

    if group_cols is not None:
        keys = list(group_cols)
        missing = set(keys) - {f.name for f in digests.schema.fields}
        if missing:
            raise ValueError(f"group_cols not in digest table: {sorted(missing)}")
    else:
        keys = [
            f.name
            for f in digests.schema.fields
            if f.name not in ("means", "weights", "n", "lo", "hi")
        ]
    est = digests.withColumn(
        "__ests", _est("means", "weights", "n", "lo", "hi")
    )
    pairs = F.arrays_zip(
        F.array(*[F.lit(q) for q in qs]).alias("q"), F.col("__ests").alias("est")
    )
    return est.select(
        *keys, F.explode(pairs).alias("p")
    ).select(*keys, F.col("p.q").alias("q"), F.col("p.est").alias("est"))
