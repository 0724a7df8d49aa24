"""Materialization policy for corpus-sized intermediate frames.

Several operators cut lineage on a frame that is re-read by multiple
consumers (the tokenized corpus behind ``bigram_lm_scores``, the
basket table in ``copurchase_rules``, SemDeDup's cluster assignment).
``DataFrame.localCheckpoint`` is the right default — one in-memory/
local-disk materialization, no distributed-FS round trip — but it is
**non-replicated executor-local state**: on a real cluster, losing an
executor after the checkpoint loses its partitions, and because the
lineage was truncated Spark cannot recompute them; the job fails with
a fetch failure.  At test scale (single JVM) the distinction is moot;
at 100 TB on preemptible nodes it is not.

:func:`materialize` routes between the two per session:

* default — ``localCheckpoint`` (fast path, accepted executor-loss
  risk; the right call for short-lived jobs on stable nodes);
* ``spark.sparkplans.reliableCheckpoints=true`` — ``checkpoint()`` to
  the configured checkpoint directory (HDFS/S3/… in production),
  which survives executor loss at the cost of a write+read of the
  frame through the reliable FS.

Set ``spark.sparkplans.checkpointDir`` (or call
``sc.setCheckpointDir``) to choose the location; if neither is set a
session-scoped temp dir is used so enabling the flag never throws.
"""

from __future__ import annotations

import os
import tempfile
import warnings

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

RELIABLE_FLAG = "spark.sparkplans.reliableCheckpoints"
DIR_KEY = "spark.sparkplans.checkpointDir"

# localCheckpoint's stock storage level keeps DESERIALIZED rows in
# the unified memory store; its unroll-size estimates are loose
# enough that a corpus-sized frame (25M tokenized rows at sf10) can
# OOM the executor heap before the spill path engages — observed:
# bigram_lm_scores killed a 16g local[32] JVM at sf10.  Serialized
# storage accounts exact bytes per batch and spills incrementally, so
# it is the safe choice above a size estimate; below it, deserialized
# rows skip a serialize+deserialize round trip per consumer — the
# measured cost of always-serialized was 1.8-2.4x on materialize-heavy
# queries at sf0.1 (roc_auc_cosine 1.01->2.40 s).  The level is
# picked per-frame from the Catalyst plan-size estimate.
_LEVELS = {
    "memory_deser": StorageLevel.MEMORY_AND_DISK_DESER,
    "memory_ser": StorageLevel.MEMORY_AND_DISK,
}
# Catalyst's estimate is of the UNCOMPRESSED row width off a
# compressed-parquet leaf, propagated through joins/generates with
# loose multipliers; when it cannot estimate it returns
# spark.sql.defaultSizeInBytes (Long.Max), which adaptively picks the
# serialized level — exactly the safe failure mode.  The threshold
# must absorb DESERIALIZED inflation on top of estimate error: a
# narrow-row frame (two longs) costs 4-10x its serialized bytes as
# JVM objects, and 32 tasks unroll concurrently — a 512 MiB trust
# limit let sf10's 60M-row basket table (estimated 306 MB) OOM a
# 16 GiB heap.  64 MiB estimated ~= sub-GiB deserialized worst case,
# while every bench-scale frame (sf0.1 estimates run 0.2-3 MB) stays
# comfortably deserialized.
_ADAPTIVE_DEFAULT_BYTES = 64 << 20


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df``'s optimized plan, in bytes
    (no job is run).  ``None`` when the estimate is unavailable.
    Leaf-based: file scans report (compressed) file bytes scaled by
    row-width ratios; unknown nodes inherit ``defaultSizeInBytes``
    (Long.Max), so "can't tell" reads as "huge" — callers using this
    to pick a small-input fast path fail safe to the scale path."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return None


def reliable_enabled(spark) -> bool:
    try:
        return spark.conf.get(RELIABLE_FLAG, "false").lower() == "true"
    except Exception:
        return False


def _ensure_checkpoint_dir(spark) -> None:
    sc = spark.sparkContext
    current = sc._jsc.sc().getCheckpointDir()
    configured = None
    try:
        configured = spark.conf.get(DIR_KEY, None)
    except Exception:
        pass
    if configured:
        # honor a (re)configured location even if a dir is already set
        # (Spark appends a UUID subdir, so test by prefix containment)
        if not current.isDefined() or configured.rstrip("/") not in str(current.get()):
            sc.setCheckpointDir(configured)
        return
    if not current.isDefined():
        sc.setCheckpointDir(os.path.join(tempfile.gettempdir(), "sparkplans-ckpt"))


def materialize(
    df: DataFrame, eager: bool = True, preserve_partitioning: bool = False
) -> DataFrame:
    """Cut lineage and materialize ``df`` once for multiple consumers.

    ``localCheckpoint(eager)`` by default — at an ADAPTIVE storage
    level: deserialized memory+disk when the Catalyst size estimate is
    below ``_ADAPTIVE_DEFAULT_BYTES`` (64 MiB — fast re-reads for the
    model-state and slim frames that dominate at bench scale),
    SERIALIZED memory+disk above it (exact byte accounting +
    incremental spill — the level that kept the sf10 corpus frames
    from OOMing a deserialized memory store).
    ``spark.sparkplans.reliableCheckpoints=true`` routes
    to a reliable ``checkpoint`` on distributed storage (see module
    docstring for the trade).

    ``preserve_partitioning=True`` routes through ``persist()`` +
    (when eager) one ``count()`` instead of a checkpoint.  BOTH
    checkpoint routes come back as a ``LogicalRDD`` whose
    outputPartitioning/outputOrdering Catalyst treats as UNKNOWN
    (probe-verified on Spark 4.1.2), so every downstream consumer
    that needs the layout re-pays an Exchange (+ Sort under SMJ) —
    the exact anti-pattern the reference forbids
    (``docs/7_cli_read_plans_aggregation.md:100-160``,
    ``tests/opt_parallel_execution.rs:17-23``:
    ``repartition_joins=false`` exists to stop re-partitioning
    pre-partitioned data).  ``InMemoryTableScan`` is a physical LEAF
    that advertises the cached plan's partitioning AND ordering, so a
    ``repartition(n, key)`` (optionally ``.sortWithinPartitions``)
    persisted here is satisfied in place by every later
    join/aggregate on that key — zero per-consumer exchanges.  Use it
    for STATIC frames re-read by iterative loops (pagerank's edge
    corpus, connected-components' star edges).  Trade: ``persist``
    does NOT cut lineage — an evicted/lost block recomputes through
    the original plan (on preemptible nodes that is *safer* than
    ``localCheckpoint``, whose lost blocks are unrecoverable; it also
    means this route never needs the reliable-checkpoint escape
    hatch, so the flag is ignored here).  Do not use it for frames
    whose lineage must be truncated (per-iteration state — the plan
    tree would grow with the iteration count)."""
    spark = df.sparkSession
    if preserve_partitioning:
        out = df.persist(_LEVELS[storage_level_key(df)])
        if eager:
            out.count()
        return out
    if reliable_enabled(spark):
        _ensure_checkpoint_dir(spark)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(
        eager=eager, storageLevel=_LEVELS[storage_level_key(df)]
    )


def materialize_lazy(df: DataFrame) -> DataFrame:
    """:func:`materialize` with ``eager=False`` — the lineage cut is
    immediate (the returned frame is a ``LogicalRDD`` either way) but
    the blocks are written by the FIRST consuming job instead of a
    dedicated synchronous one, and every later consumer reads them.
    Same single-materialization guarantee, one fewer scheduler job
    per call (~0.1 s of driver latency each on a loaded host; 3 jobs
    = 0.2 s measured off bigram_lm_scores at sf0.1).

    SAFETY RULE — lazy only when the frame's FIRST consumer runs
    sequentially before the others: a driver action (collect, a
    sketch/model build), a committed sink write, or a single
    broadcast build (the main stage blocks on the broadcast, so the
    build populates the cache first; nested builds resolve inner-
    first and are equally safe).  When consumers are SIBLING stages
    of one job — a self-join's two legs, or two-or-more concurrent
    broadcast builds — keep the EAGER default: sibling stages start
    together, block-level dedup is executor-LOCAL
    (``BlockManager.getOrElseUpdate``), and on a multi-executor
    cluster each stage can recompute the frame's partitions before
    the other's cache lands — precisely the duplicated work the
    materialization exists to prevent (local-mode tests cannot see
    this; one executor's block locks hide it).

    Also use the EAGER default when something rides the
    materialization action itself: an ``observe()`` metric collected
    right after (pagerank, connected_components), a wall-clock probe
    timing the materialization, or a ``release()`` of a superseded
    frame that the deferred final stage still reads.  (Building a lazy
    cut already runs its shuffle and broadcast stages under AQE, so a
    frame read only through those is dead once the cut is built.)
    Under ``spark.sparkplans.reliableCheckpoints=true`` this is
    equivalent to eager: a lazy reliable checkpoint would recompute
    its whole lineage a second time to write the checkpoint files
    (Spark computes the action first, then replays the RDD for the
    write), so the reliable route forces the eager barrier."""
    spark = df.sparkSession
    if reliable_enabled(spark):
        return materialize(df, eager=True)
    return materialize(df, eager=False)


def release(df: DataFrame) -> bool:
    """Free the storage blocks of a frame returned by
    :func:`materialize`, deterministically (non-blocking unpersist of
    the checkpointed RDD) instead of waiting for the driver GC +
    ContextCleaner cycle.  Use when a corpus-sized materialization is
    superseded within the same operator (e.g. pagerank's one-time
    re-layout) — otherwise two corpus-sized caches transiently
    coexist, the GC-pressure mode that regressed sf10 pagerank.

    The frame must have NO remaining consumers: a local checkpoint's
    blocks ARE its data (lineage is cut), so any read after release
    fails with a missing-block error rather than recomputing.

    Frames from ``materialize(..., preserve_partitioning=True)`` are
    cache entries, not checkpoints: those release via a non-blocking
    ``unpersist()`` (safe even with remaining consumers — lineage is
    intact, a re-read just recomputes).

    Best-effort: returns False (and leaves cleanup to the
    ContextCleaner) when the frame is not a local checkpoint or a
    cached frame — e.g. reliable ``checkpoint()`` frames, whose files
    are managed by the checkpoint dir's lifecycle, or a frame this
    session cannot introspect."""
    try:
        analyzed = df._jdf.queryExecution().analyzed()
        if analyzed.getClass().getName().endswith(".LogicalRDD"):
            analyzed.rdd().unpersist(False)
            return True
        if df.is_cached:
            df.unpersist(False)
            return True
        return False
    except Exception:
        return False


def observed(obs, keys: list[str], timeout_s: float = 5.0):
    """Poll an ``Observation`` for its metrics without risking a
    blocked ``obs.get`` (the query-execution listener fires
    asynchronously, and not at all for some materialization routes).
    Returns a tuple of EXACT values in ``keys`` order — longs stay
    ints and decimals convert via str, never through float (callers
    compare hash sums for equality) — or None on timeout so callers
    can fall back to an explicit aggregate.

    Every timeout warns: it means the query-execution listener never
    delivered the Observation for an action that completed, and each
    one costs the caller the full poll timeout PLUS a fallback
    aggregate job — if a Spark upgrade stopped firing the listener for
    localCheckpoint, iterative operators (pagerank, connected
    components) would regress ~timeout_s per iteration with no other
    signal.  Python's default warning filter shows it once per call
    site."""
    import time as _time

    deadline = _time.monotonic() + timeout_s
    while True:
        m = obs._jo.getOrEmpty()
        if not m.isEmpty():
            out = []
            for k in keys:
                v = m.get(k)
                if hasattr(v, "get"):  # scala Option
                    v = v.get()
                if isinstance(v, (int, float)) or v is None:
                    out.append(v)
                else:
                    s = str(v)
                    try:
                        out.append(int(s))
                    except ValueError:
                        out.append(float(s))
            return tuple(out)
        if _time.monotonic() >= deadline:
            warnings.warn(
                f"Observation metrics did not arrive within "
                f"{timeout_s}s; falling back to an explicit "
                "aggregate. Each occurrence costs the timeout plus "
                "a fallback job — if this repeats per iteration, the "
                "query-execution listener has stopped firing for "
                "this action type.",
                stacklevel=2,
            )
            return None
        _time.sleep(0.01)


def _has_row_multiplier(df: DataFrame) -> bool:
    """True when the optimized plan contains an operator whose output
    can be LARGER than its inputs — Join (self-joins fan out),
    Generate (explode), Expand (rollup/cube).  Catalyst's size
    estimate scales leaf bytes by projection ratios and cannot see
    join/explode multiplicity: at sf10 the LSH candidate-pair frame
    is estimated at 38 MB while actually holding 31.5M pairs
    (observed heap OOM when the first adaptive cut trusted it)."""
    try:
        tree = str(df._jdf.queryExecution().optimizedPlan().treeString())
    except Exception:
        return True  # can't inspect -> assume the worst
    return any(
        line.lstrip(" :+-").startswith(("Join", "Generate", "Expand"))
        for line in tree.splitlines()
    )


def storage_level_key(df: DataFrame) -> str:
    """The ``_LEVELS`` key :func:`materialize` will use for ``df``:
    deserialized iff the Catalyst estimate is at most
    ``_ADAPTIVE_DEFAULT_BYTES``, SHRUNK 64x when the plan contains a
    row-multiplying operator (the estimate is then only a lower bound
    — see ``_has_row_multiplier``).  An unavailable estimate reads as
    huge -> serialized, the safe side."""
    limit = _ADAPTIVE_DEFAULT_BYTES
    est = plan_size_bytes(df)
    if est is None:
        return "memory_ser"
    if _has_row_multiplier(df):
        limit //= 64
    return "memory_deser" if est <= limit else "memory_ser"
