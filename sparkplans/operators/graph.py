"""Iterative graph algorithms on DataFrames — PageRank via repeated
join + aggregate, the DataFrame-native form of the classic power
iteration (no GraphX dependency, works through Catalyst/AQE like any
other query).

Companion to `dedup.connected_components` (the other iterative
operator): both follow the same scale discipline — each iteration is
one keyed shuffle, and `localCheckpoint` cuts lineage every pass so
the plan (and recovery cost) stays O(1) in the iteration count
instead of growing a 10-deep join tree.  On a cluster the edges
DataFrame would be persisted/bucketed on `src` so every iteration's
join reuses the same partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F
from sparkplans.materialize import materialize, materialize_lazy, observed, release

# pagerank() broadcasts the |V|-row rank frame each iteration at or
# below this many nodes and takes the shuffle path above it (see the
# memory envelope in pagerank's docstring).
_PAGERANK_BROADCAST_NODES = 8_000_000


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank over a directed edge list; returns (node, rank).

    Semantics (matched exactly by the test's closed-form reference):
    r_{t+1}(v) = (1-d)/N + d * (sum_{u->v} r_t(u)/outdeg(u)
                                + dangling_mass_t / N)

    Duplicate edges are collapsed first; dangling nodes (no
    out-edges) spread their rank uniformly.  Ranks sum within double
    tolerance, not bit-exactly — this is a fixed-point iteration, so
    verification is numeric (|r - r_ref| < 1e-9), never
    hash-equality.

    Shuffle shape (sf10 reworks; 180M edges x 5 iterations make every
    avoidable exchange — and every avoidable SORT of the edge list —
    a ~30 s line item):

    The prologue pays exactly ONE corpus exchange (round-9 rework;
    was three): raw pairs hash-partition on **src** once, dedup in
    place (hash(src) satisfies the (src,dst) distinct), and outdeg is
    a window count over the src partition — no self-joined aggregate,
    no join-key exchange, and the window's local sort IS the shuffle
    path's within-partition sort.  Everything is persisted
    partition-preserving (``materialize(...,
    preserve_partitioning=True)`` — ``InMemoryTableScan`` advertises
    layout AND ordering to Catalyst; a localCheckpoint comes back as
    a ``LogicalRDD`` with UNKNOWN partitioning and every iteration
    re-pays the exchange, probe-verified on Spark 4.1.2).

    * **Broadcast-ranks path** (default whenever |V| <=
      ``_PAGERANK_BROADCAST_NODES``, 8M): the
      src-layout corpus re-partitions to **dst** once (the only
      second corpus exchange, small-graph runs only; the src copy is
      released immediately).  Each iteration then runs with ZERO
      exchanges: ranks — a |V|-row dimension-scale frame (nodes are
      parts/users/docs, facts are the edges) — broadcast-join into
      the edges in place; the contribution groupBy(dst) finds its
      input already hash-partitioned on dst, so no shuffle; and the
      rank-update join sees node-partitioned nodes against
      dst-partitioned contribs with the same partition count —
      co-partitioned, no exchange.  The per-iteration cost is one
      broadcast of |V| rows + one pass over the edge partitions.
    * **Shuffle path** (|V| above the threshold — rank broadcast
      would be the bottleneck): the prologue's src layout IS the
      iteration layout, so the big graphs where this path is the plan
      pay NO re-layout at all; the per-iteration join streams the
      cached corpus (sorted by the window) with NO exchange and NO
      sort on the corpus side; each iteration shuffles only the
      |V|-row ranks side, then pays the one groupBy(dst) partial-agg
      exchange with map-side combine (at most one row per distinct
      dst per task).  Before round 9 this path re-exchanged AND
      re-sorted the full edge corpus every iteration (the
      localCheckpoint partitioning loss above) — the exact
      anti-pattern the reference forbids
      (``docs/7_cli_read_plans_aggregation.md:100-160``,
      ``tests/opt_parallel_execution.rs:17-23``); at sf30 it was most
      of the measured 66-95 s vs 23 s per-iteration gap.

    The two static frames ride ``persist`` (lineage intact — an
    evicted block recomputes, which on preemptible nodes is SAFER
    than a localCheckpoint whose lost blocks are unrecoverable) and
    are explicitly released before returning: cache entries are held
    by the CacheManager until unpersist, so without the release a
    long session running many graphs would pile up corpus-sized
    caches.  Per-iteration ``ranks`` stays localCheckpoint — there
    lineage TRUNCATION is the point (the plan tree must not grow with
    the iteration count), and the observe() metric rides its
    materialization action.

    Memory envelope of the broadcast default (8M nodes): a rank frame
    is (long node, double rank) ~= 16 B/row + row overhead, so one
    broadcast is ~128-200 MiB serialized at the threshold.  Rank cuts
    are released by the operator: each superseded cut is unpersisted
    as soon as the next iteration's cut is built, eager or lazy, so at
    most two cuts hold blocks at once and the call leaves only the
    returned one.  Broadcast blocks are not: Spark's ContextCleaner
    reclaims a finished iteration's once the driver GCs its plan
    references, so a couple of iterations' broadcasts can be live
    between GC cycles (<~0.5 GiB at the default; executors
    additionally keep one block each).  Above the
    threshold the shuffle path costs one extra exchange per iteration
    but holds no |V|-row broadcast at all.
    * ranks carry the static ``outdeg`` column, so dangling mass is a
      conditional sum over the rank frame — and that scalar RIDES THE
      MATERIALIZATION ACTION every iteration already pays, as an
      ``observe()`` metric (CollectMetrics accumulates during the
      checkpoint job), then re-enters the next iteration's plan as a
      literal.  Per-iteration driver syncs stay at ONE (the
      materialization barrier is inherent to the power iteration);
      vs the previous broadcast-fold shape this removes a separate
      dangling branch + broadcast stage per iteration — fewer
      scheduler jobs per iteration, the dominant cost on a busy
      driver (per-job overhead ~0.1 s at sf0.1 on a loaded host).
    * superseded rank frames are released as soon as the next
      iteration's cut is built (slim |V|-row frames, but 10 iterations
      × 8M nodes would otherwise hold ~2 GiB of dead cache).
    """
    # The raw edge derivation (often the single most expensive stage
    # — the co-purchase self-join costs ~half the query) is consumed
    # EXACTLY ONCE, inside the e_deg job below, and appears exactly
    # once in that plan (round-9: dedup and the outdeg window both
    # run on top of the one repartition — the old join-with-aggregate
    # shape carried the derivation twice and leaned on ReuseExchange).
    # Everything else (nodes, degrees, N) then derives from the e_deg
    # cache — the pre-round-6 shape re-ran the derivation in a second
    # job for `nodes` (2× the dominant stage), and caching the raw
    # edge list to avoid that doubled corpus-cache pressure instead
    # (a second 180M-row checkpoint at sf10 GC-thrashed the run to
    # 452 s vs 217 s).  One derivation, one corpus-sized cache.
    from pyspark.sql import Window

    spark = edges.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # Edge prologue, ONE corpus exchange (round-9 rework; was three —
    # distinct on (src,dst), join-with-outdeg on src, re-layout on the
    # iteration key): hash-partition the raw pairs by src once, dedup
    # in place (HashPartitioning(src) satisfies the (src,dst) distinct
    # — equal pairs share a src), and annotate outdeg as a WINDOW
    # count over the src partition instead of a self-joined aggregate
    # (no join machinery, no second corpus pass; the window's local
    # sort doubles as the shuffle path's sortWithinPartitions).  The
    # null-src filter keeps the old inner-join-with-outdeg contract:
    # those rows never matched and were dropped.
    #
    # src is the SHUFFLE path's iteration key, so the big-|V| graphs
    # where that path is the plan pay no re-layout at all; the
    # broadcast path (|V| <= _PAGERANK_BROADCAST_NODES, known only
    # after the counts action below) re-layouts to dst once, releasing
    # the src copy.
    # Filter on the ALIASED output column: filtering with F.col(src)
    # after the rename would resolve against the projection output, so
    # a caller whose column names swap roles (src="dst", dst="src")
    # would silently filter the wrong side.
    pairs = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).filter(F.col("src").isNotNull())
    e_deg = materialize(
        pairs.repartition(parts, "src")
        .distinct()
        .withColumn(
            "outdeg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        ),
        preserve_partitioning=True,
    )
    # (node, outdeg) — outdeg NULL marks dangling; static per run.
    # Derived from the src-partitioned cache: groupBy(src) is
    # satisfied in place (no exchange), and the left join against the
    # node-distinct frame is co-partitioned; dst-only (dangling)
    # nodes join to NULL.
    deg_tbl = e_deg.groupBy(F.col("src").alias("node")).agg(
        F.first("outdeg").alias("outdeg")
    )
    nodes = (
        e_deg.select(F.col("src").alias("node"))
        .unionByName(e_deg.select(F.col("dst").alias("node")))
        .distinct()
    )
    # sorted within partitions so the per-iteration rank-update SMJ
    # streams this side with neither an exchange nor a sort.  |V| and
    # the dangling count RIDE the materialization action as observe()
    # metrics (round 10, guide §2.6) — the previous separate
    # counts-aggregate job over the fresh cache was pure driver
    # latency; the fallback aggregate below only runs if the
    # query-execution listener fails to deliver.
    cnt_obs = Observation()
    nodes_deg = materialize(
        nodes.join(deg_tbl, "node", "left")
        .select("node", "outdeg")
        .repartition(parts, "node")
        .sortWithinPartitions("node")
        .observe(
            cnt_obs,
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("outdeg").isNull(), 1)).alias("nd"),
        ),
        preserve_partitioning=True,
    )
    cnt_vals = observed(cnt_obs, ["n", "nd"])
    if cnt_vals is None:
        row = nodes_deg.agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("outdeg").isNull(), 1)).alias("nd"),
        ).collect()[0]
        cnt_vals = (row["n"], row["nd"])
    n_total, n_dangling = int(cnt_vals[0]), int(cnt_vals[1])
    if n_total == 0:
        out = nodes_deg.select("node").withColumn("rank", F.lit(0.0))
        # cache entries outlive the call unless released; the empty
        # frame recomputes trivially if ever re-read
        release(e_deg)
        release(nodes_deg)
        return out
    use_bcast = n_total <= _PAGERANK_BROADCAST_NODES
    if use_bcast:
        # broadcast path wants the corpus laid out by dst — the
        # per-iteration contribution aggregate and the rank-update
        # join both reuse that layout for their zero-exchange
        # iterations; re-layout once (small-|V| graphs only — the
        # SHUFFLE path keeps the src layout the prologue already
        # built, sorted by the window, and pays nothing here), then
        # FREE the src-layout blocks deterministically: without the
        # release, two corpus-sized caches coexist until a driver GC
        # cycle — exactly the pressure mode that regressed sf10 to
        # 452 s when a second corpus cache was (briefly) the design
        e_src = e_deg
        e_deg = materialize(
            e_deg.repartition(parts, "dst"), preserve_partitioning=True
        )
        release(e_src)

    # NOT materialized: the init ranks are a constant-column projection
    # over the nodes_deg cache — iteration 1 reads the cache directly
    # (partitioning/ordering advertised through the projection); a
    # checkpoint here was one more synchronous job + a dead |V|-row
    # cache copy (round 10, guide §2.6/§5)
    ranks = nodes_deg.withColumn("rank", F.lit(1.0 / n_total))
    dm = n_dangling * (1.0 / n_total)  # every rank starts at 1/N
    # With ZERO dangling nodes the dangling mass is identically 0.0 in
    # every iteration (no outdeg-null rows exist to sum), so nothing
    # needs to round-trip to the driver between iterations: the
    # per-iteration lineage cut can be LAZY — the next iteration's
    # broadcast/shuffle job writes the previous frame's blocks as its
    # first consumer (single-consumer chain, so the materialize_lazy
    # sibling-stage rule is satisfied), and the eager checkpoint
    # action + observation poll per iteration (~2 scheduler jobs of
    # pure driver latency each on the broadcast path) disappear
    # (round 10, guide §2.6).  Arithmetic is untouched: the rank
    # expression already folded dm=0.0 into the same literal.
    no_dangling = n_dangling == 0
    for i in range(iterations):
        rank_side = ranks.select("node", "rank")
        if use_bcast:
            rank_side = F.broadcast(rank_side)
        contribs = (
            e_deg.join(rank_side, e_deg.src == F.col("node"))
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        prev = ranks
        update = (
            nodes_deg.join(contribs, nodes_deg.node == contribs.dst, "left")
            .select(
                "node",
                "outdeg",
                (
                    F.lit((1.0 - damping) / n_total)
                    + F.lit(damping / n_total * dm)
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if no_dangling:
            last = i == iterations - 1
            # last iteration EAGER: it executes the deferred chain
            # while the corpus caches are still alive.
            # materialize_lazy (not eager=False) so a reliable-
            # checkpoint session keeps its eager barrier — a lazy
            # reliable checkpoint replays its lineage twice.
            ranks = materialize(update) if last else materialize_lazy(update)
        else:
            # the dangling mass rides the checkpoint action as an
            # observed metric (CollectMetrics accumulates while the
            # materialization job runs) — no separate aggregate job,
            # no broadcast branch; the scalar enters the next
            # iteration's plan as a literal
            obs = Observation()
            ranks = materialize(
                update.observe(
                    obs,
                    F.coalesce(
                        F.sum(F.when(F.col("outdeg").isNull(), F.col("rank"))),
                        F.lit(0.0),
                    ).alias("dm"),
                )
            )
            vals = observed(obs, ["dm"])
            if vals is None:
                # a checkpoint route whose materialization action
                # doesn't fire the observation listener: fall back to
                # one explicit aggregate over the materialized frame
                vals = ranks.filter(F.col("outdeg").isNull()).agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0))
                ).collect()[0]
            dm = float(vals[0])
        # 10 iterations of dead |V|-row cache add up.  prev is dead even
        # behind a lazy cut: building one runs its broadcast/shuffle
        # stages (AQE materializes query stages before the final RDD
        # exists), and those are prev's only reads
        release(prev)
    # the returned frame reads only the final ranks checkpoint; the
    # static persisted frames are dead weight past this point, and
    # CacheManager holds them until an explicit unpersist
    release(e_deg)
    release(nodes_deg)
    return ranks.select("node", "rank")


def label_propagation(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection via synchronous label propagation
    (Raghavan et al. 2007) over an undirected edge list; returns
    (node, label) where nodes sharing a label form one community.

    Deterministic variant: every node starts labeled with its own id;
    each round it adopts the most frequent label among its neighbors,
    breaking count ties toward the SMALLEST label (the classic
    random tie-break would make results run-dependent, which no
    oracle could pin).  A fixed iteration count keeps the output
    deterministic even on structures where synchronous LPA
    oscillates (e.g. bipartite cores flip labels every round).

    Guarantees the invariant twin checks: labels are always node ids
    (they only ever copy), and a label can never cross a connected-
    component boundary (it travels one edge per round).

    Scale shape per round: one b-keyed join (E rows) whose corpus
    side streams from a partition-preserving materialization — the
    symmetric edge list is STATIC, so it is hash-partitioned + sorted
    on ``b`` ONCE and persisted (``materialize(...,
    preserve_partitioning=True)``; the prior localCheckpoint came
    back with unknown partitioning and every round re-exchanged AND
    re-sorted the corpus, the same plan defect round 9 fixed in
    ``pagerank``) — then groupBy(node, label).count() — map-side
    combinable, so a node with 10M same-labeled neighbors contributes
    one row per map partition — then a groupBy(node) argmax of
    |V| x avg_labels rows.  Per-round lineage is cut on the slim
    ``labels`` frame only (localCheckpoint — there truncation is the
    point); the corpus cache is released before returning.
    """
    spark = edges.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    # one corpus exchange, not two: partition on the join key first,
    # then dedup in place (hash(b) satisfies the (a,b) distinct) and
    # sort within partitions for the per-round corpus-side SMJ stream
    e = materialize(
        sym.unionByName(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .repartition(parts, "b")
        .distinct()
        .sortWithinPartitions("b"),
        preserve_partitioning=True,
    )
    # LAZY chain (round 10, guide §2.6): no scalar crosses the driver
    # between rounds (fixed iteration count, no convergence observe),
    # and each round's labels frame has exactly ONE consumer (the next
    # round's join), so every lineage cut but the LAST can defer its
    # blocks to that consumer's job — one scheduler job per round
    # instead of two.  The last round is EAGER: it executes the
    # deferred chain while the corpus cache is still alive (release(e)
    # below would otherwise force the caller's action to recompute the
    # symmetric edge list once per round).
    labels = (
        e.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(materialize_lazy)
    )
    for i in range(iterations):
        nbr = e.join(labels, e.b == labels.node).select(
            F.col("a").alias("node"), "label"
        )
        votes = nbr.groupBy("node", "label").agg(F.count("*").alias("c"))
        update = (
            votes.groupBy("node")
            .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("m"))
            .select("node", (-F.col("m.nl")).alias("label"))
        )
        prev = labels
        labels = (
            materialize(update)
            if i == iterations - 1
            else materialize_lazy(update)
        )
        release(prev)  # read only by the new cut's exchange (see pagerank)
    # labels is a self-contained checkpoint; the corpus cache entry
    # would otherwise outlive the call (CacheManager holds it)
    release(e)
    return labels


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst"):
    """Count undirected triangles via the ordered-edge triple join.

    Edges are canonicalized to (lo, hi) with lo < hi and deduped, so
    every triangle {a,b,c} is counted exactly once by the join
    e1=(a,b), e2=(b,c), e3=(a,c).  The canonical edge list is
    localCheckpoint'ed once and reused by all three join legs —
    without the cut, Spark would recompute the (possibly expensive)
    edge derivation three times.

    Scale: two hash joins over the edge list, shuffling on the join
    keys; cost is sum over nodes of deg^2 (the standard bound), so
    degree-cap or weight-threshold the edges *before* calling (the
    registered query keeps only co-occurrence >= 2 pairs).  Returns a
    1-row DataFrame (n_edges, n_triangles).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        .transform(materialize)
    )
    e1 = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    e3 = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    )
