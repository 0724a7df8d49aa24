"""Batch-6 queries: temporal/interval analytics, robust statistics,
Pareto dominance, and hybrid (lexical + semantic) retrieval fusion.

Same contract as the main registry: every entry here is
DuckDB-oracled.  Numeric discipline per the package docstring —
DECIMAL-exact accumulation for sums, single-op IEEE arithmetic for
per-row scalars, explicit deterministic tie-breaks for every rank.

The reference exercises none of these shapes; they extend the engine
toward ops-analytics (concurrency, outlier detection) and the
training-data north star (retrieval fusion feeding curation), per
SURVEY.md §7 phase F.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkplans.functions import cosine_similarity
from sparkplans.queries import _shared_sql, _t, _t_cpu, register
from sparkplans.materialize import materialize, materialize_lazy


# ---------------------------------------------------------------------
# Sweep-line interval concurrency
# ---------------------------------------------------------------------

_shared_sql(
    "max_concurrency_daily",
    """
    WITH spans AS (
      SELECT user_id, CAST(ts AS DATE) AS day, min(ts) AS s, max(ts) AS e
      FROM events GROUP BY user_id, CAST(ts AS DATE)),
    deltas AS (
      SELECT day, s AS t, 1 AS d FROM spans
      UNION ALL
      SELECT day, e AS t, -1 AS d FROM spans),
    run AS (
      SELECT day, sum(d) OVER (PARTITION BY day ORDER BY t, d DESC) AS conc
      FROM deltas)
    SELECT day, CAST(max(conc) AS BIGINT) AS max_concurrent
    FROM run GROUP BY day
    """,
    # user-day span agg + the per-day sweep window + max-per-day
    # rollup; all post-aggregate (2 rows per user-day)
    exchanges=3,
)
# Classic sweep-line: each user's per-day activity span becomes a +1
# at its start and a -1 at its end; the running sum ordered by time is
# the instantaneous concurrency and its max per day is the answer.
# Determinism: the window's default RANGE frame includes peers, so
# rows tying on (t, d) all see the same running sum on both engines;
# `d DESC` at equal t counts starts before ends (closed intervals —
# touching spans overlap).  Scale: the window partitions by day, so
# the sort is per-day and embarrassingly parallel across the cluster;
# 2 rows per user-day, never the raw event count.


# ---------------------------------------------------------------------
# Time-weighted average (irregular time-series, step interpolation)
# ---------------------------------------------------------------------


@register(
    "time_weighted_avg",
    """
    WITH seq AS (
      SELECT event_type, value, ts,
             lead(ts) OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS nxt
      FROM events),
    seg AS (
      SELECT event_type,
             CAST(floor(epoch(nxt)) AS BIGINT)
               - CAST(floor(epoch(ts)) AS BIGINT) AS dur,
             CAST(value AS DECIMAL(18,6)) AS v
      FROM seq WHERE nxt IS NOT NULL)
    SELECT event_type,
           CAST(sum(dur) AS BIGINT) AS total_secs,
           round(CAST(sum(v * dur) AS DOUBLE)
                 / CAST(sum(dur) AS DOUBLE), 6) AS twa
    FROM seg GROUP BY event_type
    """,
    # one series-keyed shuffle shared by the lead() window and the
    # final per-series rollup
    exchanges=1,
)
def q_time_weighted_avg(spark, sf_dir):
    """Time-weighted average per series (TimescaleDB's ``time_weight``
    with LOCF/step interpolation): each observation's value is held
    until the next observation, so its weight is the interval length
    in seconds.  Weighted sums accumulate as DECIMAL (exact and
    order-independent); only the final divide is IEEE, identical on
    both engines.  One series-keyed shuffle for the lead() window,
    one tiny rollup — 5 output rows at any scale.  At 100 TB the
    window partitions by series key, so state is bounded per series
    and the plan has no global sort."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", "ts", "value", F.lead("ts").over(w).alias("nxt")
    )
    seg = seq.filter(F.col("nxt").isNotNull()).select(
        "event_type",
        (F.unix_timestamp("nxt") - F.unix_timestamp("ts")).alias("dur"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    return seg.groupBy("event_type").agg(
        F.sum("dur").cast("bigint").alias("total_secs"),
        F.round(
            F.sum(F.col("v") * F.col("dur")).cast("double")
            / F.sum("dur").cast("double"),
            6,
        ).alias("twa"),
    )


# ---------------------------------------------------------------------
# Robust outlier detection: median / MAD
# ---------------------------------------------------------------------


@register(
    "mad_outlier_days",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    med AS (
      SELECT event_type, quantile_cont(n, 0.5) AS med
      FROM daily GROUP BY event_type),
    dev AS (
      SELECT d.event_type, d.day, d.n, abs(d.n - m.med) AS abs_dev
      FROM daily d JOIN med m ON d.event_type = m.event_type),
    mad AS (
      SELECT event_type, quantile_cont(abs_dev, 0.5) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_type, d.day, d.n,
           CASE WHEN m.mad = 0 THEN NULL
                ELSE round(d.abs_dev / (1.4826 * m.mad), 6) END AS robust_z
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    """,
    # daily grid checkpointed (corpus aggregates once); median/MAD
    # branches run on types×days rows, both stat joins broadcast
    exchanges=3,
)
def q_mad_outlier_days(spark, sf_dir):
    """Median/MAD robust z-scores for daily event volumes — the
    standard outlier detector that (unlike mean/stddev z-scores,
    `queries/daily_volume_anomaly`) is not itself corrupted by the
    outliers it hunts.  Exact interpolated medians via Spark
    ``percentile`` == DuckDB ``quantile_cont`` (equivalence pinned by
    `queries/percentile_exact`); the robust z is two IEEE ops on
    engine-identical inputs.  The median states are one double per
    series: both median joins broadcast.  MAD=0 (a flat series) yields
    NULL rather than an engine-dependent divide-by-zero."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("n"))
        .transform(materialize_lazy)
    )  # types×days rows; the corpus aggregates ONCE across the
    # median / deviation / MAD branches
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(n, 0.5)").alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "abs_dev", F.abs(F.col("n") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(abs_dev, 0.5)").alias("mad")
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "day",
        "n",
        F.when(F.col("mad") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("abs_dev") / (1.4826 * F.col("mad")), 6))
        .alias("robust_z"),
    )


# ---------------------------------------------------------------------
# Pareto frontier (2D skyline) per group
# ---------------------------------------------------------------------

_shared_sql(
    "pareto_frontier_orders",
    """
    WITH p AS (
      SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
             dense_rank() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice) AS pr
      FROM orders),
    m AS (
      SELECT o_custkey, pr, max(o_orderdate) AS md
      FROM p GROUP BY o_custkey, pr),
    cum AS (
      SELECT o_custkey, pr,
             max(md) OVER (PARTITION BY o_custkey ORDER BY pr
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS prev_best
      FROM m)
    SELECT p.o_custkey, p.o_orderkey, p.o_totalprice, p.o_orderdate
    FROM p JOIN cum ON p.o_custkey = cum.o_custkey AND p.pr = cum.pr
    WHERE cum.prev_best IS NULL OR p.o_orderdate > cum.prev_best
    """,
    # price-tier windows and the tier rollup all key on o_custkey —
    # one hash shuffle reused (AQE), plus the tier-join hop
    exchanges=2,
)
# Per-customer 2D skyline: keep an order iff no strictly cheaper
# order from the same customer is at least as recent (minimize price,
# maximize recency).  The classic sort-based skyline: rank price
# tiers (dense_rank), take each tier's best date, and a running max
# over strictly-cheaper tiers is the dominance bound — O(n log n),
# no quadratic self-join.  Every window/agg/join keys on o_custkey,
# so one hash shuffle is reused across all four steps (AQE keeps the
# partitioning); no floats anywhere, so the shared SQL hash-matches
# bit-for-bit.


# ---------------------------------------------------------------------
# Hybrid retrieval: reciprocal rank fusion of lexical + vector ranks
# ---------------------------------------------------------------------


@register(
    "rrf_hybrid_retrieval",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents),
    probe_t AS (SELECT tok FROM toks WHERE doc_id = 0),
    overlap AS (
      SELECT t.doc_id, count(*) AS n_shared
      FROM toks t JOIN probe_t p USING (tok)
      WHERE t.doc_id <> 0 GROUP BY t.doc_id),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY n_shared DESC, doc_id)
               AS lex_rank
      FROM overlap ORDER BY n_shared DESC, doc_id LIMIT 100),
    probe_v AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
    cos AS (
      SELECT e.vec_id,
             round(list_dot_product(e.embedding::DOUBLE[], p.p::DOUBLE[]) /
                   (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(p.p::DOUBLE[], p.p::DOUBLE[]))),
                   6) AS cs
      FROM embeddings e CROSS JOIN probe_v p WHERE e.vec_id <> 0),
    sem AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY cs DESC, vec_id) AS sem_rank
      FROM cos ORDER BY cs DESC, vec_id LIMIT 100)
    SELECT coalesce(l.doc_id, s.vec_id) AS doc_id,
           l.lex_rank, s.sem_rank,
           round(coalesce(CAST(1 AS DOUBLE) / (60 + l.lex_rank), 0)
                 + coalesce(CAST(1 AS DOUBLE) / (60 + s.sem_rank), 0),
                 9) AS rrf_score
    FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.vec_id
    ORDER BY rrf_score DESC, doc_id LIMIT 20
    """,
    # token-overlap agg + two TakeOrdered top-100s; the 100-row rank
    # windows and the fusion join are single-partition by size
    exchanges=3,
)
def q_rrf_hybrid_retrieval(spark, sf_dir):
    """Reciprocal rank fusion (k=60) of a lexical signal (distinct
    shared tokens with the probe document) and a semantic signal
    (embedding cosine to the probe vector) — the standard hybrid
    retrieval combiner feeding curation / hard-negative mining.
    Determinism: both rank lists use integer or 6dp-rounded scores
    with an id tie-break; the RRF score is two IEEE divides and one
    add on identical ranks.  Scale: the probe token set broadcasts;
    candidate ranking happens on the overlap-filtered set only, and
    the two top-100 lists (TakeOrdered on both engines' side) make
    the fusion join trivially small.  At 100 TB the per-signal top-k
    would come from `similarity.ivf_topk` / the inverted index — same
    fusion shape."""
    toks = _t_cpu(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
        ).alias("tok"),
    )
    probe_t = toks.filter(F.col("doc_id") == 0).select("tok")
    overlap = (
        toks.filter(F.col("doc_id") != 0)
        .join(F.broadcast(probe_t), "tok")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    # TakeOrdered (distributed top-k) first; the rank window then runs
    # over <=100 rows instead of funnelling every candidate through a
    # single-partition global window.
    w_lex = Window.orderBy(F.desc("n_shared"), F.asc("doc_id"))
    lex = (
        overlap.orderBy(F.desc("n_shared"), F.asc("doc_id"))
        .limit(100)
        .withColumn("lex_rank", F.row_number().over(w_lex))
        .select("doc_id", "lex_rank")
    )

    emb = _t(spark, sf_dir, "embeddings")
    probe_v = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("p")
    )
    cos = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe_v))
        .select(
            "vec_id",
            F.round(cosine_similarity("embedding", "p"), 6).alias("cs"),
        )
    )
    w_sem = Window.orderBy(F.desc("cs"), F.asc("vec_id"))
    sem = (
        cos.orderBy(F.desc("cs"), F.asc("vec_id"))
        .limit(100)
        .withColumn("sem_rank", F.row_number().over(w_sem))
        .select("vec_id", "sem_rank")
    )

    one = F.lit(1).cast("double")
    fused = lex.join(sem, lex.doc_id == sem.vec_id, "full_outer").select(
        F.coalesce(lex.doc_id, sem.vec_id).alias("doc_id"),
        "lex_rank",
        "sem_rank",
        F.round(
            F.coalesce(one / (60 + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(one / (60 + F.col("sem_rank")), F.lit(0.0)),
            9,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(20)


# ---------------------------------------------------------------------
# Scalar-quantized ANN (SQ8): int8-codebook search + exact rerank
# ---------------------------------------------------------------------


@register(
    "sq_ann_topk",
    """
    WITH dims AS (
      SELECT pos, min(v) AS mn, max(v) AS mx
      FROM (SELECT generate_subscripts(embedding, 1) AS pos,
                   unnest(embedding::DOUBLE[]) AS v
            FROM embeddings)
      GROUP BY pos),
    params AS (
      SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs
      FROM dims),
    q AS (
      SELECT vec_id, embedding,
             list_transform(
               list_zip(embedding::DOUBLE[], mns, mxs),
               x -> CASE WHEN x[3] - x[2] = 0 THEN x[2]
                    ELSE x[2]
                         + (CAST(floor((x[1] - x[2]) * 255
                                       / (x[3] - x[2])) AS BIGINT)
                            + 0.5) * (x[3] - x[2]) / 255 END) AS rv
      FROM embeddings CROSS JOIN params),
    p AS (SELECT rv AS pr, embedding AS pe FROM q WHERE vec_id = 0),
    scored AS (
      SELECT q.vec_id, q.embedding, p.pe,
             round(list_dot_product(q.rv, p.pr) /
                   (sqrt(list_dot_product(q.rv, q.rv)) *
                    sqrt(list_dot_product(p.pr, p.pr))),
                   6) AS approx_cos
      FROM q CROSS JOIN p WHERE q.vec_id <> 0),
    topk AS (
      SELECT vec_id, approx_cos, embedding, pe,
             row_number() OVER (ORDER BY approx_cos DESC, vec_id) AS rank
      FROM scored ORDER BY approx_cos DESC, vec_id LIMIT 20)
    SELECT vec_id, rank, approx_cos,
           round(list_dot_product(embedding::DOUBLE[], pe::DOUBLE[]) /
                 (sqrt(list_dot_product(embedding::DOUBLE[],
                                        embedding::DOUBLE[])) *
                  sqrt(list_dot_product(pe::DOUBLE[], pe::DOUBLE[]))),
                 6) AS cos_exact
    FROM topk
    """,
    # codebook is driver-materialized literals (stats pass runs once,
    # outside the plan); search is scan → TakeOrdered → 20-row rank
    exchanges=2,
)
def q_sq_ann_topk(spark, sf_dir):
    """Scalar-quantized ANN search (`operators/similarity.sq_quantize`
    / `sq_topk`): per-dimension min/max codebooks compress each vector
    to one byte per dim; candidates rank by cosine over the
    dequantized (bin-midpoint) codes and the top 20 rerank with
    full-precision cosine — the FAISS SQ8 recipe as DataFrame ops.
    Determinism: the codebook is min/max (order-independent), the
    quantize/dequantize chain is the same IEEE expression sequence on
    both engines, and scores round to 6dp with an id tie-break.
    Scale: the codebook is two dim-length arrays (kilobytes,
    driver-materialized as literals — the stats pass runs once,
    outside the search plan); the search is a single corpus scan into
    a distributed TakeOrdered, zero shuffles — and persisting ``qvec``
    at write time turns every later probe into a 1-byte/dim scan, the
    actual point of SQ."""
    from sparkplans.operators.similarity import sq_quantize

    emb = _t_cpu(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = sq_quantize(emb)
    p = q.filter(F.col("vec_id") == 0).select(
        F.col("qvec_recon").alias("pr"), F.col("embedding").alias("pe")
    )
    scored = (
        q.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(p))
        .select(
            "vec_id",
            "embedding",
            "pe",
            F.round(cosine_similarity("qvec_recon", "pr"), 6).alias(
                "approx_cos"
            ),
        )
    )
    # Distributed top-k (TakeOrderedAndProject), then rank the 20
    # survivors — no global single-partition window over the corpus.
    w = Window.orderBy(F.desc("approx_cos"), F.asc("vec_id"))
    topk = (
        scored.orderBy(F.desc("approx_cos"), F.asc("vec_id"))
        .limit(20)
        .withColumn("rank", F.row_number().over(w))
    )
    return topk.select(
        "vec_id",
        "rank",
        "approx_cos",
        F.round(cosine_similarity("embedding", "pe"), 6).alias("cos_exact"),
    )


@register(
    "pq_ann_topk",
    "SELECT vec_id AS probe_id, TRUE AS self_hit, TRUE AS n_ok, "
    "TRUE AS cos_exact_ok FROM embeddings WHERE vec_id < 3",
    # encode pass runs before the localCheckpoint cut; visible plan is
    # probe-LUT build + broadcast + per-probe rank windows
    exchanges=5,
)
def q_pq_ann_topk(spark, sf_dir):
    """Product-quantized ANN (`operators/similarity.pq_build` /
    `pq_topk`): per-subspace k-means codebooks compress each vector to
    num_sub small codes; search is asymmetric-distance (ADC) — a
    probe-side LUT of subspace distances, summed by code lookup on the
    corpus side — oversampled candidates reranked by exact cosine.
    Inputs are L2-normalized so ADC's L2 ordering matches cosine.
    Codebooks are model state (driver-fit, literal re-entry); at
    100 TB you fit them on a sample and the corpus pass reads only
    the num_sub-byte codes column.

    Driver contract (upgraded from rows-only): codebooks are
    driver-fit model state a SQL oracle cannot reproduce, so the
    result is the per-probe invariant grid
    (queries._ann_invariant_wrap) vs the all-true oracle; recall@10
    gates live in tests/test_operators.py."""
    from sparkplans.operators.similarity import pq_build, pq_topk

    emb = _t_cpu(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding").cast("array<double>"),
            F.lit(0.0),
            lambda a, x: a + x * x,
        )
    )
    nemb = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x / nrm
        ).alias("embedding"),
    )
    coded, books = pq_build(nemb, num_sub=16, k=16, iters=1)
    # materialize the encoded corpus (the persisted-index analog):
    # the search plan then reads codes only, as it would in production
    coded = coded.transform(materialize_lazy)
    probes = nemb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )
    from sparkplans.queries import _ann_invariant_wrap

    topk = pq_topk(coded, books, probes, k=10, oversample=4).select(
        "probe_id", "vec_id", F.col("cos_exact").alias("cos_sim")
    )
    return _ann_invariant_wrap(spark, sf_dir, topk, k=10)


# ---------------------------------------------------------------------
# Bucketed range joins — point-in-interval and interval-overlap with
# NO equi key (the shape where a naive plan is a nested loop over the
# full cross product; operators/asof.py buckets the time axis so
# Catalyst gets an equi-join key instead)
# ---------------------------------------------------------------------


@register(
    "campaign_window_counts",
    """
    WITH camp AS (
      SELECT event_id AS campaign_id, ts AS start_ts
      FROM events WHERE event_type = 'signup' AND event_id % 37 = 0)
    SELECT c.campaign_id,
           count(*) AS n_events,
           count(CASE WHEN e.event_type = 'purchase' THEN 1 END)
             AS n_purchases,
           sum(CAST(e.value AS DECIMAL(18,6))) AS total_value
    FROM camp c JOIN events e
      ON e.ts >= c.start_ts
     AND e.ts <= c.start_ts + INTERVAL 2 HOUR
    GROUP BY c.campaign_id
    """,
    # bucketed range join: the (tiny) campaign side broadcasts at this
    # scale, leaving only the per-campaign agg exchange; at corpus
    # scale the stats would flip it to a shuffle on the bucket key
    exchanges=1,
)
def q_campaign_window_counts(spark, sf_dir):
    """Global point-in-interval join with NO equi key: every sampled
    signup opens a 2-hour campaign window; count/sum all events
    falling inside each window.  `operators/asof.range_join` turns the
    pure inequality predicate into an equi-join on coarse 2-hour time
    buckets (each event lands in exactly one bucket, each window
    enumerates the 2 buckets it can span — so pairs join exactly once,
    no dedup shuffle).  At 100 TB both sides shuffle once on the
    bucket key and candidate volume is bounded by events-per-window,
    never corpus².  Totals accumulate in DECIMAL so the sum is
    order-independent across engines."""
    from sparkplans.operators import asof

    e = _t(spark, sf_dir, "events")
    camp = e.filter(
        (F.col("event_type") == "signup") & (F.col("event_id") % 37 == 0)
    ).select(F.col("event_id").alias("campaign_id"), F.col("ts").alias("start_ts"))
    hits = asof.range_join(
        camp, e.select("event_type", "value", "ts"),
        left_ts="start_ts", right_ts="ts",
        lower_seconds=0, upper_seconds=7200,
    )
    return hits.groupBy("campaign_id").agg(
        F.count("*").alias("n_events"),
        F.count(F.when(F.col("right_event_type") == "purchase", 1)).alias(
            "n_purchases"
        ),
        F.sum(F.col("right_value").cast("decimal(18,6)")).alias("total_value"),
    )


@register(
    "campaign_incident_overlap",
    """
    WITH camp AS (
      SELECT event_id AS campaign_id, ts AS c_start,
             ts + INTERVAL 2 HOUR AS c_end
      FROM events WHERE event_type = 'signup' AND event_id % 37 = 0),
    inc AS (
      SELECT event_id AS incident_id, ts AS i_start,
             ts + INTERVAL 45 MINUTE AS i_end
      FROM events WHERE event_type = 'error' AND event_id % 11 = 0)
    SELECT c.campaign_id, i.incident_id,
           CAST(date_diff('second',
                greatest(c.c_start, i.i_start),
                least(c.c_end, i.i_end)) AS BIGINT) AS overlap_seconds
    FROM camp c JOIN inc i
      ON c.c_start < i.i_end AND i.i_start < c.c_end
    """,
    # both exploded interval sides broadcast-sized here; owner-bucket
    # dedup adds NO exchange by design
    exchanges=0,
)
def q_campaign_incident_overlap(spark, sf_dir):
    """Interval × interval overlap join with NO equi key ("which
    campaigns were hit by an incident"): campaign windows [signup,
    +2h) against error-burst windows [error, +45min).
    `operators/asof.interval_overlap_join` explodes both interval sets
    into 30-minute buckets, equi-joins on the bucket, verifies the
    exact overlap predicate, and emits each pair exactly once via the
    owner-bucket rule — no nested loop, no dropDuplicates shuffle.
    Candidate volume at 100 TB is pairs-per-coarse-bucket, and the
    bucket key is time so AQE's skew split handles hot hours."""
    from sparkplans.operators import asof

    e = _t(spark, sf_dir, "events")
    camp = e.filter(
        (F.col("event_type") == "signup") & (F.col("event_id") % 37 == 0)
    ).select(
        F.col("event_id").alias("campaign_id"),
        F.col("ts").alias("c_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOUR")).alias("c_end"),
    )
    inc = e.filter(
        (F.col("event_type") == "error") & (F.col("event_id") % 11 == 0)
    ).select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("i_start"),
        (F.col("ts") + F.expr("INTERVAL 45 MINUTE")).alias("i_end"),
    )
    pairs = asof.interval_overlap_join(
        camp, inc, "c_start", "c_end", "i_start", "i_end", bucket_seconds=1800
    )
    return pairs.select(
        "campaign_id",
        F.col("right_incident_id").alias("incident_id"),
        (
            F.unix_timestamp(F.least("c_end", "right_i_end"))
            - F.unix_timestamp(F.greatest("c_start", "right_i_start"))
        ).alias("overlap_seconds"),
    )


# ---------------------------------------------------------------------
# Kaplan-Meier survival (time-to-convert with right-censoring)
# ---------------------------------------------------------------------


@register(
    "kaplan_meier_conversion",
    """
    WITH su AS (
      SELECT user_id, min(ts) AS s_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    pu AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN su ON e.user_id = su.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= su.s_ts
      GROUP BY e.user_id),
    mx AS (SELECT max(ts) AS max_ts FROM events),
    durs AS (
      SELECT su.user_id, pu.p_ts IS NOT NULL AS converted,
             CAST(floor(date_diff('second', su.s_ts,
                        coalesce(pu.p_ts, mx.max_ts)) / 3600) AS BIGINT)
               AS dur_h
      FROM su LEFT JOIN pu ON su.user_id = pu.user_id CROSS JOIN mx),
    ev AS (
      SELECT dur_h, count(CASE WHEN converted THEN 1 END) AS d,
             count(*) AS ended
      FROM durs GROUP BY dur_h),
    risk AS (
      SELECT dur_h, d,
             (SELECT count(*) FROM durs)
               - coalesce(sum(ended) OVER (ORDER BY dur_h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM ev)
    SELECT dur_h AS t_hours, n_risk, d AS n_conversions,
           round(CASE WHEN sum(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                        OVER w > 0 THEN 0.0
                 ELSE exp(sum(CASE WHEN d < n_risk
                              THEN ln(1 - CAST(d AS DOUBLE) / n_risk)
                              ELSE 0.0 END) OVER w) END,
                 6) AS survival
    FROM risk WHERE d > 0
    WINDOW w AS (ORDER BY dur_h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    # 2-3 corpus exchanges (first-event aggs on user_id); the rest are
    # single-partition windows/aggs over the span-bounded curve frame
    # (≤1 row per duration-hour) — slim by construction
    exchanges=9,
)
def q_kaplan_meier_conversion(spark, sf_dir):
    """Kaplan-Meier survival curve for signup→purchase conversion with
    right-censoring at the observation horizon (Kaplan & Meier 1958).
    Per user: first signup, first purchase at-or-after it; users who
    never purchase are censored at the corpus max timestamp.  S(t) =
    Π_{tᵢ≤t} (1 - dᵢ/nᵢ) over event (conversion) times, computed as
    exp of a running sum of ln factors so both engines fold the same
    ordered window.  Scale shape: the heavy work (first-event aggs)
    shuffles once on user_id; the curve itself has at most one row per
    distinct duration-hour — bounded by the observation span, NOT the
    corpus — so the final global-ordered window is a deliberate
    single-partition pass over a span-bounded frame, and the two
    scalars (max ts, cohort size) fold in as broadcast 1-row aggs
    rather than driver-side collects."""
    e = _t(spark, sf_dir, "events")
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    pu = (
        e.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("ts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    mx = e.agg(F.max("ts").alias("max_ts"))
    durs = (
        su.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("p_ts").isNotNull().alias("converted"),
            F.floor(
                (
                    F.unix_timestamp(F.coalesce("p_ts", "max_ts"))
                    - F.unix_timestamp("s_ts")
                )
                / 3600
            ).alias("dur_h"),
        )
    )
    ntot = durs.agg(F.count("*").alias("n_total"))
    ev = durs.groupBy("dur_h").agg(
        F.count(F.when(F.col("converted"), 1)).alias("d"),
        F.count("*").alias("ended"),
    )
    w_prev = Window.orderBy("dur_h").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = ev.crossJoin(F.broadcast(ntot)).select(
        "dur_h",
        "d",
        (
            F.col("n_total")
            - F.coalesce(F.sum("ended").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    w_cum = Window.orderBy("dur_h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    hit_zero = F.sum(
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    ).over(w_cum)
    ln_sum = F.sum(
        F.when(
            F.col("d") < F.col("n_risk"),
            F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")),
        ).otherwise(F.lit(0.0))
    ).over(w_cum)
    return risk.filter(F.col("d") > 0).select(
        F.col("dur_h").alias("t_hours"),
        "n_risk",
        F.col("d").alias("n_conversions"),
        F.round(
            F.when(hit_zero > 0, F.lit(0.0)).otherwise(F.exp(ln_sum)), 6
        ).alias("survival"),
    )
