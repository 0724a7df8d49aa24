"""Warehouse & curation query batch 2: slowly-changing dimensions,
Markov transitions, gap-filled time series, BM25 retrieval scoring,
inverted-index construction, token entropy, edit-distance near-dup
blocking, and RAG-style document chunking.

Same contract as the main registry (`sparkplans/queries/__init__.py`):
every entry is DuckDB-oracled; numeric accumulation is DECIMAL-exact
or single-op IEEE so Spark and DuckDB hash-match bit-for-bit.  The
reference exercises none of these shapes directly — they extend the
engine toward the training-data-pipeline north star (SURVEY.md §7
phase F) while staying declarative so Catalyst owns the physical
strategy.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkplans.queries import _shared_sql, _t, _t_cpu, register
from sparkplans.materialize import materialize, materialize_lazy


# ---------------------------------------------------------------------
# Shared-SQL entries (identical text runs on Spark SQL and DuckDB)
# ---------------------------------------------------------------------

_shared_sql(
    "event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
    # user-keyed window + tiny (prev,next) rollup
    exchanges=2,
)
# Markov transition counts (first-order sequential pattern mining).
# One user-keyed shuffle for the window, one small keyed shuffle for
# the (prev, next) rollup — 25 output rows regardless of corpus size.


_shared_sql(
    "scd2_user_value",
    """
    SELECT user_id, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           value AS attr_value,
           CASE WHEN lead(ts) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM events
    WHERE event_type = 'signup'
    """,
    exchanges=1,
)
# Slowly-changing-dimension type 2 build: each attribute observation
# opens a validity interval closed by the next one (lead), latest row
# flagged current.  Single user-keyed shuffle; the filter on
# event_type reaches the parquet scan as a pushed predicate.


_shared_sql(
    "mode_event_type",
    """
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type),
    r AS (
      SELECT user_id, event_type, n,
             row_number() OVER (
               PARTITION BY user_id ORDER BY n DESC, event_type) AS rn
      FROM c)
    SELECT user_id, event_type AS mode_type, n AS n_events
    FROM r WHERE rn = 1
    """,
    # per-(user,type) counts + user-keyed ranking window
    exchanges=2,
)
# Deterministic per-user mode: explicit (count DESC, value ASC)
# tie-break instead of engine-defined mode() so both engines agree.
# Two shuffles, both on user_id — AQE reuses the partitioning.


# ---------------------------------------------------------------------
# DataFrame-API entries with hand-written oracles
# ---------------------------------------------------------------------


@register(
    "listagg_customers",
    """
    SELECT c_nationkey,
           count(*) AS n_rich,
           string_agg(c_name, '|' ORDER BY c_name) AS names
    FROM customer WHERE c_acctbal > 9000
    GROUP BY c_nationkey
    """,
    exchanges=1,
)
def q_listagg_customers(spark, sf_dir):
    """LISTAGG / string_agg analog: per-nation sorted name roster.
    Spark has no ordered string_agg aggregate; sort_array over
    collect_list is the deterministic equivalent (sorting inside the
    aggregation buffer, not a global sort).  Collect-list aggregations
    are memory-bounded per group — the acctbal filter keeps groups
    small, which is the same discipline a 100 TB rollup needs."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    return c.groupBy("c_nationkey").agg(
        F.count("*").alias("n_rich"),
        F.array_join(F.sort_array(F.collect_list("c_name")), "|").alias("names"),
    )


@register(
    "token_entropy",
    """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents),
    cnt AS (
      SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY doc_id, tok),
    agg AS (
      SELECT doc_id, sum(n) AS total,
             sum(CAST(n * ln(n) AS DECIMAL(28,12))) AS s
      FROM cnt GROUP BY doc_id)
    SELECT doc_id,
           round(ln(total) - CAST(s AS DOUBLE) / total, 6) AS entropy
    FROM agg
    """,
    # fan_out + (doc,tok) counts + per-doc rollup
    exchanges=3,
)
def q_token_entropy(spark, sf_dir):
    """Shannon entropy of each document's token distribution — a
    repetition/diversity quality signal (low entropy = template/spam).
    Uses H = ln(N) - (Σ n·ln n)/N so the only floating aggregation
    (Σ n·ln n) accumulates in DECIMAL: order-independent, so the
    distributed sum hash-matches the oracle exactly.  One doc-keyed
    shuffle; the token explode is map-side."""
    toks = _t_cpu(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    cnt = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("n"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("n").alias("total"),
        F.sum((F.col("n") * F.log("n")).cast("decimal(28,12)")).alias("s"),
    )
    return agg.select(
        "doc_id",
        F.round(
            F.log("total") - F.col("s").cast("double") / F.col("total"), 6
        ).alias("entropy"),
    )


@register(
    "gap_fill_locf",
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
      FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.hr = b.hr)
    SELECT user_id, hr,
           round(last_value(avg_v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY hr
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS v_filled
    FROM j
    """,
    # 2 per branch: hourly pre-agg + explicit fixed-N user_id
    # repartition on BOTH the range branch and the hourly branch (the
    # explicit repartition keeps AQE from coalescing the tiny per-user
    # agg to 1 partition, which serialized the 31M-row sf3 grid
    # explode into a single task: 349s -> 2.2s).  Both exchanges carry
    # only pre-aggregated rows; the exploded grid is never shuffled.
    exchanges=4,
)
def q_gap_fill_locf(spark, sf_dir):
    """Time-series gap filling with last-observation-carried-forward:
    densify each user's hourly series over their own [first, last]
    hour, then forward-fill missing buckets with an IGNORE NULLS
    window — the TimescaleDB `time_bucket_gapfill + locf` shape.  The
    grid is generated with `sequence()` (no driver loop); the fill is
    one user-keyed window, and the hourly pre-aggregation shrinks the
    data BEFORE densification, so grid size is users x hours, never
    raw-event-count — the property that keeps this viable at 100 TB.
    The first grid hour always holds an observation, so no leading
    nulls.

    Explode parallelism: the per-user range table is one row per user,
    so AQE would coalesce it to ~1 shuffle partition and the
    users×hours grid (31M rows at sf3) would materialize inside a
    single task (observed: 349 s at sf3).  The hourly aggregate is
    explicitly hash-repartitioned on user_id with a FIXED count
    (explicit N disables AQE coalescing); the range table inherits that
    partitioning shuffle-free, the explode fans out in parallel, the
    grid⋈hourly join is co-partitioned, and the LOCF window reuses the
    same partitioning — the big grid itself is never shuffled."""
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
    r = b.groupBy("user_id").agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
    grid = r.select(
        "user_id",
        F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("hr"),
    )
    j = grid.join(b, ["user_id", "hr"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "hr",
        F.round(F.last("avg_v", ignorenulls=True).over(w), 6).alias("v_filled"),
    )


_BM25_TERMS = ("join", "scan", "merge")

@register(
    "bm25_scores",
    """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    corpus AS (
      SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks
      WHERE tok IN ('join', 'scan', 'merge') GROUP BY doc_id, tok),
    dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    s AS (
      SELECT t.doc_id,
             ln(1 + (c.n_docs - f.df + 0.5) / (f.df + 0.5))
               * (t.tf * 2.2)
               / (t.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / c.avgdl)) AS w
      FROM tf t
      JOIN dft f ON t.tok = f.tok
      JOIN dl d ON t.doc_id = d.doc_id
      CROSS JOIN corpus c)
    SELECT doc_id,
           round(CAST(sum(CAST(w AS DECIMAL(28,12))) AS DOUBLE), 6) AS bm25
    FROM s GROUP BY doc_id
    """,
    # fan_out + per-doc wide agg, subtree repeated under the one-row
    # stats rollup (2x2) + the rollup itself; AQE ReusedExchange
    # collapses the repeat at runtime => 3 physical stages
    exchanges=5,
)
def q_bm25_scores(spark, sf_dir):
    """BM25 (k1=1.2, b=0.75) relevance scores for a fixed query term
    set — the classic lexical-retrieval primitive over the corpus.
    Single-pass formulation: ONE doc-keyed aggregation computes both
    document length and per-term tf (conditional counts); ONE
    single-row rollup over it yields N, avgdl and every term's df,
    broadcast back via cross join.  Per-term scores are summed as
    DECIMAL (exact, order-independent), and a term with tf=0
    contributes exactly 0, so the wide form hash-matches the oracle's
    tall (doc,term)-row form.  Two keyed shuffles total at any corpus
    size; no Python in the hot path."""
    toks = _t_cpu(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.count(F.when(F.col("tok") == t, 1)).alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.count(F.when(F.col(f"tf_{t}") > 0, 1)).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    j = per_doc.crossJoin(F.broadcast(stats))

    def term_w(t: str):
        tf, df = F.col(f"tf_{t}"), F.col(f"df_{t}")
        idf = F.log(1 + (F.col("n_docs") - df + 0.5) / (df + 0.5))
        w = (idf * (tf * 2.2)) / (
            tf + 1.2 * (F.lit(1) - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
        )
        return w.cast("decimal(28,12)")

    total = term_w(_BM25_TERMS[0])
    for t in _BM25_TERMS[1:]:
        total = total + term_w(t)
    matched = sum(
        (F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0) for t in _BM25_TERMS),
        F.lit(0),
    )
    return (
        j.filter(matched > 0)
        .select("doc_id", F.round(total.cast("double"), 6).alias("bm25"))
    )


@register(
    "inverted_index",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents)
    SELECT tok, count(*) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM toks GROUP BY tok HAVING count(*) BETWEEN 2 AND 50
    """,
    # fan_out + map-side-distinct expand + token-keyed postings agg
    exchanges=3,
)
def q_inverted_index(spark, sf_dir):
    """Inverted-index construction: token -> sorted posting list of
    doc_ids, for mid-frequency tokens (df in [2, 50] — stopwords and
    hapaxes excluded, which also bounds every posting string).  The
    postings are sorted inside the aggregation buffer (sort_array over
    collect_set), not by a global sort; one token-keyed shuffle after
    a map-side distinct.  At 100 TB the df cap is what keeps reducer
    memory bounded — hot tokens never materialize giant lists."""
    toks = (
        _t_cpu(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
        )
        .distinct()
    )
    return (
        toks.groupBy("tok")
        .agg(
            F.count("*").alias("df"),
            F.array_join(
                F.sort_array(F.collect_set("doc_id")).cast("array<string>"), ","
            ).alias("postings"),
        )
        .filter(F.col("df").between(2, 50))
    )


@register(
    "edit_distance_near_dups",
    """
    SELECT a.doc_id AS left_id, b.doc_id AS right_id,
           levenshtein(substr(a.text, 1, 48), substr(b.text, 1, 48))
             AS edit_distance
    FROM documents a JOIN documents b
      ON a.source = b.source AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 8
    WHERE levenshtein(substr(a.text, 1, 48), substr(b.text, 1, 48)) <= 16
    """,
    # fan_out + one (source,bucket) hash join + pair dedup
    # was 3 with a dropDuplicates that shuffled the full candidate-pair
    # stream (prefixes attached) — Omega(pairs) scratch, exhausted the
    # disk at sf30; the owner-bucket rule dedups inside the join stage
    exchanges=2,
)
def q_edit_distance_near_dups(spark, sf_dir):
    """Edit-distance near-duplicate pairs with band blocking: candidate
    pairs must share a source and sit within 8 chars of each other in
    length; survivors are verified by Levenshtein on a 48-char prefix.
    The length band becomes an EQUI-join by bucketing n_chars into
    width-8 buckets and exploding each row into its own + next bucket
    (interval overlap <=> bucket sets intersect) — Catalyst gets a
    hash join instead of the O(n^2)-per-source nested loop a raw
    inequality would plan.

    Pair uniqueness comes from the OWNER-BUCKET rule (the same
    zero-shuffle trick as `asof.interval_overlap_join` and the sliced
    SSJoin): a qualifying pair's bucket sets {bk, bk+1} intersect in
    {max(bk_a, bk_b)} (and possibly the next bucket when bk_a ==
    bk_b), so keeping only the join row where bucket ==
    greatest(bk_a, bk_b) emits each pair exactly once INSIDE the join
    stage.  The previous dropDuplicates here shuffled the full
    candidate-pair stream with both 48-char prefixes attached —
    Ω(pairs) scratch, which exhausted a 250 GB disk at sf30 (the
    pair volume is quadratic in corpus density); now the pair stream
    is purely pipelined: join → owner filter → banded levenshtein,
    and only true survivors ever hit a shuffle."""
    d = _t_cpu(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.substring("text", 1, 48).alias("prefix"),
        (F.col("n_chars") / 8).cast("long").alias("bk"),
    )
    a = d.select(
        F.col("doc_id").alias("left_id"),
        F.col("source"),
        F.col("n_chars").alias("nc_a"),
        F.col("prefix").alias("pa"),
        F.col("bk").alias("bk_a"),
        F.explode(F.array(F.col("bk"), F.col("bk") + 1)).alias("bucket"),
    )
    b = d.select(
        F.col("doc_id").alias("right_id"),
        F.col("source"),
        F.col("n_chars").alias("nc_b"),
        F.col("prefix").alias("pb"),
        F.col("bk").alias("bk_b"),
        F.explode(F.array(F.col("bk"), F.col("bk") + 1)).alias("bucket"),
    )
    cand = a.join(b, ["source", "bucket"]).filter(
        (F.col("left_id") < F.col("right_id"))
        & (F.abs(F.col("nc_a") - F.col("nc_b")) <= 8)
        # owner-bucket: each pair counted in exactly one bucket
        & (F.col("bucket") == F.greatest(F.col("bk_a"), F.col("bk_b")))
    )
    # 3-arg levenshtein runs the banded DP (O(threshold·len), early
    # exit) and returns -1 past the threshold — exact distance for
    # every surviving pair, ~3x less DP work per candidate than the
    # full 48x48 matrix at sf10's candidate volume.
    return cand.select(
        "left_id",
        "right_id",
        F.levenshtein("pa", "pb", 16).alias("edit_distance"),
    ).filter(F.col("edit_distance") >= 0)


@register(
    "doc_chunks",
    """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents),
    c AS (
      SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS s FROM t)
    SELECT doc_id, s // 24 AS chunk_idx,
           len(toks[s + 1 : least(s + 32, len(toks))]) AS n_tokens,
           md5(array_to_string(toks[s + 1 : least(s + 32, len(toks))], ' '))
             AS chunk_md5
    FROM c
    """,
    # chunking is codegen-only; fan_out is the only exchange
    exchanges=1,
)
def q_doc_chunks(spark, sf_dir):
    """RAG-style sliding-window chunking: 32-token chunks on a
    24-token stride (8-token overlap), emitted as (doc_id, chunk_idx,
    md5) — the digest stands in for shipping chunk text through the
    compare harness.  `sequence()` + `slice()` keep the whole
    expansion inside whole-stage codegen: no shuffle at all, chunking
    is embarrassingly parallel over the scan, which is exactly how a
    100 TB corpus gets chunked."""
    t = _t_cpu(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    c = t.select(
        "doc_id",
        "toks",
        F.explode(F.expr("sequence(0, size(toks) - 1, 24)")).alias("s"),
    )
    chunk = F.slice(F.col("toks"), F.col("s") + 1, F.lit(32))
    return c.select(
        "doc_id",
        F.expr("s div 24").alias("chunk_idx"),
        F.size(chunk).alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quintiles)
# ---------------------------------------------------------------------

@register(
    "rfm_segments",
    """
    WITH c AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS freq,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
      FROM orders GROUP BY o_custkey),
    mx AS (SELECT max(last_order) AS maxd FROM c),
    r AS (
      SELECT c.o_custkey, c.freq,
             CAST(c.mon AS DOUBLE) AS mon_d,
             date_diff('day', c.last_order, mx.maxd) AS rec
      FROM c, mx),
    q AS (
      SELECT round(quantile_cont(rec,  0.2), 6) AS r20,
             round(quantile_cont(rec,  0.4), 6) AS r40,
             round(quantile_cont(rec,  0.6), 6) AS r60,
             round(quantile_cont(rec,  0.8), 6) AS r80,
             round(quantile_cont(freq, 0.2), 6) AS f20,
             round(quantile_cont(freq, 0.4), 6) AS f40,
             round(quantile_cont(freq, 0.6), 6) AS f60,
             round(quantile_cont(freq, 0.8), 6) AS f80,
             round(quantile_cont(mon_d, 0.2), 6) AS m20,
             round(quantile_cont(mon_d, 0.4), 6) AS m40,
             round(quantile_cont(mon_d, 0.6), 6) AS m60,
             round(quantile_cont(mon_d, 0.8), 6) AS m80
      FROM r),
    s AS (
      SELECT r.o_custkey,
             CAST(r.rec AS BIGINT) AS recency_days,
             CAST(r.freq AS BIGINT) AS frequency,
             round(r.mon_d, 2) AS monetary,
             5 - (CAST(r.rec > q.r20 AS INT) + CAST(r.rec > q.r40 AS INT)
                + CAST(r.rec > q.r60 AS INT) + CAST(r.rec > q.r80 AS INT))
               AS r_score,
             1 + (CAST(r.freq > q.f20 AS INT) + CAST(r.freq > q.f40 AS INT)
                + CAST(r.freq > q.f60 AS INT) + CAST(r.freq > q.f80 AS INT))
               AS f_score,
             1 + (CAST(r.mon_d > q.m20 AS INT) + CAST(r.mon_d > q.m40 AS INT)
                + CAST(r.mon_d > q.m60 AS INT) + CAST(r.mon_d > q.m80 AS INT))
               AS m_score
      FROM r, q)
    SELECT o_custkey, recency_days, frequency, monetary,
           CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                  THEN 'champion'
                WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
                WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
                WHEN r_score <= 2 AND f_score <= 2 AND m_score <= 2
                  THEN 'hibernating'
                ELSE 'regular' END AS segment
    FROM s
    """,
    # 0 = returned plan scores the checkpointed per-customer agg with
    # literal quintile boundaries; the custkey shuffle runs once at
    # checkpoint construction
    exchanges=0,
)
def q_rfm_segments(spark, sf_dir):
    """RFM segmentation — the classic CRM scoring: each customer's
    recency (days since last order, vs the corpus max date),
    frequency (order count), monetary (exact DECIMAL spend) bucketed
    into quintiles, plus the standard champion/at-risk/new/
    hibernating labels.

    Scale: NO global ntile window (the single-partition rank
    anti-pattern) — the quintile boundaries are 12 interpolated
    percentiles collected once as kilobyte model state (the
    revenue_gini / IVF-centroid recipe) and re-entered as literals,
    so scoring is a pure projection over the per-customer aggregate:
    ONE custkey shuffle total.  Boundaries are rounded to 6 dp on
    both engines before the strict-> comparisons, so bucket edges
    agree bit-for-bit (the percentile_exact precedent)."""
    o = _t(spark, sf_dir, "orders")
    c = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("mon"),
        )
        .transform(materialize_lazy)
    )
    maxd = c.agg(F.max("last_order")).collect()[0][0]
    r = c.select(
        "o_custkey",
        "freq",
        F.col("mon").cast("double").alias("mon_d"),
        F.datediff(F.lit(maxd), F.col("last_order")).alias("rec"),
    ).transform(materialize_lazy)
    qrow = r.agg(
        *[
            F.round(F.expr(f"percentile({col}, {p})"), 6).alias(f"{col}_{i}")
            for col in ("rec", "freq", "mon_d")
            for i, p in enumerate((0.2, 0.4, 0.6, 0.8))
        ]
    ).collect()[0]

    def score(col, prefix, invert=False):
        # Empty corpus => percentiles are NULL; any literal works since
        # the scored frame is empty too — keep the single code path.
        hits = sum(
            (
                F.col(col)
                > F.lit(
                    float(qrow[f"{col}_{i}"])
                    if qrow[f"{col}_{i}"] is not None
                    else 0.0
                )
            ).cast("int")
            for i in range(4)
        )
        return (5 - hits) if invert else (1 + hits)

    s = r.select(
        "o_custkey",
        F.col("rec").cast("bigint").alias("recency_days"),
        F.col("freq").cast("bigint").alias("frequency"),
        F.round("mon_d", 2).alias("monetary"),
        score("rec", "r", invert=True).cast("int").alias("r_score"),
        score("freq", "f").cast("int").alias("f_score"),
        score("mon_d", "m").cast("int").alias("m_score"),
    )
    return s.withColumn(
        "segment",
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4),
            "champion",
        )
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk_loyal")
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new")
        .when(
            (F.col("r_score") <= 2) & (F.col("f_score") <= 2) & (F.col("m_score") <= 2),
            "hibernating",
        )
        .otherwise("regular"),
    )
