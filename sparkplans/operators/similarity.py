"""Similarity search over embedding columns (array<float>).

- **brute_force_topk**: exact cosine top-k for a set of probe
  vectors: broadcast the probes, score every (row, probe) JVM-side,
  keep k per probe via window rank.  O(N·P) scored rows but zero
  shuffle of the corpus — the right baseline, and often the right
  answer when P is small.
- **lsh_bucket_topk**: scale path — random-hyperplane LSH (SimHash
  for vectors) buckets the corpus; each probe scores only its bucket
  (+ optional multi-probe neighbors).  Hyperplanes are deterministic
  (md5-derived pseudo-random ±1 components), so results are
  reproducible and oracle-checkable.
- **embedding_near_dup_pairs**: all-pairs cosine >= threshold within
  LSH buckets — the embedding analog of MinHash dedup.

At 100 TB: the corpus stays partitioned; probes/hyperplanes
broadcast; bucket self-joins shuffle only bucket keys.  For real ANN
at that scale you would precompute bucket assignments at write time
(bucketBy on bucket_id) making probe lookups shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from sparkplans.functions.vectors import cosine_similarity, dot, l2_norm
from sparkplans.materialize import materialize, plan_size_bytes

# Below this estimated input size the triangle pair scorer uses the
# pure-codegen fold join (no Python stage, no Arrow round trip — the
# measured ~2.6 s Arrow overhead at sf0.1 outweighs BLAS); at or
# above it, one BLAS matmul per triangle cell (sf10: >75 min of
# per-pair codegen fold -> 38.8 s).  4 MiB of compressed parquet
# (~sf0.5 of the embeddings table) is where the pair count crosses
# ~10M and the matmul starts winning.  Callers that know better pass
# ``engine=`` explicitly.
_BLAS_MIN_BYTES = 4 << 20


def _fmt_double(x: float) -> str:
    """SQL text for one double literal, bit-identical to F.lit(x):
    repr() is the shortest round-tripping decimal and Spark's parser
    converts exponent-form literals with Double.parseDouble (correctly
    rounded) — appending e0 when repr carries no exponent forces that
    DOUBLE-literal path (a plain decimal would detour through
    DecimalType, which drops -0.0's sign)."""
    import math

    if x is None:
        return "CAST(NULL AS DOUBLE)"
    x = float(x)
    if not math.isfinite(x):
        # 'inf'/'nan' have no SQL literal spelling; Spark reads these
        # through a double cast of the IEEE string form
        return f"CAST('{x}' AS DOUBLE)"
    r = repr(x)
    return r if ("e" in r or "E" in r) else r + "e0"


def lit_double_array(values) -> F.Column:
    """array<double> literal built in ONE py4j call.  Model state
    re-entering a plan as literals (IVF centroids, SQ codebooks) was
    built element-by-element with F.lit/F.array — k·dim driver round
    trips at ~1 ms each, measured 2.1-2.5 s of pure plan-construction
    wall for semantic_dedup's 40x64 centroid matrix — where one
    F.expr string parses JVM-side in milliseconds with bit-identical
    Literal values (see _fmt_double)."""
    return F.expr(f"array({', '.join(_fmt_double(x) for x in values)})")


def lit_double_matrix(rows) -> F.Column:
    """array<array<double>> literal in one py4j call (see
    lit_double_array)."""
    inner = ", ".join(
        f"array({', '.join(_fmt_double(x) for x in r)})" for r in rows
    )
    return F.expr(f"array({inner})")


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
) -> DataFrame:
    """Exact top-k neighbors per probe: (probe_id, vec_id, cos_sim)."""
    scored = corpus.join(F.broadcast(probes)).select(
        probe_id_col,
        id_col,
        F.round(cosine_similarity(vec_col, probe_vec_col), 6).alias("cos_sim"),
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def hyperplane_signs(vec_col: str, num_planes: int, dim: int) -> F.Column:
    """Deterministic random-hyperplane signature: plane p has
    components sign(md5(p:i)) in {-1,+1}; bucket bit p = (v·plane_p)
    >= 0.  Entirely JVM-side expression code over the array column."""
    def plane_component(p: int, i) -> F.Column:
        h = F.conv(F.substring(F.md5(F.concat_ws(":", F.lit(p), i.cast("string"))), 1, 15), 16, 10).cast("bigint")
        return F.when(h % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))

    bits = []
    for p in range(num_planes):
        proj = F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), lambda i: plane_component(p, i)),
                lambda x, s: x * s,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_bucket_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
) -> DataFrame:
    """Approximate top-k: score only corpus rows in the probe's LSH
    bucket.  Recall < 1 by design; num_planes trades bucket size vs
    recall."""
    sig = hyperplane_signs(vec_col, num_planes, dim)
    c = corpus.withColumn("bucket", sig)
    p = probes.withColumn("bucket", hyperplane_signs(probe_vec_col, num_planes, dim))
    scored = c.join(F.broadcast(p), "bucket").select(
        probe_id_col,
        id_col,
        F.round(cosine_similarity(vec_col, probe_vec_col), 6).alias("cos_sim"),
    )
    w = Window.partitionBy(probe_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def ivf_build(
    corpus: DataFrame,
    num_centroids: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: deterministic k-means over the corpus.

    Returns ``(assigned, centroids)`` where ``assigned`` is the corpus
    plus a ``cid`` column (nearest-centroid id) and ``centroids`` is
    ``(cid, centroid: array<double>)``.

    Distributed-k-means shape (the Spark MLlib pattern): per-row work
    is DataFrame ops, but the **centroids are model state** — k·dim
    doubles, kilobytes — so each Lloyd iteration materializes them on
    the driver and re-emits a literal DataFrame.  Without that cut the
    whole iteration history unrolls into ONE plan (every broadcast
    replays all previous assignments: 23 exchanges for iters=2);
    with it the returned ``assigned`` is a flat scan → broadcast join
    → one aggregation.

    Assignment is a ``max(struct(sim, -cid, vec))`` groupBy, not a
    window rank: partial aggregation collapses the k candidate rows
    per id map-side, so the shuffle carries one row per corpus id —
    a window would shuffle the full k× scored stream first.

    At 100 TB you would run the same build on a sample, persist
    ``assigned`` partitioned by ``cid`` (``partitionBy``/``bucketBy``),
    and get partition-pruned probe lookups at query time.
    """
    spark = corpus.sparkSession
    init_rows = (
        corpus.withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h")
        .limit(num_centroids)
        .select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("centroid"),
        )
        .collect()
    )
    init_rows.sort(key=lambda r: r["__id"])
    cents = [(i, list(r["centroid"])) for i, r in enumerate(init_rows)]

    def cents_df() -> DataFrame:
        return spark.createDataFrame(cents, "cid int, centroid array<double>")

    def assign(cdf: DataFrame = None) -> DataFrame:
        # Centroids are model state (k·dim doubles, kilobytes), so
        # they enter the plan as ONE literal array-of-arrays and
        # assignment is a PURE PROJECTION — one pass over the corpus,
        # zero exchanges.  The previous join+max(struct) shape also
        # shuffled only one row per id, but it first materialized
        # k×N candidate structs carrying the full vector through the
        # partial aggregation (at sf100: 512M × ~550 B rows — a
        # measured straggler stage); the projection never expands the
        # row count.  Arithmetic is kept bit-identical: per-centroid
        # norms are folded left-to-right in Python (same IEEE order
        # as the l2_norm fold), the sim is the same dot/(nv·nc)
        # expression, and the argmax orders by (sim, -cid) exactly as
        # the old max(struct) did — assignments cannot differ.
        import math as _math

        if not cents:
            # empty corpus: the old join-form produced an empty
            # (id, vec, cid) frame; preserve that contract (also
            # avoids sequence(0, -1), which Spark evaluates as a
            # DESCENDING two-element array, not empty)
            return corpus.filter(F.lit(False)).select(
                F.col(id_col),
                F.col(vec_col),
                F.lit(None).cast("int").alias("cid"),
            )
        # one-expression literals: k x dim element-wise F.lit calls
        # cost a py4j round trip each (~2.4 s of driver wall for a
        # 40x64 model at sf0.1); values are bit-identical (see
        # lit_double_array)
        cent_arr = lit_double_matrix([c for _, c in cents])
        cent_norm = lit_double_array(
            [_math.sqrt(sum(float(x) * float(x) for x in c)) for _, c in cents]
        )
        nv = l2_norm(vec_col)
        cand = F.transform(
            F.sequence(F.lit(0), F.lit(len(cents) - 1)),
            lambda i: F.struct(
                (
                    dot(F.col(vec_col), F.element_at(cent_arr, i + 1))
                    / (nv * F.element_at(cent_norm, i + 1))
                ).alias("__sim"),
                (-i).alias("__negcid"),
            ),
        )
        return corpus.select(
            F.col(id_col),
            F.col(vec_col),
            (-F.array_max(cand)["__negcid"]).cast("int").alias("cid"),
        )

    for _ in range(iters):
        new_rows = (
            assign(cents_df())
            .select(
                "cid",
                F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                    "pos", "val"
                ),
            )
            .groupBy("cid", "pos")
            .agg(F.avg("val").alias("v"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "v"))),
                    lambda s: s["v"],
                ).alias("centroid")
            )
            .collect()
        )
        cents = sorted(
            (r["cid"], list(r["centroid"])) for r in new_rows
        )
    return assign(cents_df()), cents_df()


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    probes: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
) -> DataFrame:
    """Approximate top-k via the IVF index: each probe scores only the
    rows assigned to its ``nprobe`` nearest centroids.  Probes and
    centroids broadcast; the corpus is touched once with a broadcast
    semi-filter on ``cid`` — no corpus shuffle."""
    pw = Window.partitionBy(probe_id_col).orderBy(
        F.col("__sim").desc(), F.col("cid")
    )
    probe_cids = (
        probes.join(F.broadcast(centroids))
        .withColumn("__sim", cosine_similarity(probe_vec_col, "centroid"))
        .withColumn("__rk", F.row_number().over(pw))
        .filter(F.col("__rk") <= nprobe)
        .select(probe_id_col, probe_vec_col, "cid")
    )
    scored = assigned.join(F.broadcast(probe_cids), "cid").select(
        probe_id_col,
        id_col,
        F.round(cosine_similarity(vec_col, probe_vec_col), 6).alias("cos_sim"),
    )
    w = Window.partitionBy(probe_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def sq_quantize(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 255,
    q_col: str = "qvec",
) -> DataFrame:
    """Scalar quantization (SQ8): compress each embedding to one small
    int per dimension via per-dimension min/max codebooks learned from
    the corpus itself.  Returns the corpus plus a ``q_col``
    (array<bigint>, values 0..levels).

    The codebook is one row of two dim-length arrays — kilobytes — so
    it broadcasts; the corpus is touched twice (one stats pass, one
    quantize pass) with no shuffle in either.  At 100 TB you persist
    the quantized column next to the raw one at write time: index
    scans then read 1 byte/dim instead of 4, a 4× scan-bandwidth win,
    which is the whole point of SQ in FAISS/Milvus-style engines.

    Deterministic and oracle-checkable: min/max are order-independent,
    and the quantization code ``floor((v-mn)*levels/(mx-mn))`` is the
    same single-rounded IEEE expression on any engine.  A flat
    dimension (mx == mn) quantizes to 0.
    """
    v = F.col(vec_col).cast("array<double>")
    dims = corpus.select(F.posexplode(v).alias("pos", "v"))
    per_dim = (
        dims.groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    )
    # The codebook is model state — two dim-length double arrays,
    # kilobytes — so (like ivf_build's centroids) it materializes on
    # the driver and re-enters the plan as literals: the quantize pass
    # is then a pure projection, and reusing the quantized frame in
    # several plan branches never replays the stats aggregation.
    per_dim.sort(key=lambda r: r["pos"])
    mns = lit_double_array([r["mn"] for r in per_dim])
    mxs = lit_double_array([r["mx"] for r in per_dim])
    lv = F.lit(float(levels))
    out = corpus.withColumn(
        q_col,
        F.zip_with(
            F.zip_with(v, mns, lambda x, mn: x - mn),
            F.zip_with(mxs, mns, lambda a, b: a - b),
            lambda d, rg: F.when(rg == 0, F.lit(0).cast("bigint")).otherwise(
                F.floor(d * lv / rg)
            ),
        ),
    )
    # Lazy dequantization: search scores run on the reconstructed
    # (bin-midpoint) values, the standard SQ decode.  Column pruning
    # drops this projection when only the codes are persisted.
    return out.withColumn(
        q_col + "_recon",
        F.zip_with(
            F.zip_with(F.col(q_col), mns, lambda q, mn: F.struct(
                q.alias("q"), mn.alias("mn"))),
            F.zip_with(mxs, mns, lambda a, b: a - b),
            lambda s, rg: s["mn"] + (s["q"] + 0.5) * rg / lv,
        ),
    )


def sq_topk(
    quantized: DataFrame,
    probes: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_col: str = "qvec",
    probe_id_col: str = "probe_id",
    probe_q_col: str = "probe_qvec_recon",
    probe_vec_col: str = "probe_vec",
    rerank: bool = True,
) -> DataFrame:
    """Top-k per probe by cosine over the *dequantized* codes (the
    standard SQ search decode: each byte reconstructs to its bin
    midpoint), optionally reranked by exact cosine over the raw
    floats.  Probes broadcast; the corpus never shuffles — candidate
    selection is a per-probe TakeOrdered over the approximate
    scores."""
    scored = quantized.join(F.broadcast(probes)).select(
        probe_id_col,
        id_col,
        F.round(
            cosine_similarity(q_col + "_recon", probe_q_col), 6
        ).alias("approx_cos"),
        F.col(vec_col).alias("__v"),
        F.col(probe_vec_col).alias("__pv"),
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("approx_cos").desc(), F.col(id_col)
    )
    top = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    if not rerank:
        return top.select(probe_id_col, id_col, "rank", "approx_cos")
    return top.select(
        probe_id_col,
        id_col,
        "rank",
        "approx_cos",
        F.round(cosine_similarity("__v", "__pv"), 6).alias("cos_exact"),
    )


def pq_build(
    corpus: DataFrame,
    num_sub: int = 16,
    k: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list]:
    """Product quantization: split each vector into ``num_sub``
    subvectors and learn a ``k``-centroid codebook per subspace
    (deterministic Lloyd iterations, md5-ordered init — the
    ``ivf_build`` recipe applied per subspace).  Returns ``(coded,
    codebooks)`` where ``coded`` carries ``pq_codes``
    (array<int>, length num_sub — num_sub bytes per vector at rest)
    and ``codebooks[j][c]`` is subspace j's centroid c.

    All ``num_sub`` subspaces train in the same corpus passes: one
    posexplode over the sliced subvector array per assignment, one
    aggregation per update — not num_sub separate k-means runs.  The
    codebooks are model state (num_sub·k·dsub doubles, kilobytes):
    driver-materialized per iteration and re-entered as literals, so
    the returned ``coded`` plan is scan → broadcast-free projection +
    one (id)-keyed argmin aggregation.  At 100 TB you fit the
    codebooks on a sample and only the final encode pass touches the
    full corpus.
    """
    spark = corpus.sparkSession
    head = corpus.select(vec_col).first()
    if head is None:
        # empty corpus: degenerate 1-dim codebooks, empty coded frame
        # with the right schema — callers' plans still analyze
        books = [[[0.0]] * k for _ in range(num_sub)]
        coded = corpus.withColumn(
            "pq_codes", F.expr(f"array_repeat(0, {num_sub})")
        ).limit(0)
        return coded, books
    dim = len(head[0])
    if dim % num_sub:
        raise ValueError(f"dim {dim} not divisible by num_sub {num_sub}")
    dsub = dim // num_sub
    v = F.col(vec_col).cast("array<double>")
    subs = F.array(*[F.slice(v, j * dsub + 1, dsub) for j in range(num_sub)])
    exploded = corpus.select(
        F.col(id_col), F.posexplode(subs).alias("j", "subvec")
    )

    init = (
        corpus.withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h")
        .limit(k)
        .select(v.alias("full"))
        .collect()
    )
    # codebooks[j][c][d]; seed subspace j with the j-slices of the k
    # sampled vectors (deterministic, distinct with high probability)
    books = [
        [list(r["full"][j * dsub:(j + 1) * dsub]) for r in init]
        for j in range(num_sub)
    ]

    def books_df() -> DataFrame:
        rows = [
            (j, c, books[j][c])
            for j in range(num_sub)
            for c in range(k)
        ]
        return spark.createDataFrame(
            rows, "j int, cid int, centroid array<double>"
        )

    def l2(a, b) -> F.Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def assign(bdf: DataFrame) -> DataFrame:
        scored = exploded.join(F.broadcast(bdf), "j").select(
            id_col,
            "j",
            "subvec",
            F.struct(
                l2("subvec", "centroid").alias("__d"),
                F.col("cid").alias("__cid"),
            ).alias("__cand"),
        )
        best = scored.groupBy(id_col, "j", "subvec").agg(
            F.min("__cand").alias("__b")
        )
        return best.select(
            id_col, "j", "subvec", F.col("__b.__cid").alias("cid")
        )

    for _ in range(iters):
        upd = (
            assign(books_df())
            .select("j", "cid", F.posexplode("subvec").alias("pos", "val"))
            .groupBy("j", "cid", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("j", "cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("centroid")
            )
            .collect()
        )
        for r in upd:  # empty clusters keep their previous centroid
            books[r["j"]][r["cid"]] = list(r["centroid"])

    codes = (
        assign(books_df())
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "cid"))),
                lambda s: s["cid"],
            ).alias("pq_codes")
        )
    )
    coded = corpus.join(codes, id_col)
    return coded, books


def pq_topk(
    coded: DataFrame,
    books: list,
    probes: DataFrame,
    k: int = 10,
    oversample: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search: per probe, precompute the
    L2 distance from each probe subvector to every centroid (the
    ``num_sub × k`` lookup table, built with one tiny probe-side
    aggregation — NOT unrolled literal expressions, which blow the
    JVM's 64 KB codegen limit), then each corpus row's approximate
    distance is ``num_sub`` flat-array lookups summed via its codes.
    The ``k·oversample`` ADC candidates per probe rerank with exact
    cosine (the standard PQ recipe: quantized distance prunes,
    full precision orders).  Probes + LUTs broadcast; the corpus scan
    reads only the codes column — no corpus-side vector math, the
    whole point of PQ.  For cosine semantics, feed L2-normalized
    vectors to both build and search."""
    spark = coded.sparkSession
    num_sub, kk = len(books), len(books[0])
    dsub = len(books[0][0])
    bdf = spark.createDataFrame(
        [(j, c, books[j][c]) for j in range(num_sub) for c in range(kk)],
        "j int, cid int, centroid array<double>",
    )
    pv = F.col(probe_vec_col).cast("array<double>")
    subs = F.array(*[F.slice(pv, j * dsub + 1, dsub) for j in range(num_sub)])
    pe = probes.select(
        probe_id_col, F.posexplode(subs).alias("j", "psub")
    )
    dist = pe.join(F.broadcast(bdf), "j").select(
        probe_id_col,
        "j",
        "cid",
        F.aggregate(
            F.zip_with("psub", "centroid", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("d"),
    )
    # flat LUT: entry (j, cid) at position j*kk + cid (1-based later)
    lut = dist.groupBy(probe_id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "cid", "d"))),
            lambda s: s["d"],
        ).alias("__lut")
    )
    p = probes.join(lut, probe_id_col)

    adc = None
    for j in range(num_sub):
        term = F.element_at(
            F.col("__lut"), F.col("pq_codes")[j] + F.lit(j * kk + 1)
        )
        adc = term if adc is None else adc + term

    scored = coded.join(F.broadcast(p)).select(
        probe_id_col,
        id_col,
        F.round(adc, 6).alias("adc_dist"),
        F.col(vec_col).alias("__v"),
        F.col(probe_vec_col).alias("__pv"),
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col)
    )
    cand = (
        scored.withColumn("__adc_rank", F.row_number().over(w))
        .filter(F.col("__adc_rank") <= k * oversample)
        .withColumn(
            "cos_exact",
            F.round(cosine_similarity("__v", "__pv"), 6),
        )
    )
    w2 = Window.partitionBy(probe_id_col).orderBy(
        F.col("cos_exact").desc(), F.col(id_col)
    )
    return (
        cand.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(probe_id_col, id_col, "rank", "adc_dist", "cos_exact")
    )


def triangle_pair_scores(
    corpus: DataFrame,
    group_col: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    split: int = 8,
    engine: str = "auto",
    size_hint: int | None = None,
    row_chunk: int = 2048,
) -> DataFrame:
    """Unordered pairs ``(id_a < id_b, cos_sim)`` with rounded cosine
    >= ``threshold``, scored only WITHIN each ``group_col`` value —
    the quadratic core shared by the LSH near-dup and SemDeDup
    operators.  Three scale properties:

    * **Norm hoisting**: each vector's L2 norm is computed once per
      ROW before any pairing; the per-pair work is a single dot
      product (``dot/(na*nb)`` is the identical IEEE expression
      ``cosine_similarity`` evaluates with the self-dots hoisted out
      of the pair loop).  Zero-norm vectors have no defined cosine
      and are EXCLUDED up front — this also pins one semantics across
      engines (Spark comparisons order NaN above everything, numpy
      below, so an unguarded zero norm would make the two paths
      disagree).
    * **Triangle partitioning**: a plain self-join on ``group_col``
      puts each group's entire C(n,2) pair loop inside ONE task — at
      sf3 the largest LSH bucket holds 7.7k vectors, i.e. 30M pairs
      in a single straggler (observed: stage pinned at (11+1)/12 for
      >15 min).  Instead each row gets a deterministic group
      ``g = xxhash64(id) mod split`` and is replicated to the
      ``split`` triangle cells ``(min(g,h), max(g,h))``; the
      pair loop spreads over split·(split+1)/2 independent cells and
      each unordered pair survives in EXACTLY one cell, so the result
      set is identical to the plain self-join.  Replication costs
      split× on the slim (id, vec, norm) rows, never on pairs.
    * **Adaptive scoring engine.**  ``engine="fold"`` joins the two
      block relations and evaluates one whole-stage-codegen fold per
      pair — no Python stage, fastest when the pair count is small.
      ``engine="blas"`` scores each cell as numpy matmuls inside an
      Arrow-batched ``applyInPandas`` (the sanctioned
      numpy-for-matmul exception, same as fit_pca): rows with g==ti
      form the A block, g==tj the B block, and (A/||a||)@(B/||b||).T
      scores every owned pair at memory bandwidth — at sf10 the fold
      took >75 min where BLAS takes 38.8 s, while at sf0.1 the Arrow
      round trip costs ~2.6 s the fold doesn't.  ``engine="auto"``
      (default) picks by the Catalyst size estimate of ``corpus``
      (or ``size_hint`` when the caller holds a better number, e.g.
      the pre-materialize estimate) against ``_BLAS_MIN_BYTES``
      (4 MiB); an unavailable estimate reads as huge, choosing BLAS —
      the engine that survives scale.  Both engines round cosines to 6 dp BEFORE
      thresholding (as does the DuckDB oracle), absorbing
      summation-order ulps, and produce identical pair sets.

    ``row_chunk`` bounds the BLAS transient: cells score in
    ``row_chunk``-row A-slabs so the score block is at most
    ``row_chunk x |B|`` doubles regardless of cell size."""
    if engine == "auto":
        est = size_hint if size_hint is not None else plan_size_bytes(corpus)
        engine = "fold" if est is not None and est < _BLAS_MIN_BYTES else "blas"
    c = (
        corpus.withColumn("__n", l2_norm(vec_col))
        .filter(F.col("__n") > 0)
        .withColumn(
            "__g", F.pmod(F.xxhash64(F.col(id_col)), F.lit(split)).cast("int")
        )
    )
    cells = F.array(
        *[
            F.struct(
                F.least(F.col("__g"), F.lit(h)).alias("ti"),
                F.greatest(F.col("__g"), F.lit(h)).alias("tj"),
            )
            for h in range(split)
        ]
    )
    rep = c.select(
        id_col, vec_col, group_col, "__g", "__n", F.explode(cells).alias("__t")
    ).select(
        id_col,
        vec_col,
        group_col,
        "__g",
        "__n",
        F.col("__t.ti").alias("__ti"),
        F.col("__t.tj").alias("__tj"),
    )
    if engine == "fold":
        a = rep.select(
            group_col,
            "__ti",
            "__tj",
            F.col("__g").alias("__ga"),
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("va"),
            F.col("__n").alias("na"),
        )
        b = rep.select(
            group_col,
            "__ti",
            "__tj",
            F.col("__g").alias("__gb"),
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vb"),
            F.col("__n").alias("nb"),
        )
        # a pair (ga, gb) is OWNED by exactly the cell (min, max) of
        # its two groups; the filter keeps each unordered pair once
        owned = (
            (F.col("__ga") == F.col("__ti")) & (F.col("__gb") == F.col("__tj"))
        ) | ((F.col("__ga") == F.col("__tj")) & (F.col("__gb") == F.col("__ti")))
        return (
            a.join(b, [group_col, "__ti", "__tj"])
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(owned)
            .select(
                "id_a",
                "id_b",
                F.round(
                    dot("va", "vb") / (F.col("na") * F.col("nb")), 6
                ).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= threshold)
        )

    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def _score_cell(key, pdf):
        ti, tj = int(key[1]), int(key[2])
        a_rows = pdf[pdf["__g"] == ti]
        b_rows = pdf[pdf["__g"] == tj] if tj != ti else a_rows
        out_ids_a, out_ids_b, out_sims = [], [], []
        if len(a_rows) and len(b_rows):
            A = np.stack(a_rows["__v"].to_numpy()).astype(np.float64)
            B = np.stack(b_rows["__v"].to_numpy()).astype(np.float64)
            ids_a = a_rows["__id"].to_numpy()
            ids_b = b_rows["__id"].to_numpy()
            na = a_rows["__n"].to_numpy()
            nb = b_rows["__n"].to_numpy()
            for lo in range(0, len(ids_a), row_chunk):
                hi = lo + row_chunk
                S = np.round(
                    (A[lo:hi] @ B.T) / np.outer(na[lo:hi], nb), 6
                )
                ia, ib = np.nonzero(S >= thr)
                if not len(ia):
                    continue
                id1, id2 = ids_a[lo:hi][ia], ids_b[ib]
                if ti == tj:
                    # diagonal cell holds the full gram: one orientation
                    keep = id1 < id2
                else:
                    # cross cell: each unordered pair appears once
                    keep = id1 != id2
                out_ids_a.append(np.minimum(id1[keep], id2[keep]))
                out_ids_b.append(np.maximum(id1[keep], id2[keep]))
                out_sims.append(S[ia[keep], ib[keep]])
        if not out_ids_a:
            return pd.DataFrame(
                {"id_a": pd.Series(dtype="int64"),
                 "id_b": pd.Series(dtype="int64"),
                 "cos_sim": pd.Series(dtype="float64")}
            )
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_ids_a),
                "id_b": np.concatenate(out_ids_b),
                "cos_sim": np.concatenate(out_sims),
            }
        )

    return (
        rep.select(
            group_col,
            "__ti",
            "__tj",
            "__g",
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            "__n",
        )
        .groupBy(group_col, "__ti", "__tj")
        .applyInPandas(_score_cell, "id_a long, id_b long, cos_sim double")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    split: int = 8,
) -> DataFrame:
    """Pairs with cosine >= threshold, found within LSH buckets.
    (Vectors this similar agree on all hyperplane signs with high
    probability.)  The quadratic core — norm hoisting, triangle
    partitioning, adaptive fold/BLAS cell scoring, zero-norm guard —
    is :func:`triangle_pair_scores` grouped by the LSH bucket;
    ``split`` grows with corpus size the way LSH band width does
    (8 keeps sf3's worst cell under 1M pairs)."""
    c = corpus.withColumn(
        "bucket", hyperplane_signs(vec_col, num_planes, dim)
    )
    return triangle_pair_scores(
        c,
        "bucket",
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        split=split,
        size_hint=plan_size_bytes(corpus),
    )


def semdedup(
    corpus: DataFrame,
    num_centroids: int = 8,
    threshold: float = 0.95,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    split: int = 8,
    return_parts: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame, DataFrame]:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication via k-means clustering of embeddings, then pairwise
    cosine inside each cluster only.

    Policy (deterministic first-keeper): a vector is KEPT iff no
    same-cluster vector with a smaller id has rounded cosine >=
    ``threshold`` to it.  Dropped rows carry ``dup_of`` — the smallest
    such earlier neighbor — for curation provenance.  The k-means
    coarse quantizer is exactly the IVF build (driver-held kilobyte
    centroid model re-entered as literals), so cluster assignment is
    a broadcast-join projection, and the only corpus-sized shuffles
    are the assignment argmax and the cluster-keyed triangle cells
    (:func:`triangle_pair_scores` grouped by ``cid``).

    Scale: the paper runs ~11k clusters over 100M+ docs precisely so
    each cluster's pairwise step stays small; ``num_centroids`` is
    that knob — grow it linearly with the corpus and the per-cluster
    self-join cost stays flat.  At 100 TB you would persist
    ``assigned`` bucketed by ``cid`` (the IVF deployment note) making
    the self-join co-partitioned and shuffle-free.

    Returns the corpus plus ``cid`` (cluster), ``kept`` (boolean) and
    ``dup_of`` (nullable id of the earlier near-duplicate).

    ``return_parts=True`` additionally returns the two materialized
    building blocks as ``(result, assigned, dup_of)``.  Audit/re-
    derivation consumers that only need the cluster assignment should
    read ``assigned`` directly: deriving it from ``result`` drags the
    corpus through the ``dup_of`` left join first — an exchange+sort
    pair on BOTH sides whose joined columns the consumer then drops
    (Catalyst cannot eliminate the join because the checkpointed
    ``dup_of`` carries no uniqueness info).  Measured at sf0.1 the
    re-derivation query dropped 18% of wall by auditing ``assigned``
    instead of re-joining ``result`` (the frames are row-identical
    projections for those columns — the left join preserves exactly
    the assigned rows).
    """
    # The Catalyst estimate is taken on the RAW corpus: after the
    # localCheckpoint below the lineage is an RDD scan whose stats
    # degenerate to defaultSizeInBytes (huge), which would force BLAS
    # even at test scale.
    hint = plan_size_bytes(corpus)
    assigned, _ = ivf_build(
        corpus,
        num_centroids=num_centroids,
        iters=iters,
        vec_col=vec_col,
        id_col=id_col,
    )
    # assigned feeds three consumers (both pairwise block sides + the
    # final join-back); materialize it once — the stand-in for the
    # persisted cid-bucketed table a production deployment would read.
    # EAGER deliberately: the consumers are sibling stages of one job
    # (the fold-engine pairwise joins two replicas of it), and a lazy
    # cut could compute the assignment projection once per sibling
    # stage on a cluster (block-level dedup is executor-local) — see
    # materialize_lazy's docstring for the rule.
    assigned = materialize(assigned)
    # The within-cluster quadratic is the shared triangle core
    # (norm hoisting, triangle cells, adaptive fold/BLAS scoring,
    # zero-norm exclusion — a zero-norm vector near-dups nothing and
    # is always kept).  min(id_a) per dropped id collapses map-side
    # (partial min agg), so the post-pairwise shuffle carries one row
    # per dropped id, not one per near-dup pair.
    pairs = triangle_pair_scores(
        assigned,
        "cid",
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        split=split,
        size_hint=hint,
    )
    dup_of = (
        pairs.groupBy(F.col("id_b").alias(id_col))
        .agg(F.min("id_a").alias("dup_of"))
    )
    # dup_of is one slim row per dropped id; checkpointing it means
    # the expensive pairwise scan runs exactly once no matter how many
    # times a consumer re-reads the result.  LAZY is safe here: the
    # result frame references it exactly once, so the first consuming
    # job materializes it with no sibling-stage race — one fewer
    # synchronous driver job per call.
    dup_of = materialize(dup_of, eager=False)
    # Shuffled-hash, building the slim side (at most one row per
    # assigned id): without the hint Spark plans a sort-merge join and
    # sorts both inputs.
    out = (
        assigned.join(dup_of.hint("shuffle_hash"), id_col, "left")
        .withColumn("kept", F.col("dup_of").isNull())
        .select(id_col, "cid", vec_col, "kept", "dup_of")
    )
    if return_parts:
        return out, assigned, dup_of
    return out
