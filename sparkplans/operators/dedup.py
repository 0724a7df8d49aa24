"""Deduplication operators for training-data pipelines.

Five families, all shuffle-conscious and expressed as DataFrame
compositions (explode -> groupBy -> join); the only per-row work is
JVM-side expression evaluation, so every stage scales horizontally:

- **exact**: hash-groupBy on a normalized md5 fingerprint; one
  shuffle on a 128-bit key.
- **MinHash + LSH**: shingle -> k minhash signature -> band buckets ->
  candidate pairs via bucket self-join -> exact Jaccard verify.
  At 100 TB the candidate join shuffles only (band_hash) buckets,
  never all-pairs; skewed buckets (boilerplate docs) are capped.
- **SimHash**: 64-bit signed-sum fingerprint; near-dups share most
  bits — pairs within Hamming distance d found by banding the bits.
- **n-gram Jaccard**: exact pairwise similarity on LSH candidates.
- **embedding cosine**: see sparkplans.operators.similarity.

Cross-engine determinism: the base hash is
``cast(conv(substr(md5(s),1,15),16,10) as bigint)`` — bit-identical
to DuckDB's ``('0x' || substr(md5(s),1,15))::BIGINT`` — so every
stage has an exact SQL oracle (no RNG anywhere; permutation
constants are small affine functions of the permutation index).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window, functions as F

from sparkplans.functions.text import doc_fingerprint
from sparkplans.materialize import materialize, observed, materialize_lazy

# MinHash modulus: largest 31-bit prime; keeps a*h+b < 2^62 (no
# overflow under ANSI mode) for a < 2^31.
MINHASH_P = 2_147_483_647


def _md5_int(col: Column) -> Column:
    """Deterministic 60-bit integer hash shared with the DuckDB oracle."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per normalized-text fingerprint (lowest id wins)."""
    fp = df.select(F.col(id_col), doc_fingerprint(text_col).alias("fingerprint"))
    keep = fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return df.join(keep, id_col, "left_semi")


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (the MinHash input set).

    NB: referencing the ``split`` result inside the ``transform``
    lambda makes codegen re-split per gram (O(tokens²) per doc) —
    prefer :func:`shingle_rows`, which materializes tokens in their
    own projection, for anything per-corpus."""
    t = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.trim(t), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(grams)


def shingle_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Exploded ``(id, shingle)`` rows, distinct per document.

    Tokens are materialized as a column in a separate projection so
    the regex split runs once per row instead of once per gram —
    measured ~6× faster than the inline form on 54-token documents,
    and the gap grows linearly with document length."""
    toks = df.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks")
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("__toks") - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, n)),
    )
    return toks.select(
        F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, perm, minhash) — one row per document per permutation.

    Permutation i applies the affine map ``(a_i * h + b_i) mod p``
    with a_i = 2i+1 (odd), b_i = 997i+31; the signature is the min
    over the document's shingles.  Plan shape: explode(shingles) ->
    groupBy(id) computing all ``num_perm`` mins in ONE pass ->
    stack-unpivot to (id, perm, minhash).  Keeping the permutations
    as parallel aggregates instead of an explode avoids a num_perm×
    row blowup of the shingle stream — at 100 TB that factor is the
    difference between scanning shingles once and sixteen times."""
    per_doc = minhash_wide(df, text_col, id_col, num_perm, shingle_n)
    stack_args = ", ".join(f"{i}, mh_{i}" for i in range(num_perm))
    return per_doc.select(
        id_col,
        F.expr(f"stack({num_perm}, {stack_args}) AS (perm, minhash)"),
    )


def minhash_wide(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """One row per document with all permutation minima as columns
    (``mh_0`` .. ``mh_{num_perm-1}``) — the shuffle-minimal form: one
    groupBy(id) over the shingle stream, nothing else.  Banding over
    this form is a pure projection (see lsh_candidate_pairs_wide)."""
    sh = shingle_rows(df, text_col, id_col, shingle_n).withColumn(
        "h", _md5_int(F.col("shingle")) % MINHASH_P
    )
    aggs = [
        F.min((F.col("h") * (2 * i + 1) + (997 * i + 31)) % MINHASH_P).alias(f"mh_{i}")
        for i in range(num_perm)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs_wide(
    wide: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Band the wide signature (minhash_wide) and pair up documents
    that agree on ALL rows of any band.  Band hashes are a projection
    (md5 of the band's sorted 'perm:minhash' entries) exploded to
    (id, band, band_hash); one groupBy(band, band_hash) collects each
    bucket's sorted ids, and a codegen'd array expression emits the
    pairs (id_a < id_b for free).  Only band-hash keys shuffle, never
    all-pairs.  Buckets above ``max_bucket`` ids (boilerplate text)
    are dropped — exact dedup on the fingerprint handles those docs —
    so one task generates at most max_bucket²/2 pairs."""
    band_sig = _band_hashes_wide(wide, id_col, num_perm, bands)
    buckets = (
        band_sig.groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Cluster a near-duplicate pair list into components:
    ``(node, comp)`` with ``comp`` = min node id in the component —
    the step that turns candidate PAIRS into a dedup DECISION (keep
    one doc per component).

    Alternating large-star / small-star (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond") — the web-scale
    algorithm: each round rewires every node's strictly-larger
    neighbors (large-star) and then its smaller-or-equal neighbors
    (small-star) to the minimum of its closed neighborhood, until the
    edge set is a fixed point — a disjoint union of stars rooted at
    the component minima.  Provably O(log² n) rounds (a handful in
    practice, independent of diameter), per-round cost two keyed
    aggregations over the edge list.  The previously-used neighbor-min
    label propagation needs DIAMETER-many rounds and silently
    under-merged long LSH collision chains at sf1 — this replacement
    converges fast on hairballs and chains alike, and RAISES if the
    round budget is ever exhausted: loud beats wrong.
    ``localCheckpoint()`` truncates lineage each round — without it
    the plan doubles per iteration (the same failure mode the IVF
    build had).  The driver only ever holds the convergence counter,
    never data.

    Convergence detection is two-tier: each round's (count,
    Σ xxhash64(src,dst) in exact DECIMAL) ride the materialization
    action as ``observe()`` metrics — no extra job, no per-round
    exceptAll shuffle (the old check paid 3 driver actions + one
    edge-set anti-join per round).  When the signature repeats —
    necessary at the fixed point, and a false positive needs a 2^-64
    hash-sum collision — ONE exact ``exceptAll`` check confirms set
    equality before convergence is declared, so the declared result
    is exactly as sound as before (the probabilistic signal only
    chooses WHEN to pay the exact check; a collision would fail the
    exact check and the loop continues)."""
    e1 = pairs.select(
        F.col(id_a).cast("long").alias("src"),
        F.col(id_b).cast("long").alias("dst"),
    )
    nodes = (
        e1.select(F.col("src").alias("node"))
        .unionByName(e1.select(F.col("dst").alias("node")))
        .distinct()
        .transform(materialize_lazy)
    )
    edges = (
        e1.filter(F.col("src") != F.col("dst")).distinct().transform(materialize_lazy)
    )

    def _adj(e: DataFrame) -> DataFrame:
        return e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    def _star(e: DataFrame, large: bool) -> DataFrame:
        adj = _adj(e)
        m = adj.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        nbrs = adj.join(m, "src")
        cond = (
            F.col("dst") > F.col("src")
            if large
            else F.col("dst") <= F.col("src")
        )
        out = nbrs.filter(cond).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
        if not large:
            # small-star also keeps each center attached to its min
            out = out.unionByName(
                m.select(F.col("src"), F.col("m").alias("dst"))
            )
        return (
            out.filter(F.col("src") != F.col("dst")).distinct()
        )

    def _sig_metrics():
        return (
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("hs"),
        )

    # signature of the CURRENT edge set (one cheap scan of the
    # checkpoint); each round's successor signature then rides the
    # round's own materialization action
    row0 = edges.agg(*_sig_metrics()).collect()[0]
    prev_sig = (int(row0["cnt"]), None if row0["hs"] is None else int(row0["hs"]))

    converged = False
    for _round in range(max_iter):
        obs = Observation()
        # UNLIKE pagerank/label_propagation there is no static corpus
        # frame to persist partition-preserving: the edge set is
        # REWRITTEN every round (both stars emit new (dst, m) pairs),
        # so the per-round corpus exchange IS the round-output
        # re-layout.  The round-shape ratchet test pins the round's
        # live exchange count instead.
        round_df = _star(_star(edges, large=True), large=False).observe(
            obs, *_sig_metrics()
        )
        new = materialize(round_df)
        sig = observed(obs, ["cnt", "hs"])
        if sig is None:  # listener didn't fire: one explicit aggregate
            r = new.agg(*_sig_metrics()).collect()[0]
            sig = (r["cnt"], r["hs"])
        sig = (int(sig[0]), None if sig[1] is None else int(sig[1]))
        if sig == prev_sig and new.exceptAll(edges).count() == 0:
            # exact confirmation — a hash-sum collision (2^-64) would
            # fail here and the loop simply continues
            edges = new
            converged = True
            break
        prev_sig = sig
        edges = new
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # at the fixed point every edge points child -> component root, so
    # a node's label is min(self, its unique root); roots map to self.
    # Every edge endpoint is a node, so one union + min-aggregate
    # labels them all: one exchange at any scale, no join to plan.
    return (
        nodes.select("node", F.col("node").alias("comp"))
        .unionByName(edges.select(F.col("src").alias("node"), F.col("dst").alias("comp")))
        .groupBy("node")
        .agg(F.min("comp").alias("comp"))
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for given candidate pairs:
    |A ∩ B| / |A ∪ B| — never materializes all-pairs.

    Shape: the corpus shingle stream is semi-filtered to docs that
    appear in ANY candidate pair (a broadcast semi join — candidates
    ≪ corpus, so the stream itself never shuffles), each surviving
    doc's shingle set is assembled once (ONE keyed shuffle of
    candidate docs only), and the intersection/union sizes are JVM
    array expressions on the joined pair — no shingle-keyed shuffle
    of the full stream, which the previous exploded-equi-join
    formulation paid twice."""
    sh = shingle_rows(df, text_col, id_col, shingle_n)
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets = (
        sh.join(F.broadcast(cand_ids), id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("__sh"))
    )
    a = sets.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("__sh_a", "__sh_b"))
                / F.size(F.array_union("__sh_a", "__sh_b"))
            ).alias("jaccard"),
        )
    )


def near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """End-to-end MinHash-LSH near-duplicate detection:
    signatures -> band buckets -> candidates -> exact-Jaccard verify.
    Uses the wide signature path (one corpus shuffle for the whole
    signature+banding stage).  The candidate list (tiny relative to
    the corpus) is materialized once via localCheckpoint before the
    verify stage — otherwise its 4-exchange lineage would re-execute
    for every one of the three places the verify references it (same
    lineage-cut discipline as connected_components and ivf_build)."""
    wide = minhash_wide(df, text_col, id_col, num_perm, shingle_n)
    # EAGER: the verify references cand from sibling stages of one
    # job — a lazy cut could replay the 4-exchange banding per stage
    # on a cluster
    cand = lsh_candidate_pairs_wide(wide, id_col, num_perm, bands).transform(materialize)
    return jaccard_pairs(df, cand, text_col, id_col, shingle_n).filter(
        F.col("jaccard") >= threshold
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """Per-document SimHash: for each bit j, sum +1/-1 over token
    hashes' bit j; the fingerprint sets bit j iff the sum is positive.
    Near-duplicate docs differ in few bits (compare via Hamming
    distance, e.g. ``bit_count(xor)`` — JVM-side).

    Plan: explode(tokens) -> groupBy(id) computing all ``bits`` signed
    sums as parallel aggregates in ONE pass -> assemble the
    fingerprint from the per-bit columns.  One shuffle, no bits×
    row blowup of the token stream."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
        ).alias("tok"),
    ).withColumn("h", _md5_int(F.col("tok")))
    aggs = [
        F.sum(
            F.when(F.expr(f"(h >> {j}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"b_{j}")
        for j in range(bits)
    ]
    per_doc = toks.groupBy(id_col).agg(*aggs)
    fp = F.lit(0).cast("bigint")
    for j in range(bits):
        fp = fp + F.when(
            F.col(f"b_{j}") > 0, F.lit(1 << j).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return per_doc.select(F.col(id_col), fp.alias("simhash"))


def deduplicate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    max_iter: int = 20,
) -> DataFrame:
    """Materialize the deduplicated corpus: near-dup pairs (MinHash-LSH
    + exact-Jaccard verify) -> connected components -> drop every doc
    that is not its cluster's canonical survivor (min id).  Docs in no
    cluster pass through untouched.

    The kill list is (cluster size - 1) per cluster — tiny next to the
    corpus — so the final anti join broadcasts; everything upstream
    inherits the bounded-bucket guarantees of the LSH path (no
    all-pairs anywhere).  This is the operator a training-data
    pipeline actually calls; the stages stay exposed for auditing."""
    pairs = near_dup_pairs(
        df, text_col, id_col, num_perm, bands, shingle_n, threshold
    )
    comp = connected_components(pairs, "id_a", "id_b", max_iter=max_iter)
    losers = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    return df.join(F.broadcast(losers), id_col, "left_anti")


# slices="auto" sizing (see prefix_filter_pairs): peak scratch per
# slice (per EXECUTOR's local disk on a real cluster) and the slice
# count ceiling.  A caller who needs more slices than the ceiling
# passes an explicit slices=N and runs it in slice_range chunks.
_SSJOIN_SLICE_BYTES = 8 << 30
_SSJOIN_MAX_SLICES = 1024
# Age after which a caller-supplied slice_dir's run= subdirs are pruned.
_SSJOIN_SLICE_RETENTION_S = 86400.0


def _auto_slices(raw_rows: int) -> tuple[int, int, int]:
    """``slices="auto"`` sizing for :func:`prefix_filter_pairs`:
    ``(slices, wanted, breach)`` for ``raw_rows`` raw candidate rows.

    ``wanted`` is the slice count that keeps each slice's projected
    scratch under ``_SSJOIN_SLICE_BYTES``; ``slices`` clamps it to
    ``_SSJOIN_MAX_SLICES``, the ceiling that stops a mis-estimated
    candidate volume exploding into tens of thousands of tiny jobs.
    When the cap binds the per-slice scratch EXCEEDS the budget — at
    sf100 the 8 GiB budget wants ~6.5k slices and the 1024 clamp would
    run ~51 GB/slice, 6.4x the promise — so ``breach`` is the
    projected per-slice overage in bytes (0 when the cap does not
    bind), and a warning says so: never silent."""
    budget = _SSJOIN_SLICE_BYTES
    cap = _SSJOIN_MAX_SLICES
    # ~72 bytes of peak disk per raw row, calibrated at sf10 (SCALE.md):
    # 7.1e9 raw rows, and a 1/64 slice held ~8 GB of transient
    # spill+shuffle (unsafe rows written twice: sorter spill runs +
    # shuffle files, zstd)
    scratch = int(raw_rows) * 72
    wanted = max(1, -(-scratch // max(budget, 1)))
    slices = min(max(cap, 1), wanted)
    breach = max(0, scratch // slices - budget)
    if wanted > slices:
        import warnings

        warnings.warn(
            f"ssjoin slices='auto' wanted {wanted} slices to honor "
            f"a {budget}-byte scratch budget but the {cap}-slice "
            f"cap binds: projected peak scratch per slice exceeds "
            f"the budget by ~{breach / (1 << 30):.1f} GiB. Pass an "
            f"explicit slices={wanted} and run it via slice_range "
            "in resumable chunks.",
            stacklevel=3,
        )
    return slices, wanted, breach


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int = 3,
    slices: int | str = 1,
    slice_dir: str | None = None,
    slice_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Exact set-similarity self-join via prefix filtering (the
    SSJoin/PPJoin family, Xiao et al. 2008): every pair with
    shingle-Jaccard >= ``threshold`` — unlike MinHash/LSH banding this
    has ZERO false negatives, and unlike `jaccard_pairs` it needs no
    probabilistic candidate stage.

    Three lossless filters, applied in candidate-cost order:

    1. **Asymmetric prefixes.** Shingles are globally ordered by
       rarity (document frequency asc, shingle asc).  Pairs are
       canonicalized so side *a* is the SMALLER record (ties by id).
       The larger side is indexed on its first
       ``|b| - ceil(t*|b|) + 1`` shingles, but the smaller side only
       probes with its first ``|a| - ceil(2t/(1+t)*|a|) + 1`` — valid
       because a partner at least as large forces overlap >=
       2t/(1+t)*|a|.  At t=0.5 the probe prefix is ~|a|/3 instead of
       ~|a|/2, which shrinks every shingle bucket's cross product.
    2. **Length filter.** J >= t implies |a| >= t*|b|; applied inside
       the join condition, before the pair shuffle.
    3. **Positional filter.** For each candidate pair the FIRST shared
       prefix shingle (both arrays sort in the same global order, so
       min(pos_a) and min(pos_b) name the same shingle) bounds the
       overlap: |a∩b| <= 1 + min(|a|-1-pos_a, |b|-1-pos_b).  Pairs
       whose bound cannot reach minoverlap = ceil(t/(1+t)*(|a|+|b|))
       die before the array-intersect verify.  The pair aggregation
       that computes the min positions replaces the old distinct() —
       same shuffle, strictly more pruning.

    Scale: the candidate join is keyed on *rare* shingles (rarity
    ordering puts low-df shingles in prefixes), so bucket sizes stay
    small on natural corpora; verification intersects the full sorted
    shingle arrays only for pairs that survive all three filters.
    The ranked arrays are checkpointed once and reused by the prefix
    and verify stages.  Returns (id_a, id_b, jaccard) with
    id_a < id_b.

    Numeric safety: every ceil() that feeds a pruning bound subtracts
    1e-9 first, so FP rounding can only weaken a filter (extra
    candidates the verify kills), never strengthen one (lost pairs).

    ``slices > 1`` runs the join as that many sequential sub-jobs,
    each owning the pairs whose LARGER record hashes into the slice
    — bit-identical output, ~1/slices the peak shuffle-disk footprint
    (see the inline comment at the slicing loop).  Use it when the
    lossless candidate enumeration is Ω(pairs) and a single job's
    shuffle would exhaust local disk; on a cluster the same knob
    bounds scratch per executor.  ``slices="auto"`` measures the exact
    candidate-volume upper bound (one cheap aggregation over the
    prefix rows) and derives the slice count from an 8 GiB per-slice
    scratch budget (at most 1024 slices; beyond that it warns and
    the caller passes ``slices=N`` with ``slice_range``) — the knob
    becomes a measured decision instead of a guess.

    ``slice_range=(lo, hi)`` executes only slices ``lo..hi-1`` of the
    resolved count — the bounded/resumable-run primitive: a run killed
    at slice k resumes by running the complementary range and unioning
    the returned frames (each call still writes a fresh ``run=``
    subdir — stale-slice safety is preserved), and a scale probe
    measures ONE slice's wall/footprint and extrapolates ×K instead of
    paying the full bill.  The returned frame contains exactly the
    pairs owned by the requested slices — a SUBSET of the full result
    unless the ranges run cover 0..K-1.

    ``slice_dir`` is the scratch root for per-slice parquet.  On a
    multi-node cluster it MUST be shared storage visible to every
    executor (HDFS/S3/NFS — e.g. a subdir of the checkpoint dir): the
    default ``tempfile.mkdtemp()`` is a *driver-local* path that only
    works in local / local-cluster modes, and is removed at
    interpreter exit.  Each call writes into a fresh ``run=<uuid>``
    subdirectory, so reusing a ``slice_dir`` across runs (including
    runs whose ``slices="auto"`` resolved to different counts) can
    never merge stale slices into the result.
    """
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    t = float(threshold)
    probe_frac = 2.0 * t / (1.0 + t)
    mo_frac = t / (1.0 + t)

    def _ceil(expr):
        return F.ceil(expr - F.lit(1e-9)).cast("int")

    sh = shingle_rows(df, text_col=text_col, id_col=id_col, n=n)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
    ranked = (
        sh.join(dfreq, "shingle")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df_"), F.col("shingle")))
            ).alias("st")
        )
        .select(
            F.col(id_col).alias("id"),
            F.transform("st", lambda x: x["shingle"]).alias("toks"),
        )
        .withColumn("n_tok", F.size("toks"))
        .withColumn(
            "idx_len",
            F.col("n_tok") - _ceil(F.lit(t) * F.col("n_tok")) + 1,
        )
        .withColumn(
            "probe_len",
            F.col("n_tok") - _ceil(F.lit(probe_frac) * F.col("n_tok")) + 1,
        )
        # EAGER: probe/index/verify reference this frame from sibling
        # stages of one job (see materialize_lazy docstring)
        .transform(materialize)
    )
    # One posexplode serves both roles: rows with pos < probe_len are
    # the (shorter-side) probe prefix, all rows are the index prefix.
    pref = ranked.select(
        "id",
        "n_tok",
        "probe_len",
        F.posexplode(F.slice("toks", F.lit(1), F.col("idx_len"))).alias(
            "pos", "p"
        ),
    )
    probe = pref.filter(F.col("pos") < F.col("probe_len")).select(
        "id", "n_tok", "pos", "p"
    )
    smaller = (F.col("a.n_tok") < F.col("b.n_tok")) | (
        (F.col("a.n_tok") == F.col("b.n_tok")) & (F.col("a.id") < F.col("b.id"))
    )

    def _pairs_for(index_side: DataFrame) -> DataFrame:
        cand = (
            probe.alias("a")
            .join(
                index_side.alias("b"),
                (F.col("a.p") == F.col("b.p"))
                & smaller
                & (F.col("a.n_tok") >= _ceil(F.lit(t) * F.col("b.n_tok"))),
            )
            .groupBy(
                F.col("a.id").alias("cid_a"),
                F.col("b.id").alias("cid_b"),
            )
            .agg(
                F.max("a.n_tok").alias("cna"),
                F.max("b.n_tok").alias("cnb"),
                F.min("a.pos").alias("pa"),
                F.min("b.pos").alias("pb"),
            )
            .filter(
                F.lit(1)
                + F.least(
                    F.col("cna") - 1 - F.col("pa"),
                    F.col("cnb") - 1 - F.col("pb"),
                )
                >= _ceil(F.lit(mo_frac) * (F.col("cna") + F.col("cnb")))
            )
            .select(
                F.col("cid_a").alias("id_a"), F.col("cid_b").alias("id_b")
            )
        )
        ver = (
            cand.join(
                ranked.select(
                    F.col("id").alias("id_a"),
                    F.col("toks").alias("ta"),
                    F.col("n_tok").alias("na"),
                ),
                "id_a",
            )
            .join(
                ranked.select(
                    F.col("id").alias("id_b"),
                    F.col("toks").alias("tb"),
                    F.col("n_tok").alias("nb"),
                ),
                "id_b",
            )
            .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
            .withColumn(
                "j",
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
            )
            .filter(F.col("j") >= threshold)
        )
        # Internally pairs are size-canonical (a = smaller record); the
        # output contract is id-canonical.
        return ver.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.round("j", 6).alias("jaccard"),
        )

    if slices == "auto":
        # Size the slicing from the EXACT candidate-volume upper bound
        # sum_p count_index(p) * count_probe(p) — the raw row count of
        # the candidate join before the length filter — computed with
        # one small aggregation over the (materialized) prefix rows.
        raw_ub = (
            pref.groupBy("p")
            .agg(
                F.count("*").alias("ci"),
                F.sum(
                    (F.col("pos") < F.col("probe_len")).cast("long")
                ).alias("cp"),
            )
            .agg(F.sum(F.col("ci") * F.col("cp")).alias("raw"))
            .collect()[0]["raw"]
            or 0
        )
        slices = _auto_slices(raw_ub)[0]

    if slice_range is not None:
        lo, hi = int(slice_range[0]), int(slice_range[1])
        if not 0 <= lo < hi <= max(int(slices), 1):
            raise ValueError(
                f"slice_range {slice_range} outside [0, {max(int(slices), 1)})"
            )
        if slices <= 1:
            # auto (or explicit 1) resolved to a single slice and the
            # range covers it: the bounded run IS the full run
            return _pairs_for(pref)
        ks = range(lo, hi)
    elif slices <= 1:
        return _pairs_for(pref)
    else:
        ks = range(int(slices))

    # Sliced execution: each canonical pair (a = smaller record, b =
    # larger) is OWNED by exactly one slice — the one holding
    # xxhash64(b.id) % slices — because every index-prefix row of b
    # lands in b's slice while the probe side stays whole.  Results
    # are therefore the bit-identical union of the per-slice runs
    # (no cross-slice duplicates, no lost pairs, and the per-pair
    # min-position aggregation sees every candidate row it saw
    # unsliced).  What changes is the PEAK shuffle footprint: the
    # candidate-pair shuffle — Ω(candidate pairs), the disk killer on
    # saturated corpora (SCALE.md: sf10 exhausted 74 GB twice) — is
    # split into `slices` sequential jobs of ~1/slices the size, and
    # each job's shuffle files are released to the ContextCleaner
    # before the next starts.  Per-slice results land in parquet under
    # `slice_dir` (a temp dir by default) and the returned frame reads
    # them back, so the only data alive across slices is real output.
    import atexit
    import gc as _gc
    import shutil
    import tempfile
    import time as _time
    import uuid

    spark = df.sparkSession
    if slice_dir is None:
        root = tempfile.mkdtemp(prefix="sparkplans_ssjoin_")
        # Driver-local default: valid only in local modes (see
        # docstring); reclaim the scratch at interpreter exit so
        # repeated calls don't leak disk.
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    else:
        root = slice_dir
        # Retention contract for caller-supplied slice_dir: each call
        # writes a fresh run=<uuid> subdir (stale-slice safety, see
        # below) and the returned frame lazily READS that subdir, so
        # it cannot be deleted before the caller consumes the result.
        # To keep repeated runs from accumulating unbounded scratch on
        # the shared store, prune run= dirs older than
        # _SSJOIN_SLICE_RETENTION_S (one day) on entry — age-based so a
        # concurrent session's live run is never swept.  Pruning applies to local filesystems only; on
        # object stores point a bucket-lifecycle rule at the dir (the
        # same contract every Spark shuffle-/checkpoint-on-S3 setup
        # uses).
        import os as _os

        if _os.path.isdir(root):
            cutoff = _time.time() - _SSJOIN_SLICE_RETENTION_S
            for name in _os.listdir(root):
                p = _os.path.join(root, name)
                try:
                    if (
                        name.startswith("run=")
                        and _os.path.isdir(p)
                        and _os.path.getmtime(p) < cutoff
                    ):
                        shutil.rmtree(p, ignore_errors=True)
                except OSError:
                    pass
    # Fresh run-scoped subdir: a reused slice_dir from a prior run
    # (possibly with a HIGHER slice count under slices="auto") must
    # never contribute stale slice=K parquet to this run's readback.
    out_dir = f"{root}/run={uuid.uuid4().hex}"
    owner = F.pmod(F.xxhash64(F.col("id")), F.lit(slices))
    for k in ks:
        part = _pairs_for(pref.filter(owner == k))
        part.write.mode("overwrite").parquet(f"{out_dir}/slice={k}")
        del part
        # Drop py4j refs, then ask the JVM to GC so the ContextCleaner
        # reclaims this slice's shuffle files before the next slice.
        _gc.collect()
        spark._jvm.System.gc()
        _time.sleep(1.0)
    return spark.read.parquet(f"{out_dir}/slice=*")


def segment_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 3,
) -> DataFrame:
    """CCNet-style segment-level deduplication: split each document
    into consecutive ``window``-word segments, keep only the GLOBAL
    first occurrence of each distinct segment (ordered by doc id,
    then position), and reassemble the surviving text.

    CCNet dedups at line/paragraph granularity; for single-line
    corpora the unit becomes a fixed word window, same algorithm.
    Returns (id, n_segments, n_kept, clean_text).

    Scale shape: explode is pipelined; the first-keeper is
    groupBy(segment).min(struct(id, seg_no)) — partial aggregation
    combines map-side, so a boilerplate segment repeated 10M times
    contributes ONE row per map partition to the shuffle, and the
    join-back that marks keepers is AQE-skew-splittable (a window
    rank over the segment key would be neither: no map-side combine,
    and skewed window partitions cannot be split).  Reassembly is one
    shuffle on id.  No all-pairs anywhere.  Docs whose every segment
    occurred earlier survive with empty ``clean_text`` (the left join
    below), mirroring CCNet's behavior of emitting empty shells
    rather than dropping rows."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_seg = F.ceil(F.size(words) / F.lit(window)).cast("int")
    segs_arr = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i * window + 1, window)),
    )
    segs = docs.select(
        F.col(id_col).alias("__id"), F.posexplode(segs_arr).alias("seg_no", "seg")
    )
    keepers = segs.groupBy("seg").agg(
        F.min(F.struct("__id", "seg_no")).alias("__k")
    )
    marked = segs.join(keepers, "seg").withColumn(
        "kept",
        (F.col("__id") == F.col("__k.__id"))
        & (F.col("seg_no") == F.col("__k.seg_no")),
    )
    rebuilt = marked.groupBy("__id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("kept"), F.struct("seg_no", "seg"))
                    )
                ),
                lambda s: s["seg"],
            ),
        ).alias("clean_text"),
    )
    return (
        docs.select(F.col(id_col).alias("__id"))
        .join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    seen: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup — the production shape at 100 TB: you
    never re-dedup the whole corpus, you dedup the NEW batch against a
    persisted fingerprint index.

    ``seen`` is the index table with a single ``fingerprint`` column
    (or None for the first batch).  Returns ``(clean, new_seen)``:
    ``clean`` keeps each new document that is (a) the first occurrence
    of its fingerprint within the batch (lowest id wins, same rule as
    :func:`exact_dedup`) and (b) not already in ``seen``;
    ``new_seen`` is the updated index to persist for the next batch.

    Scale shape: one shuffle of the batch on the fingerprint for the
    within-batch groupBy; the anti join against ``seen`` shuffles on
    the same key — and becomes SHUFFLE-FREE when the index is stored
    bucketed by fingerprint (`Catalog.write_bucketed`, pinned in
    tests/test_bucketing.py) with the batch side pre-partitioned by
    the same key.  The index table is fingerprints only (16 bytes a
    row), ~1/1000th of corpus bytes."""
    fp = new_docs.withColumn("fingerprint", doc_fingerprint(text_col))
    keep = fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    batch_first = fp.join(keep, ["fingerprint", id_col])
    if seen is not None:
        clean = batch_first.join(
            seen.select("fingerprint"), "fingerprint", "left_anti"
        )
        new_seen = (
            seen.select("fingerprint")
            .unionByName(batch_first.select("fingerprint"))
            .distinct()
        )
    else:
        clean = batch_first
        new_seen = batch_first.select("fingerprint").distinct()
    return clean, new_seen


def _band_hashes_wide(
    wide: DataFrame, id_col: str, num_perm: int, bands: int
) -> DataFrame:
    """(id, band, band_hash) from a wide signature — banding as a pure
    projection (shared by lsh_candidate_pairs_wide and the incremental
    index path)."""
    rows_per_band = num_perm // bands
    structs = []
    for b in range(bands):
        perms = range(b * rows_per_band, (b + 1) * rows_per_band)
        entries = F.array(
            *[
                F.concat_ws(":", F.lit(str(p)), F.col(f"mh_{p}").cast("string"))
                for p in perms
            ]
        )
        structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", F.sort_array(entries))).alias("band_hash"),
            )
        )
    return wide.select(id_col, F.explode(F.array(*structs)).alias("bb")).select(
        id_col,
        F.col("bb.band").alias("band"),
        F.col("bb.band_hash").alias("band_hash"),
    )


def incremental_near_dedup(
    new_docs: DataFrame,
    index_wide: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> tuple[DataFrame, DataFrame]:
    """Incremental NEAR-dup dedup — the MinHash analog of
    :func:`incremental_exact_dedup`: a new batch is deduped against a
    persisted SIGNATURE index of the kept corpus, so the corpus text
    is never re-read.

    ``index_wide`` is the persisted ``minhash_wide`` output (id +
    ``mh_0..mh_{num_perm-1}``) of previously kept documents, or None
    for the first batch.  A new document dies when it shares any LSH
    band bucket with an indexed document AND the signature-estimated
    Jaccard (fraction of agreeing minhashes — the standard index-side
    verify, since the index stores signatures, not text) reaches
    ``threshold``.  Returns ``(clean, new_index)`` where ``clean``
    keeps surviving new docs and ``new_index`` appends their
    signatures.  The batch is assumed internally deduped first
    (``deduplicate``).

    Scale shape: the index is num_perm ints per document (~100 bytes a
    row vs KBs of text); candidate generation joins band hashes (never
    all-pairs), and storing the index bucketed by (band, band_hash)
    makes the candidate join shuffle-free, like the exact-dedup twin.
    """
    batch_wide = minhash_wide(new_docs, text_col, id_col, num_perm, shingle_n)
    if index_wide is None:
        return new_docs, batch_wide
    bb = _band_hashes_wide(batch_wide, id_col, num_perm, bands).withColumnRenamed(
        id_col, "__new_id"
    )
    ib = _band_hashes_wide(index_wide, id_col, num_perm, bands).withColumnRenamed(
        id_col, "__old_id"
    )
    cand = bb.join(ib, ["band", "band_hash"]).select("__new_id", "__old_id").distinct()
    agree = sum(
        F.when(F.col(f"n.mh_{i}") == F.col(f"o.mh_{i}"), 1).otherwise(0)
        for i in range(num_perm)
    )
    verified = (
        cand.join(
            batch_wide.withColumnRenamed(id_col, "__new_id").alias("n"), "__new_id"
        )
        .join(index_wide.withColumnRenamed(id_col, "__old_id").alias("o"), "__old_id")
        .withColumn("est_j", agree / F.lit(float(num_perm)))
        .filter(F.col("est_j") >= threshold)
    )
    kill = verified.select(F.col("__new_id").alias(id_col)).distinct()
    clean = new_docs.join(kill, id_col, "left_anti")
    new_index = index_wide.unionByName(
        batch_wide.join(kill, id_col, "left_anti")
    )
    return clean, new_index


def remove_repeated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
) -> DataFrame:
    """Exact-substring deduplication at k-gram granularity: every
    OVERLAPPING ``k``-word window of every document is a candidate
    span; for each distinct span the GLOBAL first occurrence (ordered
    by doc id, then position) survives, and every token covered by a
    later occurrence is removed before reassembly.

    This is the distributed form of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better") ExactSubstr dedup,
    with the suffix array replaced by a k-gram first-keeper aggregate
    — the memorization-prone artifact (a verbatim >= k-word span
    repeated anywhere in the corpus, including boilerplate inside
    otherwise-unique pages that document-level MinHash cannot see) is
    removed from all but one site.  Complements
    :func:`segment_dedup`: segments tile the text (stride = window),
    spans slide (stride = 1), so a duplicated run is caught at ANY
    alignment, not only on segment boundaries.

    Returns (id, n_tokens, n_removed, clean_text).

    Scale shape (same skeleton as :func:`segment_dedup`): the window
    explode is pipelined; the first-keeper is groupBy(span) with
    min(struct(id, pos)) + count — map-side combined, so a span
    repeated 10M times contributes one row per map partition; the
    join-back that finds non-first occurrences is AQE-skew-splittable.
    Coverage stays array-side: removal starts are collect_set into a
    per-doc array (bounded by doc length), and token filtering is a
    JVM lambda over (position, starts) — no per-token shuffle.  Docs
    shorter than ``k`` words have no spans and pass through intact.
    """
    spans = _doc_spans(docs, id_col, text_col, k)
    firsts = spans.groupBy("span").agg(
        F.min(F.struct("__id", "pos")).alias("__k"),
        F.count("*").alias("__c"),
    )
    dup_occurrences = spans.join(firsts, "span").filter(
        (F.col("__c") >= 2)
        & ~(
            (F.col("__id") == F.col("__k.__id"))
            & (F.col("pos") == F.col("__k.pos"))
        )
    )
    return _remove_span_starts(docs, dup_occurrences, id_col, text_col, k)


def _doc_spans(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(__id, pos, span) for every overlapping k-word window; docs
    shorter than k words emit nothing.  Pipelined explode — no shuffle."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_starts = F.greatest(F.size(words) - F.lit(k - 1), F.lit(0))
    spans_arr = F.transform(
        F.sequence(F.lit(0), n_starts - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
    )
    return docs.filter(F.size(words) >= k).select(
        F.col(id_col).alias("__id"),
        F.posexplode(spans_arr).alias("pos", "span"),
    )


def _remove_span_starts(
    docs: DataFrame,
    dup_occurrences: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
) -> DataFrame:
    """Reassemble docs with every token covered by a (__id, pos)
    removal start cut out.  Coverage stays array-side per doc (state
    bounded by doc length)."""
    dup_starts = dup_occurrences.groupBy("__id").agg(
        F.collect_set("pos").alias("starts")
    )
    covered = lambda j: F.exists(  # noqa: E731 — span start covering token j?
        F.col("starts"), lambda s: (s <= j) & (j <= s + F.lit(k - 1))
    )
    return (
        docs.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .join(dup_starts, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.split(F.trim(F.col("__text")), r"\s+").alias("w"),
            F.coalesce("starts", F.array().cast("array<int>")).alias("starts"),
        )
        .select(
            id_col,
            F.size("w").cast("bigint").alias("n_tokens"),
            F.size(
                F.filter("w", lambda _, j: covered(j))
            ).cast("bigint").alias("n_removed"),
            F.concat_ws(
                " ", F.filter("w", lambda _, j: ~covered(j))
            ).alias("clean_text"),
        )
    )


def incremental_substring_dedup(
    new_docs: DataFrame,
    span_index: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """Incremental ExactSubstr — the nightly-batch form of
    :func:`remove_repeated_spans`: a new batch is cleaned against a
    persisted INDEX of every k-gram span the corpus has already
    contributed, so earlier batches' text is never re-read.

    A batch occurrence is cut when its span is in the index (it
    occurred in an earlier batch) or when it is a non-first occurrence
    within the batch.  Returns ``(clean, new_index)`` where ``clean``
    is (id, n_tokens, n_removed, clean_text) and ``new_index`` appends
    the batch's distinct spans (spans of the RAW batch text — global
    ExactSubstr compares against original positions, not cleaned
    ones).  Processing batches in doc-id order reproduces the global
    operator exactly (equivalence pinned in
    tests/test_plan_independence.py's incremental twin style).

    Scale shape: the index stores one row per DISTINCT span —
    boilerplate repeated 10M times is one row — and candidate lookup
    is a span-keyed semi join (bucketing the index by span makes it
    shuffle-free on the index side, the incremental_exact_dedup
    recipe).  Batch-internal dedup reuses the map-side-combined
    first-keeper."""
    spans = _doc_spans(new_docs, id_col, text_col, k)
    firsts = spans.groupBy("span").agg(
        F.min(F.struct("__id", "pos")).alias("__k"),
        F.count("*").alias("__c"),
    )
    dup_in_batch = spans.join(firsts, "span").filter(
        (F.col("__c") >= 2)
        & ~(
            (F.col("__id") == F.col("__k.__id"))
            & (F.col("pos") == F.col("__k.pos"))
        )
    ).select("__id", "pos")
    batch_spans = spans.select("span").distinct()
    if span_index is None:
        dup = dup_in_batch
        new_index = batch_spans
    else:
        seen = spans.join(span_index, "span", "left_semi").select("__id", "pos")
        dup = dup_in_batch.unionByName(seen).distinct()
        new_index = span_index.unionByName(
            batch_spans.join(span_index, "span", "left_anti")
        )
    clean = _remove_span_starts(new_docs, dup, id_col, text_col, k)
    return clean, new_index
