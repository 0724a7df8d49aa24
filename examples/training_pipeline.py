#!/usr/bin/env python
"""Executable end-to-end training-data pipeline over the test corpus —
the "a user of the engine would actually run this" demo that chains
the curation operators in their production order:

  1. quality gates + language ID               (functions/text)
  2. exact dedup                               (operators/dedup)
  3. CCNet segment-level dedup                 (operators/dedup)
  3b. ExactSubstr repeated-span dedup          (operators/dedup)
  4. MinHash-LSH near-dup dedup                (operators/dedup)
  5. n-gram decontamination vs an eval set     (queries recipe)
  6. stable train/val/test split               (md5 hash ranges)
  7. per-source token-budget mixture           (window cumsum)
  8. deterministic epoch shuffle order         (TakeOrdered on md5)
  9. write the curated corpus as a VERSIONED table (exactly-once
     batch commit, time-travel readable)

plus the multimodal side-car: synthesize a small media table, decode
it through the real PPM/PNG/JPEG/WAV/Y4M codecs, and drop image
near-dups by perceptual hash.

    python examples/training_pipeline.py [sf_dir]

Prints one summary line per stage (rows in -> rows out), so the
output doubles as a smoke test; tests/test_walkthrough.py-style
assertions live in the test suite, not here.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sparkplans.functions.text import quality_score
from sparkplans.operators import dedup, multimodal
from sparkplans.session import EngineOptions, build_session
from sparkplans.sources import load_table
from sparkplans.table import VersionedTable


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = build_session(EngineOptions(), app_name="training-pipeline")

    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()
    print(f"[0] corpus: {n0} docs")

    # 1. quality gate (cheap JVM expressions; threshold is corpus-tuned)
    gated = docs.filter(quality_score("text") >= 0.3)
    print(f"[1] quality gate: {n0} -> {gated.count()}")

    # 2. exact dedup (md5 fingerprint groupBy)
    exact = dedup.exact_dedup(gated)
    print(f"[2] exact dedup: -> {exact.count()}")

    # 3. CCNet segment-level dedup; drop empty shells
    segs = dedup.segment_dedup(exact, window=3)
    cleaned = (
        segs.filter(F.col("n_kept") >= 1)
        .join(exact.select("doc_id", "lang", "source"), "doc_id")
        .select("doc_id", "lang", "source", F.col("clean_text").alias("text"))
    )
    print(f"[3] segment dedup: -> {cleaned.count()} (reassembled)")

    # 3b. exact-substring dedup: cut verbatim >=6-word spans whose
    # first occurrence is elsewhere (catches any alignment the tiled
    # segments missed); keep docs that still have >= 3 words
    spans = dedup.remove_repeated_spans(cleaned, k=6)
    cleaned = (
        spans.filter(F.col("n_tokens") - F.col("n_removed") >= 3)
        .join(cleaned.select("doc_id", "lang", "source"), "doc_id")
        .select("doc_id", "lang", "source", F.col("clean_text").alias("text"))
    )
    print(f"[3b] substring dedup: -> {cleaned.count()} (spans removed)")

    # 4. near-dup dedup (MinHash-LSH + verify + connected components)
    near = dedup.deduplicate(cleaned, threshold=0.7)
    print(f"[4] near-dup dedup: -> {near.count()}")

    # 4b. decontamination vs a held-out eval set: broadcast Bloom of
    # the eval 8-grams probed map-side; only flagged grams reach the
    # exact verify join (no false negatives => identical to the plain
    # exact join, at a fraction of the shuffle)
    from sparkplans.operators.bloom import bloom_build, bloom_member

    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    grams_expr = (
        "CASE WHEN size(toks) >= 8 THEN "
        "transform(sequence(0, size(toks) - 8), "
        "i -> md5(concat_ws(' ', slice(toks, i + 1, 8)))) "
        "ELSE array() END"
    )
    eval_grams = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(toks.alias("toks"))
        .select(F.explode(F.expr(grams_expr)).alias("gram"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    words = bloom_build(eval_grams, "gram", num_bits=1 << 18)
    doc_grams = near.select(
        "doc_id", toks.alias("toks")
    ).select("doc_id", F.explode(F.expr(grams_expr)).alias("gram"))
    flagged = doc_grams.filter(bloom_member("gram", words))
    contaminated = (
        flagged.join(eval_grams, "gram").select("doc_id").distinct()
    )
    near = near.join(contaminated, "doc_id", "left_anti")
    print(f"[4b] bloom decontamination: -> {near.count()} "
          f"({contaminated.count()} eval-overlapping docs dropped)")

    # 5. split (stable md5 hash ranges — re-runs never migrate docs)
    b = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % 100
    )
    split = near.withColumn(
        "split",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test"),
    )
    split.groupBy("split").count().orderBy("split").show()

    # 6. per-source token budget (greedy fill in hash order)
    from pyspark.sql.window import Window

    t = split.withColumn(
        "n_tokens", F.size(F.split(F.trim(F.col("text")), r"\s+"))
    ).withColumn("k", F.md5(F.col("doc_id").cast("string")))
    w = (
        Window.partitionBy("source")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mixed = t.withColumn("cum", F.sum("n_tokens").over(w)).filter(
        F.col("cum") - F.col("n_tokens") < 500
    )
    print(f"[6] token-budget mixture: -> {mixed.count()}")

    # 7. deterministic epoch order + 8. versioned commit
    ordered = mixed.orderBy(
        F.md5(F.concat(F.lit("epoch-1:"), F.col("doc_id").cast("string"))),
        "doc_id",
    ).select("doc_id", "lang", "source", "split", "n_tokens", "text")
    root = tempfile.mkdtemp(prefix="curated_corpus_")
    table = VersionedTable(spark, root)
    v = table.append(ordered)
    print(f"[8] committed curated corpus v{v} at {root}: "
          f"{table.read().count()} docs")

    # multimodal side-car: real codecs + cross-modal perceptual dedup
    media = multimodal.synthetic_png_media(spark, n=12)
    feats = multimodal.extract_image_features(media)
    print(f"[9] media featurized: {feats.count()} images "
          f"(real PNG decode, Arrow-batched)")
    pairs = multimodal.media_near_dups(media)
    print(f"[9] cross-modal near-dup pairs: {pairs.count()} "
          f"(image dHash / audio constellation / video frame-dhash)")

    spark.stop()


if __name__ == "__main__":
    main()
