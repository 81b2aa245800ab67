#!/usr/bin/env python
"""spark-submit entry point for the COMPLETE curation run — every stage
a training-data pipeline chains between raw transcripts and a packed,
carded dataset, composed from the same production functions the oracle
harness value-checks:

    spark-submit --master <cluster> --py-files ocr_spark.zip \
        jobs/full_pipeline.py --input /path/transcripts_parquet \
        --eval /path/benchmark_parquet --output /path/dataset

Stages (each writes its own parquet under <output>/ so any stage can be
re-inspected or re-run; the funnel records every row count):

  1. extract      resumable snapshot extraction (anti-join vs committed
                  snapshots, vectorized Arrow UDF whose tasks write the
                  snapshot files and their totals) -> ordered
                  conversation rollup
  2. gate+split   quality/stopword/length gates, exact dedup keep-first,
                  content-keyed train/val/test split (curate.curate —
                  funnel counts come from Observation nodes in the same
                  plan, no extra counting passes)
  3. near-dedup   MinHash K=128 -> LSH 16x8 band buckets -> exact-Jaccard
                  verify -> large-star/small-star connected components ->
                  one highest-quality representative kept per cluster
  4. decontam     exact n-gram + fuzzy MinHash-band contamination vs the
                  held-out benchmark set; contaminated docs dropped, the
                  per-doc audit kept
  5. mixture      per-split composition + deterministic token-budget trim
                  of the train split (quality-ranked cumulative token sum
                  inside ONE window — docs past the budget are cut)
  6. pack         2048-token sequence packing of the final train split
                  (grouped-map Arrow, shard = hash(doc_id) % n_shards)
  7. card         dataset card: funnel, composition, length/quality
                  quartiles, packed-sequence stats -> card.json +
                  DATASET_CARD.md

100 TB shape notes: every stage is the audited production operator —
extraction is a narrow Arrow map over byte-bounded scan splits (no
shuffle; the raw payloads never leave the task that scanned them); the
wide moves are the gate's sha dedup groupBy, the dedup chain's
band-bucket join (candidate-first verify, broadcast caps on degenerate
keys), the decontam joins (eval side reduced to fingerprints and
broadcast when small), the split window, and the pack's one
hash(doc_id) exchange. No stage collects data to the driver; funnel
counts are Observations or count() actions over committed parquet.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def run(
    spark,
    input_path: str,
    eval_path: str,
    output: str,
    min_jaccard: float = 0.25,
    decontam_ngram: int = 13,
    train_token_budget: int | None = None,
    seq_len: int = 2048,
    n_shards: int = 16,
) -> dict:
    """Run the full chain; returns the dataset card as a dict (also
    written to ``<output>/card.json`` and ``<output>/DATASET_CARD.md``)."""
    from pyspark.sql import Window, functions as F

    from ocr_spark.curate import curate, funnel
    from ocr_spark.dedup import (
        exact_decontam_report,
        fuzzy_decontam_report,
        near_dedup,
        shingles,
    )
    from ocr_spark.operators.aggregate import conv_text
    from ocr_spark.operators.packing import pack_sequences
    from ocr_spark.pipeline import read_metrics, run_resumable

    t0 = time.time()
    stage_wall: dict[str, float] = {}
    fun: dict[str, int] = {}

    # ---- 1. extract ----
    ts = time.time()
    transcripts = spark.read.parquet(input_path)
    committed = run_resumable(
        spark, transcripts, os.path.join(output, "extracted")
    )
    corpus = conv_text(committed).select(
        F.col("conv_id").alias("doc_id"), F.col("full_text").alias("text")
    )
    corpus_dir = os.path.join(output, "corpus")
    corpus.write.mode("overwrite").parquet(corpus_dir)
    corpus = spark.read.parquet(corpus_dir)
    fun["turns_extracted"] = committed.count()
    fun["conversations"] = corpus.count()
    metrics = read_metrics(spark, os.path.join(output, "extracted"))
    parse_failures = (
        int(metrics.groupBy().sum("parse_failures").collect()[0][0])
        if metrics is not None
        else None
    )
    stage_wall["extract"] = round(time.time() - ts, 1)

    # ---- 2. hygiene gates + exact dedup + content-keyed split ----
    ts = time.time()
    curated, obs = curate(corpus)
    curated_dir = os.path.join(output, "curated")
    curated.write.mode("overwrite").parquet(curated_dir)
    curated = spark.read.parquet(curated_dir)
    fun.update(
        (f"gate_{k}", v) for k, v in funnel(obs).items()
    )  # input / gated / deduped
    stage_wall["gate"] = round(time.time() - ts, 1)

    # ---- 3. near-duplicate dedup (MinHash/LSH/verify/CC/representatives) ----
    ts = time.time()
    docs = curated.select("doc_id", "text")
    scores = curated.select("doc_id", F.col("quality"))
    kept, clusters, pairs = near_dedup(
        docs, scores, min_jaccard=min_jaccard, cc="two-phase"
    )
    pairs.write.mode("overwrite").parquet(os.path.join(output, "dedup_pairs"))
    clusters.write.mode("overwrite").parquet(
        os.path.join(output, "dedup_clusters")
    )
    kept_dir = os.path.join(output, "deduped")
    kept.join(
        curated.select("doc_id", "n_tokens", "quality", "split"), "doc_id"
    ).write.mode("overwrite").parquet(kept_dir)
    deduped = spark.read.parquet(kept_dir)
    fun["near_dedup_kept"] = deduped.count()
    fun["near_dup_pairs"] = spark.read.parquet(
        os.path.join(output, "dedup_pairs")
    ).count()
    stage_wall["near_dedup"] = round(time.time() - ts, 1)

    # ---- 4. decontamination vs the benchmark set ----
    ts = time.time()
    evalset = spark.read.parquet(eval_path).select("doc_id", "text")
    train_docs = deduped.select("doc_id", "text")
    exact = exact_decontam_report(
        shingles(train_docs, n=decontam_ngram),
        shingles(evalset, n=decontam_ngram),
    ).select("doc_id", "n_hits")
    fuzzy = fuzzy_decontam_report(
        train_docs, evalset, threshold=min_jaccard
    ).select("doc_id", "contaminated")
    flagged = (
        exact.join(fuzzy, "doc_id", "full")
        .select(
            "doc_id",
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("exact_contaminated"),
            F.coalesce("contaminated", F.lit(False)).alias(
                "fuzzy_contaminated"
            ),
        )
        .filter("exact_contaminated OR fuzzy_contaminated")
    )
    flagged.write.mode("overwrite").parquet(
        os.path.join(output, "decontam_flagged")
    )
    flagged = spark.read.parquet(os.path.join(output, "decontam_flagged"))
    clean_dir = os.path.join(output, "clean")
    deduped.join(flagged.select("doc_id"), "doc_id", "left_anti").write.mode(
        "overwrite"
    ).parquet(clean_dir)
    clean = spark.read.parquet(clean_dir)
    fun["decontam_flagged"] = flagged.count()
    fun["decontam_kept"] = clean.count()
    stage_wall["decontam"] = round(time.time() - ts, 1)

    # ---- 5. mixture: per-split composition + train token budget ----
    ts = time.time()
    composition = {
        r["split"]: {"docs": r["docs"], "tokens": r["tokens"]}
        for r in clean.groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens"),
        )
        .collect()
    }
    train = clean.filter(F.col("split") == "train")
    if train_token_budget:
        # deterministic trim: best-quality docs first (ties by doc_id),
        # cut where the running token total passes the budget. ONE window
        # over the train split; at scale the same trim runs per
        # quality-decile partition to bound the sort.
        w = (
            Window.orderBy(F.desc("quality"), F.asc("doc_id"))
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        train = (
            train.withColumn("cum_tokens", F.sum("n_tokens").over(w))
            .filter(F.col("cum_tokens") <= train_token_budget)
            .drop("cum_tokens")
        )
    train_dir = os.path.join(output, "train")
    train.write.mode("overwrite").parquet(train_dir)
    train = spark.read.parquet(train_dir)
    fun["train_docs_final"] = train.count()
    stage_wall["mixture"] = round(time.time() - ts, 1)

    # ---- 6. sequence packing of the train split ----
    ts = time.time()
    packed = pack_sequences(
        train.select(
            F.abs(F.xxhash64("doc_id")).alias("doc_id"), "text"
        ),
        seq_len=seq_len,
        n_shards=n_shards,
    )
    packed_dir = os.path.join(output, "packed")
    packed.write.mode("overwrite").parquet(packed_dir)
    packed = spark.read.parquet(packed_dir)
    pack_stats = packed.agg(
        F.count("*").cast("bigint").alias("sequences"),
        F.sum("n_tokens").cast("bigint").alias("tokens_packed"),
        F.round(F.avg("n_tokens") / seq_len, 4).alias("fill_ratio"),
    ).collect()[0]
    fun["packed_sequences"] = int(pack_stats["sequences"])
    stage_wall["pack"] = round(time.time() - ts, 1)

    # ---- 7. dataset card ----
    quartiles = clean.agg(
        F.expr("percentile(n_tokens, array(0.25, 0.5, 0.75))").alias("len_q"),
        F.expr("percentile(quality, array(0.25, 0.5, 0.75))").alias("qual_q"),
    ).collect()[0]
    len_q = quartiles["len_q"] or []  # empty corpus -> null percentiles
    qual_q = quartiles["qual_q"] or []
    card = {
        "pipeline": "extract -> gate+split -> near_dedup -> decontam -> mixture -> pack",
        "funnel": fun,
        "parse_failures": parse_failures,
        "composition_by_split": composition,
        "train_token_budget": train_token_budget,
        "token_quartiles": [round(x, 1) for x in len_q],
        "quality_quartiles": [round(x, 4) for x in qual_q],
        "packed": {
            "seq_len": seq_len,
            "n_shards": n_shards,
            "sequences": int(pack_stats["sequences"]),
            "tokens_packed": int(pack_stats["tokens_packed"]),
            "fill_ratio": float(pack_stats["fill_ratio"]),
        },
        "stage_wall_s": stage_wall,
        "wall_s": round(time.time() - t0, 1),
        "output": output,
    }
    with open(os.path.join(output, "card.json"), "w") as fh:
        json.dump(card, fh, indent=1, sort_keys=True)
    _write_card_md(os.path.join(output, "DATASET_CARD.md"), card)
    return card


def _write_card_md(path: str, card: dict) -> None:
    fun = card["funnel"]
    lines = [
        "# Dataset card",
        "",
        f"Pipeline: `{card['pipeline']}`",
        "",
        "## Stage funnel",
        "",
        "| stage | rows |",
        "| --- | --- |",
    ]
    for k, v in fun.items():
        lines.append(f"| {k} | {v} |")
    lines += [
        "",
        f"Parse failures during extraction: {card['parse_failures']}",
        "",
        "## Composition by split (post-decontam)",
        "",
        "| split | docs | tokens |",
        "| --- | --- | --- |",
    ]
    for split in sorted(card["composition_by_split"]):
        c = card["composition_by_split"][split]
        lines.append(f"| {split} | {c['docs']} | {c['tokens']} |")
    p = card["packed"]
    lines += [
        "",
        f"Token quartiles (docs): {card['token_quartiles']}; "
        f"quality quartiles: {card['quality_quartiles']}",
        "",
        "## Packed train split",
        "",
        f"- {p['sequences']} sequences of {p['seq_len']} tokens "
        f"across {p['n_shards']} shards",
        f"- {p['tokens_packed']} tokens packed, fill ratio {p['fill_ratio']}",
        "",
        f"Stage wall seconds: {json.dumps(card['stage_wall_s'])}; "
        f"total {card['wall_s']}s.",
        "",
    ]
    with open(path, "w") as fh:
        fh.write("\n".join(lines))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet dir")
    ap.add_argument("--eval", dest="eval_path", required=True,
                    help="held-out benchmark parquet dir (doc_id, text)")
    ap.add_argument("--output", required=True, help="dataset output root")
    ap.add_argument("--min-jaccard", type=float, default=0.25)
    ap.add_argument("--decontam-ngram", type=int, default=13,
                    help="exact-rule gram width (13 = the production-standard\n                    ExactSubstr width; narrower widths over-flag on\n                    small-vocabulary corpora)")
    ap.add_argument("--train-token-budget", type=int, default=None)
    ap.add_argument("--seq-len", type=int, default=2048)
    ap.add_argument("--n-shards", type=int, default=16)
    args = ap.parse_args()

    from ocr_spark.session import build_session

    spark = build_session(app_name="ocr_spark_full_pipeline")
    spark.sparkContext.setLogLevel("WARN")
    card = run(
        spark,
        args.input,
        args.eval_path,
        args.output,
        min_jaccard=args.min_jaccard,
        decontam_ngram=args.decontam_ngram,
        train_token_budget=args.train_token_budget,
        seq_len=args.seq_len,
        n_shards=args.n_shards,
    )
    print(json.dumps(card))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
