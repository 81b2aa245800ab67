#!/usr/bin/env python
"""spark-submit entry point for the dataset-card report.

    spark-submit --master <cluster> --py-files ocr_spark.zip \
        jobs/report_job.py --input /path/documents_parquet \
        [--output /path/card.json]

Produces the dataset card a curated corpus ships with (the datasheet /
model-card data section): row and token totals, byte size, language and
source composition, length distribution (exact quartiles here;
percentile_approx at scale), exact-duplicate rate, and quality-score
quartiles — all computed in TWO passes (one row-level aggregate pass
with every distribution statistic, one sha-keyed dedup aggregate),
never a pass per statistic. Prints the card as one JSON line and
optionally writes it to a file.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet dir")
    ap.add_argument("--output", default=None, help="optional card.json path")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ocr_spark.session import build_session

    spark = build_session(app_name="ocr_spark_report")
    spark.sparkContext.setLogLevel("WARN")

    from ocr_spark.functions import quality_score, tokens

    t0 = time.time()
    doc = spark.read.parquet(args.input)
    base = doc.select(
        "doc_id",
        "lang",
        "source",
        F.octet_length("text").alias("n_bytes"),
        F.size(tokens("text")).alias("n_tokens"),
        quality_score("text").alias("quality"),
        F.sha2("text", 256).alias("sha"),
    )

    totals = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_bytes").alias("n_bytes"),
        F.expr("percentile(n_tokens, array(0.25, 0.5, 0.75))").alias("len_q"),
        F.expr("percentile(quality, array(0.25, 0.5, 0.75))").alias("qual_q"),
        F.countDistinct("sha").alias("n_unique"),
    ).collect()[0]

    if totals.n_docs == 0:
        # empty corpus: emit an explicit empty card instead of dividing
        # by zero in the duplicate rate (or printing null totals)
        line = json.dumps({"n_docs": 0, "wall_s": round(time.time() - t0, 2)})
        print(line)
        if args.output:
            with open(args.output, "w") as fh:
                fh.write(line + "\n")
        spark.stop()
        return

    def mix(col):
        rows = (
            base.groupBy(col)
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc(col))
            .collect()
        )
        return {r[col]: r["n"] for r in rows}

    # novelty card: one extra gram-keyed pass (curate.ngram_novelty, the
    # oracle-checked production fn) reduced to three scalars — the
    # boilerplate health check a dataset card ships with. Docs with <3
    # tokens carry no grams and are excluded from the novelty stats.
    from ocr_spark.curate import ngram_novelty

    nov = ngram_novelty(doc.select("doc_id", "text")).agg(
        F.count("*").alias("n_scored"),
        F.round(F.avg("novelty"), 6).alias("mean_novelty"),
        F.sum(F.expr("if(novelty < 0.3, 1, 0)")).alias("n_low"),
    ).collect()[0]

    card = {
        "n_docs": int(totals.n_docs),
        "n_tokens": int(totals.n_tokens),
        "n_bytes": int(totals.n_bytes),
        "token_len_quartiles": [round(float(x), 2) for x in totals.len_q],
        "quality_quartiles": [round(float(x), 4) for x in totals.qual_q],
        "exact_duplicate_rate": round(
            1.0 - totals.n_unique / totals.n_docs, 6
        ),
        "languages": mix("lang"),
        "sources": mix("source"),
        "mean_novelty": float(nov.mean_novelty) if nov.n_scored else None,
        "low_novelty_rate": (
            round(int(nov.n_low) / int(nov.n_scored), 6) if nov.n_scored else None
        ),
        "wall_s": round(time.time() - t0, 2),
    }
    line = json.dumps(card)
    print(line)
    if args.output:
        with open(args.output, "w") as fh:
            fh.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
