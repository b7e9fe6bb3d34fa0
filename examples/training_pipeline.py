#!/usr/bin/env python
"""End-to-end training-data pipeline: the full engine chained.

    pages (url, warc_ts, html, lang) — mixed PDF payloads + real HTML
      → extract()                       main-content extraction (fused;
                                        per-payload format dispatch)
      → filter_blocked_domains()        URL blocklist (cheapest first)
      → gopher_rules + quality_score
        + c4_rules                      document quality gates
      → canonical-url + exact dedup     duplicate removal
      → minhash LSH (capped + audited)  near-dup removal
      → corpus_line_dedup()             global boilerplate-line dedup
      → decontaminate()                 benchmark n-gram collision filter
      → scrub_pii()                     email/IP/phone redaction
      → assign_split()                  deterministic train/val/test
      → hashed_embedding → ivf_topk     embedding + ANN neighbors
      → shard_corpus()                  hash-shuffled training shards
      → one JSON summary line

Run: python examples/training_pipeline.py [n_docs]
Everything is deterministic (synthetic corpus, seeded per url).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 300

    from pyspark.sql import functions as F

    from ocr_spark.genpages import pages_df
    from ocr_spark.operators.dedup import exact_dedup
    from ocr_spark.operators.embed import hashed_embedding
    from ocr_spark.operators.similarity import ivf_topk
    from ocr_spark.operators.text_analysis import gopher_rules, quality_score
    from ocr_spark.operators.urls import canonicalize
    from ocr_spark.pipeline import extract
    from ocr_spark.session import get_spark

    spark = get_spark("training-pipeline")

    # 1. extraction: payload bytes → clean text (mixed corpus: PDF-style
    # payloads + real HTML pages through the boilerplate-strip path, one
    # job, one schema)
    pages = pages_df(spark, n_docs).unionByName(
        pages_df(spark, n_docs // 2, kind="html")
    )
    docs = (
        extract(pages)
        .filter(F.col("status") == "COMPLETED")
        .select(
            F.col("url"), F.col("text"), F.col("n_pages"), F.col("ocr_pages")
        )
        .withColumn("doc_id", F.xxhash64("url"))
    )

    # plant realistic corpus dirt: re-crawled duplicates (same content,
    # tracking-param urls) and machine-junk docs — so each stage below has
    # real work to do
    dups = (
        docs.orderBy("doc_id")
        .limit(10)
        .withColumn("url", F.concat("url", F.lit("?utm_source=recrawl")))
        .withColumn("doc_id", F.xxhash64("url"))
    )
    junk = spark.createDataFrame(
        [(f"http://junk.example/{i}", "@@ ## %% " * 40, 1, 0) for i in range(5)],
        "url string, text string, n_pages int, ocr_pages int",
    ).withColumn("doc_id", F.xxhash64("url"))
    docs = docs.unionByName(dups).unionByName(junk)

    # 1b. URL blocklist — the cheapest filter runs FIRST (pure
    # projection-side predicate, pushed toward the scan; no join)
    from ocr_spark.operators.urls import filter_blocked_domains

    n_before = docs.count()
    docs = filter_blocked_domains(docs, ["junk.example"])
    blocked_removed = n_before - docs.count()

    # 2. quality gates: Gopher rules + composite score + C4 flags
    # (curly-brace/lorem are hard drops; the other C4 columns are audit
    # signals a real pipeline thresholds per-language)
    from ocr_spark.operators.text_analysis import c4_rules

    gated = (
        c4_rules(quality_score(gopher_rules(docs)))
        .filter(
            F.col("g_keep")
            & (F.col("quality") >= 0.3)
            & ~F.col("c4_has_curly")
            & ~F.col("c4_has_lorem")
        )
        .select("doc_id", "url", "text")
        .cache()
    )

    # 3. dedup: canonical url + exact content digest
    canon = gated.withColumn("canonical_url", canonicalize(F.col("url")))
    reps = exact_dedup(canon, text_col="text").select(
        F.col("representative").alias("doc_id")
    )
    unique = canon.join(reps, "doc_id", "left_semi").cache()

    # 3b. near-dup pass: banded MinHash LSH with an EXPLICIT hot-bucket
    # cap, paired with its audit view — the cap bounds recall, so a real
    # run must log what it dropped (the never-cap-silently contract).
    # Removal is CLUSTER-aware: connected components of the pair graph
    # keep one representative per component (pairwise doc_b removal can
    # keep two transitively-linked near-copies)
    from ocr_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        lsh_hot_buckets,
        minhash_signatures,
    )

    max_bucket = 10_000
    sigs = minhash_signatures(unique, num_perm=8).cache()
    pairs = lsh_candidate_pairs(sigs, num_perm=8, max_bucket=max_bucket)
    near = (
        connected_components(pairs)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    capped_buckets = lsh_hot_buckets(
        sigs, num_perm=8, max_bucket=max_bucket
    ).count()
    unique = unique.join(near, "doc_id", "left_anti").cache()

    # 3c. corpus-global line dedup (the C4 step): boilerplate lines that
    # survive per-document extraction — footers, cookie banners — keep
    # only their first occurrence corpus-wide
    from ocr_spark.operators.dedup import corpus_line_dedup

    ld = corpus_line_dedup(unique).cache()
    dup_lines_removed = int(
        ld.agg(
            F.sum(F.col("n_lines") - F.col("n_lines_kept"))
        ).collect()[0][0]
        or 0
    )
    unique = unique.drop("text").join(
        ld.select("doc_id", F.col("clean_text").alias("text")), "doc_id"
    ).cache()

    # 4. benchmark decontamination: docs overlapping the "eval set"
    # (here: a planted slice of the corpus itself) are removed
    from ocr_spark.operators.decontam import decontaminate

    bench = (
        unique.orderBy("doc_id")
        .limit(5)
        .select(F.col("doc_id").alias("bench_id"), "text")
    )
    decontaminated = decontaminate(unique, bench, n=5, threshold=0.5).cache()

    # 5. PII scrub + deterministic split assignment
    from ocr_spark.operators.pii import scrub_pii
    from ocr_spark.operators.splits import assign_split

    final = assign_split(
        scrub_pii(decontaminated).drop("text").withColumnRenamed(
            "clean_text", "text"
        ),
        {"train": 0.98, "val": 0.01, "test": 0.01},
    ).cache()

    # 6. embeddings + ANN neighbors over the surviving corpus
    vectors = hashed_embedding(final).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    queries = vectors.limit(3)
    neighbors = ivf_topk(vectors, queries, k=3, n_centroids=8, n_probe=2)

    splits = {
        r.split: r["count"]
        for r in final.groupBy("split").count().collect()
    }

    # 7. export: deterministic global pseudo-shuffle into training shards
    from ocr_spark.operators.splits import shard_corpus

    sharded = shard_corpus(final.filter("split = 'train'"), 4)
    shard_sizes = {
        int(r.shard): r["count"]
        for r in sharded.groupBy("shard").count().collect()
    }
    print(
        json.dumps(
            {
                "input_docs": n_docs,
                "extracted": docs.count() + blocked_removed,
                "blocked_domain_docs": blocked_removed,
                "after_quality": gated.count(),
                "after_dedup": unique.count(),
                "lsh_capped_buckets": capped_buckets,
                "dup_lines_removed": dup_lines_removed,
                "after_decontam": decontaminated.count(),
                "splits": splits,
                "train_shards": shard_sizes,
                "ann_rows": neighbors.count(),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
