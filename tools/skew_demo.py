#!/usr/bin/env python
"""Giant-document skew demonstration: fused (doc-level) vs paged
(page-level salted spread) on a pathological corpus.

Corpus: N small docs plus ONE document of GIANT_PAGES pages.  In fused
mode the giant doc is a single UDF work item — one task runs ~as long as
the whole giant doc takes, capping wall-clock at that task; in paged mode
its pages are salted across partitions (repartition(xxhash64(url,
page_i))) so the straggler dissolves.  This is the R3 lever from
SURVEY.md §2.9 / the reference's cross-doc page flattening
(document.py:783).

Usage: python tools/skew_demo.py [small_docs] [giant_pages]
Runs on local[N] with N the host's cores (SPARK_GRAFT_CPUS overrides).
Prints one JSON line with both wall-clocks (best-of-2) and the outputs'
equality check.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def build_corpus(spark, n_small: int, giant_pages: int):
    import pandas as pd

    from ocr_spark.fixtures import EPOCH, make_doc, make_page, url_for
    from ocr_spark.payload import encode_doc

    rows = [make_doc(k) for k in range(1, n_small + 1)]
    url = url_for(0)
    pages = [make_page(url, i, "A") for i in range(giant_pages)]
    rows.insert(
        0,
        {
            "url": url,
            "warc_ts": EPOCH,
            "html": encode_doc(pages, dpi=200, kind="A"),
            "lang": "en",
        },
    )
    pdf = pd.DataFrame(
        {
            "url": [r["url"] for r in rows],
            "warc_ts": [r["warc_ts"] for r in rows],
            "html": [r["html"] for r in rows],
            "text": "",
            "lang": [r["lang"] for r in rows],
        }
    )
    return spark.createDataFrame(pdf).repartition(32).cache()


def main() -> int:
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    giant_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 20000

    from ocr_spark.pipeline import PipelineConfig, extract, flatten_lines
    from ocr_spark.session import get_spark

    spark = get_spark("skew-demo")  # local[host cores] (session default)
    corpus = build_corpus(spark, n_small, giant_pages)
    corpus.count()  # materialize the cache (corpus build not timed)

    results = {}
    outputs = {}
    for mode in ("fused", "paged"):
        df = extract(corpus, PipelineConfig(mode=mode))
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        results[mode] = round(best, 2)
        outputs[mode] = (
            flatten_lines(df)
            .selectExpr(
                "bit_xor(xxhash64(url, page_i, block_i, block_type, "
                "line_i, content)) h"
            )
            .first()[0]
        )
    print(
        json.dumps(
            {
                "small_docs": n_small,
                "giant_pages": giant_pages,
                "fused_sec": results["fused"],
                "paged_sec": results["paged"],
                "speedup_paged_over_fused": round(
                    results["fused"] / results["paged"], 2
                ),
                "outputs_identical": outputs["fused"] == outputs["paged"],
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
