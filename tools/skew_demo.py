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
Each mode runs in its own Python process, so each gets a fresh JVM and
neither inherits the other's JIT state.  Prints one JSON line with both
wall-clocks (best-of-2) and whether the two outputs' whole-row digests
are equal.
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

MODES = ("fused", "paged")


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


def row_digest(df) -> str:
    """sha256 over the sorted sha256 of every document row's scalar
    columns (text, counts, status, error) and of every flattened line
    (url, page, block, block type, line, content)."""
    from pyspark.sql import functions as F

    from ocr_spark.pipeline import flatten_lines

    scalars = [c for c in df.columns if c != "pages"]
    hashes = [
        r.h
        for part in (df.select(*scalars), flatten_lines(df))
        for r in part.select(
            F.sha2(F.to_json(F.struct("*")), 256).alias("h")
        ).collect()
    ]
    return hashlib.sha256("\n".join(sorted(hashes)).encode()).hexdigest()


def run_mode(mode: str, n_small: int, giant_pages: int) -> dict:
    """One mode in this process's JVM: best-of-2 wall-clock into noop,
    then the output digest (not timed)."""
    from ocr_spark.pipeline import PipelineConfig, extract
    from ocr_spark.session import get_spark

    spark = get_spark("skew-demo")  # local[host cores] (session default)
    corpus = build_corpus(spark, n_small, giant_pages)
    corpus.count()  # materialize the cache (corpus build not timed)
    df = extract(corpus, PipelineConfig(mode=mode))
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    out = {"sec": round(best, 2), "digest": row_digest(df)}
    spark.stop()
    return out


def main() -> int:
    args = sys.argv[1:]
    if args and args[0] == "--mode":
        mode, n_small, giant_pages = args[1], int(args[2]), int(args[3])
        print(json.dumps(run_mode(mode, n_small, giant_pages)))
        return 0
    n_small = int(args[0]) if args else 2000
    giant_pages = int(args[1]) if len(args) > 1 else 20000

    runs = {}
    for mode in MODES:
        proc = subprocess.run(
            [sys.executable, __file__, "--mode", mode, str(n_small),
             str(giant_pages)],
            stdout=subprocess.PIPE,
            text=True,
            check=True,
        )
        runs[mode] = json.loads(proc.stdout.strip().splitlines()[-1])
    print(
        json.dumps(
            {
                "small_docs": n_small,
                "giant_pages": giant_pages,
                "fused_sec": runs["fused"]["sec"],
                "paged_sec": runs["paged"]["sec"],
                "speedup_paged_over_fused": round(
                    runs["fused"]["sec"] / runs["paged"]["sec"], 2
                ),
                "outputs_identical": (
                    runs["fused"]["digest"] == runs["paged"]["digest"]
                ),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
