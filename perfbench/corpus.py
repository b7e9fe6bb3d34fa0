"""Seeded, cached load generator for the extraction benchmark.

A corpus is the k-window ``[seed * n, seed * n + n)`` of the repository's
own deterministic fixtures (``fixtures.make_doc`` for the synthetic-PDF
payloads, ``fixtures.make_html_doc`` for HTML).  Because the window starts
at a multiple of ``n``, the fixture mix ratios keyed on ``k % 10`` (payload
kinds), ``k % 5`` (HTML variants) and ``k % 997`` (giant documents) hold
for every seed.

Built once per (workload, seed, n) into ``perfbench/.cache`` by a pool of
``spawn`` worker processes, each of which writes one input file (parquet,
``.warc.gz`` or both) and returns its share of the manifest: document,
page and byte counts and the oracle digest.  The oracle digest is an order-independent fold of one md5 per
document over ``url, text, n_pages, status`` as ``oracle.extract_document``
produces them; ``DIGEST_SQL`` is the same fold over the engine's output.
Nothing here runs inside a benchmark timer.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import shutil
import time
from multiprocessing import get_context, resource_tracker
from pathlib import Path

# The per-document hash: md5 over the four fields joined by U+001F.  Two
# slices of it are folded order-independently: a 60-bit slice by XOR and
# a 32-bit slice by sum (a sum catches a duplicated row, which XOR cancels;
# 32-bit terms cannot overflow a long).  COUNT guards the row count.
SEP = "\x1f"
_H = (
    "md5(concat_ws(char(31), url, coalesce(text, ''), "
    "cast(n_pages AS STRING), status))"
)
DIGEST_SQL = {
    "docs": "count(1)",
    "pages": "coalesce(sum(n_pages), 0)",
    "xor": f"coalesce(bit_xor(cast(conv(substring({_H}, 1, 15), 16, 10) AS BIGINT)), 0)",
    "sum": f"coalesce(sum(cast(conv(substring({_H}, 16, 8), 16, 10) AS BIGINT)), 0)",
}

# Cached corpora kept on disk (≈30 MB each); the least recently used are
# evicted beyond this many, enough for ten seeds of every workload.
MAX_CACHED = 24


def doc_hash(url: str, text: str, n_pages: int, status: str) -> tuple[int, int]:
    h = hashlib.md5(SEP.join((url, text, str(n_pages), status)).encode()).hexdigest()
    return int(h[:15], 16), int(h[15:23], 16)


def oracle_row(html: bytes, lang: str) -> tuple[str, int, str]:
    """(text, n_pages, status) as the engine must produce them for one doc."""
    from ocr_spark.oracle import extract_document

    try:
        doc = extract_document(html, lang or "en")
    except Exception:  # noqa: BLE001 - a payload the engine marks FAILED
        return "", 0, "FAILED"
    return doc["text"], doc["n_pages"], "COMPLETED"


def make_rows(kind: str, lo: int, hi: int) -> list[dict]:
    from ocr_spark import fixtures

    maker = fixtures.make_doc if kind == "pdf" else fixtures.make_html_doc
    rows = [maker(k) for k in range(lo, hi)]
    for r in rows:
        r["text"] = ""
    return rows


def warc_bytes(rows: list[dict]) -> bytes:
    from ocr_spark.warc import build_record, build_warc

    return build_warc(
        [
            build_record(
                r["url"], r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"), r["html"]
            )
            for r in rows
        ]
    )


def _build_chunk(kind: str, lo: int, hi: int, parquet: str | None,
                 warc: str | None) -> dict:
    """One worker task: generate docs [lo, hi), write their input file(s),
    and fold the oracle digest of the chunk."""
    from ocr_spark.fixtures import write_rows_parquet

    rows = make_rows(kind, lo, hi)
    if parquet:
        write_rows_parquet(parquet, rows)
    gz = 0
    if warc:
        data = warc_bytes(rows)
        Path(warc).write_bytes(data)
        gz = len(data)
    xor = total = pages = 0
    for r in rows:
        text, n_pages, status = oracle_row(r["html"], r["lang"])
        a, b = doc_hash(r["url"], text, n_pages, status)
        xor ^= a
        total += b
        pages += n_pages
    return {
        "docs": len(rows),
        "pages": pages,
        "payload_bytes": sum(len(r["html"]) for r in rows),
        "warc_gz_bytes": gz,
        "xor": xor,
        "sum": total,
    }


def _run_pool(procs: int, tasks: list[tuple]) -> list[dict]:
    pool = get_context("spawn").Pool(procs)
    try:
        return pool.starmap(_build_chunk, tasks)
    finally:
        pool.close()
        pool.join()
        # Spawning started a resource-tracker process.  Free the pool's
        # semaphores first, then stop the tracker and wait for it, rather
        # than leave it to exit after this process.
        del pool
        gc.collect()
        stop = getattr(resource_tracker._resource_tracker, "_stop", None)
        if stop is not None:
            stop()


def _evict(cache: Path, keep: int) -> None:
    entries = sorted(
        (p for p in cache.iterdir() if (p / "manifest.json").exists()),
        key=lambda p: p.stat().st_mtime,
    )
    for p in entries[: max(0, len(entries) - keep)]:
        shutil.rmtree(p, ignore_errors=True)


def ensure(cache: Path, workload: str, kind: str, seed: int, n: int,
           n_files: int, with_parquet: bool, with_warc: bool,
           procs: int) -> dict:
    """Return the manifest of the cached corpus, building it if absent.

    The manifest is written last, and the directory is renamed into place
    only when complete, so an interrupted build is rebuilt, never reused."""
    key = f"{workload}-s{seed}-n{n}-f{n_files}"  # run.corpus_dir
    out = cache / key
    man_path = out / "manifest.json"
    if man_path.exists():
        man = json.loads(man_path.read_text())
        if man["has_parquet"] >= with_parquet and man["has_warc"] >= with_warc:
            os.utime(out)
            return man
        with_parquet = with_parquet or man["has_parquet"]
        with_warc = with_warc or man["has_warc"]
    cache.mkdir(parents=True, exist_ok=True)
    _evict(cache, MAX_CACHED - 1)
    tmp = cache / f".{key}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "pages").mkdir(parents=True)
    (tmp / "warc").mkdir()
    lo = seed * n
    step = -(-n // n_files)
    tasks = [
        (
            kind,
            lo + i,
            min(lo + n, lo + i + step),
            str(tmp / "pages" / f"part-{j:05d}.parquet") if with_parquet else None,
            str(tmp / "warc" / f"part-{j:05d}.warc.gz") if with_warc else None,
        )
        for j, i in enumerate(range(0, n, step))
    ]
    t0 = time.perf_counter()
    parts = _run_pool(procs, tasks)
    man = {
        "workload": workload,
        "kind": kind,
        "seed": seed,
        "n": n,
        "k_lo": lo,
        "files": len(tasks),
        "has_parquet": with_parquet,
        "has_warc": with_warc,
        "docs": sum(p["docs"] for p in parts),
        "pages": sum(p["pages"] for p in parts),
        "payload_bytes": sum(p["payload_bytes"] for p in parts),
        "warc_gz_bytes": sum(p["warc_gz_bytes"] for p in parts),
        "parquet_bytes": sum(
            f.stat().st_size for f in (tmp / "pages").glob("*.parquet")
        ),
    }
    xor = 0
    for p in parts:
        xor ^= p["xor"]
    man["digest"] = {
        "docs": man["docs"],
        "pages": man["pages"],
        "xor": xor,
        "sum": sum(p["sum"] for p in parts),
    }
    man["build_s"] = time.perf_counter() - t0
    (tmp / "manifest.json").write_text(json.dumps(man, indent=1))
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return man
