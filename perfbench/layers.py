"""The traced run: per-layer numbers measured from outside the engine.

Layers are timed as nested prefixes of the extraction plan, each one a
public function of the library run into the no-op sink on the run's
corpus; a layer's self time is the difference between adjacent prefixes:

    scan       source → select(url, warc_ts, html, lang)
    udf        + mapInPandas(operators.extract_udfs.extract_docs)
    from_json  pipeline.doc_fused_stage  (+ from_json of the blocks)
    post       + pipeline.postprocess_stage
    full       pipeline.extract          (+ assemble_stage)

The io layer is timed the same way: ``io.write_extracted`` of the full
plan minus the ``full`` prefix, then ``io.pending_pages`` and a no-op
``io.run_resumable`` against the table just written.  Shuffle bytes, task
times and the bytes sent to Python workers come from the Spark event log,
tagged per prefix by job group.
Kernels (payload/htmlpage decode, heuristic stages, JSON encode) are timed
in this process on a fixed sample of both payload kinds.

Spans (name, start, end, parent, run id) and counts are kept in memory and
written to perfbench/.results when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from run import RESULTS, WORK, cores, log, stop_jvm

KERNEL_SAMPLE_DOCS = 200  # per payload kind
PREFIX_ROUNDS = 2


class Tracer:
    """Spans and counts of one traced run, kept in memory until written."""

    def __init__(self, run_id: str, host: dict):
        self.run_id = run_id
        self.host = host
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        """Yields the span record; its ``seconds`` is set on exit."""
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
        }
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["seconds"]
            self._stack.pop()
            self.spans.append(rec)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(
            {"host": self.host, "spans": self.spans, "counts": self.counts},
            indent=1,
        ))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def prefixes(r, tr: Tracer) -> dict:
    """Run the five nested prefixes PREFIX_ROUNDS times, alternating
    forward and reverse order so that the JVM warming up over the rounds
    does not bias later prefixes; returns the mean seconds per prefix and
    the counts observed in the first round."""
    from pyspark.sql import Observation, functions as F

    from ocr_spark import pipeline
    from ocr_spark.operators import extract_udfs
    from ocr_spark.schemas import PAGE_BLOCKS_JSON_SCHEMA

    from run import digest_columns, digest_of

    sc = r.spark.sparkContext
    cols = ("url", "warc_ts", "html", "lang")
    times: dict[str, list[float]] = {}
    counts: dict[str, int] = {}
    for rnd in range(PREFIX_ROUNDS):
        scan_obs = Observation(f"scan{rnd}")
        json_obs = Observation(f"udf{rnd}")
        digest_obs = Observation(f"digest{rnd}")
        plans = {
            "scan": lambda p: p.select(*cols).observe(
                scan_obs, F.count(F.lit(1)).alias("records")
            ),
            "udf": lambda p: p.select(*cols)
            .mapInPandas(extract_udfs.extract_docs, PAGE_BLOCKS_JSON_SCHEMA)
            .observe(
                json_obs,
                F.coalesce(F.sum(F.octet_length("blocks_json")), F.lit(0))
                .alias("json_bytes"),
            ),
            "from_json": pipeline.doc_fused_stage,
            "post": lambda p: pipeline.postprocess_stage(
                pipeline.doc_fused_stage(p)
            ),
            "full": lambda p: pipeline.extract(p).observe(
                digest_obs, *digest_columns()
            ),
        }
        order = list(plans) if rnd % 2 == 0 else list(plans)[::-1]
        for name in order:
            sc.setJobGroup(f"{name}.{rnd}", name)
            with tr.span(f"prefix.{name}") as sp:
                _noop(plans[name](r.pages()))
            times.setdefault(name, []).append(sp["seconds"])
            log(f"prefix {name} (round {rnd}): {sp['seconds']:.3f}s")
        r.check(digest_of(digest_obs.get), "full prefix")
        if rnd == 0:
            counts = {
                "records": int(scan_obs.get["records"]),
                "json_bytes": int(json_obs.get["json_bytes"]),
                "full_round0": times["full"][0],
            }
    return {**{k: statistics.mean(v) for k, v in times.items()}, **counts}


def io_probe(r, tr: Tracer) -> dict:
    """write_extracted of the full plan into an empty table, then a no-op
    run_resumable against it: its whole cost is io.pending_pages (the
    checkpoint read and anti-join) and the emptiness probe."""
    from ocr_spark import io, pipeline

    ckpt = WORK / "out" / "traced_ckpt"
    sc = r.spark.sparkContext
    sc.setJobGroup("write", "write")
    with tr.span("io.write") as w:
        io.write_extracted(pipeline.extract(r.pages()), str(ckpt))
    files = list(ckpt.rglob("*.parquet"))
    sc.setJobGroup("pending", "pending")
    with tr.span("io.noop_resume") as p:
        attempted = io.run_resumable(r.pages(), str(ckpt))
    if attempted:
        log(f"io probe: the no-op pass re-attempted {attempted} docs")
        r.attempted += r.man["docs"]
        r.failed += r.man["docs"]
    return {
        "write_total_s": w["seconds"],
        "pending_s": p["seconds"],
        "files": len(files),
        "bytes": sum(f.stat().st_size for f in files),
    }


def warc_probe(r, tr: Tracer) -> int:
    """Records read back through sources.read_pages_warc from the WARC pack
    of the run's corpus."""
    from ocr_spark.sources import read_pages_warc

    r.spark.sparkContext.setJobGroup("warc", "warc")
    with tr.span("warc.read"):
        return read_pages_warc(r.spark, str(r.cache_dir / "warc")).count()


def kernels(man: dict) -> dict:
    """In-process kernel timings on a fixed sample: the first
    KERNEL_SAMPLE_DOCS docs of each payload kind in the seed's window."""
    from corpus import make_rows
    from ocr_spark import htmlpage, oracle, payload
    from ocr_spark.extract import heuristic as hx

    pc = time.perf_counter
    lo = man["k_lo"]
    res: dict = {}
    acc = {k: 0.0 for k in ("analyze", "ocr", "finish", "json")}
    n = {k: 0 for k in ("pages", "ocr_pages", "blocks", "lines")}
    per_kind_us: dict[str, float] = {}
    for kind, decode in (("pdf", payload.decode_doc), ("html", htmlpage.html_doc)):
        rows = make_rows(kind, lo, lo + KERNEL_SAMPLE_DOCS)
        t = pc()
        docs = [decode(r["html"]) for r in rows]
        dec = pc() - t
        res[f"{kind}.decode_us_per_doc"] = dec / len(rows) * 1e6
        kind_s = dec
        kind_pages = 0
        for d, r in zip(docs, rows):
            for page in d["pages"]:
                t0 = pc()
                info = hx.analyze_page(page, d["dpi"])
                t1 = pc()
                if info["needs_ocr"]:
                    lines = hx.extract_ocr_text(page, d["dpi"], r["lang"] or "en")
                    n["ocr_pages"] += 1
                    acc["ocr"] += pc() - t1
                else:
                    lines = info["native_lines"]
                t2 = pc()
                blocks = hx.finish_page(lines, info["layout"])
                t3 = pc()
                acc["analyze"] += t1 - t0
                acc["finish"] += t3 - t2
                kind_s += t3 - t0
                n["blocks"] += len(blocks)
                n["lines"] += sum(len(b["lines"]) for b in blocks)
                kind_pages += 1
            # the UDF hands each page's blocks back as one JSON string; the
            # oracle's nested page tree has the same shape
            for p in oracle.extract_document(r["html"], r["lang"] or "en")["pages"]:
                t0 = pc()
                json.dumps(p["blocks"])
                dt = pc() - t0
                acc["json"] += dt
                kind_s += dt
        n["pages"] += kind_pages
        res[f"{kind}.pages_per_doc"] = kind_pages / len(rows)
        per_kind_us[kind] = kind_s / len(rows) * 1e6
    pages = max(n["pages"], 1)
    res.update(
        {
            "analyze_us_per_page": acc["analyze"] / pages * 1e6,
            "ocr_us_per_page": acc["ocr"] / max(n["ocr_pages"], 1) * 1e6,
            "finish_us_per_page": acc["finish"] / pages * 1e6,
            "json_us_per_page": acc["json"] / pages * 1e6,
            "ocr_route_share": n["ocr_pages"] / pages,
            "blocks_per_page": n["blocks"] / pages,
            "lines_per_page": n["lines"] / pages,
            "kernel_us_per_doc": per_kind_us[man["kind"]],
        }
    )
    return res


def _proc_tree_hwm_mb(root_pid: int) -> tuple[float, float]:
    """Peak RSS (VmHWM) of the JVM and the summed peaks of the Python
    processes below it (the pyspark daemon and its workers)."""
    parent: dict[int, int] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                stat = (d / "stat").read_text()
            except OSError:
                continue
            parent[int(d.name)] = int(stat.rsplit(")", 1)[1].split()[1])

    def hwm(pid: int) -> float:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        except OSError:
            pass
        return 0.0

    def below(pid: int) -> bool:
        while pid in parent and pid > 1:
            pid = parent[pid]
            if pid == root_pid:
                return True
        return False

    workers = sum(hwm(p) for p in parent if below(p))
    return hwm(root_pid), workers


def event_log_stats(groups: tuple[str, ...]) -> dict:
    """Per job group: task run times, shuffle write, stage wall intervals
    and the bytes sent to Python workers, from the event log."""
    logs = [p for p in (WORK / "eventlog").iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    stage_group: dict[int, str] = {}
    g = {
        k: {"tasks": {}, "shuffle_write": 0, "intervals": [], "py_sent": 0}
        for k in groups
    }
    with logs[0].open() as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if grp in g:
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = grp
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if grp is None or not m:
                    continue
                s = g[grp]
                s["tasks"].setdefault(ev["Stage ID"], []).append(
                    m["Executor Run Time"]
                )
                s["shuffle_write"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == "data sent to Python workers":
                        s["py_sent"] += int(acc.get("Update") or 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                grp = stage_group.get(info["Stage ID"])
                if grp is not None and "Submission Time" in info:
                    g[grp]["intervals"].append(
                        (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3)
                    )
    return g


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def traced(r, session: dict) -> dict:
    """In the session started with the event log on: MIN_PASSES timed
    passes (the first passes of an untraced run compare with them fairly:
    same place after set-up), the prefix rounds, the io and WARC probes and
    the in-process kernels."""
    from pyspark import SparkContext

    from run import MIN_PASSES, timed_passes, untraced_reference

    tr = Tracer(f"{r.name}-s{r.man['seed']}-{os.getpid()}", r.host)
    docs = r.man["docs"]
    jvm_pid = SparkContext._gateway.proc.pid
    with tr.span("passes"):
        traced_rate = docs / statistics.median(timed_passes(r, MIN_PASSES))
    pre = prefixes(r, tr)
    iop = io_probe(r, tr)
    records = warc_probe(r, tr) if r.wl["source"] != "warc" else pre["records"]
    jvm_mb, py_mb = _proc_tree_hwm_mb(jvm_pid)
    with tr.span("kernels"):
        k = kernels(r.man)
    stop_jvm(r.spark)  # flushes and closes the event log
    ev = event_log_stats(("scan.0", "udf.0", "full.0"))
    with tr.span("untraced_reference"):
        untraced_rate = untraced_reference(r)

    full = ev["full.0"]
    extract_stage = max(full["tasks"].values(), key=sum)
    skew = max(extract_stage) / max(statistics.median(extract_stage), 1)
    log(f"extraction stage: {len(extract_stage)} tasks, run times "
        f"{sorted(extract_stage)} ms")
    udf_self = pre["udf"] - pre["scan"]
    mb = 1 / (1 << 20)
    scan_bytes = (
        r.man["warc_gz_bytes"] if r.wl["source"] == "warc" else r.man["parquet_bytes"]
    )
    m = {
        "session.start_s": (session["start_s"], "s"),
        "session.warmup_s": (session["warmup_s"], "s"),
        "session.jvm_peak_rss_mb": (jvm_mb, "MB"),
        "session.py_workers_peak_rss_mb": (py_mb, "MB"),
        "sources.scan_s": (pre["scan"], "s"),
        "sources.scan_mb_per_s": (scan_bytes * mb / pre["scan"], "MB/s"),
        "warc.gz_mb": (r.man["warc_gz_bytes"] * mb, "MB"),
        "warc.records": (records, "count"),
        "payload.decode_us_per_doc": (k["pdf.decode_us_per_doc"], "us"),
        "htmlpage.decode_us_per_doc": (k["html.decode_us_per_doc"], "us"),
        "decode.pages_per_doc": (k[f"{r.man['kind']}.pages_per_doc"], "count"),
        "heuristic.analyze_us_per_page": (k["analyze_us_per_page"], "us"),
        "heuristic.ocr_us_per_page": (k["ocr_us_per_page"], "us"),
        "heuristic.finish_us_per_page": (k["finish_us_per_page"], "us"),
        "heuristic.ocr_route_share": (k["ocr_route_share"], "share"),
        "heuristic.blocks_per_page": (k["blocks_per_page"], "count"),
        "heuristic.lines_per_page": (k["lines_per_page"], "count"),
        "extract_udfs.self_s": (udf_self, "s"),
        "extract_udfs.kernel_share": (
            k["kernel_us_per_doc"] * 1e-6 * docs / cores() / udf_self, "share"
        ),
        "extract_udfs.json_us_per_page": (k["json_us_per_page"], "us"),
        # a WARC source sends its files to Python already in the scan
        "extract_udfs.arrow_in_mb": (
            (ev["udf.0"]["py_sent"] - ev["scan.0"]["py_sent"]) * mb, "MB"
        ),
        "extract_udfs.json_out_mb": (pre["json_bytes"] * mb, "MB"),
        "extract_udfs.task_skew": (skew, "ratio"),
        "pipeline.from_json_s": (pre["from_json"] - pre["udf"], "s"),
        "pipeline.postprocess_s": (pre["post"] - pre["from_json"], "s"),
        "pipeline.assemble_s": (pre["full"] - pre["post"], "s"),
        "pipeline.assemble_shuffle_mb": (full["shuffle_write"] * mb, "MB"),
        "io.pending_s": (iop["pending_s"], "s"),
        "io.write_s": (iop["write_total_s"] - pre["full"], "s"),
        "io.files_written": (iop["files"], "count"),
        "io.bytes_written_mb": (iop["bytes"] * mb, "MB"),
        "trace.docs_per_s": (traced_rate, "1/s"),
        "trace.untraced_docs_per_s": (untraced_rate, "1/s"),
        "trace.overhead_share": (1 - traced_rate / untraced_rate, "share"),
        "trace.unattributed_s": (
            pre["full_round0"] - _covered(full["intervals"]), "s"
        ),
    }
    tr.counts.update({k2: v for k2, (v, _) in m.items()})
    tr.write(RESULTS / f"trace-{tr.run_id}.json")
    return {name: {"value": v, "unit": u} for name, (v, u) in m.items()}
