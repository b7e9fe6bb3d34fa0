"""Extraction benchmark: two workloads through the library's public surface.

    python3 perfbench/run.py --workload pdf_mixed --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of this repository.  The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``.  ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` the per-layer ones (see layers.py).
Everything the run writes stays under ``perfbench/.cache`` (corpora, kept
across runs), ``perfbench/.work`` (emptied at every start) and
``perfbench/.results`` (pass times of untraced runs, span files of traced
runs, each with the host fingerprint).  perfbench/README.md explains the
workloads and which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
CACHE = BENCH / ".cache"
WORK = BENCH / ".work"
RESULTS = BENCH / ".results"

# Inputs per workload.  Sizes are chosen so that one timed pass takes
# about ``pass_s`` seconds on a 4-core host: long enough that extraction,
# not job launch, dominates a pass, short enough that several passes fit
# in one run.
WORKLOADS = {
    # Synthetic-PDF payloads from parquet: 60 % native text, 30 % routed to
    # OCR, 10 % adversarial geometry, 60-200-page giants at k % 997 == 0.
    "pdf_mixed": {"kind": "pdf", "docs": 4000, "source": "parquet", "pass_s": 3.5},
    # HTML packed into gzip-member .warc.gz files (the Common Crawl wire
    # format): WARC decoding and HTML boilerplate stripping, one virtual
    # page per doc, no OCR route.
    "html_crawl": {"kind": "html", "docs": 12000, "source": "warc", "pass_s": 3.5},
}
INPUT_FILES = 16
MIN_PASSES = 3
WARMUP_DOCS = 2000  # per payload kind


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def driver_heap() -> str:
    """A quarter of the host's memory, between 1 and 8 GiB: the local-mode
    driver JVM holds every executor thread, and the Python workers and the
    page cache need the rest."""
    return f"{min(8192, max(1024, mem_total_mb() // 4))}m"


def code_sha() -> str:
    """Hash of the engine and benchmark sources (a checkout need not be a
    git repository)."""
    import hashlib

    h = hashlib.sha256()
    for f in sorted([*ROOT.glob("ocr_spark/**/*.py"), *BENCH.glob("*.py")]):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str:
    if not (ROOT / ".git").exists():
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def fingerprint(spark) -> dict:
    return {
        "nproc": cores(),
        "mem_total_mb": mem_total_mb(),
        "pyspark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
        "git_commit": git_commit(),
        "code_sha": code_sha(),
    }


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def pin_environment() -> None:
    """Same starting state for every run: an emptied work area (Spark local
    dirs, temp files, outputs) and the engine sized to this host."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("spark-local", "tmp", "eventlog", "out"):
        (WORK / d).mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_heap()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import ocr_spark from the checkout, wherever it is
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )


def start_session(traced: bool):
    from ocr_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # temp files inside the work area; JVM perf counters in memory,
        # not under /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:+PerfDisableSharedMem"
        ),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (WORK / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", cores=cores(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait for
    them: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def warmup_dirs() -> list[Path]:
    """Build (once) the fixed warm-up corpus: docs k in [0, WARMUP_DOCS) of
    each payload kind, whatever the seed."""
    import corpus

    for kind in ("pdf", "html"):
        corpus.ensure(CACHE, f"warmup_{kind}", kind, 0, WARMUP_DOCS, INPUT_FILES,
                      with_parquet=True, with_warc=False, procs=cores())
    return [corpus_dir(f"warmup_{kind}", 0, WARMUP_DOCS) / "pages"
            for kind in ("pdf", "html")]


def corpus_dir(workload: str, seed: int, docs: int) -> Path:
    return CACHE / f"{workload}-s{seed}-n{docs}-f{INPUT_FILES}"


def warmup(spark, dirs: list[Path]) -> float:
    """One extraction of the fixed warm-up corpus (both payload kinds, one
    input split per core or more, so every Python worker starts and the
    JVM compiles the scan, Arrow and assembly paths before timing)."""
    from ocr_spark.pipeline import extract
    from ocr_spark.sources import read_pages_parquet

    t = time.perf_counter()
    pdf, html = (read_pages_parquet(spark, str(d)) for d in dirs)
    extract(pdf.unionByName(html)).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def digest_columns():
    from pyspark.sql import functions as F

    from corpus import DIGEST_SQL

    return [F.expr(v).alias(k) for k, v in DIGEST_SQL.items()]


def digest_of(row) -> dict:
    return {k: int(row[k]) for k in ("docs", "pages", "xor", "sum")}


class Runner:
    """Holds one run's session, corpus and pass accounting."""

    def __init__(self, spark, name: str, man: dict, cache_dir: Path,
                 expected: dict, host: dict):
        self.spark = spark
        self.host = host
        self.name = name
        self.wl = WORKLOADS[name]
        self.man = man
        self.cache_dir = cache_dir
        self.expected = expected
        self.attempted = 0
        self.failed = 0

    def pages(self):
        """The workload's input table, read afresh (listing included)."""
        from ocr_spark.sources import read_pages_parquet, read_pages_warc

        if self.wl["source"] == "warc":
            return read_pages_warc(self.spark, str(self.cache_dir / "warc"))
        return read_pages_parquet(self.spark, str(self.cache_dir / "pages"))

    def check(self, got: dict, what: str) -> None:
        self.attempted += self.man["docs"]
        if got != self.expected:
            # an order-independent digest cannot name the bad docs, so
            # every doc of the pass counts as failed
            self.failed += self.man["docs"]
            log(f"{what}: digest mismatch: got {got}, expected {self.expected}")

    def noop_pass(self) -> float:
        """One timed extraction into the no-op sink; returns seconds."""
        from pyspark.sql import Observation

        from ocr_spark.pipeline import extract

        obs = Observation("digest")
        t = time.perf_counter()
        out = extract(self.pages()).observe(obs, *digest_columns())
        out.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t
        self.check(digest_of(obs.get), "noop pass")
        return dt


def timed_passes(r: Runner, passes: int) -> list[float]:
    """Wall seconds of ``passes`` timed extractions of the whole corpus."""
    steal0 = cpu_steal_s()
    walls = []
    for i in range(passes):
        walls.append(r.noop_pass())
        log(f"pass {i + 1}/{passes}: {walls[-1]:.3f}s")
    log(f"cpu steal during the passes: {cpu_steal_s() - steal0:.2f}s")
    return walls


def pass_count(r: Runner, seconds: float) -> int:
    """Passes for about ``seconds``.  The count is fixed by ``seconds`` and
    the workload's nominal pass time, not by the clock, so every run does
    the same work and its median sits at the same point of the JVM's
    warm-up curve however busy the host is."""
    return max(MIN_PASSES, round(seconds / r.wl["pass_s"]))


def throughputs(r: Runner, walls: list[float]) -> dict:
    """End-to-end throughputs: medians over passes."""
    docs, pages = r.man["docs"], r.man["pages"]
    return {
        "docs_per_s": {"value": statistics.median(docs / w for w in walls),
                       "unit": "1/s"},
        "pages_per_s": {"value": statistics.median(pages / w for w in walls),
                        "unit": "1/s"},
    }


def cpu_steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor so far (diagnostic: a
    noisy run shows up here, not in the engine)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _untraced_log() -> Path:
    return RESULTS / "untraced.jsonl"


def record_untraced(r: Runner, walls: list[float]) -> None:
    RESULTS.mkdir(parents=True, exist_ok=True)
    with _untraced_log().open("a") as f:
        f.write(json.dumps({"workload": r.name, "seed": r.man["seed"],
                            "docs": r.man["docs"], "code_sha": code_sha(),
                            "walls": walls, "host": r.host}) + "\n")


def untraced_reference(r: Runner) -> float:
    """docs_per_s over the first MIN_PASSES passes of the untraced runs of
    this workload, corpus size and code in this checkout (median over
    runs).  With none recorded yet, one is run now: a fresh untraced JVM,
    set up exactly as a --trace 0 run."""
    key = (r.name, r.man["docs"], code_sha())
    rates = []
    if _untraced_log().exists():
        for line in _untraced_log().read_text().splitlines():
            rec = json.loads(line)
            if (rec["workload"], rec["docs"], rec["code_sha"]) == key:
                rates.append(r.man["docs"] / statistics.median(rec["walls"][:MIN_PASSES]))
    if rates:
        return statistics.median(rates)
    r.spark = start_session(traced=False)
    try:
        warmup(r.spark, warmup_dirs())
        walls = timed_passes(r, MIN_PASSES)
    finally:
        stop_jvm(r.spark)
    record_untraced(r, walls)
    return r.man["docs"] / statistics.median(walls)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--alter-digest", action="store_true",
        help="self-check: flip one bit of the expected oracle digest; the "
        "run must then report every doc as failed",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "ocr_spark" / "__init__.py").is_file():
        print(f"perfbench: no ocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(BENCH))
    import corpus

    wl = WORKLOADS[args.workload]
    pin_environment()
    t_gen = time.perf_counter()
    man = corpus.ensure(
        CACHE, args.workload, wl["kind"], args.seed, wl["docs"], INPUT_FILES,
        with_parquet=wl["source"] == "parquet",
        with_warc=wl["source"] == "warc" or bool(args.trace),
        procs=cores(),
    )
    cache_dir = corpus_dir(args.workload, args.seed, wl["docs"])
    warm_dirs = warmup_dirs()
    # read every input file once so both commits start from a warm page cache
    for d in [cache_dir, *warm_dirs]:
        for f in sorted(d.glob("**/part-*")):
            f.read_bytes()
    t_gen = time.perf_counter() - t_gen
    log(f"corpus {cache_dir.name}: {man['docs']} docs, {man['pages']} pages "
        f"(built in {man['build_s']:.1f}s; load generator {t_gen:.1f}s)")
    expected = dict(man["digest"])
    if args.alter_digest:
        expected["xor"] ^= 1

    t_setup = time.perf_counter()
    spark = start_session(traced=bool(args.trace))
    t_session = time.perf_counter()
    warm = warmup(spark, warm_dirs)
    # process start → session ready and warm, minus the load generator
    setup_s = time.perf_counter() - T_PROCESS - t_gen
    session = {"start_s": t_session - t_setup, "warmup_s": warm,
               "import_s": t_setup - T_PROCESS - t_gen}
    host = fingerprint(spark)
    log(f"fingerprint {json.dumps(host)}")
    log(f"setup {setup_s:.2f}s: {session}")
    r = Runner(spark, args.workload, man, cache_dir, expected, host)
    metrics: dict = {}
    try:
        if args.trace:
            import layers

            metrics = layers.traced(r, session)
        else:
            walls = timed_passes(r, pass_count(r, args.seconds))
            metrics = throughputs(r, walls)
            metrics["setup_s"] = {"value": setup_s, "unit": "s"}
            if r.failed == 0:
                record_untraced(r, walls)
    except Exception:  # noqa: BLE001 - a run that raises fails all its docs
        traceback.print_exc()
        r.attempted = max(r.attempted, man["docs"])
        r.failed = r.attempted
    finally:
        stop_jvm(r.spark)
    log(f"oracle_mismatch_share {r.failed / max(r.attempted, 1):.6f} "
        f"({r.failed}/{r.attempted} docs)")
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
