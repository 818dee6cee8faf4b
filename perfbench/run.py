"""Benchmark of record: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. The run generates the workload's inputs
from ``--seed`` (``perfbench/gen.py``), starts a ``local[4]`` Spark
session, and runs the workload as a closed loop (one job at a time)
for ``--seconds``. Every job's output is checked against per-url
expected texts computed without the path under test.

``--trace 0`` prints the end-to-end metrics: ``docs_per_s`` and
``html_mb_per_s`` of the median warm job, ``setup_s`` (session start
plus the median cold-job surcharge over three fresh Spark contexts: the
first warms up, the other two share the timed jobs) and
``worker_rss_mb`` (peak summed RSS of the Python workers while timed).

``--trace 1`` prints the per-layer metrics instead: a quarter of the
window untraced, half with the Spark event log on and spans recorded
around each layer call (followed by stacked ablations and a pipeline
probe), a quarter untraced again, then single-core kernel/select/sources
timings. Spans are written to
``.perfbench_out/trace-<workload>-<seed>.json``.

Spark and worker output is routed to stderr, so the result is always
the last line of stdout. Working files live under ``.perfbench_work/``
and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SLOTS = 4
MASTER = f"local[{SLOTS}]"
COLD_CYCLES = 3
# Seconds of checked but untimed jobs in the first context (a fresh JVM):
# a pipeline job keeps getting faster over its first ~10 runs in a JVM
# (JIT), and the JIT state outlives a SparkContext restart.
WARMUP_S = 6.0
SOURCES_SAMPLE = 1000
_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - _T0:.1f}s] {msg}",
          file=sys.stderr, flush=True)


class Session:
    """The benchmark's Spark session: local[4], every scratch path
    inside the work directory, optional event log."""

    def __init__(self, work: str):
        self.work = work
        self.events = os.path.join(work, "events")
        self.spark = None
        self.gateway = None

    def start(self, event_log: bool):
        from swiftsoup_spark.spark.session import get_spark
        os.makedirs(self.events, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.eventLog.enabled": "true" if event_log else "false",
            "spark.eventLog.dir": "file://" + self.events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        self.spark = get_spark(master=MASTER, app="perfbench",
                               extra_conf=conf)
        from pyspark import SparkContext
        self.gateway = SparkContext._gateway
        return self.spark

    def restart(self, event_log: bool):
        """Stop the SparkContext (its Python workers go with it) and
        start a fresh one in the same JVM."""
        self.spark.stop()
        return self.start(event_log)

    def close(self) -> None:
        """Stop Spark, shut the JVM down and wait for it."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = self.gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)


class Checker:
    """Compares every job's (checksum, rows) with the expected pair and,
    on a difference, counts the urls whose text is wrong."""

    def __init__(self, wl, spark):
        from perfbench.workloads import count_mismatches
        self._count = count_mismatches
        self.wl = wl
        self.expected = wl.expected(spark)
        if self.expected[1] != wl.docs:
            raise RuntimeError(f"expected table has {self.expected[1]} rows,"
                               f" inputs have {wl.docs}")
        self.attempted = 0
        self.failed = 0

    def check(self, spark) -> None:
        got = self.wl.result(spark)
        self.attempted += self.wl.docs
        if got != self.expected:
            exp = spark.read.parquet(self.wl.info["expected"])
            bad = self._count(self.wl.output_df(spark), exp)
            log(f"checksum mismatch {got} != {self.expected}: {bad} urls")
            self.failed += max(bad, 1)


def timed_job(spark, wl, checker, tracer, name="job") -> float:
    with tracer.span(name):
        t0 = time.perf_counter()
        wl.timed(spark)
        dt = time.perf_counter() - t0
    checker.check(spark)
    wl.cleanup()
    return dt


def warm_up(spark, wl, checker, tracer, seconds: float) -> None:
    """Checked but untimed jobs for ``seconds`` (at least one)."""
    t_end = time.perf_counter() + seconds
    while True:
        timed_job(spark, wl, checker, tracer, "job.warmup")
        if time.perf_counter() >= t_end:
            return


def closed_loop(spark, wl, checker, tracer, seconds: float,
                desc: str | None = None) -> list[float]:
    """Jobs back to back for ``seconds`` (at least one); they carry the
    Spark job description ``desc``."""
    sc = spark.sparkContext
    times = []
    t_end = time.perf_counter() + seconds
    sc.setJobDescription(desc)
    while True:
        times.append(timed_job(spark, wl, checker, tracer))
        if time.perf_counter() >= t_end:
            sc.setJobDescription(None)
            return times


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _share(a: list[int], b: list[int], field: int) -> float:
    """Share of all CPU ticks between two /proc/stat samples spent in
    ``field`` (3 idle, 4 iowait, 7 steal): host contention shows as
    steal, a slow shared disk as iowait."""
    d = [y - x for x, y in zip(a, b)]
    return d[field] / max(1, sum(d))


def run_untraced(wl, sess, seconds: float) -> tuple:
    """``COLD_CYCLES`` fresh SparkContexts in one JVM, each starting with
    its cold job. The first (a fresh JVM) then only warms up; the others
    share ``seconds`` of timed jobs, so the timed jobs lie further apart
    and a slow spell of the host weighs on fewer of them."""
    from perfbench.trace import RssSampler, Tracer
    off = Tracer(False)
    t0 = time.perf_counter()
    spark = sess.start(event_log=False)
    session_s = time.perf_counter() - t0
    cold, times, peak, checker = [], [], 0, None
    cpu0 = _cpu_ticks()
    for c in range(COLD_CYCLES):
        if c:
            spark = sess.restart(event_log=False)
        wl.load(spark)
        checker = checker or Checker(wl, spark)
        cold.append(timed_job(spark, wl, checker, off))
        if c == 0:
            warm_up(spark, wl, checker, off, WARMUP_S)
            continue
        with RssSampler() as rss:
            times += closed_loop(spark, wl, checker, off,
                                 seconds / (COLD_CYCLES - 1))
        peak = max(peak, rss.peak)
    cpu1 = _cpu_ticks()
    warm = statistics.median(times)
    log(f"session {session_s:.3f}s cold {[round(c, 3) for c in cold]} "
        f"warm {[round(t, 3) for t in times]} "
        f"cpu steal {_share(cpu0, cpu1, 7):.3f} idle {_share(cpu0, cpu1, 3):.3f}"
        f" iowait {_share(cpu0, cpu1, 4):.3f}")
    metrics = {
        "docs_per_s": (wl.docs / warm, "docs/s"),
        "html_mb_per_s": (wl.html_mb / warm, "MB/s"),
        "setup_s": (session_s + statistics.median(c - warm for c in cold),
                    "s"),
        "worker_rss_mb": (peak / 1e6, "MB"),
    }
    return checker, metrics


def _pages_for_kernel(wl) -> tuple[list, dict]:
    """The workload's own html values (as its extraction receives them),
    plus the sources-layer metrics
    (WARC archives for warc_extract; a WARC framing of the first
    ``SOURCES_SAMPLE`` pages elsewhere)."""
    import glob

    import pyarrow.parquet as pq
    from perfbench.layers import sources_layer
    from swiftsoup_spark.sources.warc import build_warc_gz

    if "warc" in wl.info:
        archives = []
        for p in sorted(glob.glob(os.path.join(wl.info["warc"], "*.warc.gz"))):
            with open(p, "rb") as f:
                archives.append(f.read())
        src, htmls = sources_layer(archives)
        return htmls, src
    path = wl.info.get("pages") or wl.info["corpus"]
    raw = pq.read_table(path, columns=["html"]).column("html").to_pylist()
    recs = [(f"https://sample.test/{i}", "2026-01-01T00:00:00Z",
             v if isinstance(v, bytes) else v.encode("utf-8"))
            for i, v in enumerate(raw[:SOURCES_SAMPLE])]
    src, _ = sources_layer([build_warc_gz(recs)])
    return raw, src


def run_traced(wl, sess, seconds: float, trace_path: str) -> tuple:
    from perfbench import layers
    from perfbench.trace import EventLog, Tracer, task_stats

    tracer = Tracer(True)
    off = Tracer(False)
    # untraced / traced / untraced, a quarter / half / quarter of the
    # window, each in a fresh SparkContext after its cold job, so JVM
    # warm-up does not favour either side of the overhead comparison
    t0 = time.perf_counter()
    spark = sess.start(event_log=False)
    session_s = time.perf_counter() - t0
    wl.load(spark)
    checker = Checker(wl, spark)
    timed_job(spark, wl, checker, off)
    warm_up(spark, wl, checker, off, WARMUP_S)
    untraced = closed_loop(spark, wl, checker, off, seconds / 4)

    with tracer.span("session.restart"):
        spark = sess.restart(event_log=True)
    with tracer.span("load"):
        wl.load(spark)
    timed_job(spark, wl, checker, tracer, "job.cold")
    traced = closed_loop(spark, wl, checker, tracer, seconds / 2, "pb:timed")
    with tracer.span("ablation"):
        abl = layers.spark_ablation(spark, wl, tracer)
    with tracer.span("pipeline.probe"):
        probe = layers.pipeline_probe(spark, wl, tracer,
                                      os.path.join(sess.work, "probe"))

    spark = sess.restart(event_log=False)   # also closes the event log
    wl.load(spark)
    timed_job(spark, wl, checker, off)
    untraced += closed_loop(spark, wl, checker, off, seconds / 4)

    ev = EventLog(sess.events)
    ext = layers.extract_metrics(ev)
    scan = layers.scan_metrics(ev)
    split = layers.pipeline_split(ev, probe)
    tasks = task_stats(ev.tasks_for("pb:timed"), traced, SLOTS)

    with tracer.span("kernel.layer"):
        raw, src = _pages_for_kernel(wl)
        kern = layers.kernel_layer(raw, *wl.kernel_path)
    with tracer.span("select.layer"):
        sel = layers.select_layer(kern["htmls"])
    tracer.write(trace_path)
    log(f"spans -> {trace_path}")

    u, t = statistics.median(untraced), statistics.median(traced)
    m = {
        "session.start_s": (session_s, "s"),
        "scan.s": (abl["scan_s"], "s"),
        "scan.tasks": (scan["tasks"], "count"),
        "scan.mb_read": (scan["mb_read"], "MB"),
        "extract.hop_in_s": (abl["hop_in_s"], "s"),
        "extract.hop_out_s": (abl["hop_out_s"], "s"),
        "extract.python_boot_s": (ext["python_boot_s"], "s"),
        "extract.python_total_s": (ext["python_total_s"], "s"),
        "extract.data_sent_mb": (ext["data_sent_mb"], "MB"),
        "extract.data_received_mb": (ext["data_received_mb"], "MB"),
        "kernel.docs_stream": (kern["docs_stream"], "count"),
        "kernel.docs_arena": (kern["docs_arena"], "count"),
        "kernel.docs_python": (kern["docs_python"], "count"),
        "kernel.bail_ratio": (kern["bail_ratio"], "ratio"),
        "kernel.stream_mb_per_s": (kern["stream_mb_per_s"], "MB/s"),
        "kernel.arena_s": (kern["arena_s"], "s"),
        "kernel.python_s": (kern["python_s"], "s"),
        "kernel.python_wall_share": (
            kern["python_s"] / SLOTS / t, "ratio"),
        "kernel.build_arena_mb_per_s": (kern["build_arena_mb_per_s"],
                                        "MB/s"),
        "kernel.doc_p50_us": (kern["doc_p50_us"], "us"),
        "kernel.doc_p99_us": (kern["doc_p99_us"], "us"),
        "kernel.doc_samples": (kern["doc_samples"], "count"),
        "select.s": (sel["s"], "s"),
        "select.calls": (sel["calls"], "count"),
        "sources.s": (src["s"], "s"),
        "sources.records": (src["records"], "count"),
        "sources.mb_out": (src["mb_out"], "MB"),
        "pipeline.write_s": (split["write_s"], "s"),
        "pipeline.manifest_s": (split["manifest_s"], "s"),
        "pipeline.mb_written": (probe["mb_written"], "MB"),
        "pipeline.resume_s": (probe["resume_s"], "s"),
        "pipeline.buckets_recomputed": (probe["buckets_recomputed"],
                                        "count"),
        "tasks.count": (tasks["count"], "count"),
        "tasks.failed": (tasks["failed"], "count"),
        "tasks.p50_s": (tasks["p50_s"], "s"),
        "tasks.max_s": (tasks["max_s"], "s"),
        "tasks.slot_busy_ratio": (tasks["slot_busy_ratio"], "ratio"),
        "trace.untraced_job_s": (u, "s"),
        "trace.traced_job_s": (t, "s"),
        "trace.overhead_s": (t - u, "s"),
    }
    log(f"untraced {[round(x, 3) for x in untraced]} "
        f"traced {[round(x, 3) for x in traced]}")
    return checker, m


def run(args) -> dict:
    from perfbench import gen
    from perfbench.workloads import WORKLOADS
    from swiftsoup_spark.kernel import fastpath

    work = args.work
    t0 = time.perf_counter()
    if fastpath.get_module() is None:      # compiles _fastpath.c once
        raise RuntimeError("C kernel did not build")
    log(f"kernel ready in {time.perf_counter() - t0:.2f}s")
    t0 = time.perf_counter()
    info = gen.write_inputs(args.workload, args.seed,
                            os.path.join(work, "inputs"))
    log(f"inputs {info['docs']} docs {info['html_bytes'] / 1e6:.1f} MB "
        f"in {time.perf_counter() - t0:.2f}s")
    wl = WORKLOADS[args.workload](info, work)
    sess = Session(work)
    try:
        if args.trace:
            trace_path = os.path.join(
                ROOT, ".perfbench_out",
                f"trace-{args.workload}-{args.seed}.json")
            checker, metrics = run_traced(wl, sess, args.seconds, trace_path)
        else:
            checker, metrics = run_untraced(wl, sess, args.seconds)
    finally:
        sess.close()
        log("spark stopped")
    return {"correct": checker.failed == 0 and checker.attempted > 0,
            "attempted": checker.attempted, "failed": checker.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def _setup_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # every JVM spark-submit starts (the launcher and the driver) keeps
    # its scratch files inside the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        f"-Dderby.system.home={work}")
    os.environ["SPARK_GRAFT_CPUS"] = str(SLOTS)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("pipeline_parquet", "extract_mixed",
                             "warc_extract", "maincontent_dom"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "swiftsoup_spark", "spark",
                                       "pipeline.py")):
        log("swiftsoup_spark package not found next to perfbench/")
        return 2
    # keep stdout for the result line only: everything else, including
    # the JVM and worker processes started later, inherits stderr as fd 1
    sys.stdout.flush()
    result_fd = os.dup(1)
    os.dup2(2, 1)
    args.work = os.path.join(ROOT, ".perfbench_work",
                             f"{args.workload}-{args.seed}-{os.getpid()}")
    _setup_env(args.work)
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(args.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(args.work))   # only when empty
        except OSError:
            pass
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    os.close(result_fd)
    return 0


if __name__ == "__main__":
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    sys.exit(main())
