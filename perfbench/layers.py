"""Per-layer measurements for the traced run.

Spark-side layers are split by stacked ablation (ROADMAP's method: add
one layer at a time and take the marginal wall) and by the SQL and task
metrics in the session's event log. Kernel, select and sources layers
are timed single-core in this process over the workload's own pages.

Every function here is called with the workload's inputs only; the
module-level ``_lengths``/``_echo`` run inside Spark Python workers, so
this module imports nothing heavy at import time.
"""

from __future__ import annotations

import os
import statistics
import time

REPS = 3


def _lengths(it):
    """mapInArrow body: html -> byte length (the hop in, nothing back)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    for batch in it:
        yield pa.RecordBatch.from_arrays(
            [pc.binary_length(batch.column(0)).cast(pa.int64())], ["n"])


def _echo(it):
    """mapInArrow body: html echoed back (the hop in and out)."""
    yield from it


def _wall(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def spark_ablation(spark, wl, tracer) -> dict:
    """scan -> (+ sources) -> + hop in -> + hop out, each ``REPS`` times,
    tagged with job descriptions the event log is read by."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext

    def run(desc, make_df):
        sc.setJobDescription(desc)
        walls = []
        for _ in range(REPS):
            with tracer.span(desc):
                walls.append(_wall(lambda: make_df().collect()))
        return statistics.median(walls)

    if hasattr(wl, "archives_df"):
        scan = run("pb:scan", lambda: wl.archives_df(spark).agg(
            F.sum(F.length("content"))))
    else:
        scan = run("pb:scan", lambda: wl.source_df(spark).agg(
            F.sum(F.length("html"))))
    base = run("pb:source", lambda: wl.source_df(spark).agg(
        F.sum(F.length("html")))) if hasattr(wl, "archives_df") else scan

    def hop_in():
        src = wl.source_df(spark).select("html")
        return src.mapInArrow(_lengths, "n long").agg(F.sum("n"))

    def hop_out():
        src = wl.source_df(spark).select("html")
        return src.mapInArrow(_echo, src.schema).agg(
            F.sum(F.length("html")))

    t_in = run("pb:hop_in", hop_in)
    t_out = run("pb:hop_out", hop_out)
    sc.setJobDescription(None)
    return {"scan_s": scan, "hop_in_s": t_in - base,
            "hop_out_s": t_out - t_in}


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_mtime_ns, st.st_size)
    return out


def _bucket_of(path: str) -> str | None:
    for part in path.split(os.sep):
        if part.startswith("bucket="):
            return part
    return None


PROBE_DOCS = 3000


def pipeline_probe(spark, wl, tracer, out_dir: str) -> dict:
    """``run_extraction`` over the workload's source frame (every k-th
    url hash, so about ``PROBE_DOCS`` pages) into a fresh directory, then
    a rerun over the finished output (resume), then the extraction alone
    (the ablation that splits write from extract)."""
    from pyspark.sql import functions as F
    from swiftsoup_spark.spark.extract import extract_pages
    from swiftsoup_spark.spark.pipeline import run_extraction

    every = max(1, round(wl.docs / PROBE_DOCS))

    def source():
        df = wl.source_df(spark)
        if every > 1:
            df = df.filter(F.pmod(F.xxhash64("url"), F.lit(every)) == 0)
        return df

    sc = spark.sparkContext
    sc.setJobDescription("pb:pipeline")
    with tracer.span("pipeline.run"):
        t0 = time.time()
        run_extraction(spark, source(), out_dir, n_buckets=32)
        t1 = time.time()
    before = _files(out_dir)
    sc.setJobDescription("pb:resume")
    with tracer.span("pipeline.resume"):
        resume_s = _wall(lambda: run_extraction(
            spark, source(), out_dir, n_buckets=32))
    after = _files(out_dir)
    changed = {_bucket_of(p) for p in set(before) | set(after)
               if before.get(p) != after.get(p)} - {None}

    def extract_only():
        src = source().withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(32)).cast("int"))
        return extract_pages(src, None, keep_cols=("bucket",),
                             metrics=True).agg(F.count("*"))

    sc.setJobDescription("pb:pipe_extract")
    walls = []
    for _ in range(REPS):
        with tracer.span("pipeline.extract_only"):
            walls.append(_wall(lambda: extract_only().collect()))
    sc.setJobDescription(None)
    mb = sum(size for _, size in after.values()) / 1e6
    return {"run_start": t0, "run_end": t1, "resume_s": resume_s,
            "buckets_recomputed": len(changed), "mb_written": mb,
            "extract_only_s": statistics.median(walls)}


def pipeline_split(ev, probe: dict) -> dict:
    """write_s / manifest_s from the event log: the execution carrying
    the ``MapInArrow`` node is extract+write; what follows it until
    ``run_extraction`` returns is the manifest."""
    execs = [e for e in ev.executions_for("pb:pipeline")
             if "MapInArrow" in ev.node_names(e) and ev.exec_wall_s(e)]
    if not execs:
        raise RuntimeError("pipeline write execution not found in event log")
    eid = max(execs, key=ev.exec_wall_s)
    wall = ev.exec_wall_s(eid)
    end = ev.exec_time[eid][1] / 1000.0
    return {"write_s": wall - probe["extract_only_s"],
            "manifest_s": probe["run_end"] - end}


def extract_metrics(ev, desc: str = "pb:timed") -> dict:
    """Median per timed job of the MapInArrow node's Python metrics."""
    per = [ev.python_metrics(e) for e in ev.executions_for(desc)]
    per = [p for p in per if p["data_sent_bytes"] > 0]
    if not per:
        raise RuntimeError(f"no MapInArrow metrics for {desc}")

    def med(k):
        return statistics.median(p[k] for p in per)
    return {"python_boot_s": med("python_boot_ms") / 1000.0,
            "python_total_s": med("python_total_ms") / 1000.0,
            "data_sent_mb": med("data_sent_bytes") / 1e6,
            "data_received_mb": med("data_received_bytes") / 1e6}


def scan_metrics(ev) -> dict:
    """Tasks of the scan stage and MB the scan read, per ``pb:scan``
    execution: the file-scan node's "size of files read" metric, or the
    tasks' input bytes for an in-memory (cached) scan."""
    execs = ev.executions_for("pb:scan")
    tasks = ev.tasks_for("pb:scan")
    per_stage: dict[int, int] = {}
    for t in tasks:
        per_stage[t["stage"]] = per_stage.get(t["stage"], 0) + 1
    scan_stages = sorted(per_stage.values())[-len(execs):]
    files = sum(ev.node_metric_total(e, "Scan", "size of files read")
                for e in execs)
    read = files or sum(t["bytes_read"] for t in tasks)
    return {"tasks": statistics.mean(scan_stages),
            "mb_read": read / len(execs) / 1e6}


# ---- single-core layers over the workload's own pages ----------------

def kernel_layer(raw: list, path: str, scope_id: str | None) -> dict:
    """Tier counts, tier times and per-document latency along the
    workload's kernel path, plus single-core engine speeds.

    ``raw``: the workload's html values as its extraction receives them
    (``bytes`` for a binary column, else ``str``). ``path``: ``python``
    (extract_pages(metrics=True): decode, Python tree build, text and
    title for every document), ``stream`` (extract_pages fast path:
    C streaming -> C arena -> Python), or ``arena`` (fast_parse: C arena
    build -> Python)."""
    import pyarrow as pa
    from swiftsoup_spark.api import decode_html
    from swiftsoup_spark.kernel import fastpath as FP
    from swiftsoup_spark.kernel.arena import Document
    from swiftsoup_spark.kernel.treebuilder import HtmlTreeBuilder
    from swiftsoup_spark.select.engine import select

    m = FP.get_module()
    if m is None:
        raise RuntimeError("C kernel unavailable")
    htmls = [decode_html(r) if isinstance(r, bytes) else r for r in raw]
    n = len(htmls)
    nbytes = [len(s.encode("utf-8")) for s in htmls]
    mb = sum(nbytes) / 1e6
    col = pa.array(htmls, pa.string())

    t0 = time.perf_counter()
    for off in range(0, n, 2048):
        FP.batch_doc_text(col.slice(off, 2048), scope_id)
    stream_s = time.perf_counter() - t0

    tb = HtmlTreeBuilder()
    clock = time.perf_counter

    def python_tier(v) -> float:
        tp = clock()
        s = decode_html(v) if isinstance(v, bytes) else v
        arena = tb.parse(s)
        if scope_id:
            hit = select(arena, 0, "#" + scope_id)
            arena.node_text(hit[0]) if hit else ""
        else:
            arena.node_text(0)
        Document(arena, 0).title()
        return clock() - tp

    docs = {"stream": 0, "arena": 0, "python": 0}
    arena_s = python_s = 0.0
    lat = []
    for v, s in zip(raw, htmls):
        t = clock()
        if path == "stream":
            if m.doc_text(s, scope_id) is not None:
                docs["stream"] += 1
            else:
                ta = clock()
                r = m.arena_doc_text(s, scope_id)
                arena_s += clock() - ta
                if r is not None:
                    docs["arena"] += 1
                else:
                    python_s += python_tier(v)
                    docs["python"] += 1
        elif path == "arena":
            ta = clock()
            a = FP.build_arena(s)
            arena_s += clock() - ta
            if a is not None:
                docs["arena"] += 1
            else:
                python_s += python_tier(v)
                docs["python"] += 1
        else:
            python_s += python_tier(v)
            docs["python"] += 1
        lat.append((clock() - t) * 1e6)
    lat.sort()

    budget, t_mb = 8e6, 0
    t0 = time.perf_counter()
    for s, b in zip(htmls, nbytes):
        FP.build_arena(s)
        t_mb += b
        if t_mb >= budget:
            break
    build_s = time.perf_counter() - t0
    return {
        "docs_stream": docs["stream"], "docs_arena": docs["arena"],
        "docs_python": docs["python"],
        "bail_ratio": (docs["arena"] + docs["python"]) / n,
        "stream_mb_per_s": mb / stream_s,
        "arena_s": arena_s, "python_s": python_s,
        "build_arena_mb_per_s": t_mb / 1e6 / build_s,
        "doc_p50_us": lat[n // 2], "doc_p99_us": lat[min(n - 1, int(n * 0.99))],
        "doc_samples": n, "htmls": htmls}


def select_layer(htmls: list[str], limit: int = 1000) -> dict:
    """``main_content_node`` over pre-built arenas of the first ``limit``
    pages; ``calls`` counts the ``select/engine.select`` calls it makes."""
    import swiftsoup_spark.select.engine as E
    from swiftsoup_spark.kernel import fastpath as FP
    from swiftsoup_spark.kernel.treebuilder import HtmlTreeBuilder
    from swiftsoup_spark.ops.maincontent import main_content_node

    tb = HtmlTreeBuilder()
    arenas = []
    for s in htmls[:limit]:
        a = FP.build_arena(s)
        arenas.append(a if a is not None else tb.parse(s))
    orig = E.select
    calls = 0

    def counting(*a, **k):
        nonlocal calls
        calls += 1
        return orig(*a, **k)

    E.select = counting
    try:
        t0 = time.perf_counter()
        for a in arenas:
            main_content_node(a)
        sel_s = time.perf_counter() - t0
    finally:
        E.select = orig
    return {"s": sel_s, "calls": calls, "docs": len(arenas)}


def sources_layer(archives: list[bytes]) -> tuple[dict, list[str]]:
    """``response_pages`` over WARC archive bytes, single core; returns
    the metrics and the decoded pages."""
    from swiftsoup_spark.sources.warc import response_pages

    t0 = time.perf_counter()
    bodies = [body for data in archives
              for _, _, body in response_pages(data)]
    dt = time.perf_counter() - t0
    return ({"s": dt, "records": len(bodies),
             "mb_out": sum(len(b) for b in bodies) / 1e6},
            [b.decode("utf-8", "replace") for b in bodies])
