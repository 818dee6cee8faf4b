"""Resumable-pipeline tests: bucketing, lineage manifest, idempotent
resume, and the N-vs-4N determinism oracle (identical corpus checksums at
two parallelism levels)."""

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from swiftsoup_spark.spark.session import get_spark
    yield get_spark(master="local[4]", app="pipeline-test")


def test_run_and_resume(spark, tmp_path_factory):
    from pyspark.sql import functions as F
    from swiftsoup_spark.spark.pages import pages_df
    from swiftsoup_spark.spark import pipeline as P

    out = str(tmp_path_factory.mktemp("out"))
    pages = pages_df(spark, SF_DIR)
    n_total = pages.count()

    man = P.run_extraction(spark, pages, out, n_buckets=8)
    rows = man.collect()
    assert {r.bucket for r in rows} == set(range(8))
    assert sum(r.row_count for r in rows) == n_total
    assert all(r.status == "done" for r in rows)
    cks_full, n_full = P.corpus_checksum(spark, out)

    # simulate a partial failure: drop manifest entries + data for 3 buckets
    keep = [r for r in rows if r.bucket not in (1, 3, 5)]
    spark.createDataFrame(keep, man.schema).write.mode("overwrite").parquet(
        os.path.join(out, P.MANIFEST))
    for b in (1, 3, 5):
        shutil.rmtree(os.path.join(out, "extracted", f"bucket={b}"))

    # resume: only the 3 missing buckets are recomputed; result identical
    man2 = P.run_extraction(spark, pages, out, n_buckets=8)
    assert sorted(r.bucket for r in man2.collect()) == list(range(8))
    cks2, n2 = P.corpus_checksum(spark, out)
    assert (cks2, n2) == (cks_full, n_full)

    # re-running a finished job is a no-op with the same checksum
    man3 = P.run_extraction(spark, pages, out, n_buckets=8)
    cks3, n3 = P.corpus_checksum(spark, out)
    assert (cks3, n3) == (cks_full, n_full)

    ex = spark.read.parquet(os.path.join(out, "extracted"))
    assert ex.count() == n_total
    assert ex.filter(F.col("parse_errors") != 0).count() == 0


def _kernel_metrics(html, css_scope):
    """(text, title, n_nodes, parse_errors) from the pure-Python kernel."""
    from swiftsoup_spark.api import decode_html
    from swiftsoup_spark.kernel.arena import Document
    from swiftsoup_spark.kernel.treebuilder import HtmlTreeBuilder
    from swiftsoup_spark.select.engine import select

    if isinstance(html, bytes):
        html = decode_html(html)
    a = HtmlTreeBuilder().parse(html or "")
    if css_scope:
        hit = select(a, 0, css_scope)
        text = a.node_text(hit[0]) if hit else ""
    else:
        text = a.node_text(0)
    return text, Document(a, 0).title(), len(a.parent) - 1, a.errors


METRICS_PAGES = {
    "dup_attrs": '<title>D</title><div id=main id=x class=a class=b>'
                 '<p title=1 title=2>dup</p></div>',
    "adoption": '<div id=main><b>x<div>real adoption</b>tail</div></div>',
    "foster": '<div id=main><table>FOSTER<tr><td>cell</td></tr></table></div>',
    "nul": '<div id=main>a\x00b</div><title>N</title>',
    "unknown_tags": '<div id=main>' + "".join(
        f"<x-t{i}>w{i}" for i in range(70)) + '</div>',
    "plain": '<html><head><title> T  t </title></head><body>'
             '<div id="main"><p>one</p><p>two</p></div>noise</body></html>',
    "no_main": '<p>no scope match</p>',
    "null": None,
}


@pytest.mark.parametrize("css_scope", [None, "#main", "div#main"])
def test_extract_pages_metrics_match_kernel(spark, css_scope):
    """extract_pages(metrics=True) == the Python kernel's (node_text,
    Document.title(), len(parent) - 1, errors) on string and binary html,
    across every tier: streaming bails, arena bails (NUL, >64 unknown
    tags), duplicate attributes, null html and a <meta charset> page."""
    from swiftsoup_spark.spark.extract import extract_pages

    binary = {k: v.encode("utf-8") if v is not None else None
              for k, v in METRICS_PAGES.items()}
    binary["latin1"] = ('<meta charset="iso-8859-1"><title>caf\xe9</title>'
                        '<div id=main>na\xefve</div>').encode("latin-1")
    for pages, typ in ((METRICS_PAGES, "string"), (binary, "binary")):
        df = spark.createDataFrame(list(pages.items()),
                                   f"url string, html {typ}")
        got = {r.url: (r.text, r.title, r.n_nodes, r.parse_errors)
               for r in extract_pages(df, css_scope, metrics=True).collect()}
        want = {u: _kernel_metrics(h, css_scope) for u, h in pages.items()}
        assert got == want, (typ, css_scope)
        assert got["dup_attrs"][3] > 0
        plain = {r.url: (r.text, r.title)
                 for r in extract_pages(df, css_scope).collect()}
        assert plain == {u: v[:2] for u, v in want.items()}, (typ, css_scope)


def test_read_manifest_fresh_output_is_quiet(tmp_path):
    """No manifest yet -> None, decided on disk: Spark is never asked to
    read the missing path (which logs a FileNotFoundException trace)."""
    from swiftsoup_spark.spark import pipeline as P

    reads = []

    class NoRead:
        @property
        def read(self):
            reads.append(1)
            raise FileNotFoundError("manifest")

    assert P.read_manifest(NoRead(), str(tmp_path)) is None
    assert P.done_buckets(NoRead(), str(tmp_path)) == set()
    assert reads == []


def test_corrupt_manifest_raises(spark, tmp_path):
    """A manifest that exists but cannot be read is an error, not 'no
    buckets done' (which would silently recompute every bucket)."""
    from swiftsoup_spark.spark import pipeline as P

    man = tmp_path / P.MANIFEST
    man.mkdir()
    (man / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        P.done_buckets(spark, str(tmp_path))


def test_parallelism_determinism(tmp_path_factory):
    """Same input, two parallelism levels → identical corpus checksums
    (the sandbox stand-in for the N vs 4N cluster-size oracle).
    Each level runs in its own subprocess (one JVM per SparkContext)."""
    import json
    import subprocess

    script = r"""
import json, sys
sys.path.insert(0, "/root/repo")
from swiftsoup_spark.spark.session import get_spark
from swiftsoup_spark.spark.pages import pages_df
from swiftsoup_spark.spark import pipeline as P
n, out = int(sys.argv[1]), sys.argv[2]
spark = get_spark(master=f"local[{n}]", app=f"det{n}")
pages = pages_df(spark, "%s")
P.run_extraction(spark, pages, out, n_buckets=4)
print(json.dumps(P.corpus_checksum(spark, out)))
""" % SF_DIR
    results = []
    for n in (2, 8):
        out = str(tmp_path_factory.mktemp(f"det{n}"))
        r = subprocess.run(
            [sys.executable, "-c", script, str(n), out],
            capture_output=True, text=True, timeout=300)
        assert r.returncode == 0, r.stderr[-2000:]
        results.append(json.loads(r.stdout.strip().splitlines()[-1]))
    assert results[0] == results[1]


def test_table_format_seam_resolution():
    from swiftsoup_spark.spark.pipeline import (
        IcebergFormat, ParquetFormat, table_format_for)
    assert isinstance(table_format_for("/tmp/out"), ParquetFormat)
    assert isinstance(table_format_for("local.db.extracted"), IcebergFormat)
    assert isinstance(table_format_for("./rel/path"), ParquetFormat)


def _fake_iceberg_df(calls, exists, write_fails=False):
    """DataFrameWriterV2 + catalog test double for the Iceberg seam."""
    class FakeWriter:
        def overwritePartitions(self):
            calls.append("overwritePartitions")
            if write_fails:
                raise RuntimeError("snapshot commit failed")
        def partitionedBy(self, col):
            calls.append("partitionedBy")
            return self
        def create(self):
            calls.append("create")

    class FakeCatalog:
        def tableExists(self, target):
            calls.append(f"tableExists:{target}")
            return exists

    class FakeSession:
        catalog = FakeCatalog()

    class FakeDF:
        sparkSession = FakeSession()
        def writeTo(self, target):
            calls.append(f"writeTo:{target}")
            return FakeWriter()

    return FakeDF()


def test_iceberg_format_writer_v2_surface():
    """IcebergFormat drives the DataFrameWriterV2 API: existence check
    routes to overwritePartitions (existing) or partitionedBy+create
    (first run)."""
    from swiftsoup_spark.spark.pipeline import IcebergFormat

    calls = []
    IcebergFormat().overwrite_partitions(
        _fake_iceberg_df(calls, exists=True), "c.db.t", "bucket")
    assert calls == ["tableExists:c.db.t", "writeTo:c.db.t",
                     "overwritePartitions"]
    calls.clear()
    IcebergFormat().overwrite_partitions(
        _fake_iceberg_df(calls, exists=False), "c.db.t", "bucket")
    assert calls == ["tableExists:c.db.t", "writeTo:c.db.t",
                     "partitionedBy", "create"]


def test_iceberg_format_write_failure_not_masked():
    """A real overwritePartitions failure on an EXISTING table must
    propagate — not be swallowed and misread as 'first run: create'."""
    from swiftsoup_spark.spark.pipeline import IcebergFormat

    calls = []
    with pytest.raises(RuntimeError, match="snapshot commit failed"):
        IcebergFormat().overwrite_partitions(
            _fake_iceberg_df(calls, exists=True, write_fails=True),
            "c.db.t", "bucket")
    assert "create" not in calls
