"""The four benchmark workloads, each driven through public entry points.

A workload owns its inputs (written by ``perfbench.gen``) and exposes:

* ``load(spark)`` — register the inputs with a (new) Spark session;
* ``timed(spark)`` — one closed-loop job, the unit the benchmark times;
* ``result(spark)`` — ``(checksum, rows)`` of the last job's output;
* ``expected(spark)`` — the same pair over the expected texts;
* ``output_df(spark)`` — (url, text) of the last job, for the per-url
  comparison when a checksum disagrees;
* ``source_df(spark)`` — the (url, html, ...) frame that feeds the
  extraction, for the traced layer ablations.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

CK_URL_TEXT = "bit_xor(xxhash64(url, text))"


def checksum(df, expr: str = CK_URL_TEXT) -> tuple[int, int]:
    row = df.agg(F.expr(expr).alias("c"), F.count("*").alias("n")).collect()[0]
    return int(row.c or 0), int(row.n or 0)


def count_mismatches(got_df, exp_df) -> int:
    """Urls whose output text is missing, extra, or differs from the
    expected text (``got_df``/``exp_df``: url, text)."""
    got = got_df.select("url", F.col("text").alias("got"))
    joined = exp_df.select("url", "text").join(got, "url", "full_outer")
    return joined.filter(~F.col("got").eqNullSafe(F.col("text"))).count()


class Workload:
    name = ""
    checksum_expr = CK_URL_TEXT
    # (path, scope id) of the kernel tiers the extraction takes, for
    # layers.kernel_layer
    kernel_path = ("stream", None)

    def __init__(self, info: dict, work_dir: str):
        self.info = info
        self.work_dir = work_dir
        self.docs = info["docs"]
        self.html_mb = info["html_bytes"] / 1e6
        self._last = None

    def load(self, spark) -> None:
        pass

    def expected(self, spark) -> tuple[int, int]:
        return checksum(spark.read.parquet(self.info["expected"]),
                        self.checksum_expr)

    def result(self, spark) -> tuple[int, int]:
        return self._last

    def cleanup(self) -> None:
        """Drop outputs older than the last job's (untimed)."""


class _OutputDirs:
    """A fresh output directory per job; older ones are removed."""

    def __init__(self, root: str):
        self.root = root
        self.k = 0

    def fresh(self) -> str:
        self.k += 1
        return os.path.join(self.root, f"job{self.k:04d}")

    @property
    def last(self) -> str:
        return os.path.join(self.root, f"job{self.k:04d}")

    def prune(self) -> None:
        for k in range(1, self.k):
            shutil.rmtree(os.path.join(self.root, f"job{k:04d}"),
                          ignore_errors=True)


class PipelineParquet(Workload):
    """``run_extraction(n_buckets=32)`` over the parquet page table into
    a fresh directory, then ``corpus_checksum``."""

    name = "pipeline_parquet"
    kernel_path = ("python", None)          # extract_pages(metrics=True)
    checksum_expr = 'bit_xor(xxhash64(concat_ws("\\u0000", url, text)))'

    def __init__(self, info, work_dir):
        super().__init__(info, work_dir)
        self.outs = _OutputDirs(os.path.join(work_dir, "pipeline_out"))

    def source_df(self, spark):
        return spark.read.parquet(self.info["pages"])

    def timed(self, spark) -> None:
        from swiftsoup_spark.spark.pipeline import (
            corpus_checksum, run_extraction)
        out = self.outs.fresh()
        run_extraction(spark, self.source_df(spark), out, n_buckets=32)
        self._last = corpus_checksum(spark, out)

    def output_df(self, spark):
        return spark.read.parquet(os.path.join(self.outs.last, "extracted"))

    def cleanup(self) -> None:
        self.outs.prune()


class WarcExtract(Workload):
    """binaryFile scan of ``.warc.gz`` -> ``warc_pages`` ->
    ``extract_pages`` -> parquet."""

    name = "warc_extract"

    def __init__(self, info, work_dir):
        super().__init__(info, work_dir)
        self.outs = _OutputDirs(os.path.join(work_dir, "warc_out"))

    def archives_df(self, spark):
        return (spark.read.format("binaryFile")
                .option("pathGlobFilter", "*.warc.gz")
                .load(self.info["warc"]))

    def source_df(self, spark):
        from swiftsoup_spark.sources.warc import warc_pages
        return warc_pages(self.archives_df(spark))

    def timed(self, spark) -> None:
        from swiftsoup_spark.spark.extract import extract_pages
        (extract_pages(self.source_df(spark))
         .write.mode("overwrite").parquet(self.outs.fresh()))

    def output_df(self, spark):
        return spark.read.parquet(self.outs.last)

    def result(self, spark):
        return checksum(self.output_df(spark))

    def cleanup(self) -> None:
        self.outs.prune()


class _PersistedCorpus(Workload):
    """The mixed corpus as a persisted in-memory DataFrame (url, html
    string), one partition per balanced ``part`` of the generator: one
    task per slot of ``local[4]`` (more, smaller tasks mostly add
    per-task Python worker set-up to the wall)."""

    def load(self, spark) -> None:
        from perfbench.gen import CORPUS_PARTS as n
        # hash partitioning sends key k to partition pmod(hash(k), n):
        # map each part to a key that lands in its own partition
        keys = {}
        for r in spark.range(4096).selectExpr(
                "CAST(id AS INT) AS k",
                f"pmod(hash(CAST(id AS INT)), {n}) AS p").collect():
            keys.setdefault(r.p, r.k)
        key = F.create_map(*[F.lit(v) for p in range(n)
                             for v in (p, keys[p])])
        self.df = (spark.read.parquet(self.info["corpus"])
                   .withColumn("pkey", F.element_at(key, F.col("part")))
                   .repartition(n, "pkey").persist())
        self.df.count()

    def source_df(self, spark):
        return self.df

    def timed(self, spark) -> None:
        self._last = checksum(self._extract(self.df))

    def output_df(self, spark):
        return self._extract(self.df)


class ExtractMixed(_PersistedCorpus):
    """``extract_pages(css_scope="#main")`` over the persisted corpus,
    reduced to a checksum."""

    name = "extract_mixed"
    kernel_path = ("stream", "main")

    @staticmethod
    def _extract(df):
        from swiftsoup_spark.spark.extract import extract_pages
        return extract_pages(df, css_scope="#main")


class MainContentDom(_PersistedCorpus):
    """``main_content_over`` over the persisted corpus, reduced to a
    checksum."""

    name = "maincontent_dom"
    kernel_path = ("arena", None)           # fast_parse

    @staticmethod
    def _extract(df):
        from swiftsoup_spark.ops.maincontent import main_content_over
        return main_content_over(df)


WORKLOADS = {w.name: w for w in
             (PipelineParquet, ExtractMixed, WarcExtract, MainContentDom)}
