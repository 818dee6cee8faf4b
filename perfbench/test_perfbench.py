"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

* the generator writes identical bytes for a seed, and different bytes
  for another seed;
* adversarial page shapes reach the kernel tier they are meant for;
* the correctness check catches a deliberately wrong or missing text.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", ["pipeline_parquet", "warc_extract",
                                      "extract_mixed"])
def test_generator_is_deterministic(tmp_path, workload):
    a = gen.write_inputs(workload, 7, str(tmp_path / "a"))
    b = gen.write_inputs(workload, 7, str(tmp_path / "b"))
    c = gen.write_inputs(workload, 8, str(tmp_path / "c"))
    ta, tb, tc = (_tree_bytes(str(tmp_path / k)) for k in "abc")
    assert ta == tb
    assert ta.keys() == tc.keys() and ta != tc
    assert a["docs"] == c["docs"] == sum(gen.MIXES[workload].values())
    assert a["html_bytes"] == b["html_bytes"]


def test_adversarial_shapes_reach_their_tier():
    from swiftsoup_spark.kernel import fastpath as FP
    m = FP.get_module()
    if m is None:
        pytest.skip("C kernel unavailable")
    text = "alpha beta café 数据 gamma delta " * 20
    for kind in gen.ARENA_SHAPES + gen.PYTHON_SHAPES:
        html = gen.adversarial_html(kind, 3, text)
        scope = "main"
        assert m.doc_text(html, scope) is None, kind
        arena = m.arena_doc_text(html, scope)
        if kind in gen.ARENA_SHAPES:
            assert arena is not None, kind
            assert arena[0] == gen.python_expected(html, False)[0], kind
        else:
            assert arena is None, kind


def test_template_expected_text_matches_python_kernel():
    """The closed-form DuckDB expected texts agree with the Python
    kernel on rendered template pages."""
    g = gen.Generator(5)
    t = gen.render(g.documents({"template": 20, "big": 1}), with_mc=True)
    for html, main, whole, mc in zip(*(t.column(c).to_pylist() for c in
                                       ("html", "main_text", "doc_text",
                                        "mc_text"))):
        assert gen.python_expected(html, True) == (main, whole, mc)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession
    tmp = str(tmp_path_factory.mktemp("spark"))
    s = (SparkSession.builder.master("local[1]").appName("perfbench-test")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.local.dir", tmp)
         .config("spark.sql.warehouse.dir", os.path.join(tmp, "wh"))
         .getOrCreate())
    yield s
    s.stop()


def test_check_catches_wrong_and_missing_text(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from perfbench.workloads import checksum, count_mismatches

    exp_rows = [(f"https://h.test/p{i}", f"text {i}") for i in range(50)]
    exp_path = str(tmp_path / "expected.parquet")
    pq.write_table(pa.table({"url": [u for u, _ in exp_rows],
                             "text": [t for _, t in exp_rows]}), exp_path)
    exp = spark.read.parquet(exp_path)
    good = spark.createDataFrame(exp_rows, "url string, text string")
    assert count_mismatches(good, exp) == 0
    assert checksum(good) == checksum(exp)

    wrong = list(exp_rows)
    wrong[17] = (wrong[17][0], "text 17 ")          # one wrong byte
    bad = spark.createDataFrame(wrong, "url string, text string")
    assert checksum(bad) != checksum(exp)
    assert count_mismatches(bad, exp) == 1

    missing = spark.createDataFrame(exp_rows[:-2], "url string, text string")
    assert count_mismatches(missing, exp) == 2


def test_checker_counts_failed_documents(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from perfbench.run import Checker
    from perfbench.workloads import Workload, checksum

    rows = [(f"https://h.test/p{i}", f"text {i}") for i in range(10)]
    exp_path = str(tmp_path / "expected.parquet")
    pq.write_table(pa.table({"url": [u for u, _ in rows],
                             "text": [t for _, t in rows]}), exp_path)

    class Fake(Workload):
        def __init__(self):
            super().__init__({"docs": 10, "html_bytes": 1,
                              "expected": exp_path}, str(tmp_path))
            self.rows = rows

        def output_df(self, spark):
            return spark.createDataFrame(self.rows, "url string, text string")

        def result(self, spark):
            return checksum(self.output_df(spark))

    wl = Fake()
    ck = Checker(wl, spark)
    ck.check(spark)
    assert (ck.attempted, ck.failed) == (10, 0)
    wl.rows = rows[:3] + [(rows[3][0], "wrong")] + rows[4:]
    ck.check(spark)
    assert (ck.attempted, ck.failed) == (20, 1)
