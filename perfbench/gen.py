"""Seeded input generator for the benchmark workloads.

Everything is derived from one integer seed in one process, so the same
seed always writes the same bytes:

* a ``documents`` table (doc_id, kind, host, lang, text) whose text is
  single-space-normalized words, sized so each rendered page lands in a
  chosen byte range;
* template pages rendered by DuckDB from the closed-form template of
  ``swiftsoup_spark/spark/pages.py`` (``HTML_SQL``), with their expected
  text from the same module's ``EXPECTED_*_SQL`` expressions;
* adversarial pages (frameset, deep nesting, non-ASCII tag names,
  ``<plaintext>``, NUL bytes, >64 distinct unknown tags) whose expected
  text is computed once by the pure-Python kernel.

Writers produce the three on-disk input shapes: the parquet page table
(``url, warc_ts, html:binary, text, lang``), Common-Crawl-framed
``.warc.gz`` archives, and the mixed corpus (``url, html:string``), each
beside an ``expected.parquet`` of per-url expected text.

Run standalone: ``python3 perfbench/gen.py --workload extract_mixed
--seed 1 --out /tmp/x`` prints a JSON summary of what it wrote.
"""

from __future__ import annotations

import argparse
import datetime
import json
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from swiftsoup_spark.spark import pages as P  # noqa: E402

WORDS = (
    "data page text crawl index host link node tree parse token query "
    "batch arrow spark kernel stream arena worker table column value scan "
    "merge filter group sort join window order line part big small fast "
    "slow archive record bucket manifest corpus shard café naïve über "
    "größe 数据 文本 ページ"
).split()
LANGS = ("en", "de", "fr", "ja", "zh")
N_HOSTS = 1000
ZIPF_S = 1.2

# Page-size ranges in bytes (rendered HTML).
TEMPLATE_BYTES = (1_000, 15_000)
BIG_BYTES = (200_000, 400_000)
ADVERSARIAL_BYTES = (1_000, 5_000)

# Adversarial shapes and the kernel tier each is meant to reach; the
# traced run reports the tiers actually taken (``kernel.docs_*``).
ARENA_SHAPES = ("frameset", "deep", "nonascii_tag", "plaintext")
PYTHON_SHAPES = ("nul", "unknown_tags")

# Per-workload document mix: fixed counts, so every seed has the same
# size and tier mix and only the content and order change.
MIXES = {
    "pipeline_parquet": {"template": 6000},
    "extract_mixed": {"template": 11340, "big": 60,
                      "frameset": 150, "deep": 30, "nonascii_tag": 150,
                      "plaintext": 150, "nul": 60, "unknown_tags": 60},
    "warc_extract": {"template": 12000},
}
MIXES["maincontent_dom"] = MIXES["extract_mixed"]

N_FILES = 8          # parquet files / WARC archives per input
CORPUS_PARTS = 4     # balanced ``part`` values of the mixed corpus


def _zipf_cdf(n: int, s: float) -> list[float]:
    w = [1.0 / (k ** s) for k in range(1, n + 1)]
    tot = sum(w)
    acc, out = 0.0, []
    for x in w:
        acc += x / tot
        out.append(acc)
    return out


class Generator:
    """All seeded choices for one seed; methods are pure functions of it."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        # a shared word pool; each document takes a slice of it
        self.pool = " ".join(self.rng.choices(WORDS, k=250_000))
        self.host_cdf = _zipf_cdf(N_HOSTS, ZIPF_S)

    def _text(self, n_chars: int) -> str:
        """Single-space-normalized words, about ``n_chars`` characters."""
        n_chars = max(8, min(n_chars, len(self.pool) - 16))
        start = self.rng.randrange(0, len(self.pool) - n_chars - 8)
        start = self.pool.index(" ", start) + 1
        end = self.pool.find(" ", start + n_chars)
        return self.pool[start:end if end > 0 else len(self.pool)]

    def _size(self, lo_hi) -> int:
        lo, hi = lo_hi
        return int(math.exp(self.rng.uniform(math.log(lo), math.log(hi))))

    def _host(self) -> int:
        u = self.rng.random()
        lo, hi = 0, N_HOSTS - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if self.host_cdf[mid] < u:
                lo = mid + 1
            else:
                hi = mid
        return lo

    def documents(self, mix: dict) -> list[dict]:
        """One row per page: doc_id, kind, host, lang, text.
        Kinds are shuffled so every file and task sees the same mix."""
        kinds = [k for k, n in mix.items() for _ in range(n)]
        self.rng.shuffle(kinds)
        rows = []
        for doc_id, kind in enumerate(kinds):
            if kind in ("template", "big"):
                np_ = 1 + doc_id % 4          # pages.NP_SQL
                target = self._size(BIG_BYTES if kind == "big"
                                    else TEMPLATE_BYTES)
                n = max(16, (target - 260 - 7 * np_) // np_)
            else:
                n = self._size(ADVERSARIAL_BYTES) // 2
            rows.append({
                "doc_id": doc_id, "kind": kind, "host": self._host(),
                "lang": self.rng.choice(LANGS),
                "text": self._text(n)})
        return rows


def url_of(host: int, doc_id: int) -> str:
    return f"https://host{host}.test/p{doc_id}"


def adversarial_html(kind: str, doc_id: int, text: str) -> str:
    """Page shapes that leave the C streaming tier (see ARENA_SHAPES /
    PYTHON_SHAPES). Each keeps the page's text inside ``#main`` where
    the shape allows one."""
    half = len(text) // 2
    a = text[:half].rstrip()
    b = text[half:].lstrip()
    head = f"<html><head><title>Adv {doc_id}</title></head>"
    if kind == "frameset":
        return (head + f'<frameset cols="50%,50%"><frame src="/f/{doc_id}">'
                f"<noframes><p>{a}</p></noframes></frameset></html>")
    if kind == "deep":
        # text stays near the page's other shapes; the short inner run
        # keeps the main-content heuristic's depth-quadratic cost bounded
        return (head + '<body><div id="main">' + "<div>" * 300 + a[:64]
                + "</div>" * 300 + f"<p>{b}</p></div></body></html>")
    if kind == "nonascii_tag":
        return (head + f'<body><div id="main"><p>{a}</p>'
                f'<sëction class="x">{b}</sëction></div></body></html>')
    if kind == "plaintext":
        return (head + f'<body><div id="main"><p>{a}</p>'
                f"<plaintext>{b} <b>raw</b> &amp; {doc_id}")
    if kind == "nul":
        return (head + f'<body><div id="main"><p>{a}\x00{doc_id}</p>'
                f"<p>{b}</p></div></body></html>")
    if kind == "unknown_tags":
        tags = "".join(f"<x{k}>w{k}</x{k}>" for k in range(70))
        return (head + f'<body><div id="main">{tags}<p>{a}</p>'
                f"<p>{b}</p></div></body></html>")
    raise ValueError(kind)


def python_expected(html: str, with_mc: bool) -> tuple[str, str, str]:
    """(main_text, doc_text, main_content_text or "") by the pure-Python
    kernel, independent of the C engines under test."""
    from swiftsoup_spark.kernel.treebuilder import HtmlTreeBuilder
    from swiftsoup_spark.ops.maincontent import main_content_text
    from swiftsoup_spark.select.engine import select

    arena = HtmlTreeBuilder().parse(html)
    m = select(arena, 0, "#main")
    main = arena.node_text(m[0]) if m else ""
    mc = main_content_text(arena) if with_mc else ""
    return main, arena.node_text(0), mc


def render(docs: list[dict], with_mc: bool = False) -> pa.Table:
    """Pages with expected texts: template rows through DuckDB's
    evaluation of pages.py's closed-form SQL, adversarial rows through
    the Python kernel. Columns: doc_id, kind, url, html, text, lang,
    main_text, doc_text, mc_text (main-content heuristic text, only
    when ``with_mc``; it is quadratic in nesting depth), in doc_id
    order."""
    import duckdb

    tmpl = [d for d in docs if d["kind"] in ("template", "big")]
    out = []
    if tmpl:
        con = duckdb.connect()
        try:
            con.register("documents", pa.Table.from_pylist(
                tmpl, schema=pa.schema([
                    ("doc_id", pa.int64()), ("kind", pa.string()),
                    ("host", pa.int64()), ("lang", pa.string()),
                    ("text", pa.string())])))
            t = con.execute(
                "SELECT doc_id, kind,"
                " 'https://host' || host || '.test/p' || doc_id"
                f" AS url, {P.HTML_SQL} AS html, text, lang, "
                f"{P.EXPECTED_MAIN_TEXT_SQL} AS main_text, "
                f"{P.EXPECTED_DOC_TEXT_SQL} AS doc_text "
                "FROM documents ORDER BY doc_id").fetch_arrow_table()
        finally:
            con.close()
        # the heuristic's winner on a template page is div#main (the
        # nav div's link text scores negative), so its text is main_text
        t = t.append_column("mc_text", t.column("main_text")
                             if with_mc else pa.nulls(t.num_rows, pa.string()))
        out.append(t)
    adv = [d for d in docs if d["kind"] not in ("template", "big")]
    if adv:
        rows = []
        for d in adv:
            html = adversarial_html(d["kind"], d["doc_id"], d["text"])
            main, whole, mc = python_expected(html, with_mc)
            rows.append({"doc_id": d["doc_id"], "kind": d["kind"],
                         "url": url_of(d["host"], d["doc_id"]),
                         "html": html, "text": d["text"], "lang": d["lang"],
                         "main_text": main, "doc_text": whole,
                         "mc_text": mc if with_mc else None})
        out.append(pa.Table.from_pylist(rows, schema=out[0].schema
                                        if out else None))
    t = pa.concat_tables(out) if len(out) > 1 else out[0]
    return t.sort_by("doc_id")


def balanced_parts(t: pa.Table, k: int) -> list[int]:
    """Deal documents into ``k`` parts with the same kind mix and nearly
    the same bytes: per kind, largest first, in snake order. Spark tasks
    then carry equal work on every seed, so the slowest task does not
    depend on where a few large pages happen to land."""
    kinds = t.column("kind").to_pylist()
    sizes = [len(h) for h in t.column("html").to_pylist()]
    part = [0] * len(kinds)
    for kind in sorted(set(kinds)):
        idx = sorted((i for i, x in enumerate(kinds) if x == kind),
                     key=lambda i: (-sizes[i], i))
        for j, i in enumerate(idx):
            r = j % (2 * k)
            part[i] = r if r < k else 2 * k - 1 - r
    return part


def _files(t: pa.Table, k: int) -> list[pa.Table]:
    part = pa.array(balanced_parts(t, k), pa.int32())
    return [t.filter(pa.compute.equal(part, i)) for i in range(k)]


def write_parquet_pages(t: pa.Table, out_dir: str) -> None:
    """The north-rule page table: url, warc_ts, html:binary, text, lang."""
    ts = pa.array([P.TS0 + i for i in t.column("doc_id").to_pylist()],
                  pa.int64()).cast(pa.timestamp("s", tz="UTC"))
    pages = pa.table({
        "url": t.column("url"), "warc_ts": ts,
        "html": t.column("html").cast(pa.binary()),
        "text": t.column("text"), "lang": t.column("lang")})
    os.makedirs(out_dir, exist_ok=True)
    for k, part in enumerate(_files(pages.append_column(
            "kind", t.column("kind")), N_FILES)):
        pq.write_table(part.drop_columns(["kind"]),
                       os.path.join(out_dir, f"part-{k:05d}.parquet"),
                       row_group_size=256)


def write_warc(t: pa.Table, out_dir: str) -> None:
    """Common-Crawl-framed archives via sources/warc.build_warc_gz."""
    from swiftsoup_spark.sources.warc import build_warc_gz

    os.makedirs(out_dir, exist_ok=True)
    for k, part in enumerate(_files(t, N_FILES)):
        recs = []
        for url, html, doc_id in zip(*(part.column(c).to_pylist() for c in
                                       ("url", "html", "doc_id"))):
            date = datetime.datetime.fromtimestamp(
                P.TS0 + doc_id, datetime.timezone.utc)
            recs.append((url, date.strftime("%Y-%m-%dT%H:%M:%SZ"),
                         html.encode("utf-8")))
        with open(os.path.join(out_dir, f"part-{k:05d}.warc.gz"), "wb") as f:
            f.write(build_warc_gz(recs))


def write_inputs(workload: str, seed: int, out_dir: str) -> dict:
    """Write ``workload``'s inputs under ``out_dir``; returns a summary
    (paths, documents, html bytes, kind counts)."""
    gen = Generator(seed)
    docs = gen.documents(MIXES[workload])
    t = render(docs, with_mc=workload == "maincontent_dom")
    os.makedirs(out_dir, exist_ok=True)
    info = {"workload": workload, "seed": seed, "docs": t.num_rows,
            "html_bytes": pa.compute.sum(
                pa.compute.binary_length(t.column("html"))).as_py(),
            "kinds": dict(sorted(MIXES[workload].items()))}
    if workload == "pipeline_parquet":
        info["pages"] = os.path.join(out_dir, "pages")
        write_parquet_pages(t, info["pages"])
        exp = {"url": t.column("url"), "text": t.column("doc_text")}
    elif workload == "warc_extract":
        info["warc"] = os.path.join(out_dir, "warc")
        write_warc(t, info["warc"])
        exp = {"url": t.column("url"), "text": t.column("doc_text")}
    else:
        info["corpus"] = os.path.join(out_dir, "corpus.parquet")
        corpus = t.select(["url", "html"]).append_column(
            "part", pa.array(balanced_parts(t, CORPUS_PARTS), pa.int32()))
        pq.write_table(corpus, info["corpus"], row_group_size=512)
        col = "main_text" if workload == "extract_mixed" else "mc_text"
        exp = {"url": t.column("url"), "text": t.column(col)}
    info["expected"] = os.path.join(out_dir, "expected.parquet")
    pq.write_table(pa.table(exp), info["expected"])
    return info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(MIXES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    print(json.dumps(write_inputs(a.workload, a.seed, a.out)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
