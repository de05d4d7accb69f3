"""Seeded corpus generator and single-thread reference for the benchmark.

Every input is derived from ``perfbench/data/documents.parquet`` (a copy of
the sf0.1 ``documents`` test table: 5000 rows of word-salad ``text`` with
``lang`` and ``source``) and the workload seed; nothing else is read.

``prepare`` runs in a throwaway child process, so neither the corpus
build nor the reference computation leaves heap or interpreter state in
the process that is timed. It writes, under the run's work directory:

``pages/part-*.parquet``
    the workload's pages ``(url, html, [text,] lang)`` in files of
    near-equal html bytes. Small pages come from ``sources.pages.page_exprs`` (its DuckDB
    dialect) over a seeded draw of document rows; the other pages are
    built here, and a ``text`` column, where present, holds the expected
    textContent by construction.

``reference.json``
    expected outputs (per-url checksums, and for the counts workload the
    name histogram and stats totals) computed with the engine on a
    process pool, single-threaded per document, plus the corpus
    properties recorded with every run.

Usage: python3 perfbench/corpus.py <workload> <seed> <work_dir> <procs> <n_files>
"""

from __future__ import annotations

import heapq
import json
import math
import os
import random
import re
import sys
import zlib
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")
DATA_SHA256 = "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82"

SMALL_DOCS = 12_000
LARGE_DOCS = 4_500
STRUCTURED_DOCS = 1_200
SVG_SHARE = 0.08
HEAVY_TAIL_SHARE = 0.04
DEPTH_DOCS = 1000
NULL_NAME = "\x00"  # node-count key of text and comment nodes (their name is null)

_ENTITIES = (("&amp;", "&"), ("&copy;", "©"), ("&#8212;", "—"), ("&lt;b&gt;", "<b>"))
_ENTITY_RE = re.compile(r"&(?:#\d+|#x[0-9a-fA-F]+|[A-Za-z]+);")


def load_documents() -> list[dict]:
    import hashlib

    with open(DATA, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()
    if digest != DATA_SHA256:
        raise SystemExit(f"{DATA}: sha256 {digest} != {DATA_SHA256}")
    return pq.read_table(DATA, columns=["doc_id", "text", "lang", "source"]).to_pylist()


def checksum(url: str, value: str) -> int:
    """Per-row output checksum; equals Spark's
    ``crc32(encode(concat(url, '\\u0001', value), 'utf-8'))``."""
    return zlib.crc32(f"{url}\x01{value}".encode("utf-8"))


# ---------------------------------------------------------------- inputs


def small_pages(docs: list[dict], rng: random.Random, n: int) -> pa.Table:
    """The three ``sources/pages.py`` page variants, built by
    ``page_exprs("duckdb")`` over a seeded draw of document rows under
    distinct seeded doc_ids (the doc_id picks the variant and the host)."""
    import duckdb

    from htmlparser2_spark.sources.pages import page_exprs

    ids = rng.sample(range(10_000_000), n)
    picks = [docs[rng.randrange(len(docs))] for _ in ids]
    documents = pa.table(  # noqa: F841 (scanned by name in the query)
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": [d["text"] for d in picks],
            "lang": [d["lang"] for d in picks],
            "source": [d["source"] for d in picks],
        }
    )
    e = page_exprs("duckdb")
    with duckdb.connect() as con:
        return con.execute(
            f"SELECT {e['url']} AS url, {e['html']} AS html, {e['text']} AS text, lang "
            "FROM documents ORDER BY doc_id"
        ).arrow()


def _paragraph(docs: list[dict], rng: random.Random) -> tuple[str, str]:
    """One paragraph as (markup, expected text); a seeded share of words
    is followed by an entity."""
    words = docs[rng.randrange(len(docs))]["text"].split()
    markup, text = [], []
    for w in words:
        markup.append(w)
        text.append(w)
        if rng.random() < 0.06:
            ent, dec = _ENTITIES[rng.randrange(len(_ENTITIES))]
            markup.append(ent)
            text.append(dec)
    return " ".join(markup), " ".join(text)


def large_page(docs: list[dict], rng: random.Random, i: int) -> tuple[str, str, str]:
    """~4-8 KB article page, a heavy tail of 3-8x longer pages, and a
    seeded share carrying an inline ``<svg>`` (the fast path's bail)."""
    n_paras = rng.randint(13, 26)
    if rng.random() < HEAVY_TAIL_SHARE:
        n_paras *= rng.choice((3, 4, 6, 8))
    lang = docs[i % len(docs)]["lang"]
    title = f"Article {i}"
    parts = [
        f'<!DOCTYPE html><html lang="{lang}"><head><meta charset="utf-8">'
        f"<title>{title}</title></head><body><article><h1>{title}</h1>"
    ]
    text = [title, title]
    svg_at = rng.randrange(n_paras) if rng.random() < SVG_SHARE else -1
    for p in range(n_paras):
        markup, expected = _paragraph(docs, rng)
        parts.append(f'<p class="p{p % 4}">{markup}</p>')
        text.append(expected)
        if p == svg_at:
            parts.append(
                '<svg viewBox="0 0 8 8"><circle cx="4" cy="4" r="3"/>'
                f'<text x="1" y="6">figure {i}</text></svg>'
            )
            text.append(f"figure {i}")
    parts.append("</article></body></html>")
    url = f"https://news{i % 37}.example/a/{rng.getrandbits(40):x}/{i}"
    return url, "".join(parts), "".join(text)


def structured_page(docs: list[dict], rng: random.Random, i: int) -> tuple[str, str]:
    """Wiki-style page: headings, paragraphs with links and emphasis,
    nested lists, a table, code and a quote, inside a seeded stack of
    wrapper divs (depth stays far below the renderer's recursion limit)."""

    def words(k: int) -> str:
        w = docs[rng.randrange(len(docs))]["text"].split()
        start = rng.randrange(max(1, len(w) - k))
        return " ".join(w[start : start + k]) or "x"

    def lst(depth: int) -> str:
        tag = "ul" if rng.random() < 0.7 else "ol"
        items = []
        for k in range(rng.randint(2, 4)):
            inner = lst(depth + 1) if depth < 3 and rng.random() < 0.3 else ""
            items.append(
                f'<li><a href="/wiki/{i}-{depth}-{k}">{words(3)}</a> {words(4)}{inner}</li>'
            )
        return f"<{tag}>{''.join(items)}</{tag}>"

    body = [f"<h1>Entry {i}</h1>"]
    for s in range(rng.randint(1, 3)):
        body.append(f"<h2>Section {s}</h2>")
        body.append(
            f"<p>{words(12)} <b>{words(2)}</b> {words(8)} "
            f'<a href="https://ref.example/{i}/{s}">{words(2)}</a> <i>{words(3)}</i> {words(6)}</p>'
        )
        if rng.random() < 0.6:
            body.append(lst(0))
        if rng.random() < 0.4:
            rows = "".join(
                f"<tr><td>{words(2)}</td><td><code>v{r}</code></td><td>{rng.randint(0, 999)}</td></tr>"
                for r in range(rng.randint(2, 5))
            )
            body.append(f"<table><tr><th>key</th><th>val</th><th>n</th></tr>{rows}</table>")
    body.append(f"<h3>Notes</h3><blockquote>{words(12)}</blockquote><pre>x = {i}</pre>")
    depth = rng.randint(2, 40)
    html = (
        f"<html><head><title>Entry {i}</title><style>p{{margin:0}}</style></head><body>"
        + '<div class="w">' * depth
        + "".join(body)
        + "</div>" * depth
        + "</body></html>"
    )
    url = f"https://wiki{i % 23}.example/w/{rng.getrandbits(40):x}/{i}"
    return url, html


def generate(workload: str, seed: int) -> pa.Table:
    """The workload's pages ``(url, html, [text,] lang)`` for ``seed``."""
    docs = load_documents()
    rng = random.Random(f"{workload}:{seed}")
    if workload == "small_pages_counts":
        return small_pages(docs, rng, SMALL_DOCS)
    if workload == "large_pages_text":
        rows = [large_page(docs, rng, i) for i in range(LARGE_DOCS)]
        cols = {"url": [r[0] for r in rows], "html": [r[1] for r in rows], "text": [r[2] for r in rows]}
    elif workload == "structured_markdown_write":
        rows = [structured_page(docs, rng, i) for i in range(STRUCTURED_DOCS)]
        cols = {"url": [r[0] for r in rows], "html": [r[1] for r in rows]}
    else:
        raise ValueError(f"unknown workload {workload!r}")
    cols["html"] = pa.array([h.encode("utf-8") for h in cols["html"]], pa.binary())
    cols["lang"] = [docs[i % len(docs)]["lang"] for i in range(len(rows))]
    return pa.table(cols)


def write_pages(table: pa.Table, pages_dir: str, n_files: int) -> None:
    """Pages into ``n_files`` parquet files of near-equal html bytes
    (largest page first into the lightest file), so that how the seed
    places the heavy tail does not decide which partition is slowest."""
    sizes = pc.binary_length(table.column("html")).to_pylist()
    heap = [(0, k) for k in range(n_files)]
    files: list[list[int]] = [[] for _ in range(n_files)]
    for i in sorted(range(len(sizes)), key=lambda i: -sizes[i]):
        load, k = heapq.heappop(heap)
        files[k].append(i)
        heapq.heappush(heap, (load + sizes[i], k))
    os.makedirs(pages_dir)
    for k, rows in enumerate(files):
        pq.write_table(table.take(sorted(rows)), os.path.join(pages_dir, f"part-{k:05d}.parquet"))


# ------------------------------------------------------------- reference


class _StatsHandler:
    """Per-document event counters with ``doc_stats_udf``'s definitions:
    events = opens + closes + texts + comments + PIs, depth of open tags."""

    def __init__(self) -> None:
        self.on_parser_init(None)

    def on_parser_init(self, parser) -> None:
        self.n_events = self.n_tags = self.n_text_chars = 0
        self.max_depth = self._depth = 0

    def on_open_tag(self, name, attrs, implied) -> None:
        self.n_events += 1
        self.n_tags += 1
        self._depth += 1
        self.max_depth = max(self.max_depth, self._depth)

    def on_close_tag(self, name, implied) -> None:
        self.n_events += 1
        self._depth = max(0, self._depth - 1)

    def on_text(self, data) -> None:
        self.n_events += 1
        self.n_text_chars += len(data)

    def on_comment(self, data) -> None:
        self.n_events += 1

    def on_processing_instruction(self, name, data) -> None:
        self.n_events += 1


def stats_key(stats, counts) -> str:
    """Canonical per-document string of the counts workload's outputs."""
    names = ",".join(f"{k}:{v}" for k, v in sorted(counts.items(), key=lambda kv: str(kv[0])))
    return "{},{},{},{}|{}".format(*stats, names)


def _reference_chunk(args: tuple[str, list[str], list[str]]) -> dict:
    """Reference outputs for one chunk of documents (pool worker)."""
    mode, urls, htmls = args
    from htmlparser2_spark.engine.dom import DomArrayHandler
    from htmlparser2_spark.engine.parser import Parser

    stats = _StatsHandler()
    stats_parser = Parser(stats)
    out: dict = {"crc": {}, "max_depth": 0, "names": {}, "stats": [0, 0, 0, 0]}
    if mode == "markdown":
        from htmlparser2_spark.engine.markdown import to_markdown

        dom = DomArrayHandler(with_indices=False)
        dom_parser = Parser(dom, batch_text=True)
    elif mode == "counts":
        dom = DomArrayHandler(with_indices=False)
        dom_parser = Parser(dom)
    for url, doc in zip(urls, htmls):
        stats_parser.parse(doc)
        out["max_depth"] = max(out["max_depth"], stats.max_depth)
        if mode == "markdown":
            dom_parser.parse(doc)
            out["crc"][url] = checksum(url, to_markdown(dom.nodes))
        elif mode == "counts":
            dom_parser.parse(doc)
            counts: dict = {}
            for node in dom.nodes:
                counts[node["name"]] = counts.get(node["name"], 0) + 1
            row = (stats.n_events, stats.n_tags, stats.n_text_chars, stats.max_depth)
            for k, v in counts.items():
                key = NULL_NAME if k is None else k
                out["names"][key] = out["names"].get(key, 0) + v
            out["stats"] = [a + b for a, b in zip(out["stats"], row)]
            out["crc"][url] = zlib.crc32(stats_key(row, counts).encode("utf-8"))
    return out


def _quantile(sorted_vals: list[int], q: float) -> int:
    return sorted_vals[min(len(sorted_vals) - 1, math.ceil(q * len(sorted_vals)) - 1)]


def reference(workload: str, table: pa.Table, procs: int) -> dict:
    """Expected outputs + corpus properties of the workload's pages."""
    urls = table.column("url").to_pylist()
    htmls = [b.decode("utf-8") for b in table.column("html").to_pylist()]
    sizes = sorted(len(h.encode("utf-8")) for h in htmls)
    mode = {"small_pages_counts": "counts", "structured_markdown_write": "markdown"}.get(
        workload, "depth"
    )
    if mode == "depth":
        # Text workloads check against their expected column; the engine
        # runs here only for the depth property, on the first docs.
        parts = [_reference_chunk((mode, urls[:DEPTH_DOCS], htmls[:DEPTH_DOCS]))]
    else:
        step = max(1, len(urls) // (procs * 4))
        chunks = [(mode, urls[i : i + step], htmls[i : i + step]) for i in range(0, len(urls), step)]
        with ProcessPoolExecutor(procs, mp_context=get_context("spawn")) as pool:
            parts = list(pool.map(_reference_chunk, chunks))
    ref: dict = {"docs": len(urls), "html_bytes": sum(sizes)}
    if workload.endswith("_text"):
        texts = table.column("text").to_pylist()
        ref["crc"] = {u: checksum(u, t) for u, t in zip(urls, texts)}
    else:
        ref["crc"] = {u: c for p in parts for u, c in p["crc"].items()}
    if mode == "counts":
        names: dict = {}
        for p in parts:
            for k, v in p["names"].items():
                names[k] = names.get(k, 0) + v
        ref["names"] = names
        ref["stats"] = [sum(p["stats"][j] for p in parts) for j in range(4)]
    ref["crc_sum"] = sum(ref["crc"].values())
    n_entities = sum(len(_ENTITY_RE.findall(h)) for h in htmls)
    ref["props"] = {
        "docs": len(urls),
        "html_bytes": sum(sizes),
        "size_p50": _quantile(sizes, 0.5),
        "size_p99": _quantile(sizes, 0.99),
        "size_max": sizes[-1],
        "svg_share": round(sum("<svg" in h for h in htmls) / len(htmls), 4),
        "entities_per_kb": round(n_entities / (sum(sizes) / 1024), 3),
        "max_depth": max(p["max_depth"] for p in parts),
        "max_depth_docs": min(DEPTH_DOCS, len(urls)) if mode == "depth" else len(urls),
    }
    return ref


def prepare(workload: str, seed: int, work_dir: str, procs: int, n_files: int) -> None:
    """Pages in ``n_files`` parquet files and the reference for one run."""
    table = generate(workload, seed)
    write_pages(table, os.path.join(work_dir, "pages"), n_files)
    with open(os.path.join(work_dir, "reference.json"), "w") as fh:
        json.dump(reference(workload, table, procs), fh)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    prepare(sys.argv[1], int(sys.argv[2]), sys.argv[3], int(sys.argv[4]), int(sys.argv[5]))
