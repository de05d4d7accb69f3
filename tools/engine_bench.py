"""Single-thread engine-only throughput (no Spark).

Reproducible harness behind the per-core envelope quoted in
BENCH/BASELINE.md: the reference publishes ~2.17 ms/file on real-web
pages (~460 docs/s/core, ~28 MB/s/core; /root/reference/README.md:239)
— this measures our pure-Python tokenizer+parser on the same two
deterministic corpora bench.py uses, one thread, best-of-N:

* ``realistic`` — ~4 KB pages, 12 text paragraphs (the shape of
  bench.py's pages_heavy corpus and the closest analogue of the
  reference benchmark's real-web mix);
* ``synthetic`` — the ~0.5 KB template pages (per-doc fixed costs
  dominate, the docs/sec ceiling).

Both paths are measured: the tokenizer-only fast path that
extract_text_udf uses for default options, and the full parser with
the text-only handler. The markdown renderer (DOM build + to_markdown,
the exact per-row work of markdown_udf) is measured on the realistic
corpus plus a structure-rich wiki-style corpus (headings/lists/links/
table — the shapes the renderer actually transforms). Prints one JSON
line.

Usage: python tools/engine_bench.py [n_docs] [repeats]
"""

from __future__ import annotations

import json
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from htmlparser2_spark.engine.fast_text import FastTextExtractor, TextHandler  # noqa: E402
from htmlparser2_spark.engine.parser import Parser  # noqa: E402

WORDS = (
    "spark group query row data slow small filter customer line merge "
    "vector stream batch the column token parse shuffle join scan"
).split()


def _text(i: int, n_words: int) -> str:
    return " ".join(WORDS[(i * 7 + k) % len(WORDS)] for k in range(n_words))


def realistic_page(i: int) -> str:
    # ~4 KB pages with ~420-char paragraph runs — the pages_heavy shape
    # bench.py measures (12 x the sf0.1 document text, ~460 chars each).
    paras = "".join(
        f'<p class="para">{_text(i + p, 70)}</p>' for p in range(12)
    )
    return (
        f"<html><head><title>Doc {i}</title></head><body>{paras}"
        "</body></html>"
    )


def text_heavy_page(i: int) -> str:
    # Long uninterrupted text runs (~12 KB in two paragraphs): the
    # upper end of the markup-density curve, where the skip-scan
    # dominates and per-construct Python dispatch amortizes away.
    paras = "".join(f"<p>{_text(i + p, 2000)}</p>" for p in range(2))
    return f"<html><body><h1>Doc {i}</h1>{paras}</body></html>"


def entity_heavy_page(i: int) -> str:
    # Escaped-web density: an entity every few words (named + numeric,
    # ~5 KB/page). Exercises the '&' cursor of the text scanner and the
    # decoder hot path — the round-3 cached-find rewrite made '<' and
    # '&' separate find() cursors, so this corpus pins the
    # entity-dense end of that tradeoff.
    words = " ".join(
        f"{WORDS[(i * 5 + k) % len(WORDS)]} &amp; x &lt; {k} &#8212;"
        for k in range(80)
    )
    return (
        f"<html><head><title>Doc {i} &copy;</title></head>"
        f'<body><p class="q">{words}</p><p>{words}</p></body></html>'
    )


def structured_page(i: int) -> str:
    # Wiki-style structure-rich page (~4 KB): nested lists, links,
    # emphasis, a pipe table, code — every markdown rule class fires,
    # so this corpus bounds the renderer's worst realistic mix.
    items = "".join(
        f'<li><a href="/w/{i}-{k}">{_text(i + k, 4)}</a>'
        f"<ul><li><b>{_text(i + k, 3)}</b> and <i>{_text(k, 3)}</i></li></ul></li>"
        for k in range(6)
    )
    rows = "".join(
        f"<tr><td>{_text(i + k, 3)}</td><td><code>v{k}</code></td></tr>"
        for k in range(5)
    )
    paras = "".join(f"<p>{_text(i + p, 40)}</p>" for p in range(4))
    return (
        f"<html><head><title>Doc {i}</title><style>p{{}}</style></head>"
        f"<body><h1>Doc {i}</h1>{paras}<h2>Index</h2><ul>{items}</ul>"
        f"<table><tr><th>key</th><th>val</th></tr>{rows}</table>"
        f"<pre>x = {i}</pre><blockquote>{_text(i, 12)}</blockquote>"
        "</body></html>"
    )


def synthetic_page(i: int) -> str:
    t = _text(i, 18).replace("the", "a & b")
    return (
        f'<!DOCTYPE html><html lang="en"><head><title>Doc {i}</title>'
        "<script>var x = 1 < 2;</script><style>p { color: red }</style>"
        f'</head><body><h1>Doc {i}</h1><!-- c --><p class="c3">{t}</p>'
        f'<a href="https://example.com/doc/{i}">more</a></body></html>'
    )


def measure(docs: list[str], one, repeats: int) -> dict:
    total_chars = sum(len(d) for d in docs)
    best = None
    for _ in range(repeats):
        t0 = time.perf_counter()
        for d in docs:
            one(d)
        elapsed = time.perf_counter() - t0
        best = elapsed if best is None else min(best, elapsed)
    return {
        "wall_sec": round(best, 3),
        "docs_per_sec": round(len(docs) / best, 1),
        "mb_per_sec": round(total_chars / 1e6 / best, 2),
        "ms_per_doc": round(best / len(docs) * 1e3, 4),
    }


def main(n_docs: int = 20000, repeats: int = 3) -> None:
    fast = FastTextExtractor()
    handler = TextHandler()
    # batch_text mirrors the production renderers (functions/udfs.py
    # RENDERERS): text/DOM-content extraction opts in to pre-decoded
    # text-run batching.
    parser = Parser(handler, batch_text=True)

    def full(d: str) -> str:
        parser.parse(d)
        return "".join(handler.parts)

    out = {"n_docs": n_docs, "repeats": repeats}
    for name, gen in (("realistic", realistic_page),
                      ("text_heavy", text_heavy_page),
                      ("entity_heavy", entity_heavy_page),
                      ("synthetic", synthetic_page)):
        docs = [gen(i) for i in range(n_docs)]
        out[f"{name}_bytes"] = sum(len(d) for d in docs)
        out[f"{name}_fast_path"] = measure(
            docs, lambda d: fast.extract(d)[0], repeats
        )
        out[f"{name}_full_parser"] = measure(docs, full, repeats)
        # Consistency: both paths must extract identical text.
        for d in docs[:200]:
            assert fast.extract(d)[0] == full(d), "fast != full"

    # Markdown rendering: DOM build + to_markdown, the per-row work of
    # markdown_udf (functions/udfs.py) with the same reused handler.
    from htmlparser2_spark.engine.dom import DomArrayHandler
    from htmlparser2_spark.engine.markdown import to_markdown

    md_handler = DomArrayHandler(with_indices=False)
    md_parser = Parser(md_handler, batch_text=True)  # = markdown_udf

    def render(d: str) -> str:
        md_parser.parse(d)
        return to_markdown(md_handler.nodes)

    for name, gen in (("realistic", realistic_page),
                      ("structured", structured_page)):
        docs = [gen(i) for i in range(n_docs)]
        out[f"{name}_markdown"] = measure(docs, render, repeats)
        assert render(docs[0])  # non-empty render sanity
    print(json.dumps(out))


if __name__ == "__main__":
    main(
        int(sys.argv[1]) if len(sys.argv) > 1 else 20000,
        int(sys.argv[2]) if len(sys.argv) > 2 else 3,
    )
