"""Vectorized (Arrow-batched) Spark UDFs wrapping the parse engine.

All heavy work happens inside pandas UDFs over Arrow record batches — no
per-row Python dispatch from Spark's side (BASELINE.json input_hint).
Every parse UDF here, ``outer_html``/``inner_html`` (operators/domquery.py)
and ``parse_pages`` (plans/extract_job.py) run one ``RENDERERS`` entry —
one factory per output, building its handler and Parser once per batch —
inside ``_map_docs``, the one per-document batch loop.

Equivalents of the reference's API surface (/root/reference/src/index.ts):

* ``extract_text_udf``  — parseDocument + DomUtils textContent, fused into
  a text-only handler (no DOM materialization) for the hot path
* ``clean_text_udf``    — boilerplate-stripping variant
* ``main_content_udf``  — readability-lite main-content block selection
* ``markdown_udf``      — structure-keeping Markdown rendering
* ``dom_nodes_udf``     — parseDocument as an adjacency node array
* ``node_counts_udf``   — per-document DOM node-name histogram
* ``parser_events_udf`` — the Handler event stream (testHelper shape)
* ``feed_udf`` / ``sitemap_udf`` — parseFeed / sitemap records
* ``doc_stats_udf``     — per-document node/text/event counters
"""

from __future__ import annotations

from functools import partial
from operator import attrgetter

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..engine.dom import (
    DomArrayHandler,
    clean_text,
    inner_html_of,
    inner_text,
    serialize,
)
from ..engine.encoding import decode_html
from ..engine.fast_text import FastTextExtractor, TextHandler
from ..engine.feed import get_feed
from ..engine.markdown import to_markdown
from ..engine.parser import Parser, ParserOptions
from ..engine.readability import main_content_text
from ..engine.sitemap import get_sitemap

__all__ = [
    "extract_text_udf",
    "clean_text_udf",
    "main_content_udf",
    "inner_text_udf",
    "dom_nodes_udf",
    "node_counts_udf",
    "parser_events_udf",
    "feed_udf",
    "sitemap_udf",
    "markdown_udf",
    "sniff_decode_udf",
    "doc_stats_udf",
    "NODE_SCHEMA",
    "NODE_COUNT_SCHEMA",
    "EVENT_SCHEMA",
    "FEED_SCHEMA",
    "SITEMAP_SCHEMA",
    "STATS_SCHEMA",
]


def _to_str(value) -> str:
    if isinstance(value, (bytes, bytearray, memoryview)):
        return bytes(value).decode("utf-8", "replace")
    return value or ""


def _decode_sniffed(value) -> str:
    return "" if value is None else decode_html(value)[1]


def _map_docs(values: pd.Series, render, *, sniff_charset: bool = False,
              columns=None):
    """Decode each value (NULL -> empty document; ``sniff_charset``: BOM +
    meta prescan, engine/encoding.py) and ``render`` it. Returns a Series
    aligned with ``values``, or a DataFrame when ``columns`` names the
    rendered tuples' fields."""
    decode = _decode_sniffed if sniff_charset else _to_str
    # Series.__iter__ is slow; pull one plain list per batch.
    out = [render(decode(v)) for v in values.tolist()]
    if columns is None:
        return pd.Series(out, index=values.index, dtype=object)
    return pd.DataFrame(out, index=values.index, columns=columns)


class _CountingHandler:
    """Counts events / nodes / text chars in one pass."""

    __slots__ = ("n_events", "n_tags", "n_text_chars", "max_depth", "_depth")

    def on_parser_init(self, parser) -> None:
        self.n_events = 0
        self.n_tags = 0
        self.n_text_chars = 0
        self.max_depth = 0
        self._depth = 0

    def on_open_tag(self, name, attrs, implied) -> None:
        self.n_events += 1
        self.n_tags += 1
        self._depth += 1
        if self._depth > self.max_depth:
            self.max_depth = self._depth

    def on_close_tag(self, name, implied) -> None:
        self.n_events += 1
        if self._depth > 0:
            self._depth -= 1

    def on_text(self, data: str) -> None:
        self.n_events += 1
        self.n_text_chars += len(data)

    def on_comment(self, data: str) -> None:
        self.n_events += 1

    def on_processing_instruction(self, name, data) -> None:
        self.n_events += 1


class _NodeCountHandler:
    """Per-document histogram of DOM node names without building the DOM.

    Counts exactly the nodes :class:`DomArrayHandler` would emit —
    including the merged-text-run rule (adjacent text events form ONE
    text node) and null names for text/comment/cdata — so
    ``explode(node_counts) -> groupBy(name) -> sum(cnt)`` equals
    ``explode(dom_nodes) -> groupBy(node.name) -> count()`` while
    transferring ~tens of (name, cnt) pairs per doc instead of every
    node struct. The scale path for tag histograms.
    """

    __slots__ = ("counts", "_text_open")

    def on_parser_init(self, parser) -> None:
        self.counts: dict = {}
        self._text_open = False

    def _inc(self, name) -> None:
        c = self.counts
        c[name] = c.get(name, 0) + 1

    def on_open_tag(self, name, attrs, implied) -> None:
        self._inc(name)
        self._text_open = False

    def on_close_tag(self, name, implied) -> None:
        self._text_open = False

    def on_text(self, data: str) -> None:
        if not self._text_open:
            self._inc(None)
            self._text_open = True

    def on_comment(self, data: str) -> None:
        self._inc(None)

    def on_comment_end(self) -> None:
        self._text_open = False

    def on_cdata_start(self) -> None:
        self._inc(None)
        self._text_open = False

    def on_cdata_end(self) -> None:
        self._text_open = False

    def on_processing_instruction(self, name, data) -> None:
        self._inc(name)


class _EventArrayHandler:
    """Parser events as flat records (testHelper-equivalent shape)."""

    def on_parser_init(self, parser) -> None:
        self.parser = parser
        self.events = []

    def _push(self, event, name=None, data=None, attrs=None, implied=None):
        p = self.parser
        self.events.append(
            {
                "seq": len(self.events),
                "event": event,
                "name": name,
                "data": data,
                "attrs": attrs,
                "is_implied": implied,
                "start_index": p.start_index,
                "end_index": p.end_index,
            }
        )

    def on_open_tag(self, name, attrs, implied):
        self._push("opentag", name=name, attrs=dict(attrs), implied=implied)

    def on_close_tag(self, name, implied):
        self._push("closetag", name=name, implied=implied)

    def on_text(self, data):
        self._push("text", data=data)

    def on_comment(self, data):
        self._push("comment", data=data)

    def on_cdata_start(self):
        self._push("cdatastart")

    def on_cdata_end(self):
        self._push("cdataend")

    def on_processing_instruction(self, name, data):
        self._push("processinginstruction", name=name, data=data)


# ------------------------------------------------------------------
# Renderers. batch_text=True opts in to the tokenizer's pre-decoded
# text-run batching (engine/parser.py __init__): only for handlers that
# consume neither per-event granularity nor per-entity positions —
# text/DOM-content extraction, feeds, node-name histograms. The
# event-exact renderers (events, stats, dom_nodes with indices) MUST
# keep the exact stream.


def _renderer(new_handler, render, *, batch_text: bool = True):
    """Registry entry: ``(options, **params) -> (doc -> value)`` with one
    ``new_handler(**params)`` and Parser per call, ``render(handler)``
    after each parse. The Parser fires ``on_parser_init`` at construction
    and on every parse, which is where these handlers bind their state."""

    def make(options: dict, **params):
        handler = new_handler(**params)
        parser = Parser(handler, ParserOptions(**options), batch_text=batch_text)

        def one(doc: str):
            parser.parse(doc)
            return render(handler)

        return one

    return make


def _dom(render):
    """Renderer for ``render(nodes)`` over a position-free DOM parse."""
    return _renderer(
        partial(DomArrayHandler, with_indices=False), lambda h: render(h.nodes)
    )


# The text-family renderers render ``(text, n_tags)``: the open-element
# count is parse_pages' lineage column (its modes are exactly these
# names); their string UDFs keep the text only.
TEXT_RENDERERS = ("text", "main", "markdown")
TEXT_COLUMNS = ("text", "n_tags")
_full_text = _renderer(TextHandler, lambda h: ("".join(h.parts), h.n_tags))


def _text(options: dict):
    # Default HTML options: tokenizer-only fast path (~2x), bails to
    # the full parser on foreign content.
    return _full_text(options) if options else FastTextExtractor().extract


def _tagged(render):
    def tagged(nodes: list[dict]) -> tuple[str, int]:
        n_tags = sum(1 for n in nodes if n["type"] in ("tag", "script", "style"))
        return render(nodes), n_tags

    return tagged


_ITEM_FIELDS = ("id", "title", "link", "description", "pubDate")


def _feed_row(nodes: list[dict]) -> tuple:
    feed = get_feed(nodes)
    if feed is None:
        return (None,) * len(FEED_SCHEMA.fields)
    items = [
        {**dict.fromkeys(_ITEM_FIELDS), **it, "media": it.get("media") or []}
        for it in feed.get("items", [])
    ]
    return (*(feed.get(f) for f in FEED_SCHEMA.fieldNames()[:-1]), items)


def _sitemap_row(nodes: list[dict]) -> tuple:
    sm = get_sitemap(nodes)
    return (None, None) if sm is None else (sm["kind"], sm["entries"])


def _outer_html(options: dict):
    return _dom(partial(serialize, xml_mode=options.get("xml_mode", False)))(options)


def _inner_html(options: dict, tag: str = "body"):
    xml_mode = options.get("xml_mode", False)

    def render(nodes: list[dict]) -> str | None:
        target = next((n for n in nodes if n["name"] == tag), None)
        return target and inner_html_of(nodes, target["node_id"], xml_mode=xml_mode)

    return _dom(render)(options)


RENDERERS = {
    "text": _text,
    "inner_text": _dom(inner_text),
    "clean_text": _dom(clean_text),
    "main": _dom(_tagged(main_content_text)),
    "markdown": _dom(_tagged(to_markdown)),
    # on_parser_init binds a *fresh* node/event list per document, so a
    # list returned for one row is never mutated by the next parse.
    "dom_nodes": _renderer(DomArrayHandler, attrgetter("nodes"), batch_text=False),
    "node_counts": _renderer(
        _NodeCountHandler,
        lambda h: [{"name": k, "cnt": v} for k, v in h.counts.items()],
    ),
    "events": _renderer(_EventArrayHandler, attrgetter("events"), batch_text=False),
    "feed": _dom(_feed_row),
    "sitemap": _dom(_sitemap_row),
    "stats": _renderer(
        _CountingHandler,
        attrgetter("n_events", "n_tags", "n_text_chars", "max_depth"),
        batch_text=False,
    ),
    "outer_html": _outer_html,
    "inner_html": _inner_html,
}


def _parse_udf(name: str, schema, options: dict, **params):
    """pandas UDF: renderer ``name`` built once per Arrow batch and
    mapped over it by ``_map_docs``. Struct schemas come back as a
    DataFrame (Spark checks the value, not the hint); text-family
    renderers drop their tag count."""
    make = RENDERERS[name]
    text_only = name in TEXT_RENDERERS
    columns = schema.fieldNames() if isinstance(schema, StructType) else None

    @F.pandas_udf(schema)
    def _batch(values: pd.Series) -> pd.Series:
        if text_only:
            return _map_docs(values, make(options), columns=TEXT_COLUMNS)["text"]
        return _map_docs(values, make(options, **params), columns=columns)

    return _batch


def extract_text_udf(**options):
    return _parse_udf("text", StringType(), options)


def inner_text_udf(**options):
    return _parse_udf("inner_text", StringType(), options)


def clean_text_udf(**options):
    return _parse_udf("clean_text", StringType(), options)


def main_content_udf(**options):
    """Readability-lite main-content selection (north rule's "HTML
    boilerplate strip ... DOM heuristics"): parse, score block
    candidates by link-penalized subtree text mass, return the winning
    block's normalized text (engine/readability.py)."""
    return _parse_udf("main", StringType(), options)


def markdown_udf(**options):
    """HTML -> Markdown (engine/markdown.py): the structured-text
    shaping step of a training pipeline — headings/lists/links/tables
    kept, boilerplate head/script/style dropped."""
    return _parse_udf("markdown", StringType(), options)


NODE_SCHEMA = ArrayType(
    StructType(
        [
            StructField("node_id", IntegerType()),
            StructField("parent_id", IntegerType()),
            StructField("idx_in_parent", IntegerType()),
            StructField("type", StringType()),
            StructField("name", StringType()),
            StructField("attrs", MapType(StringType(), StringType())),
            StructField("attr_quotes", MapType(StringType(), StringType())),
            StructField("data", StringType()),
            StructField("start_index", IntegerType()),
            StructField("end_index", IntegerType()),
        ]
    )
)


NODE_ANC_SCHEMA = ArrayType(
    StructType(
        list(NODE_SCHEMA.elementType.fields)
        + [StructField("ancestors", ArrayType(IntegerType()))]
    )
)


def dom_nodes_udf(with_ancestors: bool = False, **options):
    """``with_ancestors=True`` adds an ``ancestors array<int>`` field
    (open-element node ids, root-first) — the descendant axis for
    relational DOM queries (operators/domquery.py elements_inside)."""
    schema = NODE_ANC_SCHEMA if with_ancestors else NODE_SCHEMA
    return _parse_udf("dom_nodes", schema, options, with_ancestors=with_ancestors)


NODE_COUNT_SCHEMA = ArrayType(
    StructType(
        [
            StructField("name", StringType()),
            StructField("cnt", IntegerType()),
        ]
    )
)


def node_counts_udf(**options):
    """(name, cnt) histogram of DOM node names per document.

    Same node universe as :func:`dom_nodes_udf` (see
    :class:`_NodeCountHandler`) at a fraction of the transfer/explode
    cost: output size is bounded by distinct names per doc, not node
    count, so the downstream ``explode -> groupBy -> sum`` shuffles
    kilobytes per partition at any corpus scale.
    """
    return _parse_udf("node_counts", NODE_COUNT_SCHEMA, options)


EVENT_SCHEMA = ArrayType(
    StructType(
        [
            StructField("seq", IntegerType()),
            StructField("event", StringType()),
            StructField("name", StringType()),
            StructField("data", StringType()),
            StructField("attrs", MapType(StringType(), StringType())),
            StructField("is_implied", BooleanType()),
            StructField("start_index", IntegerType()),
            StructField("end_index", IntegerType()),
        ]
    )
)


def parser_events_udf(**options):
    return _parse_udf("events", EVENT_SCHEMA, options)


_MEDIA_SCHEMA = StructType(
    [
        StructField("medium", StringType()),
        StructField("isDefault", BooleanType()),
        StructField("url", StringType()),
        StructField("type", StringType()),
        StructField("expression", StringType()),
        StructField("lang", StringType()),
        StructField("fileSize", LongType()),
        StructField("bitrate", LongType()),
        StructField("framerate", LongType()),
        StructField("samplingrate", LongType()),
        StructField("channels", LongType()),
        StructField("duration", LongType()),
        StructField("height", LongType()),
        StructField("width", LongType()),
    ]
)

FEED_SCHEMA = StructType(
    [
        StructField("type", StringType()),
        StructField("id", StringType()),
        StructField("title", StringType()),
        StructField("link", StringType()),
        StructField("description", StringType()),
        StructField("updated", TimestampType()),
        StructField("author", StringType()),
        StructField(
            "items",
            ArrayType(
                StructType(
                    [
                        StructField("id", StringType()),
                        StructField("title", StringType()),
                        StructField("link", StringType()),
                        StructField("description", StringType()),
                        StructField("pubDate", TimestampType()),
                        StructField("media", ArrayType(_MEDIA_SCHEMA)),
                    ]
                )
            ),
        ),
    ]
)


def feed_udf():
    """parseFeed (engine xmlMode): a non-feed document yields a non-NULL
    struct whose fields are all NULL."""
    return _parse_udf("feed", FEED_SCHEMA, {"xml_mode": True})


SITEMAP_SCHEMA = StructType(
    [
        StructField("kind", StringType()),
        StructField(
            "entries",
            ArrayType(
                StructType(
                    [
                        StructField("loc", StringType()),
                        StructField("lastmod", TimestampType()),
                        StructField("changefreq", StringType()),
                        StructField("priority", DoubleType()),
                    ]
                )
            ),
        ),
    ]
)


def sitemap_udf():
    """Sitemap/sitemap-index parse (engine xmlMode, same row shape as
    ``feed_udf``): a non-sitemap document yields a non-NULL struct with
    ``kind`` and ``entries`` both NULL."""
    return _parse_udf("sitemap", SITEMAP_SCHEMA, {"xml_mode": True})


def sniff_decode_udf(default: str = "utf-8"):
    """Per-document charset sniff + decode (engine/encoding.py: BOM,
    then WHATWG-style meta prescan of the first 1024 bytes) ->
    ``struct<charset string, decoded string>``. The ingestion step the
    reference's byte-stream adapter skips by assuming UTF-8
    (src/WritableStream.ts:20-41); NULL bytes decode as ('<default>',
    '')."""
    schema = StructType(
        [
            StructField("charset", StringType()),
            StructField("decoded", StringType()),
        ]
    )

    @F.pandas_udf(schema)
    def _sniff(data: pd.Series) -> pd.DataFrame:
        rows = [
            decode_html(v if v is not None else b"", default) for v in data
        ]
        return pd.DataFrame(rows, columns=["charset", "decoded"])

    return _sniff


STATS_SCHEMA = StructType(
    [
        StructField("n_events", IntegerType()),
        StructField("n_tags", IntegerType()),
        StructField("n_text_chars", IntegerType()),
        StructField("max_depth", IntegerType()),
    ]
)


def doc_stats_udf(**options):
    return _parse_udf("stats", STATS_SCHEMA, options)
