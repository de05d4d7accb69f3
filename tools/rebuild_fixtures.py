"""Rebuild the fixture documents from their golden event streams.

``tests/goldens/document_events.json`` holds, for each reference fixture
document, the whole parser event stream with exact ``[startIndex,
endIndex]`` positions. That stream determines the source text of all
six documents (Basic, Attributes, Svg in html mode; RSS, Atom, RDF in
xml mode) up to letter case and the whitespace inside tags:

* every tag, attribute, comment and doctype span has a single spelling;
* a text span whose length equals its data is the data itself;
* in xml mode, a text span inside ``cdatastart``/``cdataend`` is
  ``<![CDATA[data]]>``; the span after an ``<?xml ...?>`` processing
  instruction starts on its closing ``>`` (the instruction's span ends
  on the ``?``); any other text span longer than its data is the data
  with ``&``, ``<`` and ``>`` escaped, which must fill the span exactly.

This script lays each event's source spelling at its position, fills
the in-tag gaps with spaces (a ``/`` before ``>`` for self-closing
elements), re-parses the result and checks that it reproduces the
golden stream exactly, positions included, then writes
``tests/fixtures/Documents/<file>``. That check runs our own parser, so
the files are validated partly by the engine under test; the feed
files' independent check is tests/test_feed.py (reference FeedHandler
snapshot values).

Run from the repo root: python tools/rebuild_fixtures.py [--check]
(``--check`` compares against the vendored files instead of writing).
"""

from __future__ import annotations

import json
import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from htmlparser2_spark.engine.collector import EventCollector  # noqa: E402
from htmlparser2_spark.engine.parser import Parser, ParserOptions  # noqa: E402

GOLDENS = ROOT / "tests" / "goldens" / "document_events.json"
OUT = ROOT / "tests" / "fixtures" / "Documents"


def _attribute(name: str, value: str | None = None, *quote) -> str:
    if not quote:  # valueless: the event has no quote slot
        return name
    q = quote[0] or ""  # null quote: unquoted value
    return f"{name}={q}{value}{q}"


def _escape(text: str) -> str:
    return text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def rebuild(events: list[dict]) -> str:
    """Source text whose parse yields ``events``."""
    size = max(e["endIndex"] for e in events) + 1
    chars: list[str | None] = [None] * size
    in_tag = [False] * size

    def put(start: int, text: str, end: int | None = None) -> None:
        if end is not None and start + len(text) - 1 != end:
            raise ValueError(f"span {start}..{end} does not fit {text!r}")
        for i, c in enumerate(text, start):
            if chars[i] not in (None, c):
                raise ValueError(f"position {i}: {chars[i]!r} vs {c!r}")
            chars[i] = c

    prev = None
    for e, nxt in zip(events, events[1:] + [None]):
        kind, data = e["$event"], e["data"]
        start, end = e["startIndex"], e["endIndex"]
        if kind == "text":
            text = data[0]
            if prev and prev["$event"] == "cdatastart":
                text = f"<![CDATA[{text}]]>"
            elif prev and prev["$event"] == "processinginstruction" and (
                prev["data"][1].startswith("?")
            ):
                text = ">" + text  # the `>` of `?>` opens this span
            elif end - start + 1 > len(text):
                text = _escape(text)
            put(start, text, end)
        elif kind == "comment":
            put(start, f"<!--{data[0]}-->", end)
        elif kind == "processinginstruction":
            if data[1].startswith("?"):  # xml declaration: span ends on `?`
                put(start, f"<{data[1]}?", end)
            else:
                put(start, f"<{data[1]}>", end)
        elif kind == "opentagname":
            put(start, "<" + data[0])
        elif kind == "attribute":
            put(start, _attribute(*data))
        elif kind == "opentag":
            for i in range(start, end):
                in_tag[i] = True
            put(end, ">")
            self_closing = (
                nxt is not None
                and nxt["$event"] == "closetag"
                and nxt["data"] == [data[0], True]
                and nxt["endIndex"] == end
            )
            if self_closing:
                put(end - 1, "/")
        elif kind == "closetag" and not data[1]:
            put(start, f"</{data[0]}>", end)
        prev = e
    for i, c in enumerate(chars):
        if c is None:
            if not in_tag[i]:
                raise ValueError(f"position {i} lies outside every event")
            chars[i] = " "
    return "".join(chars)


def events_of(source: str, xml_mode: bool = False) -> list[dict]:
    collector = EventCollector()
    parser = Parser(collector, ParserOptions(xml_mode=xml_mode))
    collector.attach(parser)
    parser.parse(source)
    return collector.events


def main(argv: list[str]) -> int:
    check = "--check" in argv
    OUT.mkdir(parents=True, exist_ok=True)
    for case in json.loads(GOLDENS.read_text()):
        name, events = case["file"], case["events"]
        source = rebuild(events)
        if events_of(source, case["options"].get("xmlMode", False)) != events:
            print(f"{name}: rebuilt source does not reproduce the golden stream")
            return 1
        path = OUT / name
        if check:
            if path.read_text(encoding="utf-8") != source:
                print(f"{name}: vendored file differs from the rebuild")
                return 1
        else:
            path.write_text(source, encoding="utf-8")
        print(f"{name}: {len(source)} chars, {len(events)} events reproduced")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
