"""Event collector producing reference-comparable simplified event records.

Mirrors the reference test helper (/root/reference/src/__fixtures__/
testHelper.ts:16-87): records ``{$event, data, startIndex, endIndex}``
per handler callback, merges adjacent text events, drops the undefined
quote argument from attribute events, and validates the
``startIndex <= endIndex`` invariant. Used by the ported golden-snapshot
tests and ``tools/rebuild_fixtures.py``; the event-stream UDF renders
with its own handler (``functions.udfs._EventArrayHandler``).
"""

from __future__ import annotations

from .parser import NO_VALUE

__all__ = ["EventCollector"]


class EventCollector:
    """Collects simplified parser events as JSON-compatible dicts."""

    def __init__(self, parser_ref=None) -> None:
        self.events: list[dict] = []
        self.parser = parser_ref

    def attach(self, parser) -> None:
        self.parser = parser

    def _push(self, event: str, data: list) -> None:
        p = self.parser
        if not (p.start_index <= p.end_index):
            raise AssertionError(
                f"Invalid start/end index {p.start_index} > {p.end_index} ({event})"
            )
        self.events.append(
            {
                "$event": event,
                "startIndex": p.start_index,
                "endIndex": p.end_index,
                "data": data,
            }
        )

    # ------------- handler callbacks -------------
    def on_text(self, data: str) -> None:
        events = self.events
        if events and events[-1]["$event"] == "text":
            last = events[-1]
            last["data"][0] += data
            last["endIndex"] = self.parser.end_index
            return
        self._push("text", [data])

    def on_open_tag_name(self, name: str) -> None:
        self._push("opentagname", [name])

    def on_open_tag(self, name: str, attrs: dict, is_implied: bool) -> None:
        self._push("opentag", [name, dict(attrs), is_implied])

    def on_close_tag(self, name: str, is_implied: bool) -> None:
        self._push("closetag", [name, is_implied])

    def on_attribute(self, name: str, value: str, quote) -> None:
        data = [name, value]
        if quote is not NO_VALUE:
            data.append(quote)
        self._push("attribute", data)

    def on_comment(self, data: str) -> None:
        self._push("comment", [data])

    def on_comment_end(self) -> None:
        self._push("commentend", [])

    def on_cdata_start(self) -> None:
        self._push("cdatastart", [])

    def on_cdata_end(self) -> None:
        self._push("cdataend", [])

    def on_processing_instruction(self, name: str, data: str) -> None:
        self._push("processinginstruction", [name, data])

    def on_end(self) -> None:
        pass
