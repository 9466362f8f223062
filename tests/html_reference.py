"""The parity oracle for extraction/html_tokenizer.py: the same block
rules as an event sink driven by the stdlib HTMLParser.

`reference_blocks(html)` must equal `parse_blocks(html)` on well-formed
input; on hostile markup HTMLParser's error recovery may legitimately
differ from the regex tokenizer.
"""

from __future__ import annotations

from html import escape
from html.parser import HTMLParser

from docling_eval_spark.extraction.html_tokenizer import (
    BLOCK_TAGS,
    BOILER_ANCESTOR_TAGS,
    CONTENT_ANCESTOR_TAGS,
    LEAF_BLOCK_TAGS,
    SKIP_TAGS,
    VOID_TAGS,
    Block,
)


class _BlockParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._parts: list[str] = []
        self._anchor_chars = 0
        self._cur_tag = "body"
        self._block_stack: list[str] = []
        self._leaf_open = False
        self._skip_depth = 0
        self._anchor_depth = 0
        self._boiler_depth = 0
        self._content_depth = 0
        self._table_depth = 0
        self._table_parts: list[str] = []

    def _flush(self, allow_empty: bool = False) -> None:
        if not self._parts and not allow_empty:
            self._anchor_chars = 0
            return
        text = "".join(self._parts)
        self._parts = []
        if not text.strip() and not allow_empty:
            self._anchor_chars = 0
            return
        self.blocks.append(Block(
            text=text,
            tag=self._cur_tag,
            anchor_chars=self._anchor_chars,
            boiler_ancestor=self._boiler_depth > 0,
            content_ancestor=self._content_depth > 0,
        ))
        self._anchor_chars = 0

    def handle_starttag(self, tag, attrs):
        if self._skip_depth > 0:
            if tag in SKIP_TAGS:
                self._skip_depth += 1
            return
        if tag in SKIP_TAGS:
            self._skip_depth += 1
            return
        if self._table_depth > 0:
            if tag == "table":
                self._table_depth += 1
            self._emit_table_tag(tag, attrs)
            return
        if tag == "table":
            self._flush(allow_empty=self._leaf_open)
            self._leaf_open = False
            self._table_depth = 1
            self._table_parts = []
            self._emit_table_tag(tag, attrs)
            return
        if tag in BLOCK_TAGS:
            self._flush(allow_empty=self._leaf_open)
            self._block_stack.append(tag)
            self._cur_tag = tag
            self._leaf_open = tag in LEAF_BLOCK_TAGS
            if tag in BOILER_ANCESTOR_TAGS:
                self._boiler_depth += 1
            if tag in CONTENT_ANCESTOR_TAGS:
                self._content_depth += 1
        elif tag == "a":
            self._anchor_depth += 1
        elif tag == "br":
            self._parts.append("\n")

    def handle_endtag(self, tag):
        if self._skip_depth > 0:
            if tag in SKIP_TAGS:
                self._skip_depth -= 1
            return
        if self._table_depth > 0:
            self._table_parts.append(f"</{tag}>")
            if tag == "table":
                self._table_depth -= 1
                if self._table_depth == 0:
                    self.blocks.append(Block(
                        tag="table",
                        boiler_ancestor=self._boiler_depth > 0,
                        content_ancestor=self._content_depth > 0,
                        kind="table",
                        table_html="".join(self._table_parts),
                    ))
                    self._table_parts = []
            return
        if tag in BLOCK_TAGS:
            self._flush(allow_empty=self._leaf_open and tag in LEAF_BLOCK_TAGS)
            self._leaf_open = False
            if self._block_stack:
                self._block_stack.pop()
            self._cur_tag = self._block_stack[-1] if self._block_stack else "body"
            if tag in BOILER_ANCESTOR_TAGS:
                self._boiler_depth = max(0, self._boiler_depth - 1)
            if tag in CONTENT_ANCESTOR_TAGS:
                self._content_depth = max(0, self._content_depth - 1)
        elif tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)

    def handle_startendtag(self, tag, attrs):
        if self._skip_depth > 0:
            return
        if self._table_depth > 0:
            self._emit_table_tag(tag, attrs)
            if tag not in VOID_TAGS:
                self._table_parts.append(f"</{tag}>")
            return
        if tag == "br":
            self._parts.append("\n")

    def handle_data(self, data):
        if self._skip_depth > 0:
            return
        if self._table_depth > 0:
            self._table_parts.append(escape(data, quote=False))
            return
        self._parts.append(data)
        if self._anchor_depth > 0:
            self._anchor_chars += len(data)

    def _emit_table_tag(self, tag, attrs):
        attr_s = "".join(
            f' {k}="{escape(v, quote=True)}"' if v is not None else f" {k}"
            for k, v in attrs)
        self._table_parts.append(f"<{tag}{attr_s}>")

    def close(self):
        super().close()
        self._flush(allow_empty=self._leaf_open)


def reference_blocks(html: str) -> list[Block]:
    p = _BlockParser()
    p.feed(html)
    p.close()
    return p.blocks
