"""HTML byte stream -> lightweight DOM block list.

A from-scratch single-pass tokenizer built on the stdlib HTMLParser
(public API), producing the flat block representation that the
boilerplate classifier consumes — the "lightweight DOM block list" of
the north rule. No lxml/bs4 available or needed.

Blocks are the atomic classification unit (Kohlschütter et al.,
"Boilerplate Detection using Shallow Text Features", WSDM 2010):
a maximal run of character data within one block-level element,
annotated with shallow features:

  text            exact character data (entities already decoded;
                  byte-identical to the source text — the whole point)
  tag             the nearest enclosing block tag
  words           whitespace-separated token count
  n_chars         len(text)
  anchor_chars    characters inside <a> descendants
  is_heading      h1-h6
  boiler_ancestor inside nav/header/footer/aside/form/figure/template
  content_ancestor inside article/main  (HTML5 semantic content signal)
  kind            'text' | 'table'
  table_html      canonical re-serialization of the <table> subtree
                  (kind='table' only; feeds the TEDS pipeline)

Tables are captured as opaque subtrees and EXCLUDED from the main-text
block stream (table cell text is not main content).
script/style/noscript/svg/head content is dropped entirely.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from html import escape
from html.parser import HTMLParser

BLOCK_TAGS = {
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "blockquote", "pre",
    "dd", "dt", "figcaption", "caption", "div", "td", "th", "section",
    "article", "main", "aside", "header", "footer", "nav", "body",
}
LEAF_BLOCK_TAGS = {
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "blockquote", "pre",
    "dd", "dt", "figcaption",
}
HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}
BOILER_ANCESTOR_TAGS = {"nav", "header", "footer", "aside", "form", "figure", "template"}
CONTENT_ANCESTOR_TAGS = {"article", "main"}
SKIP_TAGS = {"script", "style", "noscript", "svg", "head", "title", "iframe"}
VOID_TAGS = {"br", "hr", "img", "meta", "link", "input", "area", "base", "col", "embed", "source", "track", "wbr"}


@dataclass
class Block:
    text: str = ""
    tag: str = "body"
    anchor_chars: int = 0
    is_heading: bool = False
    boiler_ancestor: bool = False
    content_ancestor: bool = False
    kind: str = "text"
    table_html: str = ""

    # shallow features, computed once: the classifier re-reads neighbours
    n_chars: int = field(init=False)
    words: int = field(init=False)
    link_density: float = field(init=False)

    def __post_init__(self) -> None:
        self.n_chars = len(self.text)
        self.words = len(self.text.split())
        self.link_density = self.anchor_chars / self.n_chars if self.n_chars else 0.0


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
        # table capture state
        self._table_depth = 0
        self._table_parts: list[str] = []

    # -- block buffer ------------------------------------------------
    def _flush(self, allow_empty: bool = False) -> None:
        if not self._parts and not allow_empty:
            self._anchor_chars = 0
            return
        text = "".join(self._parts)
        self._parts = []
        if not text.strip() and not allow_empty:
            # whitespace between tags is not a block; whitespace INSIDE an
            # explicitly opened leaf block (an empty <p></p> paragraph) IS
            # one — dropping it would break the byte-identical contract
            # for texts with blank paragraphs
            self._anchor_chars = 0
            return
        self.blocks.append(Block(
            text=text,
            tag=self._cur_tag,
            anchor_chars=self._anchor_chars,
            is_heading=self._cur_tag in HEADING_TAGS,
            boiler_ancestor=self._boiler_depth > 0,
            content_ancestor=self._content_depth > 0,
        ))
        self._anchor_chars = 0

    # -- tag events ----------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if self._skip_depth > 0:
            # everything inside script/style/noscript/svg/head/... is
            # dropped wholesale, including nested <table> subtrees
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
                        kind="table",
                        tag="table",
                        table_html="".join(self._table_parts),
                        boiler_ancestor=self._boiler_depth > 0,
                        content_ancestor=self._content_depth > 0,
                    ))
                    self._table_parts = []
            return
        if tag in BLOCK_TAGS:
            self._flush(allow_empty=self._leaf_open and tag in LEAF_BLOCK_TAGS)
            self._leaf_open = False
            if self._block_stack:
                self._block_stack.pop()
            # restore the ENCLOSING block tag (not 'body'): text after a
            # nested block keeps its real provenance, and a heading's tail
            # after a nested element stays a heading
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
            # XHTML-style <td/> is an EMPTY element: serialize open+close
            # (emitting only the open tag would nest the next cell inside)
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

    def wants_attrs(self, tag) -> bool:
        """Attributes are read only inside a captured <table> subtree."""
        return not self._skip_depth and (self._table_depth > 0 or tag == "table")

    def _emit_table_tag(self, tag, attrs):
        if attrs:
            # values arrive entity-decoded; re-escape on the way out or
            # quotes/ampersands corrupt the captured subtree. Valueless
            # (boolean) attributes are kept as bare names.
            attr_s = "".join(
                f' {k}="{escape(v, quote=True)}"' if v is not None else f" {k}"
                for k, v in attrs)
        else:
            attr_s = ""
        self._table_parts.append(f"<{tag}{attr_s}>")

    def finalize(self) -> None:
        """End-of-document flush — the ONE flush rule shared by both
        engines: input ending inside an unclosed leaf block keeps its
        (possibly whitespace-only) trailing block."""
        self._flush(allow_empty=self._leaf_open)

    def close(self):
        super().close()
        self.finalize()


def parse_blocks(html: str, engine: str = "fast") -> list[Block]:
    """Tokenize an HTML document into the flat block list.

    engine="fast" drives the same _BlockParser event sink from the regex
    scanner (extraction/fast_tokenizer.py, ~4x); engine="stdlib" keeps the
    HTMLParser loop as the reference implementation — parity between the
    two is pinned by tests over the full generator corpus.
    """
    p = _BlockParser()
    if engine == "fast":
        from .fast_tokenizer import tokenize

        tokenize(html, p)
        p.finalize()
    else:
        p.feed(html)
        p.close()
    return p.blocks
