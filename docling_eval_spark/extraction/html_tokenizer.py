r"""HTML string -> flat block list, in one regex scan per page.

The "lightweight DOM block list" of the north rule, built from scratch
(no lxml/bs4). `block_tuples` tokenizes a page with one `findall` of one
compiled regex and folds the tokens into blocks in one loop:

  - comments / doctype / CDATA / processing instructions are skipped;
  - start, end and self-closing tags are matched with quote-aware
    attribute scanning (">" may sit inside a quoted attribute value);
  - character data is entity-decoded only when it holds an "&";
  - a script/style element is one token, from its start tag through
    HTMLParser's CDATA close r"</\s*tag\s*>" (case-insensitive) or the
    end of the input, and is dropped whole.

Blocks are the atomic classification unit (Kohlschütter et al.,
"Boilerplate Detection using Shallow Text Features", WSDM 2010): a
maximal run of character data within one block-level element. Each is
the tuple (text, tag, anchor_chars, boiler, content):

  text          exact character data (entities decoded; byte-identical
                to the source text, the whole point)
  tag           the nearest enclosing block tag
  anchor_chars  characters inside <a> descendants
  boiler        inside nav/header/footer/aside/form/figure/template
  content       inside article/main (HTML5 semantic content signal)

A captured <table> is the tuple (table_html, "table", 0, boiler,
content), in document order; no text block has the tag "table". Its
canonical re-serialization feeds TEDS; its cell text is not main text.
script/style/noscript/svg/head content is dropped. `Block` is the named
view of a tuple (`parse_blocks`); the extraction kernel never builds one.
"""

from __future__ import annotations

import re
from html import escape, unescape
from typing import NamedTuple

HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}
LEAF_BLOCK_TAGS = HEADING_TAGS | {"p", "li", "blockquote", "pre", "dd", "dt", "figcaption"}
BLOCK_TAGS = LEAF_BLOCK_TAGS | {"caption", "div", "td", "th", "section", "article",
                               "main", "aside", "header", "footer", "nav", "body"}
BOILER_ANCESTOR_TAGS = {"nav", "header", "footer", "aside", "form", "figure", "template"}
CONTENT_ANCESTOR_TAGS = {"article", "main"}
SKIP_TAGS = {"script", "style", "noscript", "svg", "head", "title", "iframe"}
VOID_TAGS = {"br", "hr", "img", "meta", "link", "input", "area", "base", "col", "embed", "source", "track", "wbr"}

# tag classes as bit flags, one dict lookup per tag
_BLOCK, _LEAF, _BOILER, _CONTENT, _SKIP, _A, _BR, _TABLE = 1, 2, 4, 8, 16, 32, 64, 128
_FLAGS: dict[str, int] = {}
for _tags, _bit in ((BLOCK_TAGS, _BLOCK), (LEAF_BLOCK_TAGS, _LEAF),
                    (BOILER_ANCESTOR_TAGS, _BOILER),
                    (CONTENT_ANCESTOR_TAGS, _CONTENT), (SKIP_TAGS, _SKIP),
                    ({"a"}, _A), ({"br"}, _BR), ({"table"}, _TABLE)):
    for _t in _tags:
        _FLAGS[_t] = _FLAGS.get(_t, 0) | _bit

# a start tag's attribute string: quoted values may hold ">"
_ATTRS = r"""[^>"']*(?:(?:"[^"]*"|'[^']*')[^>"']*)*"""


def _raw(name: str) -> str:
    # a raw-text element after its "<", start tag to close; "<script/>"
    # (a bare "/" or one after whitespace or a quote) self-closes and is
    # not raw
    ci = "".join(f"[{c}{c.upper()}]" for c in name)
    return (rf"{ci}(?![a-zA-Z0-9-])(?!/>){_ATTRS}(?<![ \t\n\r\"']/)>"
            rf".*?(?:</\s*(?i:{name})\s*>|\Z)")


# groups: (end-tag name, start-tag name, attribute string, text); text is
# character data or a lone "<" that starts no markup. Skipped tokens
# (comments, raw elements, ...) leave all four empty
_TOKEN = re.compile(
    r"<(?:/\s*([a-zA-Z][a-zA-Z0-9-]*)[^>]*>"
    rf"|{_raw('script')}|{_raw('style')}"
    rf"|([a-zA-Z][a-zA-Z0-9-]*)({_ATTRS})>"
    r"|!--.*?-->|!\[CDATA\[.*?\]\]>|![^>]*>|\?[^>]*>)"
    r"|([^<]+|<)",
    re.S,
)

_ATTR = re.compile(
    r"([a-zA-Z_:@][-a-zA-Z0-9_:.]*)"
    r"(?:\s*=\s*(\"([^\"]*)\"|'([^']*)'|([^\s>]*)))?",
)


def _table_tag(tag: str, attrs: str) -> str:
    """A start tag inside a captured table, attributes re-serialized:
    values arrive entity-decoded and are re-escaped on the way out, or
    quotes/ampersands would corrupt the subtree; valueless (boolean)
    attributes stay bare names."""
    out = [f"<{tag}"]
    for m in _ATTR.finditer(attrs):
        name = m.group(1).lower()
        if m.group(2) is None:
            out.append(f" {name}")
        else:
            v = m.group(3) if m.group(3) is not None else (
                m.group(4) if m.group(4) is not None else m.group(5) or "")
            out.append(f' {name}="{escape(unescape(v), quote=True)}"')
    out.append(">")
    return "".join(out)


def block_tuples(html: str) -> list[tuple]:
    """Tokenize an HTML document into its block tuples (module docstring)."""
    blocks: list[tuple] = []
    append = blocks.append
    parts: list[str] = []    # character data of the open block
    anchor = 0               # of which inside <a>
    cur = "body"
    stack: list[str] = []    # enclosing block tags
    leaf_open = False        # an explicitly opened leaf block is open
    skip = links = boiler = content = table = 0  # element depths
    tparts: list[str] = []   # the captured table's serialization
    for etag, stag, attrs, text in _TOKEN.findall(html):
        if stag:
            tag = stag.lower()
            f = _FLAGS.get(tag, 0)
            # HTMLParser self-closing rule: a trailing "/" closes the tag
            # only when it does not end an unquoted attribute value
            # ("<br/>", "<td />" close; "<a href=x/>" keeps "/" in it)
            if attrs[-1:] == "/" and (len(attrs) == 1 or attrs[-2] in " \t\n\r\"'"):
                if skip:
                    continue
                if table:
                    # an empty element: open+close, or the next cell nests
                    tparts.append(_table_tag(tag, attrs[:-1]))
                    if tag not in VOID_TAGS:
                        tparts.append(f"</{tag}>")
                elif f & _BR:
                    parts.append("\n")
                continue
            if skip:
                # everything inside a skip element is dropped, nested
                # <table> subtrees included
                if f & _SKIP:
                    skip += 1
                continue
            if f & _SKIP:
                skip = 1
                continue
            if table:
                if f & _TABLE:
                    table += 1
                tparts.append(_table_tag(tag, attrs))
                continue
            if f & _A:
                links += 1
                continue
            if not f & (_BLOCK | _TABLE):
                if f & _BR:
                    parts.append("\n")
                continue
            allow_empty = leaf_open
        elif etag:
            tag = etag.lower()
            f = _FLAGS.get(tag, 0)
            if skip:
                if f & _SKIP:
                    skip -= 1
                continue
            if table:
                tparts.append(f"</{tag}>")
                if f & _TABLE:
                    table -= 1
                    if not table:
                        append(("".join(tparts), "table", 0, boiler > 0, content > 0))
                continue
            if f & _A:
                if links:
                    links -= 1
                continue
            if not f & _BLOCK:
                continue
            allow_empty = leaf_open and f & _LEAF
        else:
            if skip or not text:
                continue  # skipped content, or a comment, raw element, ...
            if "&" in text:
                text = unescape(text)
            if table:
                tparts.append(escape(text, quote=False))
            else:
                parts.append(text)
                if links:
                    anchor += len(text)
            continue
        # a block boundary: flush the open block. Whitespace between tags
        # is not a block; whitespace INSIDE an explicitly opened leaf
        # block (an empty <p></p> paragraph) IS one, or texts with blank
        # paragraphs would not round-trip byte-identically
        if parts or allow_empty:
            t = "".join(parts)
            parts = []
            if allow_empty or not t.isspace():
                append((t, cur, anchor, boiler > 0, content > 0))
        anchor = 0
        if stag:
            if f & _TABLE:
                leaf_open = False
                table = 1
                tparts = [_table_tag(tag, attrs)]
                continue
            stack.append(tag)
            cur = tag
            leaf_open = bool(f & _LEAF)
            if f & _BOILER:
                boiler += 1
            if f & _CONTENT:
                content += 1
        else:
            leaf_open = False
            if stack:
                stack.pop()
            # restore the ENCLOSING block tag (not 'body'): text after a
            # nested block keeps its provenance, a heading's tail stays one
            cur = stack[-1] if stack else "body"
            if f & _BOILER and boiler:
                boiler -= 1
            if f & _CONTENT and content:
                content -= 1
    # end of input inside an unclosed leaf block keeps its (possibly
    # whitespace-only) trailing block
    if parts or leaf_open:
        t = "".join(parts)
        if leaf_open or not t.isspace():
            append((t, cur, anchor, boiler > 0, content > 0))
    return blocks


class Block(NamedTuple):
    """The named view of one block tuple."""

    text: str = ""
    tag: str = "body"
    anchor_chars: int = 0
    boiler_ancestor: bool = False
    content_ancestor: bool = False
    kind: str = "text"        # 'text' | 'table'
    table_html: str = ""      # kind='table' only

    @property
    def link_density(self) -> float:
        return self.anchor_chars / len(self.text) if self.text else 0.0

    @property
    def is_heading(self) -> bool:
        return self.tag in HEADING_TAGS


def parse_blocks(html: str) -> list[Block]:
    """`block_tuples` as `Block`s; a table's `text` is "" and its html is
    `table_html`."""
    return [Block(*b) if b[1] != "table" else Block("", *b[1:], "table", b[0])
            for b in block_tuples(html)]
