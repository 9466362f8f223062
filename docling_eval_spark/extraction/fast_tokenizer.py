r"""Fast regex HTML tokenizer — same Block output, ~4x the stdlib parser.

The hot path of the whole engine is parse_blocks (92% of extraction time
was inside stdlib html.parser's per-character goahead loop). This
tokenizer drives the SAME event sink (_BlockParser handlers in
html_tokenizer.py) from one compiled scanner regex:

  - comments / doctype / CDATA / processing instructions skipped whole;
  - start / end / self-closing tags matched with quote-aware attribute
    scanning (">" allowed inside quoted attribute values);
  - character data is entity-decoded only when an "&" is present;
  - script/style are raw-text elements: one compiled r"</\s*tag\s*>"
    search (HTMLParser CDATA endtagfind semantics), no tokenization
    inside.

Parity: byte-identical Block output vs the stdlib-parser path on all
well-formed input (tested over the full generator corpus); on hostile
markup both are crash-free and deterministic but may differ on
HTMLParser's error-recovery corner cases — the extraction gate only
promises byte identity for well-formed pages.
"""

from __future__ import annotations

import re
from html import unescape

_TOKEN = re.compile(
    r"<!--.*?-->"
    r"|<!\[CDATA\[.*?\]\]>"
    r"|<![^>]*>"
    r"|<\?[^>]*>"
    r"|</\s*([a-zA-Z][a-zA-Z0-9-]*)[^>]*>"
    r"|<([a-zA-Z][a-zA-Z0-9-]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)>"
    r"|[^<]+"
    r"|<",
    re.S,
)

_ATTR = re.compile(
    r"([a-zA-Z_:@][-a-zA-Z0-9_:.]*)"
    r"(?:\s*=\s*(\"([^\"]*)\"|'([^']*)'|([^\s>]*)))?",
)

_RAW_TEXT = {"script", "style"}

# HTMLParser CDATA-mode close semantics: a raw-text element terminates
# ONLY at r'</\s*tag\s*>' (endtagfind with a matching cdata_elem).
# '</script foo>', '</scripty>', '</script/>' are all DATA and raw mode
# continues; '</ script>' DOES terminate. Matching the stdlib exactly is
# what keeps the two engines byte-identical.
_RAW_CLOSE = {t: re.compile(r"</\s*" + t + r"\s*>", re.I) for t in _RAW_TEXT}


def _parse_attrs(s: str) -> list[tuple[str, str | None]]:
    if not s or not s.strip():
        return []
    out = []
    for m in _ATTR.finditer(s):
        name = m.group(1).lower()
        if m.group(2) is None:
            out.append((name, None))
        else:
            v = m.group(3) if m.group(3) is not None else (
                m.group(4) if m.group(4) is not None else m.group(5) or "")
            out.append((name, unescape(v) if "&" in v else v))
    return out


def tokenize(html: str, sink) -> None:
    """Drive `sink` (handle_starttag/handle_endtag/handle_startendtag/
    handle_data) over `html`. A tag's attribute list is parsed only when
    `sink.wants_attrs(tag)` says the sink reads it; otherwise it is []."""
    pos = 0
    n = len(html)
    match = _TOKEN.match
    data = sink.handle_data
    start = sink.handle_starttag
    endt = sink.handle_endtag
    wants = sink.wants_attrs
    while pos < n:
        m = match(html, pos)
        if m is None:  # pragma: no cover - scanner is total
            break
        end = m.end()
        li = m.lastindex
        if li is None:  # text / comment / doctype / CDATA / PI
            tok = m.group(0)
            if tok[0] != "<":
                data(unescape(tok) if "&" in tok else tok)
            elif len(tok) == 1:
                data("<")
        elif li == 1:  # end tag
            endt(m.group(1).lower())
        else:  # start or self-closing tag
            tag = m.group(2).lower()
            attrs_s = m.group(3) or ""
            # HTMLParser self-closing semantics: a trailing "/" closes the
            # tag only when it does NOT continue an unquoted attribute
            # value ("<br/>", "<img src='x'/>", "<td />" close;
            # "<a href=x/>" keeps "/" inside the value)
            selfclose = attrs_s.endswith("/") and (
                len(attrs_s) == 1 or attrs_s[-2] in " \t\n\r\"'")
            if selfclose:
                attrs_s = attrs_s[:-1]
            attrs = _parse_attrs(attrs_s) if attrs_s and wants(tag) else []
            if selfclose:
                sink.handle_startendtag(tag, attrs)
            else:
                start(tag, attrs)
                if tag in _RAW_TEXT:
                    cm = _RAW_CLOSE[tag].search(html, end)
                    if cm is None:
                        data(html[end:])
                        pos = n
                        continue
                    if cm.start() > end:
                        data(html[end:cm.start()])
                    endt(tag)
                    end = cm.end()
        pos = end
