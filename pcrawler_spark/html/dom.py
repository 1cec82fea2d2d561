"""Minimal HTML DOM and the single-regex scanner that builds it.

The reference engine uses ``lxml.html`` for per-row extraction; lxml is not
available in this environment, so this module provides a small, deterministic
DOM with lxml-compatible ``text_content()`` semantics (string-value of the
element: concatenation of all descendant text nodes in document order, no
separators inserted).  If ``lxml`` is importable the kernels cross-check
against it in tests, but never require it.

The tree is the one the stdlib ``html.parser`` tokenizer gives (tolerant:
unmatched end tags are ignored, void elements never push onto the stack,
``script``/``style`` content is raw text), but it is built by one compiled
regex that tokenizes a whole page in a single ``match`` loop and creates
the elements directly — no handler-method dispatch per token.  The parse of
every fetched page is the largest single cost of bulk extraction, and the
stdlib state machine spent most of it in interpreted dispatch.
``tests/test_parser_parity.py`` keeps an ``HTMLParser`` tree builder as the
differential oracle.  Every node carries a document-order ordinal so XPath
evaluation can return nodes in document order.
"""

from __future__ import annotations

import re
from html import unescape
from typing import Optional, Union

# HTML void elements: never have children, never appear on the open stack.
_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Elements whose text is markup/code, not page text (used by the page-text
# kernel; text_content() itself includes them, matching lxml's string-value).
SKIP_TEXT_TAGS = frozenset({"script", "style", "noscript", "template"})


class Element:
    """One element node. ``children`` holds Elements and str text nodes.

    ``tag_index`` is populated only on the #document root by
    :func:`parse_html`: tag → list of elements in document order, built
    incrementally DURING parsing (no extra walk).  Kernels that evaluate
    many descendant-axis XPath patterns against one page (the 13-field
    detail extractor) use it instead of re-walking the whole tree per
    pattern — the walks were ~50% of per-page extraction CPU (r7 profile).
    """

    __slots__ = ("tag", "attrs", "children", "parent", "ordinal", "tag_index")

    def __init__(self, tag: str, attrs: dict, parent: Optional["Element"], ordinal: int):
        self.tag = tag
        self.attrs = attrs
        self.children: list[Union[Element, str]] = []
        self.parent = parent
        self.ordinal = ordinal
        self.tag_index: Optional[dict] = None

    def get(self, name: str, default=None):
        return self.attrs.get(name, default)

    def iter(self):
        """Yield self and all descendant elements in document order
        (iterative — recursion via yield-from costs a frame per level)."""
        stack = [self]
        while stack:
            el = stack.pop()
            yield el
            stack.extend(
                c for c in reversed(el.children) if isinstance(c, Element)
            )

    def iter_descendants(self):
        stack = [c for c in reversed(self.children) if isinstance(c, Element)]
        while stack:
            el = stack.pop()
            yield el
            stack.extend(
                c for c in reversed(el.children) if isinstance(c, Element)
            )

    def child_elements(self):
        return [c for c in self.children if isinstance(c, Element)]

    def text_content(self) -> str:
        """lxml-compatible string-value: all descendant text, no separators."""
        parts: list[str] = []
        self._collect_text(parts)
        return "".join(parts)

    def _collect_text(self, parts: list[str]) -> None:
        for c in self.children:
            if isinstance(c, str):
                parts.append(c)
            else:
                c._collect_text(parts)

    def own_text(self) -> str:
        return "".join(c for c in self.children if isinstance(c, str))

    def __repr__(self):  # pragma: no cover - debug aid
        return f"<Element {self.tag} ord={self.ordinal} attrs={self.attrs}>"


# The token grammar is html.parser's (Python 3.11), so the tree is the same
# for every input.  Each ``_TOK`` match is the text run up to the next '<'
# (possibly empty) and then at most one of:
#   a plain start tag — lowercase name, only ``name="value"`` attributes
#     without '&' — whose attributes need no per-attribute parse (groups:
#     the name, the attribute text);
#   any other start tag that ends in '>' or '/>' (group: the raw name).
#     The atomic group commits to the first way html.parser's start-tag
#     locator matches, so '>' is checked exactly where it checks it;
#   an end tag '</name>' (group: the raw name);
#   markup that leaves no node: a comment, '<!doctype…>', '<!…>', '<?…>';
#   any other '<' (group) — the rare constructs ``_markup`` takes one by one.
_ATTR_BODY = r"""(?<=['"\s/])[^\s/>][^\s/=>]*
                 (?:\s*=+\s*(?:'[^']*'|"[^"]*"|(?!['"])[^>\s]*)\s*)?
                 (?:\s|/(?!>))*"""
_TOK = re.compile(r"""
    ([^<]*)
    (?:<([a-z][a-z0-9]*)((?:[\t\n\r\f\ ]+[a-z][-a-z0-9_:.]*="[^"&]*")*)>
     | <(?>([a-zA-Z][^\t\n\r\f />\x00]*)(?:[\s/]*(?:%s)*)?\s*)/?>
     | </\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>
     | <(?:!--[\s\S]*?--\s*|!(?!--|\[)[^>]*|\?[^>]*)>
     | (<)
    )?
""" % _ATTR_BODY, re.VERBOSE).match
_PLAIN_ATTRS = re.compile(r'([a-z][-a-z0-9_:.]*)="([^"]*)"').findall
_START_TAG_END = re.compile(r"<[a-zA-Z][^\t\n\r\f />\x00]*(?:[\s/]*(?:%s)*)?\s*"
                            % _ATTR_BODY, re.VERBOSE).match
_TAG_NAME = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*").match
_ATTR = re.compile(r"""((?<=['"\s/])[^\s/>][^\s/=>]*)
                       (\s*=+\s*('[^']*'|"[^"]*"|(?!['"])[^>\s]*))?
                       (?:\s|/(?!>))*""", re.VERBOSE).match
_SECTION_NAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*").match
_SECTION_END = {
    **dict.fromkeys(("temp", "cdata", "ignore", "include", "rcdata"),
                    re.compile(r"]\s*]\s*>").search),
    **dict.fromkeys(("if", "else", "endif"), re.compile(r"]\s*>").search),
}
# script/style content is raw text up to the first matching end tag
_RAW_TEXT_END = {t: re.compile(r"</\s*%s\s*>" % t, re.I).search
                 for t in ("script", "style")}

# what ``_markup`` found: a start tag, an end tag, markup that leaves no
# node, data to append as it is, or a construct not terminated before EOF
_START, _END, _SKIP, _DATA, _OPEN = range(5)


def _markup(s: str, i: int) -> tuple:
    """The '<' at ``i`` that none of ``_TOK``'s common cases matched →
    ``(kind, end, arg)``: arg is the raw tag name or the data.  Raises
    ValueError on a '<![' section html.parser cannot name."""
    c = s[i + 1:i + 2]
    if c.isascii() and c.isalpha():
        # a start tag whose locator match is not followed by '>' or '/>':
        # unterminated, or bogus up to where the locator stopped
        j = _START_TAG_END(s, i).end()
        nxt = s[j:j + 1]
        if not nxt or nxt in "=/" or nxt.isascii() and nxt.isalpha():
            return _OPEN, i, None
        return _START, j, _TAG_NAME(s, i + 1).group(1)
    if c == "/":
        gt = s.find(">", i + 1)
        if gt < 0:
            return _OPEN, i, None
        m = _TAG_NAME(s, i + 2)
        if m is None:  # '</>' or a bogus comment
            return _SKIP, (i + 3 if s.startswith("</>", i) else gt + 1), None
        return _END, s.find(">", m.end()) + 1, m.group(1)
    if s.startswith("<![", i):
        m = _SECTION_NAME(s, i + 3)
        if i + 3 == len(s) or m and m.end() == len(s):
            return _OPEN, i, None
        section_end = m and _SECTION_END.get(m.group().strip().lower())
        if section_end is None:
            raise ValueError(f"unknown marked section at {i}: {s[i:i + 20]!r}")
        m = section_end(s, i + 3)
        return (_SKIP, m.end(), None) if m else (_OPEN, i, None)
    if c in ("!", "?", ""):  # comment, declaration or PI without its end
        return _OPEN, i, None
    return _DATA, i + 1, "<"


def parse_html(html: Union[str, bytes, None]) -> Optional[Element]:
    """Parse HTML into a DOM root; returns None on empty/undecodable input
    (mirrors the reference's tree=None failure path,
    company_details_extractor.py:101-104), and on a page html.parser gave up
    on: a '<![' marked section it cannot name."""
    if html is None:
        return None
    if isinstance(html, (bytes, bytearray)):
        try:
            html = bytes(html).decode("utf-8", errors="replace")
        except Exception:
            return None
    if not html.strip():
        return None
    try:
        return _build(html)
    except ValueError:
        return None


def _build(s: str) -> Element:
    root = Element("#document", {}, None, 0)
    tags: dict = {}  # the root's tag index, built as elements are created
    stack = [root]
    ordinal = 0
    i, n = 0, len(s)
    # html.parser stops at the first construct that is not terminated, then
    # re-runs the rest "at EOF", where such a construct becomes text.  A
    # '<!--' that stops it swallows the rest of the page (libxml2 reads it
    # as comment text to EOF); one met after that point does not.
    at_eof = False
    while i < n:
        m = _TOK(s, i)
        text, plain_tag, plain_attrs, name, end_name, other = m.groups()
        if text:
            if "&" in text:
                text = unescape(text)  # some charrefs decode to ""
            if text:
                stack[-1].children.append(text)
        j = m.end()
        if plain_attrs is not None:
            kind = _START
        elif end_name is not None:
            kind, name = _END, end_name
        elif name is not None:
            kind = _START
        elif other is not None:
            i = m.end(1)
            kind, j, name = _markup(s, i)
            if kind == _OPEN:
                if not at_eof and s.startswith("<!--", i):
                    break
                at_eof = True
                j = s.find(">", i + 1) + 1
                if not j:
                    j = s.find("<", i + 1)
                    if j < 0:
                        j = i + 1
                kind, name = _DATA, unescape(s[i:j])
            if kind == _DATA or kind == _SKIP:
                if name:  # None for _SKIP
                    stack[-1].children.append(name)
                i = j
                continue
        else:  # the text ran to the end, or markup that leaves no node
            i = j
            continue
        if kind == _END:
            # pop to the nearest matching open tag; ignore stray end tags
            tag = name.lower()
            if stack[-1].tag == tag:
                stack.pop()
            else:
                for d in range(len(stack) - 2, 0, -1):
                    if stack[d].tag == tag:
                        del stack[d:]
                        break
            i = j
            continue
        if plain_attrs is not None:
            tag = plain_tag
            attrs = dict(_PLAIN_ATTRS(plain_attrs)) if plain_attrs else {}
            closed = False
        else:
            i = m.end(1)  # the '<'
            attrs = {}
            k = _TAG_NAME(s, i + 1).end()
            while k < j:
                a = _ATTR(s, k)
                if a is None:
                    break
                attr, rest, value = a.group(1, 2, 3)
                if not rest:
                    value = None
                elif value[:1] == "'" == value[-1:] or value[:1] == '"' == value[-1:]:
                    value = value[1:-1]
                if value and "&" in value:
                    value = unescape(value)
                attrs[attr.lower()] = value
                k = a.end()
            end = s[k:j].strip()
            if end != ">" and end != "/>":  # not a tag after all
                stack[-1].children.append(s[i:j])
                i = j
                continue
            tag = name.lower()
            closed = end == "/>"
        ordinal += 1
        parent = stack[-1]
        el = Element(tag, attrs, parent, ordinal)
        parent.children.append(el)
        same = tags.get(tag)
        if same is None:
            tags[tag] = [el]
        else:
            same.append(el)
        if not closed and tag not in _VOID:
            raw_end = _RAW_TEXT_END.get(tag)
            if raw_end is None:
                stack.append(el)
            else:
                # script/style still open at EOF: html.parser never flushes
                # its content, so the element stays empty
                m = raw_end(s, j)
                if m is None:
                    break
                if m.start() > j:
                    el.children.append(s[j:m.start()])
                j = m.end()
        i = j
    root.tag_index = tags
    return root
