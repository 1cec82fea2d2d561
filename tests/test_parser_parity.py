"""Differential test: the single-regex scanner in ``pcrawler_spark.html.dom``
against a tree builder on the stdlib ``html.parser`` (the parser the engine
used before the scanner).

Both must give the same tree — tag, attributes and children in order, text
nodes split the same way — and the same ``tag_index`` order on fixture
pages, the golden cases, synthetic-corpus pages and generated HTML-ish
token soup; every extraction kernel must give the same output from either
tree.
"""

from __future__ import annotations

import glob
import os
from html.parser import HTMLParser

import pytest
from hypothesis import given, settings, strategies as st

from pcrawler_spark.html.dom import _VOID, Element, parse_html


class _TreeBuilder(HTMLParser):
    """The oracle: html.parser's events turned into the same ``Element``
    tree (tolerant: stray end tags are ignored, void elements never open)."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self._ordinal = 0
        self.root = Element("#document", {}, None, 0)
        self._stack = [self.root]
        self.tags: dict = {}

    def _add(self, tag, attrs):
        self._ordinal += 1
        parent = self._stack[-1]
        el = Element(tag, dict(attrs), parent, self._ordinal)
        parent.children.append(el)
        self.tags.setdefault(tag, []).append(el)
        return el

    def handle_starttag(self, tag, attrs):
        el = self._add(tag, attrs)
        if tag not in _VOID:
            self._stack.append(el)

    def handle_startendtag(self, tag, attrs):
        self._add(tag, attrs)

    def handle_endtag(self, tag):
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                return

    def handle_data(self, data):
        if data:
            self._stack[-1].children.append(data)


def oracle_parse(html):
    """``parse_html`` as it was on ``html.parser``, including its handling
    of an unterminated comment (swallowed to EOF) and its None results."""
    if html is None:
        return None
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    if not html.strip():
        return None
    builder = _TreeBuilder()
    try:
        builder.feed(html)
        if builder.rawdata.startswith("<!--"):
            builder.feed("-->")
        builder.close()
    except Exception:
        return None
    builder.root.tag_index = builder.tags
    return builder.root


def serialize(node):
    if node is None:
        return None
    if isinstance(node, str):
        return node
    return (node.tag, tuple(node.attrs.items()),
            tuple(serialize(c) for c in node.children))


def index_of(root):
    """The tag index in its key order, each tag's elements by ordinal."""
    if root is None:
        return None
    return [(tag, [el.ordinal for el in els]) for tag, els in root.tag_index.items()]


def kernel_outputs(html, root):
    """Every tree-reading extraction kernel on one parsed page.
    ``extract_emails`` is not here: it reads the raw page, not the tree."""
    from pcrawler_spark.kernels import (
        extract_company_details, extract_company_links, extract_text)
    from pcrawler_spark.kernels.emails import score_contact_links
    from pcrawler_spark.kernels.links import extract_pagination_links

    return (
        extract_company_details(html, company_url="https://a.vn/x-tong-quan", root=root),
        score_contact_links(html, base_url="https://a.vn/lien-he", root=root),
        score_contact_links(html, base_url="https://facebook.com/a",
                            url_type="facebook", root=root),
        extract_company_links(html, root=root),
        extract_pagination_links(html, root=root),
        extract_text(html, root=root),
    )


def assert_parity(html):
    """Same tree, same tag index, same kernel outputs."""
    got, want = parse_html(html), oracle_parse(html)
    assert serialize(got) == serialize(want), html
    assert index_of(got) == index_of(want), html
    if got is not None:
        assert kernel_outputs(html, got) == kernel_outputs(html, want), html


def _golden_pages():
    from test_lxml_golden import (
        GOLDEN_MALFORMED_TEXT, GOLDEN_PAGE_TEXT, GOLDEN_TEXT_CONTENT)

    return [h for cases in (GOLDEN_TEXT_CONTENT, GOLDEN_PAGE_TEXT,
                            GOLDEN_MALFORMED_TEXT) for h, _ in cases]


@pytest.mark.parametrize("html", _golden_pages())
def test_golden_cases_parse_like_html_parser(html):
    assert_parity(html)


def _corpus_pages(**cfg):
    from pcrawler_spark.sources.synthetic import (
        SyntheticCrawlConfig, generate_crawl_corpus)

    return list(generate_crawl_corpus(SyntheticCrawlConfig(**cfg))["pages"].html)


def test_fixture_corpus_pages_parse_like_html_parser():
    # the corpus the checked-in fixtures are derived from (make_fixtures.CFG)
    pages = _corpus_pages(n_companies=50, n_industries=4, n_hosts=8)
    assert pages
    for html in pages:
        assert_parity(html)


def test_synthetic_corpus_pages_parse_like_html_parser():
    pages = _corpus_pages(n_companies=700, n_industries=8, n_hosts=20, seed=11)
    assert len(pages) > 2000
    for html in pages:
        assert_parity(html)


# HTML-ish tokens, joined at random: every construct the tokenizer treats
# specially, in upper and lower case, terminated and not
_TOKENS = [
    "<div>", "</div>", "<p>", "</p>", "<P>", "</P >", "<span>", "</span>", "<ul><li>",
    '<a href="/x-tong-quan">', "<a href='/a?page=2'>", "<a href=/lien-he>", "</a>",
    '<A HREF="/Contact">', '<div class="company-detail-name">', '<h1 class="x" id=y>',
    '<p a="1" a="2">', "<input disabled>", '<img src="x.png"/>', "<br/>", "<br>",
    "<br />", "<i/>", '<a b="c"d="e">', '<a b="x>y">', "<a b=>", "<a =b>", "<a/b>",
    '<div title="&amp;&lt;">', "<td data-x=1&amp;2>", "<b\x00>", "<a b=c>",
    "&amp;", "&amp", "&lt", "&#65;", "&#65", "&#x41;", "&#x41", "&nbsp;", "&foo;",
    "&", "&#", ";", "<!--", "-->", "--", "<!-- c -->", "<!doctype html>",
    "<!DOCTYPE", "<!x>", "<!>", "<!", "<!-", "<?x?>", "<?", "<![CDATA[", "]]>",
    "<![if x]>", "<![endif]>", "<![foo", "<script>", "</script>", "<SCRIPT>",
    "</script >", "<style>", "</style>", "<script/>", "<script>1</script>",
    "<style></style>", "<script>if (a<b) x='</p>'</script>", "<", "</", "</>", "</ p>",
    "</p x>", ">", "<a", "<div class=", '"', "'", "=", "/", " ", "\n", "\t",
    "text", "a@b.vn", "Công ty", "0903 123 456",
]


@settings(max_examples=1500, deadline=None)
@given(st.lists(st.one_of(st.sampled_from(_TOKENS),
                          st.text(alphabet="<>/!?-=&;#'\" \nabAB", max_size=4)),
                max_size=24).map("".join))
def test_html_token_soup_parses_like_html_parser(html):
    assert_parity(html)


def test_package_does_not_import_html_parser():
    import ast
    import pcrawler_spark

    pkg = os.path.dirname(pcrawler_spark.__file__)
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        tree = ast.parse(open(path, encoding="utf-8").read())
        imported = {a.name for n in ast.walk(tree) if isinstance(n, ast.Import)
                    for a in n.names}
        imported |= {n.module for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)}
        assert "html.parser" not in imported, path
