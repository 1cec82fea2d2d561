"""Evaluator for the XPath subset used by the reference's extraction config.

The reference evaluates a fixed set of XPath patterns with lxml
(/root/reference/config/configs/1900comvn.yml:7-36, evaluated at
/root/reference/app/extractor/company_details_extractor.py:68-97).  lxml is
unavailable here, so this is a from-scratch evaluator for exactly the grammar
those patterns need:

    path      := ('//'|'/') step ( ('//'|'/') step )* ( '/@' attr )?
    step      := name predicate*
    predicate := '[' int ']'
               | '[@attr=\'v\']'
               | '[contains(@attr,\'v\')]'
               | '[starts-with(@attr,\'v\')]'
               | '[contains(text(),\'v\')]'
               | '[normalize-space()=\'v\']'
               | '[' step ']'                 # child-existence, e.g. label[...]

Semantics follow XPath 1.0: ``//`` is descendant, ``/`` is child, and a
positional predicate selects by position *within each parent's group* of
nodes surviving the previous predicates (so ``//div[@class='item'][1]``
returns the first matching item per parent, exactly as lxml does).
Results are returned in document order, deduplicated.
"""

from __future__ import annotations

import re
from typing import List, Optional, Union

from .dom import Element

_STEP_RE = re.compile(r"^([A-Za-z][\w-]*|\*)")


class _Pred:
    KIND_POS = "pos"
    KIND_ATTR_EQ = "attr_eq"
    KIND_ATTR_CONTAINS = "attr_contains"
    KIND_ATTR_STARTS = "attr_starts"
    KIND_TEXT_CONTAINS = "text_contains"
    KIND_NORM_SPACE_EQ = "norm_space_eq"
    KIND_CHILD = "child"

    __slots__ = ("kind", "a", "b", "child_step", "check")

    def __init__(self, kind, a=None, b=None, child_step=None):
        self.kind = kind
        self.a = a
        self.b = b
        self.child_step = child_step
        # compile the check into a closure ONCE at parse time (patterns are
        # parse-cached, so this is amortized over every page): the per-node
        # string-kind dispatch in the old _pred_holds was measured hot (r7)
        self.check = self._compile()

    def _compile(self):
        a, b = self.a, self.b
        if self.kind == _Pred.KIND_ATTR_EQ:
            return lambda el: el.attrs.get(a) == b
        if self.kind == _Pred.KIND_ATTR_CONTAINS:
            def check(el):
                v = el.attrs.get(a)
                return v is not None and b in v
            return check
        if self.kind == _Pred.KIND_ATTR_STARTS:
            def check(el):
                v = el.attrs.get(a)
                return v is not None and v.startswith(b)
            return check
        if self.kind == _Pred.KIND_TEXT_CONTAINS:
            def check(el):
                # XPath contains(text(), v): true if the FIRST text-node
                # child contains v (lxml uses the first of the text() set)
                for c in el.children:
                    if isinstance(c, str):
                        return a in c
                return False
            return check
        if self.kind == _Pred.KIND_NORM_SPACE_EQ:
            return lambda el: " ".join(el.text_content().split()) == a
        if self.kind == _Pred.KIND_CHILD:
            cs = self.child_step
            return lambda el: bool(_apply_step([el], cs))
        return None  # positional: handled structurally in _apply_step


class _Step:
    __slots__ = ("axis", "tag", "preds")

    def __init__(self, axis: str, tag: str, preds: List[_Pred]):
        self.axis = axis  # 'descendant' | 'child'
        self.tag = tag
        self.preds = preds


class XPathError(ValueError):
    pass


def _split_balanced(expr: str) -> tuple[str, List[str]]:
    """Split 'name[p1][p2]' into (name, [p1, p2]) honoring nested brackets
    and quoted strings."""
    m = _STEP_RE.match(expr)
    if not m:
        raise XPathError(f"bad step: {expr!r}")
    name = m.group(1)
    rest = expr[m.end():]
    preds: List[str] = []
    i = 0
    while i < len(rest):
        if rest[i] != "[":
            raise XPathError(f"bad predicate tail: {rest[i:]!r} in {expr!r}")
        depth, j, quote = 0, i, None
        while j < len(rest):
            c = rest[j]
            if quote:
                if c == quote:
                    quote = None
            elif c in "'\"":
                quote = c
            elif c == "[":
                depth += 1
            elif c == "]":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0:
            raise XPathError(f"unbalanced brackets in {expr!r}")
        preds.append(rest[i + 1 : j])
        i = j + 1
    return name, preds


_ATTR_EQ = re.compile(r"^@([\w-]+)\s*=\s*(['\"])(.*?)\2$")
_CONTAINS_ATTR = re.compile(r"^contains\(\s*@([\w-]+)\s*,\s*(['\"])(.*?)\2\s*\)$")
_STARTS_ATTR = re.compile(r"^starts-with\(\s*@([\w-]+)\s*,\s*(['\"])(.*?)\2\s*\)$")
_CONTAINS_TEXT = re.compile(r"^contains\(\s*text\(\)\s*,\s*(['\"])(.*?)\1\s*\)$", re.S)
_NORM_SPACE = re.compile(r"^normalize-space\(\)\s*=\s*(['\"])(.*?)\1$")


def _parse_pred(p: str) -> _Pred:
    p = p.strip()
    if p.isdigit():
        return _Pred(_Pred.KIND_POS, int(p))
    m = _ATTR_EQ.match(p)
    if m:
        return _Pred(_Pred.KIND_ATTR_EQ, m.group(1), m.group(3))
    m = _CONTAINS_ATTR.match(p)
    if m:
        return _Pred(_Pred.KIND_ATTR_CONTAINS, m.group(1), m.group(3))
    m = _STARTS_ATTR.match(p)
    if m:
        return _Pred(_Pred.KIND_ATTR_STARTS, m.group(1), m.group(3))
    m = _CONTAINS_TEXT.match(p)
    if m:
        return _Pred(_Pred.KIND_TEXT_CONTAINS, m.group(2))
    m = _NORM_SPACE.match(p)
    if m:
        return _Pred(_Pred.KIND_NORM_SPACE_EQ, m.group(2))
    # child-existence predicate: a nested single step like label[contains(text(),'x')]
    if _STEP_RE.match(p):
        name, preds = _split_balanced(p)
        return _Pred(
            _Pred.KIND_CHILD,
            child_step=_Step("child", name, [_parse_pred(q) for q in preds]),
        )
    raise XPathError(f"unsupported predicate: {p!r}")


def _parse(path: str) -> tuple[List[_Step], Optional[str]]:
    s = path.strip()
    if not s.startswith("/"):
        raise XPathError(f"only absolute paths supported: {path!r}")
    steps: List[_Step] = []
    attr_tail: Optional[str] = None
    i = 0
    n = len(s)
    while i < n:
        if s.startswith("//", i):
            axis, i = "descendant", i + 2
        elif s[i] == "/":
            axis, i = "child", i + 1
        else:
            raise XPathError(f"expected axis at {s[i:]!r}")
        if s.startswith("@", i):
            attr_tail = s[i + 1 :]
            if not re.fullmatch(r"[\w-]+", attr_tail):
                raise XPathError(f"bad attribute tail: {attr_tail!r}")
            break
        # consume one step (up to next '/' outside brackets/quotes)
        depth, j, quote = 0, i, None
        while j < n:
            c = s[j]
            if quote:
                if c == quote:
                    quote = None
            elif c in "'\"":
                quote = c
            elif c == "[":
                depth += 1
            elif c == "]":
                depth -= 1
            elif c == "/" and depth == 0:
                break
            j += 1
        name, preds = _split_balanced(s[i:j])
        steps.append(_Step(axis, name, [_parse_pred(p) for p in preds]))
        i = j
    if not steps:
        raise XPathError(f"empty path: {path!r}")
    return steps, attr_tail


def _node_test(el: Element, tag: str) -> bool:
    return tag == "*" or el.tag == tag


def _pred_holds(el: Element, pred: _Pred) -> bool:
    """Kept as the readable reference semantics; the hot path calls the
    closure compiled by ``_Pred._compile`` (identical behavior)."""
    if pred.check is None:
        raise XPathError(f"positional predicate handled elsewhere: {pred.kind}")
    return pred.check(el)


def _apply_step(context: List[Element], step: _Step) -> List[Element]:
    # gather candidates in document order, dedup across context nodes
    if len(context) == 1:
        # single context node: one preorder traversal is already document
        # order with no duplicates — no seen-set, no sort.  A root carrying
        # the parse-time tag index answers descendant steps without any
        # walk at all (r7: the 13-pattern detail extractor re-walked the
        # whole tree per pattern — ~50% of per-page CPU).
        node = context[0]
        if step.axis == "descendant":
            idx = node.tag_index
            if idx is not None and step.tag != "*":
                # the root's own index list, not a copy: a step's result is
                # read-only (predicates build new lists, xpath() copies
                # before returning), or it corrupts later queries
                cands = idx.get(step.tag, [])
            else:
                cands = [el for el in node.iter_descendants()
                         if _node_test(el, step.tag)]
        else:
            cands = [el for el in node.child_elements()
                     if _node_test(el, step.tag)]
    else:
        seen = set()
        cands = []
        for node in context:
            it = node.iter_descendants() if step.axis == "descendant" else iter(node.child_elements())
            for el in it:
                if _node_test(el, step.tag) and id(el) not in seen:
                    seen.add(id(el))
                    cands.append(el)
        cands.sort(key=lambda e: e.ordinal)
    for pred in step.preds:
        if pred.kind == _Pred.KIND_POS:
            # position is evaluated per parent context group
            by_parent: dict[int, int] = {}
            kept = []
            for el in cands:
                pid = id(el.parent)
                by_parent[pid] = by_parent.get(pid, 0) + 1
                if by_parent[pid] == pred.a:
                    kept.append(el)
            cands = kept
        else:
            check = pred.check
            cands = [el for el in cands if check(el)]
    return cands


from functools import lru_cache


@lru_cache(maxsize=512)
def _parse_cached(path: str):
    return _parse(path)


def xpath(root: Element, path: str) -> List[Union[Element, str]]:
    """Evaluate ``path`` against ``root``; returns elements (or attribute
    strings for ``/@attr`` tails) in document order.  Pattern parsing is
    cached — the extraction config evaluates the same ~13 fixed patterns
    per page, and parsing was ~25% of per-page cost before caching."""
    steps, attr_tail = _parse_cached(path)
    nodes: List[Element] = [root]
    for step in steps:
        nodes = _apply_step(nodes, step)
        if not nodes:
            return []
    if attr_tail is not None:
        return [el.attrs[attr_tail] for el in nodes if attr_tail in el.attrs]
    return list(nodes)
