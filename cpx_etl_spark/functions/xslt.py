"""Minimal XSLT 1.0 subset engine on the stdlib xml.etree — so a REAL
``.xsl`` stylesheet executes without libxslt. Each stylesheet compiles
once to bound closures: every instruction body, select, test, match
pattern and attribute value template is parsed once per stylesheet,
and ``apply`` runs closure bodies only, per document.

Parity: the reference's ``xslTransform``/``xslPipeline``
(src/main/index.js:87-126) resolves a control document's ``xi:include``
chain to stylesheets and applies them in document order, each step
consuming the previous step's serialized output. This module supplies
the per-step execution those functions delegate to libxslt for; the
chain resolution lives in plans/xsl_chain.py and the Spark wiring
(Arrow-batched column transform) alongside it.

Supported subset (anything else raises XsltUnsupported: a declaration
when the stylesheet compiles, an expression or instruction when it
runs):

- declarations: ``xsl:template`` (match and/or name, ``mode``),
  ``xsl:variable`` / ``xsl:param`` (global and local: a ``select``, or
  a body as a result-tree fragment), ``xsl:key``, ``xsl:import`` /
  ``xsl:include`` (hrefs against ``base_dir``; import precedence per
  §2.6.2), ``xsl:attribute-set``, ``xsl:decimal-format``,
  ``xsl:strip-space`` / ``xsl:preserve-space``; ``xsl:output`` is
  ignored (output is always unindented text) and top-level elements in
  other namespaces are data for ``document('')``
- match patterns: ``/``, names, ``*``, ``node()``, ``text()``, ``a/b``,
  ``a//b``, anchored ``/a/b``, non-positional ``[...]`` predicates and
  ``|`` alternation. Import precedence decides first, then (depth,
  predicate count, name > ``*`` > ``node()``), then declaration order;
  the two XSLT 1.0 §5.5 default-priority-0.5 ties that libxslt would
  resolve by declaration order differently are refused
- instructions: ``apply-templates`` (``select``, ``mode``,
  ``with-param``, ``xsl:sort``), ``apply-imports``, ``call-template``
  (``with-param``), ``for-each`` (``xsl:sort``: select, data-type
  text|number, order; stable multi-key), ``value-of``, ``copy-of``,
  ``copy``, ``if``, ``choose/when/otherwise``, ``text``, ``element``,
  ``attribute``, ``number`` (``value``, or ``level``
  single|any|multiple with ``count`` and a ``format`` of 1/01/a/A/i/I
  tokens), literal result elements with ``{expr}`` attribute value
  templates and ``xsl:use-attribute-sets``, and ``copy-of
  select="@*"`` directly inside an element constructor
- select paths: relative and absolute (``/a/b``) child steps, ``//``
  descendant steps, ``.``, ``@a``, ``*``, ``text()``, ``node()``;
  predicates ``[k]``, ``[last()]``, ``position()``/``last()`` tests
  (these three on child steps only) and plain tests, applied in order
  with XPath 1.0 renumbering; heads
  ``key(...)`` and ``document(...)``; ``$var``; a quoted or numeric
  literal
- functions: ``position()``, ``last()``, ``count``, ``key``,
  ``document`` (string-literal uri; ``''`` is the stylesheet; 2-arg
  base), ``generate-id``, ``concat``, ``string``, ``string-length``,
  ``normalize-space``, ``contains``, ``starts-with``, ``substring``,
  ``substring-before``, ``substring-after``, ``translate``,
  ``format-number``, ``not``, ``boolean``, ``true``, ``false``
- tests: ``or``, ``and``, ``not(...)``, parentheses, existence, and
  ``= != < <= > >=`` against a quoted or numeric literal or ``$var``;
  path-to-path only with ``=`` / ``!=`` (XPath 1.0 §3.4 node-sets)
"""

from __future__ import annotations

import decimal
import functools
import math
import operator
import os
import re
import sys
import xml.etree.ElementTree as ET
from collections import namedtuple
from xml.sax.saxutils import escape, quoteattr

XSL_NS = "http://www.w3.org/1999/XSL/Transform"
_OPS = ("!=", ">=", "<=", "=", "<", ">")
_CMP = {"=": operator.eq, "!=": operator.ne, "<": operator.lt,
        "<=": operator.le, ">": operator.gt, ">=": operator.ge}
# a function call (or the text()/node() tests) at the head of an expression
_CALL = re.compile(r"[A-Za-z_][\w.-]*\(")
# an XPath 1.0 Number ('nan' or 'inf' is an element name)
_NUMBER = re.compile(r"-?(\d+(\.\d*)?|\.\d+)")
# the node tests a select step supports
_NODE_TEST = re.compile(r"@?[A-Za-z_][\w.-]*|\*|\.|text\(\)|node\(\)")


class XsltUnsupported(ValueError):
    """Stylesheet uses XSLT outside the implemented subset."""


class _Doc:
    """XPath document-node stand-in (ElementTree has no document node)."""

    __slots__ = ("root",)

    def __init__(self, root: ET.Element):
        self.root = root


def _local(tag) -> str:
    return tag.rsplit("}", 1)[-1] if isinstance(tag, str) and tag.startswith("{") else tag


def _is_xsl(elem, name: str | None = None) -> bool:
    tag = getattr(elem, "tag", None)
    if not isinstance(tag, str) or not tag.startswith("{" + XSL_NS + "}"):
        return False
    return name is None or _local(tag) == name


def _kind_of(elem) -> str | None:
    """An element's XSL instruction name (None: literal result
    element). ``copy-of select="@*"`` is its own kind: directly inside
    an element constructor it copies the context node's attributes (the
    identity-transform idiom), anywhere else it fails when run."""
    if not isinstance(elem.tag, str):
        return "#comment"
    if not _is_xsl(elem):
        return None
    kind = _local(elem.tag)
    if kind == "copy-of" and (elem.get("select") or "").strip() == "@*":
        return "#attr-copy"
    return kind


class _RTF:
    """Result-tree fragment from an xsl:variable body: ``markup`` is
    the rendered XML; the XPath string-value (text content only) is
    recovered lazily by re-parsing — our own output is well-formed."""

    __slots__ = ("markup", "_text")

    def __init__(self, markup: str):
        self.markup = markup
        self._text: str | None = None

    def text(self) -> str:
        if self._text is None:
            frag = ET.fromstring(f"<r>{self.markup}</r>")
            self._text = "".join(frag.itertext())
        return self._text


def _string(item) -> str:
    # str first — the hot operand shape (attribute values, text nodes);
    # bool is not a str subclass, so the reorder is safe
    if isinstance(item, str):
        return item
    if isinstance(item, bool):  # XPath boolean->string
        return "true" if item else "false"
    if isinstance(item, _RTF):
        return item.text()
    if isinstance(item, _Doc):
        return "".join(item.root.itertext())
    return "".join(item.itertext())


def _children(elem: ET.Element) -> list:
    """child::node() — elements and text, in document order."""
    out: list = []
    if elem.text:
        out.append(elem.text)
    for child in elem:
        out.append(child)
        if child.tail:
            out.append(child.tail)
    return out


def _all_nodes(elem: ET.Element, out: list) -> list:
    """Append every descendant node of ``elem`` in document order."""
    for c in _children(elem):
        out.append(c)
        if isinstance(c, ET.Element):
            _all_nodes(c, out)
    return out


def _fail(msg: str):
    """fn(ctx) raising XsltUnsupported(msg) when it RUNS: an unsupported
    instruction or expression fails when executed, not when the
    stylesheet compiles."""
    def fn(ctx):
        raise XsltUnsupported(msg)
    return fn


def _never(node) -> bool:
    return False


def _refuse_nodes(msg: str, n) -> list:
    """A location step outside the subset: fails once a node reaches it."""
    if isinstance(n, (ET.Element, _Doc)):
        raise XsltUnsupported(msg)
    return []


_RECLIMIT_OK = False


def _ensure_recursion_limit() -> None:
    """Raise the interpreter recursion limit to 5000 once per process
    (template recursion needs ~8 CPython frames per level and is
    already bounded by _MAX_TDEPTH). Never lowers an existing limit."""
    global _RECLIMIT_OK
    if not _RECLIMIT_OK:
        if sys.getrecursionlimit() < 5000:
            sys.setrecursionlimit(5000)
        _RECLIMIT_OK = True


def _close_paren(s: str, start: int) -> int:
    """Index of the ')' matching the '(' at ``start``, quote-aware."""
    depth = 0
    in_q = False
    for i in range(start, len(s)):
        ch = s[i]
        if ch == "'":
            in_q = not in_q
        elif not in_q:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    return i
    raise XsltUnsupported(f"unbalanced parentheses in {s!r}")


def _scan_brackets(s: str):
    """Yield (i, ch, depth, in_quote) with depth counted OUTSIDE quotes."""
    depth = 0
    in_q = False
    for i, ch in enumerate(s):
        if ch == "'":
            in_q = not in_q
        elif not in_q:
            if ch == "[":
                depth += 1
            elif ch == "]":
                depth -= 1
        yield i, ch, depth, in_q


@functools.lru_cache(maxsize=4096)
def _parse_step(step: str) -> tuple[str, tuple[str, ...]]:
    """'name[p1][p2]' -> ('name', ('p1', 'p2')), bracket and quote
    aware so predicates may nest (a[b[c]]) or hold paths (a[b/c])."""
    preds: list[str] = []
    while step.endswith("]"):
        opens: list[int] = []
        close_match: int | None = None
        for i, ch, depth, in_q in _scan_brackets(step):
            if in_q:
                continue
            if ch == "[" and depth == 1:
                opens.append(i)
            elif ch == "]" and depth == 0 and i == len(step) - 1:
                close_match = opens[-1] if opens else None
        if close_match is None:
            raise XsltUnsupported(f"unbalanced predicate in step {step!r}")
        preds.insert(0, step[close_match + 1 : -1])
        step = step[:close_match]
    if "(" in step and step not in ("text()", "node()"):
        raise XsltUnsupported(f"path function {step!r}")
    return step, tuple(preds)


def _top_level(s: str):
    """Indices of the characters of ``s`` outside quotes and outside
    (...) and [...] groups, the quote and bracket characters excluded."""
    depth = 0
    in_q = False
    for i, ch in enumerate(s):
        if ch == "'":
            in_q = not in_q
        elif not in_q:
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif depth == 0:
                yield i


def _split_top(s: str, sep: str) -> list[str]:
    """Split ``s`` on ``sep`` where it stands at the top level."""
    parts: list[str] = []
    start = 0
    for i in _top_level(s):
        if i >= start and s.startswith(sep, i):
            parts.append(s[start:i])
            start = i + len(sep)
    parts.append(s[start:])
    return parts


def _split_union(expr: str) -> tuple[str, ...]:
    """Pattern alternatives: split on top-level '|'."""
    return tuple(p.strip() for p in _split_top(expr, "|") if p.strip())


@functools.lru_cache(maxsize=4096)
def _split_path_marked(path: str) -> tuple[tuple[str, bool], ...]:
    """Split on top-level '/', keeping '//' semantics: each returned
    (segment, is_descendant) marks whether the step is reached via the
    descendant axis. A leading empty part (absolute path) is skipped —
    the caller roots absolute paths itself. Malformed runs ('///',
    trailing '//') fail fast."""
    parts = _split_top(path, "/")
    if path == "/":  # document-root selection: zero steps, legal XSLT
        return ()
    out: list[tuple[str, bool]] = []
    pending = False
    for j, seg in enumerate(parts):
        if seg == "":
            if j == 0:
                continue
            if pending:
                raise XsltUnsupported(f"malformed path {path!r}")
            pending = True
            continue
        out.append((seg, pending))
        pending = False
    if pending:
        raise XsltUnsupported(f"trailing '//' in path {path!r}")
    return tuple(out)


def _split_args(inner: str) -> tuple[str, ...]:
    """Function arguments: split on top-level commas."""
    return tuple(p.strip() for p in _split_top(inner, ",") if p.strip())


@functools.lru_cache(maxsize=4096)
def _avt_segments(value: str) -> tuple[tuple[str, str], ...]:
    """Attribute-value-template -> ('lit'|'expr', payload) segments."""
    segs: list[tuple[str, str]] = []
    lit: list[str] = []
    i = 0
    while i < len(value):
        ch = value[i]
        if ch == "{":
            if value.startswith("{{", i):
                lit.append("{")
                i += 2
                continue
            end = value.index("}", i)
            if lit:
                segs.append(("lit", "".join(lit)))
                lit = []
            segs.append(("expr", value[i + 1 : end]))
            i = end + 1
        elif ch == "}":
            i += 2 if value.startswith("}}", i) else 1
            lit.append("}")
        else:
            lit.append(ch)
            i += 1
    if lit or not segs:
        segs.append(("lit", "".join(lit)))
    return tuple(segs)


def _avt_literal(value: str) -> str | None:
    """An attribute value template's text when it holds no expression."""
    segs = _avt_segments(value)
    return segs[0][1] if len(segs) == 1 and segs[0][0] == "lit" else None


def _split_comparison(expr: str):
    """(lhs, op, rhs) at the first top-level comparison operator (those
    inside predicates or function arguments are their own), else None."""
    for i in _top_level(expr):
        for op in _OPS:
            if expr.startswith(op, i):
                return expr[:i].strip(), op, expr[i + len(op) :].strip()
    return None


def _literal(token: str):
    """Quoted-string or numeric literal, else None (it's a path)."""
    if len(token) >= 2 and token[0] == token[-1] == "'" and "'" not in token[1:-1]:
        return token[1:-1]
    return float(token) if _NUMBER.fullmatch(token) else None


def _positional(pred: str) -> bool:
    """Does a predicate read its candidate's position ([k], position(),
    last())?"""
    pred = pred.strip()
    return pred.isdigit() or "position()" in pred or "last()" in pred


def _child_axis(name: str):
    """Node test on the child axis (plus '.' and '@a') -> fn(node) ->
    list. Text, attribute and RTF items have no children."""
    if name == ".":
        return lambda n: [n] if isinstance(n, (ET.Element, _Doc)) else []
    if name.startswith("@"):
        attr = name[1:]

        def attribute(n):
            if isinstance(n, ET.Element):
                v = n.attrib.get(attr)
                return [v] if v is not None else []
            return []
        return attribute
    if name == "text()":
        return lambda n: [n.text] if isinstance(n, ET.Element) and n.text else []
    if name in ("*", "node()"):
        def every(n, _text=name == "node()"):
            if isinstance(n, ET.Element):
                return _children(n) if _text else list(n)
            return [n.root] if isinstance(n, _Doc) else []
        return every

    def named(n):
        if isinstance(n, ET.Element):
            return [c for c in n if _local(c.tag) == name]
        if isinstance(n, _Doc):
            return [n.root] if _local(n.root.tag) == name else []
        return []
    return named


def _below(n, or_self: bool):
    """Elements below ``n`` in document order (ET.iter() is preorder):
    for the document, the root and everything under it."""
    if isinstance(n, _Doc):
        return n.root.iter()
    if not isinstance(n, ET.Element):
        return iter(())
    it = n.iter()
    if not or_self:
        next(it)
    return it


def _descendant_axis(name: str):
    """Node test after '//' (descendant-or-self::node()/child::name) ->
    fn(node) -> list. Element tests take strict descendants of an
    element context; '@a' and 'text()' also see the context element
    itself, as the or-self expansion says."""
    if name == "text()":
        return lambda n: [e.text for e in _below(n, True) if e.text]
    if name.startswith("@"):
        attr = name[1:]
        return lambda n: [e.attrib[attr] for e in _below(n, True) if attr in e.attrib]
    if name == "*":
        return lambda n: list(_below(n, False))
    if name == "node()":
        def every(n):
            if isinstance(n, _Doc):
                return _all_nodes(n.root, [n.root])
            return _all_nodes(n, []) if isinstance(n, ET.Element) else []
        return every
    return lambda n: [e for e in _below(n, False) if _local(e.tag) == name]


def _translate(s: str, src: str, dst: str) -> str:
    # the first occurrence of a char in src decides its mapping
    return s.translate({ord(ch): (dst[i] if i < len(dst) else None)
                        for i, ch in reversed(list(enumerate(src)))})


def _substring(s: str, start: str, length: str | None = None) -> str:
    """XPath 1.0 substring(): 1-based, both numeric arguments pass
    through round() (floor(x+0.5)), chars kept at positions p with
    round(start) <= p < round(start)+round(length)."""
    def num(v: str) -> float:
        try:
            return float(v)
        except ValueError:
            return math.nan

    first = num(start)
    if math.isnan(first):
        return ""
    if math.isinf(first):
        # round(±Infinity) stays infinite: p >= -Infinity keeps every
        # char in the 2-arg form; any 3-arg upper bound (-inf + x, or
        # the NaN from -inf + inf) admits none, as does start = +inf
        return s if (first < 0 and length is None) else ""
    rstart = math.floor(first + 0.5)
    if length is None:
        return s[max(0, rstart - 1):]
    ln = num(length)
    if math.isnan(ln) or math.isinf(ln) and ln < 0:
        return ""
    rend = rstart + (len(s) + 1 if math.isinf(ln) else math.floor(ln + 0.5))
    lo = max(1, rstart)
    hi = max(lo, min(rend, len(s) + 1))
    return s[lo - 1 : hi - 1]


# string functions: name -> (allowed argument counts or None for any,
# fn over the arguments' string values)
_STRING_FNS = {
    "concat": (None, lambda *a: "".join(a)),
    "contains": ((2,), lambda a, b: b in a),
    "starts-with": ((2,), lambda a, b: a.startswith(b)),
    "substring-before": ((2,), lambda a, b: a.split(b, 1)[0] if b and b in a else ""),
    "substring-after": ((2,), lambda a, b: a.split(b, 1)[1] if b and b in a else ""),
    "translate": ((3,), _translate),
    "substring": ((2, 3), _substring),
}
_ONE_STRING_FNS = {
    "string": lambda v: v,
    "string-length": lambda v: str(len(v)),
    "normalize-space": lambda v: " ".join(v.split()),
}

# the default decimal-format (XSLT 1.0 §12.3) — a named/unnamed
# xsl:decimal-format declaration overrides these per stylesheet
_DEFAULT_DF = {
    "decimal": ".",
    "group": ",",
    "minus": "-",
    "percent": "%",
    "nan": "NaN",
    "infinity": "Infinity",
}
# declaration attribute -> symbol key; attributes outside this map
# (zero-digit, digit, pattern-separator, per-mille) stay out of subset
_DF_ATTRS = {
    "decimal-separator": "decimal",
    "grouping-separator": "group",
    "minus-sign": "minus",
    "percent": "percent",
    "NaN": "nan",
    "infinity": "infinity",
}


def _format_number(value: float, pattern: str, sym: dict | None = None) -> str:
    """XSLT 1.0 format-number() subset: '0' (required digit), '#'
    (optional digit), the decimal point, the grouping separator
    (distance from the LAST separator to the decimal point), and a
    trailing percent (multiply by 100). ``sym`` carries the active
    xsl:decimal-format's symbols (default §12.3 set when None) — the
    PATTERN is written in those symbols too, per JDK DecimalFormat.
    Rounding is half-even, as Java DecimalFormat specifies. No
    negative sub-pattern (the minus sign is prefixed), no
    currency/permille — out-of-subset patterns fail fast."""
    sym = sym or _DEFAULT_DF
    dec, grp, pct_ch = sym["decimal"], sym["group"], sym["percent"]
    if any(c not in ("0#" + dec + grp + pct_ch) for c in pattern):
        raise XsltUnsupported(f"format-number pattern {pattern!r}")
    pct = pattern.endswith(pct_ch)
    if pct:
        pattern = pattern[: -len(pct_ch)]
        value = value * 100
    if pattern.count(dec) > 1 or not pattern:
        raise XsltUnsupported(f"format-number pattern {pattern!r}")
    int_pat, _, frac_pat = pattern.partition(dec)
    group = 0
    if grp in int_pat:
        group = len(int_pat) - int_pat.rindex(grp) - 1
        int_pat = int_pat.replace(grp, "")
    max_frac = len(frac_pat)
    min_frac = len(frac_pat.rstrip("#"))
    min_int = max(1, len(int_pat.lstrip("#"))) if int_pat else 1
    d = decimal.Decimal(repr(value)).quantize(
        decimal.Decimal(1).scaleb(-max_frac), rounding=decimal.ROUND_HALF_EVEN
    )
    neg = d < 0
    d = abs(d)
    int_part, _, frac_part = format(d, "f").partition(".")
    frac_part = frac_part.rstrip("0")
    while len(frac_part) < min_frac:
        frac_part += "0"
    int_part = int_part.lstrip("0") or ""
    while len(int_part) < min_int:
        int_part = "0" + int_part
    if group:
        rev = int_part[::-1]
        int_part = grp.join(
            rev[i : i + group] for i in range(0, len(rev), group)
        )[::-1]
    out = int_part + (f"{dec}{frac_part}" if frac_part else "")
    if pct:
        out += pct_ch
    return (sym["minus"] + out) if neg else out


def _roman(n: int) -> str:
    out = []
    for v, sym in ((1000, "m"), (900, "cm"), (500, "d"), (400, "cd"),
                   (100, "c"), (90, "xc"), (50, "l"), (40, "xl"),
                   (10, "x"), (9, "ix"), (5, "v"), (4, "iv"), (1, "i")):
        while n >= v:
            out.append(sym)
            n -= v
    return "".join(out)


def _alpha(n: int) -> str:
    """Bijective base-26: 1->a .. 26->z, 27->aa."""
    out = []
    while n > 0:
        n, r = divmod(n - 1, 26)
        out.append(chr(ord("a") + r))
    return "".join(reversed(out))


def _format_one_token(n: int, tok: str) -> str:
    if re.fullmatch(r"0*1", tok):
        return str(n).zfill(len(tok)) if n >= 0 else str(n)
    if tok in ("a", "A"):
        return str(n) if n < 1 else (
            _alpha(n).upper() if tok == "A" else _alpha(n)
        )
    if tok in ("i", "I"):
        return str(n) if n < 1 else (
            _roman(n).upper() if tok == "I" else _roman(n)
        )
    raise XsltUnsupported(f"xsl:number format token {tok!r}")


def _format_xsl_number(nums, fmt: str) -> str:
    """xsl:number format strings (XSLT 1.0 §7.7.1): alternating
    separators and format tokens; the n-th number uses the n-th token,
    extra numbers reuse the LAST token with the last separator ('.'
    when the format has no interior separator). Tokens: '1' (decimal),
    '0…01' (zero-padded), 'a'/'A' (bijective base-26), 'i'/'I'
    (roman). Non-positive numbers fall back to plain decimal for the
    letter/roman alphabets (they have no zero). ``nums`` is one int
    (level single/any/value) or a list (level multiple)."""
    if isinstance(nums, int):
        nums = [nums]
    lead = re.match(r"^[^0-9A-Za-z]*", fmt).group(0)
    trail = re.search(r"[^0-9A-Za-z]*$", fmt).group(0)
    core = fmt[len(lead):len(fmt) - len(trail)] if trail else fmt[len(lead):]
    tokens = re.findall(r"[0-9A-Za-z]+", core) or ["1"]
    seps = [s for s in re.split(r"[0-9A-Za-z]+", core) if s][: len(tokens) - 1]
    out = [lead]
    for i, n in enumerate(nums):
        if i > 0:
            out.append(seps[i - 1] if i - 1 < len(seps)
                       else (seps[-1] if seps else "."))
        out.append(_format_one_token(n, tokens[min(i, len(tokens) - 1)]))
    return "".join(out) + trail



# one template rule: a match-pattern alternative of one template.
# ``key`` orders candidates best first: (pattern out of subset, import
# precedence, depth, predicate count, specificity, declaration index)
_Rule = namedtuple("_Rule", "key prec telem match score alt last")

_ANCHOR_TIE = (
    "anchored and unanchored match patterns tie on XSLT 1.0 default "
    "priority (0.5) for the same node; conflict resolution is "
    "declaration-order in libxslt — out of subset"
)
_ORDER_TIE = (
    "two match patterns share XSLT 1.0 default priority (0.5) for the "
    "same node and the later declaration is not the specificity winner; "
    "conflict resolution is declaration-order in libxslt — out of subset"
)


def _ranked(rules: list) -> tuple:
    """Candidate rules (best first) -> (prec, template, matcher or None,
    rivals) entries; the first entry whose matcher accepts a node wins.

    XSLT 1.0 §5.5 gives every pattern beyond a single plain node test
    (absolute, multi-step, '//' or predicated) default priority 0.5,
    and libxslt resolves equal priorities by declaration order. Where
    our static key chose differently, a winner's rivals (same import
    precedence, priority 0.5, another template) raise if they also
    match the node: first a pattern that only the winner's +1 anchor
    depth beat, then any later declaration. A bare name (priority 0)
    losing to an anchored pattern is the spec outcome and no rival."""
    out = []
    for i, w in enumerate(rules):
        anchor, later = [], []
        for r in rules[i + 1:]:
            if r.prec != w.prec or not r.score[4] or r.telem is w.telem:
                continue
            if w.score[3] and not r.score[3] and r.score[:3] == (
                    w.score[0] - 1, *w.score[1:3]):
                anchor.append((r.match, _ANCHOR_TIE))
            elif w.score[4] and r.key[-1] > w.key[-1]:
                later.append((r.match, _ORDER_TIE))
        out.append((w.prec, w.telem, w.match, tuple(anchor + later)))
    return tuple(out)


class MiniXslt:
    """One compiled stylesheet; ``apply(xml) -> str`` runs it.

    ``base_dir`` anchors relative ``document(uri)`` references (the
    stylesheet's own directory in a file deployment). External
    documents are parsed ONCE per compiled stylesheet and cached —
    they are static configuration, so per-row apply() calls reuse the
    tree (in a cluster deployment the referenced files must be
    present on executors, e.g. via SparkContext.addFile)."""

    def __init__(self, src: str, base_dir: str | None = None):
        self.base_dir = base_dir
        self._ext_docs: dict[str, _Doc] = {}
        self._ext_parents: dict = {}
        root = ET.fromstring(src)
        # position()/last() cost a context push per iterated node; skip
        # the bookkeeping entirely for stylesheets that never use them
        # (re-checked against every imported/included sheet's source)
        self._needs_pos = "position()" in src or "last()" in src
        if _local(root.tag) not in ("stylesheet", "transform"):
            raise XsltUnsupported(f"root element {root.tag!r}")
        # (match, mode, telem, import_precedence): higher precedence =
        # importing sheet; per XSLT 1.0 §2.6.2 precedence eliminates
        # candidates BEFORE priority/specificity is consulted
        self.templates: list[tuple[str, str | None, ET.Element, int]] = []
        self.named: dict[str, ET.Element] = {}
        self._globals: list[ET.Element] = []
        # xsl:key declarations: name -> [(match_pattern, use_expr)];
        # XSLT 1.0 allows several declarations per key name (union)
        self._key_decls: dict[str, list[tuple[str, str]]] = {}
        # xsl:decimal-format symbol sets; "" is the unnamed default
        self._decimal_formats: dict[str, dict] = {}
        # xsl:strip-space / xsl:preserve-space element-name tests
        self._strip_names: set[str] = set()
        self._preserve_names: set[str] = set()
        # xsl:attribute-set: name -> declarations in load order (merged
        # per XSLT 1.0 §7.1.4 — later/higher-precedence wins per attr)
        self._attr_sets: dict[str, list[ET.Element]] = {}
        # document-root id -> directory anchoring that document's
        # relative document() references (the 2-arg form's base)
        self._doc_base: dict[int, str | None] = {}
        self._sheet_roots: list[ET.Element] = []
        self._load_stack: list[str] = []  # ACTIVE import/include chain (cycle guard)
        self._prec_counter = 0
        self._load_sheet(root)
        self._finish_compile()
        # template recursion is bounded at _MAX_TDEPTH, but a legitimate
        # deep recursion needs ~8 CPython frames per template level
        _ensure_recursion_limit()

    def _load_ref(self, elem: ET.Element, what: str,
                  prec: int | None) -> None:
        """Load the stylesheet referenced by an xsl:import/xsl:include
        href, resolved against base_dir. Cycle detection follows the
        ACTIVE load chain only — a diamond (two imports sharing a base
        sheet) is legal XSLT 1.0 and loads the shared sheet once per
        reference, each at its own precedence; only a sheet reachable
        from itself is an error."""
        href = elem.get("href")
        if not href:
            raise XsltUnsupported(f"xsl:{what} requires an href")
        if self.base_dir is None:
            raise XsltUnsupported(
                f"xsl:{what} href={href!r}: stylesheet compiled without a base_dir"
            )
        full = os.path.normpath(os.path.join(self.base_dir, href))
        if full in self._load_stack:
            raise XsltUnsupported(f"xsl:{what} cycle through {href!r}")
        with open(full, encoding="utf-8") as fh:
            src_text = fh.read()
        sub = ET.fromstring(src_text)
        if _local(sub.tag) not in ("stylesheet", "transform"):
            raise XsltUnsupported(f"xsl:{what} target root {sub.tag!r}")
        self._needs_pos = (
            self._needs_pos or "position()" in src_text or "last()" in src_text
        )
        self._load_stack.append(full)
        try:
            self._load_sheet(sub, prec)
        finally:
            self._load_stack.pop()

    def _load_sheet(self, root: ET.Element, prec: int | None = None) -> None:
        """Collect one stylesheet's top-level declarations.

        xsl:import children (which XSLT 1.0 §2.6.2 requires first) are
        loaded RECURSIVELY BEFORE this sheet's own declarations with
        strictly lower import precedence (earlier imports lower than
        later ones); xsl:include splices at the includer's precedence.
        Because imported sheets load first, 'later wins' dict writes for
        named templates and global variables implement the precedence
        override for free."""
        own_prec = prec
        seen_decl = False  # any non-import declaration gates later imports
        for child in root:
            if _is_xsl(child, "import"):
                if prec is not None:
                    # an include splices at the includer's precedence,
                    # which is already assigned — an import inside it
                    # cannot get a lower one anymore
                    raise XsltUnsupported("xsl:import inside an included stylesheet")
                if own_prec is not None or seen_decl:
                    # §2.6.2 requires imports to precede EVERY other
                    # declaration; allowing a later import would hand
                    # the imported sheet's globals later-wins priority,
                    # inverting precedence (code-review r8)
                    raise XsltUnsupported("xsl:import after other declarations")
                self._load_ref(child, "import", None)
            elif _is_xsl(child, "include"):
                if own_prec is None:
                    own_prec = self._prec_counter
                    self._prec_counter += 1
                self._load_ref(child, "include", own_prec)
            elif _is_xsl(child, "template"):
                if own_prec is None:
                    own_prec = self._prec_counter
                    self._prec_counter += 1
                match = child.get("match")
                name = child.get("name")
                mode = child.get("mode")
                if name:
                    self.named[name] = child
                if match:
                    self.templates.append((match, mode, child, own_prec))
                elif not name:
                    raise XsltUnsupported("template without match or name")
            elif _is_xsl(child, "key"):
                seen_decl = True
                kname = child.get("name")
                kmatch = (child.get("match") or "").strip()
                kuse = (child.get("use") or "").strip()
                if not kname or not kmatch or not kuse:
                    raise XsltUnsupported("xsl:key requires name, match and use")
                self._key_decls.setdefault(kname, []).append((kmatch, kuse))
            elif _is_xsl(child, "decimal-format"):
                seen_decl = True
                sym = dict(_DEFAULT_DF)
                for attr, val in child.attrib.items():
                    if attr == "name":
                        continue
                    key = _DF_ATTRS.get(attr)
                    if key is None:
                        raise XsltUnsupported(
                            f"xsl:decimal-format attribute {attr!r}"
                        )
                    sym[key] = val
                dfname = child.get("name", "")
                prev = self._decimal_formats.get(dfname)
                if prev is not None and prev != sym:
                    # §12.3: duplicate declarations must agree
                    raise XsltUnsupported(
                        f"conflicting xsl:decimal-format {dfname!r}"
                    )
                self._decimal_formats[dfname] = sym
            elif _is_xsl(child, "strip-space") or _is_xsl(child, "preserve-space"):
                seen_decl = True
                names = (child.get("elements") or "").split()
                if not names:
                    raise XsltUnsupported(
                        f"xsl:{_local(child.tag)} requires elements"
                    )
                target = (
                    self._strip_names
                    if _is_xsl(child, "strip-space")
                    else self._preserve_names
                )
                for n in names:
                    if ":" in n:
                        raise XsltUnsupported(
                            f"namespaced name test {n!r} in "
                            f"xsl:{_local(child.tag)}"
                        )
                    target.add(n)
            elif _is_xsl(child, "attribute-set"):
                seen_decl = True
                asname = child.get("name")
                if not asname:
                    raise XsltUnsupported("xsl:attribute-set requires a name")
                for a in child:
                    if not _is_xsl(a, "attribute"):
                        raise XsltUnsupported(
                            "xsl:attribute-set children must be xsl:attribute"
                        )
                self._attr_sets.setdefault(asname, []).append(child)
            elif _is_xsl(child, "variable") or _is_xsl(child, "param"):
                # top-level params use their defaults (no external
                # parameter API); evaluated at apply() against the doc
                seen_decl = True
                self._globals.append(child)
            elif _is_xsl(child, "output"):
                continue  # serialization is always unindented UTF-8 text
            elif (
                isinstance(child.tag, str)
                and child.tag.startswith("{")
                and not _is_xsl(child)
            ):
                # top-level data element in a non-XSL namespace: legal
                # (XSLT 1.0 §2.2), reachable via document(''). An
                # unknown XSL-namespace element still fails fast below.
                continue
            elif isinstance(child.tag, str):
                raise XsltUnsupported(f"top-level {child.tag!r}")
        self._sheet_roots.append(root)

    def _finish_compile(self) -> None:
        """Whole-stylesheet compile pass, run once after every imported/
        included sheet has loaded: every element's body, then the
        template, key and global-variable tables."""
        # ancestry is consulted by multi-step match patterns (a/b) and
        # by xsl:number; skip the per-document parent-map pass when
        # neither exists
        self._needs_parents = any(
            "/" in match and match != "/" for match, _, _, _ in self.templates
        ) or any(
            "/" in m
            for decls in self._key_decls.values()
            for m, _ in decls
        ) or any(
            _is_xsl(e, "number")
            for r in self._sheet_roots
            for e in r.iter()
            if isinstance(e.tag, str)
        )
        self._parents: dict = {}
        collide = self._strip_names & self._preserve_names
        if collide:
            # same-specificity conflict ('*' vs '*' or a direct name
            # tie); real XSLT resolves by import precedence/doc order —
            # out of subset, refuse rather than silently deviating
            raise XsltUnsupported(
                "xsl:strip-space and xsl:preserve-space both declare "
                + ", ".join(sorted(collide))
            )
        # the MAIN sheet (loaded last) anchors document('')
        self._sty_root = self._sheet_roots[-1]
        # STYLESHEET-tree parent map (static across rows): anchored
        # (/a/b) match patterns over document('') nodes must see the
        # sheet's own structure, not parentless elements
        self._sheet_parents = (
            {c: p for r in self._sheet_roots for p in r.iter() for c in p}
            if self._needs_parents
            else {}
        )
        # expression closures, memoized per expression string
        self._sel_fns: dict[str, object] = {}
        self._test_fns: dict[str, object] = {}
        # element id -> (compiled child closures, body declares bindings)
        self._cfns: dict[int, tuple] = {}
        # REVERSE preorder: children compile before their parents, so a
        # parent's closures can FUSE a scope-free child body (its
        # closure list inlined, no _run_children re-entry)
        for root in self._sheet_roots:
            for elem in reversed(list(root.iter())):
                if isinstance(elem.tag, str):
                    self._cfns[id(elem)] = self._compile_body(elem)
        self._modes = self._compile_dispatch()
        self._keys = {
            name: tuple(
                (tuple(self._compile_pattern(a)[1] for a in _split_union(m)),
                 self._compile_select(use))
                for m, use in decls
            )
            for name, decls in self._key_decls.items()
        }
        self._global_fns = tuple(
            (g.get("name", ""), self._compile_binding(g)) for g in self._globals
        )

    # -- template dispatch tables -----------------------------------------

    def _compile_pattern(self, alt: str) -> tuple:
        """One match-pattern alternative -> (node test of its last step,
        fn(element) -> bool, static score). The score is (match depth
        incl. a +1 root anchor, predicate count, specificity: name 2 >
        '*' 1 > 'node()' 0, anchored flag, default-priority-0.5 flag);
        every step's predicates count because every step matches once.
        A pattern outside the subset compiles to a matcher that raises
        when it runs, with score None."""
        if alt == "/":
            return "/", _never, (0, 0, 2, 0, 1)
        # '/a/b' anchors at the document node; a LEADING '//' adds no
        # constraint (descendant-or-self from the root = anywhere)
        anchored = alt.startswith("/") and not alt.startswith("//")
        try:
            steps = _split_path_marked(alt)
            match, n_preds = None, 0
            for i, (seg, up_any) in enumerate(steps):
                name, preds = _parse_step(seg)
                if any(map(_positional, preds)):
                    # a position among the node's siblings: not evaluated
                    raise XsltUnsupported(f"positional predicate in pattern {alt!r}")
                n_preds += len(preds)
                match = self._pattern_step(
                    name, tuple(self._compile_test(p) for p in preds),
                    match, up_any, anchored and i == 0,
                )
        except XsltUnsupported as exc:
            return "*", _fail(str(exc)), None
        spec = {"node()": 0, "text()": 0, "*": 1}.get(name, 2)
        # XSLT 1.0 §5.5: anything beyond a single plain node test has
        # default priority 0.5
        half = anchored or len(steps) > 1 or steps[0][1] or n_preds > 0
        return name, match, (
            len(steps) - 1 + anchored, n_preds, spec, int(anchored), int(half)
        )

    def _pattern_step(self, name: str, tests: tuple, prev, up_any: bool,
                      anchored: bool):
        """Matcher for a pattern's steps up to this one, with this step
        at the node: node test, predicates, then the steps before it at
        the parent ('/') or at any ancestor ('//', backtracking up the
        chain). ``anchored``: the first step of '/x/...' must be the
        document element."""
        if name == "text()":
            return _never  # an element never matches a text step
        any_name = name in ("*", "node()")

        def match(node):
            if not any_name and _local(node.tag) != name:
                return False
            for t in tests:
                if not t(node):
                    return False
            if prev is None:
                return not anchored or self._parents.get(node) is None
            p = self._parents.get(node)
            while p is not None:
                if prev(p):
                    return True
                if not up_any:
                    return False
                p = self._parents.get(p)
            return False
        return match

    def _compile_dispatch(self) -> dict:
        """Per mode (XSLT 1.0 §5.7): (element candidates by local name,
        element candidates for any other name, text-node candidates,
        document-node candidates), each ranked best first by _ranked.
        'a|b' alternatives are separate rules (§5.3). A pattern whose
        last step names an element is indexed under that name;
        '*' and 'node()' rules join every element list, and a pattern
        outside the subset ranks first everywhere so it raises on the
        first element dispatched in its mode."""
        by_mode: dict = {}
        for m, mode, telem, prec in self.templates:
            rules = by_mode.setdefault(mode, [])
            for alt in _split_union(m):
                last, match, score = self._compile_pattern(alt)
                bad = score is None
                score = score or (0, 0, 0, 0, 0)
                # one unanchored step without predicates: the index has
                # already applied its node test
                trivial = not bad and score[:2] == (0, 0)
                key = (bad, prec, *score[:3], len(rules))
                rules.append(_Rule(key, prec, telem, None if trivial else match,
                                   score, alt, last))
        modes = {}
        for mode, rules in by_mode.items():
            rules.sort(key=lambda r: r.key, reverse=True)
            elem = [r for r in rules if r.last not in ("/", "text()")]
            wild = ("*", "node()")
            modes[mode] = (
                {r.last: _ranked([x for x in elem if x.last in (r.last, *wild)])
                 for r in elem if r.last not in wild},
                _ranked([r for r in elem if r.last in wild]),
                _ranked([r for r in rules if r.alt in ("text()", "node()")]),
                _ranked([r for r in rules if r.alt == "/"]),
            )
        return modes

    # -- instruction compilation -------------------------------------------

    def _compile_body(self, container: ET.Element) -> tuple:
        """A container's children -> (fn(ctx) -> str closures in order,
        whether the body declares variables or params). Static
        text/tails are escaped here; children consumed by their parent
        (sort / with-param / attribute / comments) compile to nothing;
        a stray attr-copy keeps its RENDER-time failure."""
        fns: list = []
        t = container.text
        if t and t.strip():
            fns.append(lambda ctx, _s=escape(t): _s)
        ckind = _kind_of(container)
        for child in container:
            kind = _kind_of(child)
            if kind == "text":
                txt = escape(child.text or "")
                if txt:
                    fns.append(lambda ctx, _s=txt: _s)
            elif kind == "#attr-copy":
                if ckind not in (None, "element", "copy"):
                    fns.append(_fail(
                        'copy-of select="@*" outside an element constructor'
                    ))
            elif kind not in ("sort", "with-param", "attribute", "#comment"):
                fns.append(self._compile_instr(child, kind))
            tl = child.tail
            if tl and tl.strip():
                fns.append(lambda ctx, _s=escape(tl): _s)
        binds = any(_is_xsl(c, "variable") or _is_xsl(c, "param") for c in container)
        return tuple(fns), binds

    def _body(self, e: ET.Element):
        """Runner for a nested instruction body: a body that declares no
        bindings (the common case) inlines its compiled closures — no
        _run_children re-entry, no scope push. Requires children-first
        compilation order."""
        fns, binds = self._cfns[id(e)]
        if binds:
            return lambda ctx: self._run_children(e, ctx)
        if not fns:
            return lambda ctx: ""
        if len(fns) == 1:
            return fns[0]
        return lambda ctx: "".join([f(ctx) for f in fns])

    def _compile_instr(self, elem: ET.Element, kind: str | None):
        """One instruction or literal result element -> fn(ctx) -> str,
        its static payload pre-bound and its selects/tests pre-compiled.
        Binding instructions (variable/param) fill the current scope
        and return ''."""
        if kind is None:  # literal result element
            attrs = self._compile_attrs(elem, None)
            tag = _local(elem.tag)
            if isinstance(attrs, str):
                def f_lit(ctx, _t=tag, _a=attrs, _b=self._body(elem)):
                    inner = _b(ctx)
                    return (f"<{_t}{_a}>{inner}</{_t}>" if inner
                            else f"<{_t}{_a}/>")
                return f_lit
            return self._constructor(elem, tag, attrs)
        if kind in ("value-of", "for-each", "copy-of"):
            selfn = self._compile_select(elem.get("select", "."))
        if kind == "value-of":
            def f_valueof(ctx, _s=selfn):
                items = _s(ctx)
                return escape(_string(items[0])) if items else ""
            return f_valueof
        if kind == "if":
            def f_if(ctx, _t=self._compile_test(elem.get("test", "")),
                     _b=self._body(elem)):
                return _b(ctx) if _t(ctx) else ""
            return f_if
        if kind == "choose":
            whens = tuple(
                (self._compile_test(b.get("test", "")), self._body(b))
                for b in elem
                if _is_xsl(b, "when")
            )
            otherw = next(
                (self._body(b) for b in elem if _is_xsl(b, "otherwise")), None
            )

            def f_choose(ctx, _w=whens, _o=otherw):
                for t, br in _w:
                    if t(ctx):
                        return br(ctx)
                return _o(ctx) if _o is not None else ""
            return f_choose
        if kind == "apply-templates":
            sel = elem.get("select")
            selfn = self._compile_select(sel) if sel is not None else None
            wps = self._compile_params(elem)

            def f_applyt(ctx, _s=selfn, _m=elem.get("mode"),
                         _sort=self._compile_sort(elem)):
                if _s is not None:
                    nodes = _s(ctx)
                elif isinstance(ctx, ET.Element):
                    nodes = _children(ctx)
                elif isinstance(ctx, _Doc):
                    nodes = [ctx.root]
                else:
                    nodes = []
                if _sort is not None:
                    nodes = _sort(nodes)
                tparams = {n: f(ctx) for n, f in wps} if wps else None
                return self._iterate(
                    nodes, lambda n: self._apply_one(n, tparams, _m)
                )
            return f_applyt
        if kind == "for-each":
            def f_foreach(ctx, _s=selfn, _b=self._body(elem),
                          _sort=self._compile_sort(elem)):
                nodes = _s(ctx)
                if _sort is not None:
                    nodes = _sort(nodes)
                return self._iterate(nodes, _b)
            return f_foreach
        if kind == "call-template":
            tname = elem.get("name", "")
            telem = self.named.get(tname)
            if telem is None:
                return _fail(f"call to undeclared template {tname!r}")

            def f_callt(ctx, _t=telem, _w=self._compile_params(elem)):
                params = {n: f(ctx) for n, f in _w} or None
                self._enter_template()
                try:
                    return self._run_children(_t, ctx, params=params)
                finally:
                    self._tdepth -= 1
            return f_callt
        if kind in ("variable", "param"):
            # a param keeps a value already bound by with-param
            def f_bind(ctx, _b=self._compile_binding(elem),
                       _n=elem.get("name", ""), _v=kind == "variable"):
                scope = self._scopes[-1]
                if _v or _n not in scope:
                    scope[_n] = _b(ctx)
                return ""
            return f_bind
        if kind == "copy-of":
            def f_copyof(ctx, _s=selfn):
                return "".join(self._serialize(it) for it in _s(ctx))
            return f_copyof
        if kind == "apply-imports":
            def f_applyimports(ctx):
                if not self._tframes:
                    raise XsltUnsupported(
                        "xsl:apply-imports outside a matched template"
                    )
                cur_prec, cur_mode, _ = self._tframes[-1]
                return self._apply_one(ctx, mode=cur_mode, max_prec=cur_prec)
            return f_applyimports
        if kind == "number":
            return self._compile_number(elem)
        if kind == "element":
            return self._constructor(elem, self._compile_avt(elem.get("name", "")),
                                     self._compile_attrs(elem, kind))
        if kind == "copy":
            # shallow copy of the context node (XSLT 1.0 §7.5): elements
            # copy the tag but NOT attributes (xsl:attribute children of
            # the body add them); text copies through; the document node
            # just runs the body
            def f_copy(ctx, _b=self._body(elem), _el=self._constructor(
                    elem, lambda c: _local(c.tag), self._compile_attrs(elem, kind))):
                if isinstance(ctx, str):
                    return escape(ctx)
                if isinstance(ctx, (_Doc, _RTF)):
                    return _b(ctx)
                return _el(ctx)
            return f_copy
        return _fail(f"xsl:{kind}")

    def _constructor(self, elem: ET.Element, tag, attrs):
        """Element constructor -> fn(ctx) -> markup. ``tag``: the name
        or fn(ctx) -> name; ``attrs``: a static attribute string or
        fn(ctx) -> string, evaluated before the body."""
        body = self._body(elem)

        def f_element(ctx):
            t = tag if isinstance(tag, str) else tag(ctx)
            a = attrs if isinstance(attrs, str) else attrs(ctx)
            inner = body(ctx)
            return f"<{t}{a}>{inner}</{t}>" if inner else f"<{t}{a}/>"
        return f_element

    def _compile_attrs(self, elem: ET.Element, kind: str | None):
        """The attributes an element constructor writes -> a static
        string when none depends on the context, else fn(ctx) -> string.
        Later additions replace earlier ones (XSLT 1.0 §7.1.3/§7.1.4):
        use-attribute-sets (the attribute on xsl:element/xsl:copy,
        xsl:use-attribute-sets on a literal result element), then
        literal attributes, then a direct copy-of select="@*" child's
        copies of the context node's attributes, then xsl:attribute
        children (AVT name, body string-value)."""
        xsl_attr = "{" + XSL_NS + "}"
        use_sets = elem.get("use-attribute-sets" if kind else
                            xsl_attr + "use-attribute-sets")
        has_copy = any(_kind_of(c) == "#attr-copy" for c in elem)
        dyn = tuple((self._compile_avt(a.get("name", "")), a)
                    for a in elem if _is_xsl(a, "attribute"))
        pairs = ()
        if kind is None:
            for k in elem.attrib:
                # namespace serialization is not implemented: refuse
                # rather than emit a malformed '{uri}name' attribute
                if k.startswith("{") and not k.startswith(xsl_attr):
                    raise XsltUnsupported(
                        f"namespaced literal result attribute {k!r}"
                        " — namespace serialization is out of subset"
                    )
            pairs = tuple((k, v) for k, v in elem.attrib.items()
                          if not k.startswith(xsl_attr))
        static = [(k, _avt_literal(v)) for k, v in pairs]
        if not (use_sets or has_copy or dyn) and all(v is not None for _, v in static):
            return "".join(f" {k}={quoteattr(v)}" for k, v in static)
        avts = tuple((k, self._compile_avt(v)) for k, v in pairs)

        def attrs(ctx):
            merged = self._attrset_attrs(use_sets, ctx) if use_sets else {}
            for k, f in avts:
                merged[k] = f(ctx)
            if has_copy and isinstance(ctx, ET.Element):
                for k, v in ctx.attrib.items():
                    merged[_local(k)] = v
            for name, a in dyn:
                merged[name(ctx)] = _RTF(self._run_children(a, ctx)).text()
            return "".join(f" {k}={quoteattr(v)}" for k, v in merged.items())
        return attrs

    def _compile_params(self, elem: ET.Element) -> tuple:
        """xsl:with-param children -> ((name, fn(ctx) -> value), ...)."""
        return tuple((wp.get("name", ""), self._compile_binding(wp))
                     for wp in elem if _is_xsl(wp, "with-param"))

    def _compile_sort(self, elem: ET.Element):
        """An instruction's xsl:sort keys -> fn(nodes) -> sorted list
        (stable multi-key: last key first; unparseable number keys sort
        first ascending), or None when it has none."""
        keys = []
        for s in reversed([c for c in elem if _is_xsl(c, "sort")]):
            def key(n, _s=self._compile_select(s.get("select", ".")),
                    _num=s.get("data-type", "text") == "number"):
                items = _s(n)
                v = _string(items[0]) if items else ""
                if _num:
                    try:
                        return float(v)
                    except ValueError:
                        return float("-inf")
                return v
            keys.append((key, s.get("order", "ascending") == "descending"))
        if not keys:
            return None

        def sort(nodes):
            for key, rev in keys:
                nodes = sorted(nodes, key=key, reverse=rev)
            return nodes
        return sort

    def _compile_binding(self, elem: ET.Element):
        """xsl:variable/param/with-param -> fn(ctx) -> value: the
        select's string value (literals keep their lexical form), or
        the body as a result-tree fragment."""
        sel = elem.get("select")
        if sel is not None:
            return self._compile_string(sel)
        return lambda ctx: _RTF(self._run_children(elem, ctx))

    def _compile_number(self, elem: ET.Element):
        """xsl:number subset (XSLT 1.0 §7.7): explicit ``value``, or
        level='single' (nearest ancestor-or-self matching ``count``,
        numbered among its preceding siblings), level='any' (matching
        nodes at-or-before the context in document order) and
        level='multiple' (hierarchical ancestor-or-self numbering with
        per-position format tokens). ``count`` defaults to the context
        node's name; ``from`` fails when run."""
        fmt = self._compile_avt(elem.get("format", "1"))
        if elem.get("value") is not None:
            def f_value(ctx, _v=self._compile_string(elem.get("value"))):
                f = fmt(ctx)
                try:
                    v = float(_v(ctx))
                except ValueError:
                    return "NaN"
                if math.isnan(v) or math.isinf(v):
                    return "NaN" if math.isnan(v) else (
                        "-Infinity" if v < 0 else "Infinity"
                    )
                return _format_xsl_number(int(math.floor(v + 0.5)), f)
            return f_value
        if elem.get("from") is not None:
            return _fail("xsl:number from= is out of subset")
        level = elem.get("level", "single")
        if level not in ("single", "any", "multiple"):
            return _fail(f"xsl:number level={level!r}")
        count = elem.get("count")
        alts = (tuple(self._compile_pattern(a)[1] for a in _split_union(count))
                if count else None)

        def f_number(ctx):
            f = fmt(ctx)
            if not isinstance(ctx, ET.Element):
                raise XsltUnsupported("xsl:number on a non-element context")
            name = _local(ctx.tag)

            def matches(n) -> bool:
                if not isinstance(n, ET.Element):
                    return False
                return any(m(n) for m in alts) if alts else _local(n.tag) == name

            def sibling_pos(target) -> int:
                parent = self._parents.get(target)
                n = 1
                if parent is not None:
                    for sib in parent:
                        if sib is target:
                            break
                        if matches(sib):
                            n += 1
                return n

            if level == "multiple":
                chain = []
                t = ctx
                while t is not None:
                    if matches(t):
                        chain.append(t)
                    t = self._parents.get(t)
                if not chain:
                    return ""
                return _format_xsl_number([sibling_pos(t) for t in reversed(chain)], f)
            if level == "any":
                n = 0
                for e in self._containing_root(ctx).iter():
                    if matches(e):
                        n += 1
                    if e is ctx:
                        break
                return _format_xsl_number(n, f) if n else ""
            target = ctx
            while target is not None and not matches(target):
                target = self._parents.get(target)
            if target is None:
                return ""
            return _format_xsl_number(sibling_pos(target), f)
        return f_number

    # -- XPath compilation --------------------------------------------------
    #
    # Selects, tests and attribute value templates are stylesheet-static
    # while apply() runs per row: each expression parses once into
    # closures (memoized per expression string), so the per-row cost is
    # the closure bodies alone. An expression outside the subset compiles
    # to a closure that raises when it runs.

    def _compiled(self, memo: dict, expr: str, compile_fn):
        fn = memo.get(expr)
        if fn is None:
            try:
                fn = compile_fn(expr)
            except XsltUnsupported as exc:
                fn = _fail(str(exc))
            memo[expr] = fn
        return fn

    def _compile_select(self, expr: str):
        """select expression -> fn(ctx) -> list of items (elements,
        _Doc, strings, booleans, _RTF)."""
        return self._compiled(self._sel_fns, expr, self._select_expr)

    def _compile_test(self, expr: str):
        """test expression -> fn(ctx) -> bool."""
        return self._compiled(self._test_fns, expr, self._test_expr)

    def _select_expr(self, expr: str):
        p = expr.strip()
        if p == ".":
            return lambda ctx: [ctx]
        if _literal(p) is not None:
            return lambda ctx, _v=self._compile_string(p): [_v(ctx)]
        if p.startswith("$"):
            if "/" in p or "[" in p:
                raise XsltUnsupported(f"path into variable {p!r}")
            return lambda ctx, _n=p[1:]: [self._lookup_var(_n)]
        head, rest = None, p
        m = _CALL.match(p)
        if m and m.group() not in ("text(", "node("):
            # a function call, or a key()/document() node-set head
            # followed by location steps
            end = _close_paren(p, m.end() - 1)
            fname, rest = p[: m.end() - 1], p[end + 1 :]
            head = self._compile_call(fname, p[m.end() : end])
            if not rest:
                return head
            if fname not in ("key", "document") or not rest.startswith("/"):
                raise XsltUnsupported(f"syntax after {fname}() in {p!r}")
        elif p.startswith("/"):
            def head(ctx):
                return [_Doc(self._root)]
        steps = [self._compile_step(seg, desc)
                 for seg, desc in _split_path_marked(rest)]
        if head is None:
            if not steps:
                return lambda ctx: [ctx]
            head = steps.pop(0)
        if not steps:
            return head

        def fn(ctx, _h=head, _s=tuple(steps)):
            cur = _h(ctx)
            for step in _s:
                nxt: list = []
                for node in cur:
                    nxt += step(node)
                cur = nxt
            return cur
        return fn

    def _compile_step(self, seg: str, desc: bool):
        """One location step -> fn(node) -> list: the node test on the
        child axis (descendant after '//'), then each predicate in
        order, positions renumbering after each (XPath 1.0)."""
        name, preds = _parse_step(seg)
        if not _NODE_TEST.fullmatch(name):
            raise XsltUnsupported(f"location step {seg!r}")
        axis = _descendant_axis(name) if desc else _child_axis(name)
        filters = []
        for p in preds:
            ps = p.strip()
            positional = _positional(ps)
            if desc and positional:
                # XPath numbers descendant-step candidates per PARENT,
                # not globally — refusing beats a silently wrong index
                return functools.partial(
                    _refuse_nodes, f"positional predicate on descendant step [{p}]")
            if ps.isdigit():
                filters.append(lambda c, _k=int(ps): [c[_k - 1]] if 0 < _k <= len(c) else [])
            elif ps == "last()":
                filters.append(lambda c: c[-1:])
            elif positional:
                filters.append(functools.partial(
                    self._filter_positional, self._compile_test(ps)))
            else:
                filters.append(lambda c, _t=self._compile_test(ps): [x for x in c if _t(x)])
        if not filters:
            return axis

        def step(node, _f=tuple(filters)):
            out = axis(node)
            for f in _f:
                out = f(out)
            return out
        return step

    def _filter_positional(self, test, cand: list) -> list:
        """Keep the candidates passing a test that reads position() /
        last(), each seeing its place in the current candidate list."""
        size = len(cand)
        kept = []
        for i, c in enumerate(cand, 1):
            self._ctx_pos.append((i, size))
            try:
                if test(c):
                    kept.append(c)
            finally:
                self._ctx_pos.pop()
        return kept

    def _compile_call(self, fname: str, inner: str):
        """XPath function call -> fn(ctx) -> list, its arguments
        compiled once."""
        args = _split_args(inner)
        if fname in ("position", "last") and not args:
            i = fname == "last"

            def fn(ctx):
                if not self._ctx_pos:
                    raise XsltUnsupported(f"{fname}() outside an iteration context")
                return [str(self._ctx_pos[-1][i])]
            return fn
        if fname in ("true", "false") and not args:
            return lambda ctx, _v=fname == "true": [_v]
        if fname == "not":
            return lambda ctx, _t=self._compile_test(inner): [not _t(ctx)]
        if fname == "boolean":
            return lambda ctx, _t=self._compile_test(inner): [_t(ctx)]
        if fname == "count":
            return lambda ctx, _s=self._compile_select(inner): [str(len(_s(ctx)))]
        if fname == "key":
            return self._compile_key(args)
        if fname == "document":
            return self._compile_document(args)
        if fname == "format-number":
            return self._compile_format_number(args)
        if fname == "generate-id":
            if not args:
                return lambda ctx: [self._generate_id(ctx)]

            def gen_id(ctx, _s=self._compile_select(inner)):
                items = _s(ctx)
                return [self._generate_id(items[0])] if items else [""]
            return gen_id
        if fname in _ONE_STRING_FNS:
            arg = self._compile_string(inner) if args else _string
            return lambda ctx, _f=_ONE_STRING_FNS[fname]: [_f(arg(ctx))]
        if fname not in _STRING_FNS:
            raise XsltUnsupported(f"XPath function {fname}()")
        arity, op = _STRING_FNS[fname]
        if arity is not None and len(args) not in arity:
            raise XsltUnsupported(
                f"{fname}() takes {' or '.join(map(str, arity))} arguments, "
                f"got {len(args)}"
            )
        fns = tuple(self._compile_string(a) for a in args)
        return lambda ctx: [op(*[f(ctx) for f in fns])]

    def _compile_string(self, tok: str):
        """An expression in string context (function argument, AVT
        expression, variable select) -> fn(ctx) -> str: a quoted or
        numeric literal (numbers keep their lexical form), else the
        string-value of the first selected item."""
        tok = tok.strip()
        lit = _literal(tok)
        if lit is not None:
            v = lit if isinstance(lit, str) else tok
            return lambda ctx: v

        def fn(ctx, _s=self._compile_select(tok)):
            items = _s(ctx)
            return _string(items[0]) if items else ""
        return fn

    def _compile_avt(self, value: str):
        """Attribute value template -> fn(ctx) -> str."""
        fns = tuple(
            self._compile_string(p) if kind == "expr" else (lambda ctx, _s=p: _s)
            for kind, p in _avt_segments(value)
        )
        if len(fns) == 1:
            return fns[0]
        return lambda ctx: "".join([f(ctx) for f in fns])

    def _compile_key(self, args: tuple):
        """key(name, value) -> fn(ctx) -> the nodes the named xsl:key
        files under the value's string(s), in document order. The
        per-call work is the index lookup; the document-order sort only
        runs when a lookup returns multiple nodes."""
        if len(args) != 2:
            raise XsltUnsupported(f"key() takes 2 arguments, got {len(args)}")
        kname = _literal(args[0])
        if not isinstance(kname, str):
            raise XsltUnsupported("key() name must be a string literal")
        lit = _literal(args[1])
        if lit is not None:
            if not isinstance(lit, str):  # XPath number->string form
                lit = str(int(lit)) if lit.is_integer() else str(lit)

            def values(ctx, _v=(lit,)):
                return _v
        else:
            def values(ctx, _s=self._compile_select(args[1])):
                return [_string(it) for it in _s(ctx)]

        def fn(ctx):
            doc_root = self._containing_root(ctx)
            ikey = (id(doc_root), kname)
            index = self._key_index.get(ikey)
            if index is None:
                index = self._key_index[ikey] = self._build_key(kname, doc_root)
            hits: list = []
            seen: set[int] = set()
            for v in values(ctx):
                for node in index.get(v, ()):
                    if id(node) not in seen:
                        seen.add(id(node))
                        hits.append(node)
            if len(hits) > 1:
                # union in document order, as XPath node-sets require
                order = self._doc_orders[id(doc_root)]
                hits.sort(key=lambda n: order[id(n)])
            return hits
        return fn

    def _compile_document(self, args: tuple):
        """document(uri[, node-set]): the external XML document at
        ``uri``; document('') is the stylesheet itself (XSLT 1.0 §12.1
        — the embedded-lookup-table idiom). A relative uri resolves
        against base_dir, or — 2-arg form — against the base of the
        document containing the node-set's first node (so a document
        loaded from a subdirectory can chain relative references).
        Only string-literal URIs are in the subset."""
        if len(args) not in (1, 2):
            raise XsltUnsupported("document() takes (uri[, node-set])")
        uri = _literal(args[0])
        if not isinstance(uri, str):
            raise XsltUnsupported("document() URI must be a string literal")
        if uri == "":
            return lambda ctx: [_Doc(self._sty_root)]
        if len(args) == 1:
            return lambda ctx: [self._load_document(uri, self.base_dir)]

        def fn(ctx, _s=self._compile_select(args[1])):
            items = _s(ctx)
            if not items:
                raise XsltUnsupported(
                    "document() second argument selected no nodes"
                )
            root = self._containing_root(items[0])
            # the source and stylesheet documents resolve against
            # base_dir; only document()-loaded trees own a _doc_base
            # entry (their roots live in _ext_docs for the compiled
            # sheet's lifetime, so the id keys stay valid)
            if root is self._root or root is self._sty_root:
                base = self.base_dir
            else:
                base = self._doc_base.get(id(root))
            return [self._load_document(uri, base)]
        return fn

    def _compile_format_number(self, args: tuple):
        """format-number(value, pattern[, format-name]); the unnamed
        xsl:decimal-format overrides the default symbols."""
        if len(args) not in (2, 3):
            raise XsltUnsupported(
                "format-number() takes (value, pattern[, format-name])"
            )
        sym = self._decimal_formats.get("", _DEFAULT_DF)
        if len(args) == 3:
            dfname = _literal(args[2])
            if not isinstance(dfname, str):
                raise XsltUnsupported(
                    "format-number() format-name must be a string literal"
                )
            sym = self._decimal_formats.get(dfname)
            if sym is None:
                raise XsltUnsupported(
                    f"format-number() names undeclared "
                    f"xsl:decimal-format {dfname!r}"
                )

        def fn(ctx, _v=self._compile_string(args[0]),
               _p=self._compile_string(args[1])):
            try:
                v = float(_v(ctx))
            except ValueError:
                return [sym["nan"]]
            # NaN -> the NaN symbol, infinities -> the infinity symbol
            # (minus-prefixed when negative), before Decimal sees them
            if math.isnan(v):
                return [sym["nan"]]
            if math.isinf(v):
                inf = sym["infinity"]
                return [sym["minus"] + inf if v < 0 else inf]
            return [_format_number(v, _p(ctx), sym)]
        return fn

    def _test_expr(self, expr: str):
        """XPath precedence: or lowest, then and, then grouping, then
        comparison; anything else (not(...) included) is a select whose
        result is true when it holds a true boolean or any item."""
        e = expr.strip()
        if not e:
            return lambda ctx: False
        for word, combine in ((" or ", any), (" and ", all)):
            parts = _split_top(e, word)
            if len(parts) > 1:
                subs = tuple(self._compile_test(p) for p in parts)
                return lambda ctx: combine(f(ctx) for f in subs)
        if e.startswith("(") and _close_paren(e, 0) == len(e) - 1:
            return self._compile_test(e[1:-1])
        lit = _literal(e)
        if lit is not None:  # a non-empty string, a non-zero number
            return lambda ctx, _v=bool(lit) and lit == lit: _v
        cmp = _split_comparison(e)
        if cmp is not None:
            return self._compile_comparison(e, cmp)

        def exists(ctx, _s=self._compile_select(e)):
            items = _s(ctx)
            if len(items) == 1 and isinstance(items[0], bool):
                return items[0]
            return bool(items)
        return exists

    def _compile_comparison(self, expr: str, payload):
        """Comparison test. The static decisions (is the rhs a literal?
        a $var? a path?) are made once here; a literal-first spelling
        swaps operands, and node-set vs node-set compares the two
        string-value sets (XPath 1.0 §3.4)."""
        lhs, op, rhs = payload

        def run_compare(values, rhs_lit, cmp):
            if isinstance(rhs_lit, float):
                nums = []
                for v in values:
                    try:
                        nums.append(float(v))
                    except ValueError:
                        pass
                values = nums
            elif cmp not in (operator.eq, operator.ne):
                raise XsltUnsupported(
                    f"ordered comparison with string literal {expr!r}"
                )
            return any(cmp(v, rhs_lit) for v in values)

        def side(tok):
            """('lit', value) | ('var', name) | ('path', expr)."""
            if tok.startswith("$"):
                return ("var", tok[1:])
            lit = _literal(tok)
            if lit is not None:
                return ("lit", lit)
            return ("path", tok)

        rkind, rval = side(rhs)
        if rkind == "path":
            # literal-first spelling ('3 < n'): swap operands AND
            # mirror the ordered operator — '3 < n' means 'n > 3'
            lhs, rhs = rhs, lhs
            op = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}.get(op, op)
            rkind, rval = side(rhs)
            if rkind == "path":
                # node-set vs node-set (XPath 1.0 §3.4): '=' is true
                # iff ANY (a, b) pair matches; '!=' iff any pair
                # differs. Ordered node-set comparisons stay out of
                # the subset.
                if op not in ("=", "!="):
                    raise XsltUnsupported(
                        f"ordered path-to-path comparison {expr!r}"
                    )

                def fn(ctx, _l=self._compile_select(lhs),
                       _r=self._compile_select(rhs), _op=op):
                    lvals = {_string(v) for v in _l(ctx)}
                    rvals = {_string(v) for v in _r(ctx)}
                    if _op == "=":
                        return bool(lvals & rvals)
                    return bool(lvals and rvals and len(lvals | rvals) > 1)
                return fn
        lsel = self._compile_select(lhs)
        cmp = _CMP[op]
        if rkind == "lit":
            def fn(ctx, _l=lsel, _rl=rval):
                return run_compare([_string(v) for v in _l(ctx)], _rl, cmp)
            return fn

        # $var operand: compares as a numeric literal when its string
        # value parses as a number, else as a string — resolved per
        # evaluation (the binding is scope-dependent)
        def fn(ctx, _l=lsel, _n=rval):
            v = _string(self._lookup_var(_n))
            num = _literal(v.strip())
            rhs_lit = v if num is None else num
            return run_compare([_string(x) for x in _l(ctx)], rhs_lit, cmp)
        return fn

    # -- whitespace stripping (xsl:strip-space / xsl:preserve-space) -------

    def _strips_name(self, name: str) -> bool:
        """Does xsl:strip-space apply to elements named ``name``? An
        explicit name beats '*' on either side; a direct name tie (and
        '*' vs '*') is refused at compile time, so the two name sets
        are disjoint here."""
        if name in self._preserve_names:
            return False
        if name in self._strip_names:
            return True
        return "*" in self._strip_names and "*" not in self._preserve_names

    def _apply_strip_space(self, root: ET.Element) -> None:
        """Drop whitespace-only text children of matched elements
        (XSLT 1.0 §3.4), honoring xml:space='preserve' inheritance.
        Runs once per parsed document, BEFORE the parent map is built,
        so match patterns / keys / xsl:number see the stripped tree."""
        if not self._strip_names:
            return
        xml_space = "{http://www.w3.org/XML/1998/namespace}space"
        stack: list[tuple[ET.Element, bool]] = [(root, False)]
        while stack:
            elem, preserve = stack.pop()
            xs = elem.get(xml_space)
            if xs == "preserve":
                preserve = True
            elif xs == "default":
                preserve = False
            if (
                not preserve
                and isinstance(elem.tag, str)
                and self._strips_name(_local(elem.tag))
            ):
                if elem.text is not None and not elem.text.strip():
                    elem.text = None
                for c in elem:
                    if c.tail is not None and not c.tail.strip():
                        c.tail = None
            for c in elem:
                if isinstance(c.tag, str):
                    stack.append((c, preserve))

    # -- public -----------------------------------------------------------

    def apply(self, xml: str) -> str:
        src_root = ET.fromstring(xml)
        self._apply_strip_space(src_root)
        if self._needs_parents:
            self._parents = {c: p for p in src_root.iter() for c in p}
            self._parents.update(self._ext_parents)
            self._parents.update(self._sheet_parents)
        self._tdepth = 0
        # (import precedence, mode, node) of the currently-executing
        # matched template — consumed by xsl:apply-imports
        self._tframes: list[tuple[int, str | None, object]] = []
        self._root = src_root
        # keyed by (id(doc_root), key name): §12.2 scopes key() to the
        # context node's document, so each document gets its own index
        self._key_index: dict[tuple[int, str], dict[str, list]] = {}
        self._doc_orders: dict[int, dict[int, int]] = {}
        self._doc_members: dict[int, set[int]] = {}
        self._doc_seqs: dict[int, int] = {}  # generate-id doc numbering
        doc = _Doc(src_root)
        self._scopes = [{}]
        self._ctx_pos: list[tuple[int, int]] = []
        for name, fn in self._global_fns:
            self._scopes[0][name] = fn(doc)
        return self._apply_one(doc)

    # -- template dispatch ------------------------------------------------

    # Guard counts TEMPLATE-BODY invocations only (matched templates and
    # call-template), not built-in-rule descent — built-in recursion
    # strictly consumes document children and terminates on its own, so
    # deep documents do not trip the guard; a divergent stylesheet must
    # pass through a template body each cycle and still fails fast.
    _MAX_TDEPTH = 256

    def _apply_to(self, nodes, mode: str | None = None) -> str:
        return "".join([self._apply_one(n, mode=mode) for n in nodes])

    def _enter_template(self):
        self._tdepth += 1
        if self._tdepth > self._MAX_TDEPTH:
            raise XsltUnsupported(
                f"template recursion deeper than {self._MAX_TDEPTH}"
            )

    def _apply_one(self, node, params: dict | None = None,
                   mode: str | None = None, max_prec: int | None = None) -> str:
        """Run the best template for ``node`` in ``mode``: the first
        candidate of its dispatch list that matches (a plain-name mode
        costs one dict lookup), else the built-in rule, which carries
        the mode down (XSLT 1.0 §5.8). ``max_prec`` (exclusive)
        restricts candidates to LOWER import precedence — the
        xsl:apply-imports dispatch (§5.6)."""
        table = self._modes.get(mode)
        if table is not None:
            if isinstance(node, ET.Element):
                cands = table[0].get(_local(node.tag), table[1])
            elif isinstance(node, str):
                cands = table[2]
            else:
                cands = table[3] if isinstance(node, _Doc) else ()
            for prec, telem, match, rivals in cands:
                if max_prec is not None and prec >= max_prec:
                    continue
                if match is None or match(node):
                    for rival, msg in rivals:
                        if rival is None or rival(node):
                            raise XsltUnsupported(msg)
                    self._enter_template()
                    self._tframes.append((prec, mode, node))
                    try:
                        return self._run_children(telem, node, params=params)
                    finally:
                        self._tframes.pop()
                        self._tdepth -= 1
        if isinstance(node, str):
            return escape(node)
        if isinstance(node, _Doc):
            return self._apply_to([node.root], mode)
        return self._apply_to(_children(node), mode)

    # -- execution helpers -------------------------------------------------

    def _lookup_var(self, name: str):
        for scope in reversed(self._scopes):
            if name in scope:
                return scope[name]
        raise XsltUnsupported(f"reference to undeclared variable ${name}")

    def _run_children(self, container: ET.Element, ctx,
                      params: dict | None = None) -> str:
        fns, binds = self._cfns[id(container)]
        # scope push only when this body can bind anything — the common
        # body (pure output instructions) skips the stack churn
        scoped = params is not None or binds
        if scoped:
            self._scopes.append(dict(params) if params else {})
        try:
            if len(fns) == 1:
                return fns[0](ctx)
            return "".join([f(ctx) for f in fns])
        finally:
            if scoped:
                self._scopes.pop()

    def _serialize(self, item) -> str:
        """copy-of rendering: elements as markup, text/attrs escaped."""
        if isinstance(item, (str, bool)):
            return escape(_string(item))
        if isinstance(item, _RTF):
            return item.markup
        if isinstance(item, _Doc):
            return self._serialize(item.root)
        attrs = "".join(
            f" {_local(k)}={quoteattr(v)}" for k, v in item.attrib.items()
        )
        inner = (escape(item.text) if item.text else "") + "".join(
            self._serialize(c) + (escape(c.tail) if c.tail else "")
            for c in item
        )
        tag = _local(item.tag)
        return f"<{tag}{attrs}>{inner}</{tag}>" if inner else f"<{tag}{attrs}/>"

    def _iterate(self, nodes: list, render) -> str:
        """Run ``render`` per node with (position, last) context pushed,
        so position()/last() see the iteration per XSLT 1.0."""
        if not self._needs_pos:
            return "".join([render(n) for n in nodes])
        size = len(nodes)
        parts: list[str] = []
        for i, n in enumerate(nodes, 1):
            self._ctx_pos.append((i, size))
            try:
                parts.append(render(n))
            finally:
                self._ctx_pos.pop()
        return "".join(parts)

    def _attrset_attrs(self, names: str, ctx,
                       seen: frozenset = frozenset()) -> dict[str, str]:
        """Evaluate the named xsl:attribute-sets (whitespace-separated
        use-attribute-sets value) against ``ctx``. Same-named
        declarations merge in load order (imported sheets load first,
        so later-wins implements import precedence, as for named
        templates); a set's own use-attribute-sets contributes FIRST
        (§7.1.4 — its attributes are overridden by the set's own)."""
        out: dict[str, str] = {}
        for name in names.split():
            if name in seen:
                raise XsltUnsupported(
                    f"xsl:attribute-set cycle through {name!r}"
                )
            decls = self._attr_sets.get(name)
            if decls is None:
                raise XsltUnsupported(
                    f"use of undeclared xsl:attribute-set {name!r}"
                )
            for d in decls:
                nested = d.get("use-attribute-sets")
                if nested:
                    out.update(
                        self._attrset_attrs(nested, ctx, seen | {name})
                    )
                for a in d:
                    out[self._compile_avt(a.get("name", ""))(ctx)] = _RTF(
                        self._run_children(a, ctx)
                    ).text()
        return out

    # -- documents and keys --------------------------------------------------

    def _containing_root(self, ctx) -> "ET.Element":
        """The root of the document containing ``ctx`` — XSLT 1.0 §12.2
        scopes key() to the context node's document, so a key() call
        while iterating a document()-loaded tree must index THAT tree,
        not the source. Membership sets are built lazily per known
        root; non-node contexts fall back to the source document."""
        if isinstance(ctx, _Doc):
            return ctx.root
        if not isinstance(ctx, ET.Element):
            return self._root
        cid = id(ctx)
        roots = [self._root, self._sty_root] + [
            d.root for d in self._ext_docs.values()
        ]
        for root in roots:
            members = self._doc_members.get(id(root))
            if members is None:
                members = {id(e) for e in root.iter()}
                self._doc_members[id(root)] = members
            if cid in members:
                return root
        raise XsltUnsupported("key(): context node not in a known document")

    def _build_key(self, name: str, root: "ET.Element") -> dict[str, list]:
        """Lazily index ONE document for one xsl:key: walk every
        element once, test it against each declaration's compiled match
        pattern ('a|b' alternatives included), and file it under the
        string-value(s) of the use expression (one entry per node when
        use selects a node-set; EVERY matching declaration files the
        node, per XSLT 1.0 §12.2). Built once per (document, key) —
        O(doc); every key() call afterwards is a dict lookup."""
        decls = self._keys.get(name)
        if decls is None:
            raise XsltUnsupported(f"key() with undeclared key {name!r}")
        index: dict[str, list] = {}
        self._doc_order(root)
        for elem in root.iter():
            for matchers, use in decls:
                if not any(m(elem) for m in matchers):
                    continue
                for item in use(elem):
                    vals = index.setdefault(_string(item), [])
                    if not vals or vals[-1] is not elem:
                        vals.append(elem)
        return index

    def _load_document(self, uri: str, base: str | None) -> _Doc:
        """The document at ``uri`` relative to ``base``: parsed once per
        resolved path, cached, whitespace-stripped like the source."""
        if base is None:
            raise XsltUnsupported(
                f"document({uri!r}): no base_dir to resolve against"
            )
        full = os.path.normpath(os.path.join(base, uri))
        if full in self._ext_docs:
            return self._ext_docs[full]
        root = ET.parse(full).getroot()
        self._apply_strip_space(root)
        doc = _Doc(root)
        self._ext_docs[full] = doc
        self._doc_base[id(root)] = os.path.dirname(full)
        if self._needs_parents:
            ext = {c: p for p in root.iter() for c in p}
            self._ext_parents.update(ext)
            self._parents.update(ext)
        return doc

    def _doc_order(self, root: ET.Element) -> dict[int, int]:
        """Element id -> document-order index, built once per document."""
        order = self._doc_orders.get(id(root))
        if order is None:
            order = self._doc_orders[id(root)] = {
                id(e): i for i, e in enumerate(root.iter())
            }
        return order

    def _generate_id(self, node) -> str:
        """generate-id(): unique, stable-within-a-transform id per node
        — document sequence number + document-order index."""
        if isinstance(node, _Doc):
            return f"d{self._doc_seq(node.root)}"
        if not isinstance(node, ET.Element):
            raise XsltUnsupported(
                "generate-id() requires an element or document node "
                "(text/attribute values have no node identity here)"
            )
        root = self._containing_root(node)
        return f"d{self._doc_seq(root)}e{self._doc_order(root)[id(node)]}"

    def _doc_seq(self, root: ET.Element) -> int:
        seq = self._doc_seqs.get(id(root))
        if seq is None:
            seq = len(self._doc_seqs)
            self._doc_seqs[id(root)] = seq
        return seq


def compile_stylesheet(src: str, base_dir: str | None = None):
    """``src`` -> callable(xml_string) -> transformed string, run by
    MiniXslt. ``base_dir`` anchors relative xsl:import/xsl:include and
    document() references. generate-id() values follow MiniXslt's
    document-order 'dNeM' scheme (the spec leaves their shape to the
    implementation)."""
    return MiniXslt(src, base_dir=base_dir).apply


def xslt_pipeline(xml: str, transforms) -> str:
    """Apply compiled transforms head-first, each consuming the previous
    output — the reference's xslPipeline recursion (index.js:87-106)."""
    for fn in transforms:
        xml = fn(xml)
    return xml
