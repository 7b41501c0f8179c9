"""Surround query parser — the span-query front end ({!surround}).

Reference surface being re-expressed (SURVEY.md §2.C spans family):
  lucene/queryparser/.../surround/parser/QueryParser.jj — the W/N
    distance-operator grammar with prefix notation and truncation
  surround/query/DistanceQuery.java — ``nW``/``nN`` with opDistance n
    maps to SpanNearQuery(slop = n-1, inOrder = W)
  surround/query/OrQuery.java, NotQuery.java — OR inside distance
    context becomes SpanOr; NOT becomes SpanNot(include, exclude)
  surround/query/SrndTruncQuery.java + SpanMultiTermQueryWrapper.java —
    ``term*`` truncation expands against the terms dictionary into a
    SpanOr (BooleanQuery#maxClauseCount-capped like the engine's
    expand_terms)
  solr/core/.../search/SurroundQParserPlugin.java — the {!surround} hook

Pinned subset (prefix notation, ops case-insensitive):
    expr := [INT] ('W'|'N') '(' expr (',' expr)+ ')'
          | 'OR'  '(' expr (',' expr)+ ')'
          | 'NOT' '(' expr ',' expr ')'
          | term | term'*'
``3W(a, b)`` = ordered within distance 3 (slop 2); ``N(...)`` unordered;
bare ``W``/``N`` default to distance 1 (adjacent). The result is a span
node tree for search.py#MultiSearcher.span_topk — scoring, candidate
gating and the float32 discipline are entirely the span kernel's.
"""

from __future__ import annotations

import re

from ..functions.analysis import tokenize_text
from .spans import SpanNear, SpanNot, SpanOr, SpanTerm

_TOKEN = re.compile(r"\s*(\(|\)|,|[A-Za-z0-9_]+\*?)")


class SurroundParseError(ValueError):
    pass


def _lex(q: str) -> list[str]:
    out, i = [], 0
    q = (q or "").strip()
    while i < len(q):
        m = _TOKEN.match(q, i)
        if not m or not m.group(1):
            raise SurroundParseError(f"bad surround syntax at {q[i:]!r}")
        out.append(m.group(1))
        i = m.end()
    return out


def parse_surround(q: str, expand=None, max_expansions: int = 1024):
    """Parse a surround query into a span node tree. ``expand(prefix)``
    resolves ``term*`` truncation against a terms dictionary and returns
    the matching terms (e.g. ``lambda p: searcher.expand_terms(prefix=p,
    max_expansions=...)``); required if the query uses truncation."""
    toks = _lex(q)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take(expected=None):
        nonlocal pos
        if pos >= len(toks):
            raise SurroundParseError(f"unexpected end of query {q!r}")
        t = toks[pos]
        if expected is not None and t != expected:
            raise SurroundParseError(f"expected {expected!r}, got {t!r}")
        pos += 1
        return t

    def parse_args(min_n: int, max_n: int | None = None) -> list:
        take("(")
        args = [parse_expr()]
        while peek() == ",":
            take(",")
            args.append(parse_expr())
        take(")")
        if len(args) < min_n or (max_n is not None and len(args) > max_n):
            raise SurroundParseError(
                f"operator needs {min_n}{'+' if max_n is None else f'-{max_n}'}"
                f" args, got {len(args)}"
            )
        return args

    def parse_expr():
        t = take()
        m = re.fullmatch(r"(\d*)([wWnN])", t)
        if m and peek() == "(":
            dist = int(m.group(1)) if m.group(1) else 1
            if dist < 1:
                raise SurroundParseError(f"distance must be >= 1 in {t!r}")
            args = parse_args(2)
            return SpanNear(
                tuple(args), slop=dist - 1, in_order=m.group(2) in "wW"
            )
        if t.upper() == "OR" and peek() == "(":
            return SpanOr(tuple(parse_args(2)))
        if t.upper() == "NOT" and peek() == "(":
            inc, exc = parse_args(2, 2)
            return SpanNot(inc, exc)
        # term leaf (possibly truncated); analyzed like every other query
        if t in ("(", ")", ","):
            raise SurroundParseError(f"unexpected {t!r} in {q!r}")
        trunc = t.endswith("*")
        body = t[:-1] if trunc else t
        terms = tokenize_text(body)
        if len(terms) != 1:
            raise SurroundParseError(f"term {t!r} does not analyze to one token")
        if trunc:
            if expand is None:
                raise SurroundParseError(
                    f"truncation {t!r} needs an expand callback"
                )
            expanded = list(expand(terms[0]))
            if len(expanded) > max_expansions:
                # surround/query/SrndTruncQuery.java + maxBasicQueries:
                # the reference raises TooManyBasicQueries rather than
                # silently serving an order-dependent subset of the terms
                raise SurroundParseError(
                    f"truncation {t!r} expands to {len(expanded)} terms "
                    f"(> max_expansions={max_expansions})"
                )
            if not expanded:
                # absent prefix: an empty SpanOr would be malformed; a
                # never-matching term keeps the tree well-typed (the span
                # kernel treats unknown terms as empty position lists)
                return SpanTerm(terms[0] + "\x00")
            return SpanOr(tuple(SpanTerm(x) for x in sorted(expanded)))
        return SpanTerm(terms[0])

    node = parse_expr()
    if pos != len(toks):
        raise SurroundParseError(f"trailing input {toks[pos:]!r} in {q!r}")
    return node
