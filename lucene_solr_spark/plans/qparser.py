"""Classic Lucene query-string parser -> Boolean query IR.

Reference surface being re-expressed (SURVEY.md §2.J "Query parser / DSL"):
  lucene/queryparser/.../classic/QueryParser.jj (classic syntax)
  solr/core/.../search/LuceneQParserPlugin.java

Supported grammar (the classic operators users actually type):

  term                        TermQuery
  "a b c"                     PhraseQuery        (-> ("phrase", terms, slop))
  "a b"~2                     sloppy phrase
  +clause / MUST              required
  -clause / MUST_NOT          prohibited
  a AND b / a && b            both required (infix)
  a OR b / a || b             disjunction (default operator)
  NOT a                       prohibited
  (nested …)                  sub-query
  (a b c)~2                   minimumNumberShouldMatch on the group
  term^2.5                    boost (terms, phrases, groups)
  wild* / wi?ld               WildcardQuery      (-> ("wildcard", pattern))
  fuzzy~1                     FuzzyQuery         (-> ("fuzzy", term, edits))
  [a TO b] / {a TO b}         TermRangeQuery     (-> ("range", lo, hi, inc))

Output: operators.query.Term / Bool nodes for the scoring tree; multi-term
and phrase leaves come out as plain tuples (kind, ...) that
``resolve_multi_terms`` maps against a searcher — multi-term leaves
through expand_terms into Term disjunctions, phrases into Phrase leaves —
exactly Lucene's MultiTermQuery rewrite seam. The whole tree then scores
in one Boolean-tree pass on the catalog searcher.

Semantics notes (matching the classic parser):
- default operator OR; bare terms in a boolean list are SHOULD clauses.
- ``a AND b OR c`` groups left-to-right per clause modifiers, i.e. AND
  marks BOTH neighbors required (the classic parser's +/- translation),
  not C-style precedence — same as Lucene's QueryParser.
- query-text terms run through the SAME pinned analyzer as indexing.
"""

from __future__ import annotations

import re

from ..functions.analysis import tokenize_text
from ..operators.query import Bool, DisMax, Term

_TOKEN_RE = re.compile(
    r"""
    \s*(
      \(                      # group open
    | \)                      # group close
    | [+-]?(?:[A-Za-z_][A-Za-z0-9_]*:)?\[[^\]\}]*?\ TO\ [^\]\}]*?[\]\}]   # [a TO b] (opt. +/-, field:)
    | [+-]?(?:[A-Za-z_][A-Za-z0-9_]*:)?\{[^\]\}]*?\ TO\ [^\]\}]*?[\]\}]   # {a TO b} (opt. +/-, field:)
    | [+-]?(?:[A-Za-z_][A-Za-z0-9_]*:)?"[^"]*"(?:~\d+)?   # phrase (opt. +/-, field:)
    | \|\|                    # OR
    | &&                      # AND
    | [^\s()"]+               # bare term-ish token (may carry field:)
    )""",
    re.VERBOSE,
)

_FIELD_RE = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*):(.+)$", re.DOTALL)


class QueryParseError(ValueError):
    pass


def _lex(q: str) -> list[str]:
    out, pos = [], 0
    while pos < len(q):
        m = _TOKEN_RE.match(q, pos)
        if not m:
            if q[pos:].strip() == "":
                break
            raise QueryParseError(f"cannot lex at: {q[pos:]!r}")
        out.append(m.group(1))
        pos = m.end()
    return out


def _split_boost(tok: str) -> tuple[str, float]:
    m = re.match(r"^(.*)\^(\d+(?:\.\d+)?)$", tok)
    if m:
        return m.group(1), float(m.group(2))
    if "^" in tok:
        # '^' is only ever the boost operator; a dangling or negative
        # boost is a parse error (BoostQuery rejects boost < 0, the
        # classic grammar requires a number after '^') — refusing beats
        # silently re-tokenizing 'order^-2' into a phrase
        raise QueryParseError(f"invalid boost in {tok!r}")
    return tok, 1.0


def _leaf(tok: str, boost: float, field: str | None = None):
    """One bare token -> leaf node or multi-term tuple."""
    # fuzzy: term~N or term~
    m = re.match(r"^([^~*?\[\]{}]+)~(\d*)$", tok)
    if m:
        edits = int(m.group(2)) if m.group(2) else 2
        return ("fuzzy", _norm_term(m.group(1)), edits, boost, field)
    if "*" in tok or "?" in tok:
        return ("wildcard", tok.lower(), boost, field)
    terms = tokenize_text(tok)
    if not terms:
        return None
    if len(terms) == 1:
        return Term(terms[0], boost, field)
    # analyzer split one input token (camelCase etc.) -> adjacent phrase
    return ("phrase", terms, 0, boost, field)


def _norm_term(t: str) -> str:
    toks = tokenize_text(t)
    return toks[0] if toks else t


def _parse_tokens(toks: list[str], i: int = 0, depth: int = 0):
    """Returns (clauses, msm, next_index). clause = (occur, node) where
    occur in {'SHOULD','MUST','MUST_NOT'} and node is Term/Bool/tuple."""
    clauses: list[tuple[str, object]] = []
    pending_occur: str | None = None
    and_next = False  # previous token was AND -> next clause also MUST

    def push(node, occur):
        nonlocal and_next
        if node is None:
            and_next = False
            return
        occ = occur or ("MUST" if and_next else "SHOULD")
        clauses.append((occ, node))
        and_next = False

    while i < len(toks):
        t = toks[i]
        if t == ")":
            if depth == 0:
                raise QueryParseError("unbalanced ')'")
            return clauses, i
        if t == "(":
            sub, j = _parse_tokens(toks, i + 1, depth + 1)
            if j >= len(toks) or toks[j] != ")":
                raise QueryParseError("unbalanced '('")
            i = j + 1
            boost, msm = 1.0, 0
            # group suffixes: )~N and/or )^B (possibly fused: ~2^3)
            while i < len(toks) and re.match(r"^[~^]", toks[i]):
                m = re.match(r"^(?:~(\d+))?(?:\^(\d+(?:\.\d+)?))?$", toks[i])
                if not m or toks[i] == "":
                    raise QueryParseError(f"bad group suffix {toks[i]!r}")
                if m.group(1):
                    msm = int(m.group(1))
                if m.group(2):
                    boost = float(m.group(2))
                i += 1
            node = _clauses_to_bool(sub, msm, boost)
            push(node, pending_occur)
            pending_occur = None
            continue
        i += 1
        if t in ("AND", "&&"):
            # classic translation: AND marks both neighbors required
            if clauses:
                occ, node = clauses[-1]
                if occ == "SHOULD":
                    clauses[-1] = ("MUST", node)
            and_next = True
            continue
        if t in ("OR", "||"):
            continue  # OR is the default
        if t == "NOT":
            pending_occur = "MUST_NOT"
            continue
        if t in ("+", "-"):
            # +/- immediately before a group: the lexer splits them off
            pending_occur = "MUST" if t == "+" else "MUST_NOT"
            continue
        occur = pending_occur
        pending_occur = None
        body = t
        if body.startswith("+"):
            occur, body = "MUST", body[1:]
        elif body.startswith("-"):
            occur, body = "MUST_NOT", body[1:]
        if body == "*:*" or (
            "^" in body and body.rpartition("^")[0] == "*:*"
        ):
            # the canonical MatchAllDocsQuery syntax (classic
            # QueryParser.jj: field '*' + term '*'), with optional boost
            # (`*:*^2` = boosted match-all, constant score = boost)
            if body == "*:*":
                mb = 1.0
            else:
                _, mb = _split_boost(body)  # raises on a bad boost
            push(("matchall", mb), occur)
            continue
        # optional field: prefix (classic `field:clause` scoping) — applies
        # to the immediately following term/phrase/range/multi-term leaf
        field = None
        fm = _FIELD_RE.match(body)
        if fm and body[0] not in "[{\"":
            field, body = fm.group(1), fm.group(2)
        if body.startswith('"'):
            m = re.match(r'^"([^"]*)"(?:~(\d+))?$', body)
            if not m:
                raise QueryParseError(f"bad phrase: {body!r}")
            slop = int(m.group(2)) if m.group(2) else 0
            terms = tokenize_text(m.group(1))
            node = ("phrase", terms, slop, 1.0, field) if terms else None
            push(node, occur)
            continue
        if body and body[0] in "[{":
            m = re.match(r"^([\[{])(.*?) TO (.*?)([\]}])$", body)
            if not m:
                raise QueryParseError(f"bad range: {body!r}")
            lo = None if m.group(2) == "*" else _norm_term(m.group(2))
            hi = None if m.group(3) == "*" else _norm_term(m.group(3))
            push(
                ("range", lo, hi, m.group(1) == "[", m.group(4) == "]", field),
                occur,
            )
            continue
        body, boost = _split_boost(body)
        push(_leaf(body, boost, field), occur)
    if depth != 0:
        raise QueryParseError("unbalanced '('")
    return clauses, i


def _clauses_to_bool(clauses, msm: int = 0, boost: float = 1.0):
    must = tuple(n for o, n in clauses if o == "MUST")
    should = tuple(n for o, n in clauses if o == "SHOULD")
    must_not = tuple(n for o, n in clauses if o == "MUST_NOT")
    return Bool(
        must=must,
        should=should,
        must_not=must_not,
        min_should_match=msm,
        boost=boost,
    )


def parse(query: str):
    """Parse a classic query string into the IR (Term/Bool with multi-term
    leaves left as tuples for the caller's rewrite seam)."""
    clauses, _ = _parse_tokens(_lex(query))
    if not clauses:
        return Bool()
    if len(clauses) == 1 and clauses[0][0] == "SHOULD":
        return _unwrap_matchall(clauses[0][1])
    return _clauses_to_bool(clauses)


def _unwrap_matchall(node):
    """`(*:*)` / `((*:*))^2`: a Bool that wraps nothing but one SHOULD
    matchall collapses to the matchall tuple (boosts multiply) — so every
    top-level spelling of MatchAllDocsQuery reaches the callers'
    matchall fast path instead of the tree scorer."""
    while (
        isinstance(node, Bool)
        and not node.must
        and not node.must_not
        and not getattr(node, "filter", ())
        and node.min_should_match in (0, 1)
        and len(node.should) == 1
        and isinstance(node.should[0], tuple)
        and node.should[0][0] == "matchall"
    ):
        inner = node.should[0]
        node = ("matchall", inner[1] * node.boost)
    return node


def _contains_tuple(node) -> bool:
    if isinstance(node, tuple):
        return True
    if isinstance(node, Bool):
        return any(
            _contains_tuple(c)
            for part in (node.must, node.should, node.must_not, node.filter)
            for c in part
        )
    return False


def resolve_multi_terms(node, searcher, max_expansions: int = 1024):
    """MultiTermQuery rewrite (CONSTANT_SCORE_BOOLEAN analog): expand
    wildcard/fuzzy/range leaves against the terms dictionary into
    disjunctions of Terms; phrase tuples become Phrase IR leaves (scored
    inside the tree by the cogrouped postings+positions scorer). Expansion
    of an absent pattern -> empty Bool (matches nothing in a MUST slot,
    contributes nothing as SHOULD)."""
    if isinstance(node, Term):
        return node
    if isinstance(node, tuple):
        kind = node[0]
        if kind == "matchall":
            # MatchAllDocsQuery nested in a Boolean tree: no scored-tree
            # rendering here (the constant-score clause would need its
            # own scorer slot); top-level forms — bare, boosted, or
            # parenthesized — are intercepted by the callers
            # (MultiSearcher.search, the CLI branches) before this
            # rewrite, so only genuinely nested shapes reach here
            raise QueryParseError(
                "*:* inside a Boolean expression is not supported; "
                "use it as the entire query"
            )
        if kind in ("wildcard", "fuzzy", "range") and node[-1] is not None:
            raise QueryParseError(
                f"field-scoped {kind} queries need a per-field terms "
                "dictionary (expand via that field's Searcher)"
            )
        if kind == "wildcard":
            _, pat, boost, _f = node
            terms = searcher.expand_terms(wildcard=pat, max_expansions=max_expansions)
            return Bool(should=tuple(Term(t) for t in terms), boost=boost)
        if kind == "fuzzy":
            _, term, edits, boost, _f = node
            # the classic parser's `term~N` is a FuzzyQuery with Lucene's
            # DEFAULT transpositions=true (OSA metric) — the plain
            # Levenshtein variant stays reachable via expand_terms'
            # 2-tuple form (pinned by the fuzzy_query_terms oracle row)
            terms = searcher.expand_terms(
                fuzzy=(term, edits, True), max_expansions=max_expansions
            )
            return Bool(should=tuple(Term(t) for t in terms), boost=boost)
        if kind == "range":
            _, lo, hi, inc_lo, inc_hi, _f = node
            terms = searcher.expand_terms(
                term_range=(lo, hi), max_expansions=max_expansions
            )
            # expand_terms is [lo, hi); fix the endpoints per inclusivity
            if not inc_lo and lo is not None and lo in terms:
                terms = [t for t in terms if t != lo]
            if inc_hi and hi is not None:
                extra = searcher.expand_terms(term_range=(hi, None), max_expansions=1)
                if extra and extra[0] == hi:
                    terms = terms + [hi]
            return Bool(should=tuple(Term(t) for t in sorted(set(terms))))
        if kind == "phrase":
            # PhraseQuery as a BooleanClause: becomes a Phrase IR leaf,
            # scored by the cogrouped postings+positions tree scorer
            from ..operators.query import Phrase

            _, terms, slop, boost, field = node
            return Phrase(terms=tuple(terms), slop=slop, boost=boost, field=field)
        raise QueryParseError(f"unknown leaf {kind}")
    if isinstance(node, DisMax):
        return DisMax(
            clauses=tuple(
                resolve_multi_terms(c, searcher, max_expansions)
                for c in node.clauses
            ),
            tie=node.tie,
            boost=node.boost,
        )
    if isinstance(node, Bool):
        def rs(part):
            return tuple(resolve_multi_terms(c, searcher, max_expansions) for c in part)

        return Bool(
            must=rs(node.must),
            should=rs(node.should),
            must_not=rs(node.must_not),
            filter=rs(node.filter),
            min_should_match=node.min_should_match,
            boost=node.boost,
        )
    raise QueryParseError(f"unknown node {node!r}")
