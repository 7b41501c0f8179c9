"""TermAutomatonQuery — token-level automaton matching.

Reference surface being re-expressed (SURVEY.md §2.C query family):
  lucene/sandbox/.../search/TermAutomatonQuery.java — a query accepting
    any token path through a term-labeled automaton at consecutive
    positions; #rewrite collapses simple automata to TermQuery /
    PhraseQuery / Boolean-of-phrases when possible
  search/spans machinery — the execution substrate after rewrite

Spark restatement: the rewrite IS the implementation — an acyclic term
automaton is exactly a finite union of token strings, so it compiles to
SpanOr(SpanNear(slop=0, ordered) per accepted path) and runs on the span
kernel (operators/spans.py) with its pinned float32 scoring: freq =
number of accepted windows, idf summed over the distinct automaton terms
present. Cyclic automata (unbounded repetition) are rejected explicitly
rather than silently truncated.
"""

from __future__ import annotations

from dataclasses import dataclass

from .spans import SpanNear, SpanOr, SpanTerm


@dataclass(frozen=True)
class TermAutomaton:
    """transitions = ((from_state, to_state, term), ...); any path from
    ``start`` to a state in ``accept`` spells one accepted token string."""

    transitions: tuple
    accept: frozenset
    start: int = 0

    def __post_init__(self):
        if not isinstance(self.transitions, tuple):
            object.__setattr__(self, "transitions", tuple(self.transitions))
        if not isinstance(self.accept, frozenset):
            object.__setattr__(self, "accept", frozenset(self.accept))


class AutomatonCompileError(ValueError):
    pass


def automaton_to_spans(auto: TermAutomaton, max_paths: int = 256,
                       max_len: int = 16):
    """TermAutomatonQuery#rewrite analog: enumerate the accepted strings
    of an ACYCLIC automaton and compile them to a span tree. Raises on a
    cycle (path longer than ``max_len``) or more than ``max_paths``
    accepted strings — the same spirit as BooleanQuery#maxClauseCount."""
    by_state: dict[int, list[tuple[int, str]]] = {}
    for f, t, term in auto.transitions:
        by_state.setdefault(f, []).append((t, term))
    for outs in by_state.values():
        outs.sort(key=lambda x: (x[1], x[0]))  # deterministic path order
    paths: list[tuple[str, ...]] = []

    seen: set[tuple[str, ...]] = set()

    def dfs(state: int, acc: list[str]) -> None:
        if len(acc) > max_len:
            raise AutomatonCompileError(
                f"path longer than {max_len} — cyclic automaton?"
            )
        if state in auto.accept and acc:
            # dedupe accepted STRINGS: an NFA can spell the same token
            # sequence along two state paths (Lucene determinizes first);
            # duplicate SpanNear clauses would double-count span freq
            key = tuple(acc)
            if key not in seen:
                if len(paths) >= max_paths:
                    raise AutomatonCompileError(f"more than {max_paths} paths")
                seen.add(key)
                paths.append(key)
        for nxt, term in by_state.get(state, []):
            acc.append(term)
            dfs(nxt, acc)
            acc.pop()

    dfs(auto.start, [])
    if not paths:
        raise AutomatonCompileError("automaton accepts no non-empty string")
    nodes = [
        SpanTerm(p[0])
        if len(p) == 1
        else SpanNear(tuple(SpanTerm(t) for t in p), slop=0, in_order=True)
        for p in paths
    ]
    return nodes[0] if len(nodes) == 1 else SpanOr(tuple(nodes))


def automaton_topk(spark, segment, auto: TermAutomaton, k: int = 10):
    """Top-k BM25 for a term automaton: rewrite to spans, run the span
    kernel (freq = accepted-window count, idf over the distinct terms).
    ``segment`` may be a Segment or a LIST of segments, served by
    span_topk as one catalog searcher."""
    from .spans import span_topk

    return span_topk(spark, segment, automaton_to_spans(auto), k=k)
