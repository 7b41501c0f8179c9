"""Span queries over positional postings — the Lucene spans module analog.

Reference surface being re-expressed (SURVEY.md §2.C "span / interval
queries"; all paths relative to the reference layout):
  search/spans/SpanTermQuery.java   — one term, each position is a span
  search/spans/SpanNearQuery.java   — sub-spans within ``slop``, optionally
                                      in clause order (NearSpansOrdered /
                                      NearSpansUnordered)
  search/spans/SpanOrQuery.java     — union of sub-span streams
  search/spans/SpanFirstQuery.java  — spans ending within the first n
                                      positions
  search/spans/SpanScorer.java      — freq = sum over matches of
                                      1/(1+slack) (SloppySimScorer
                                      computeSlopFactor), BM25 with the
                                      summed idf of the clause terms

Pinned match semantics (documented here because the span iterators in the
reference enumerate matches lazily with engine-specific tie-breaks; the
scalar oracle in tests/oracle_spans.py mirrors EXACTLY this):

* A span is a half-open interval (start, end) over token positions.
* SpanTerm(t): one span (p, p+1) per occurrence of t.
* SpanOr(clauses): all clause spans, sorted by (start, end).
* SpanFirst(clause, n): clause spans with end <= n.
* SpanNear(clauses, slop, in_order=True) — ordered, greedy:
  for each span of clause 0 in start order, pick for each later clause the
  EARLIEST span starting at or after the previous clause's end (no
  overlap, clause order). slack = sum of gaps (start_i - prev_end). The
  tuple is a match iff slack <= slop; it contributes 1/(1+slack) to the
  doc's span freq and emits the covering span (start_0, end_last).
  Greedy-earliest per leading span is deterministic and one match per
  leading span — the NearSpansOrdered analog.
* SpanNear(clauses, slop, in_order=False) — unordered, heap walk:
  the SloppyPhraseScorer-style walk over one pointer per clause (advance
  the minimal start; when the advanced pointer passes the next-smallest
  start, close the candidate window). A window is a match iff
  slack = (max_end - min_start) - sum(clause span lengths) <= slop,
  contributing 1/(1+slack). The NearSpansUnordered analog.

Spark restatement: a span query is one more Weight on the catalog
searcher (search.py#MultiSearcher.span_topk), with the same plan as a
multi-phrase query: the positions table filtered to the query's distinct
terms (range-partitioned ``term`` column -> parquet row-group pruning),
one pandas-UDF leaf per (doc-space bucket, segment) with the tombstones on
its side channel, a local top-k, and the catalog merge with the pinned
(score desc, gdoc_id asc) tie-break. This module holds the node types, the
per-doc span walk and the per-bucket kernel ``bucket_span_freqs``, whose
candidate gate (the clause-term conjunction) runs before any per-doc
Python. Per-bucket work is bounded by the fixed bucket size, and the
candidates are few, so the per-candidate walks are off the hot path
exactly as in the sloppy-phrase kernel.
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions.packing import delta_decode, unpack_ints
from ..sources.catalog import Segment
from .search import MultiSearcher, Searcher

__all__ = [
    "SpanTerm",
    "SpanNear",
    "SpanOr",
    "SpanFirst",
    "SpanPositionRange",
    "SpanNot",
    "SpanContaining",
    "SpanWithin",
    "span_terms",
    "doc_spans",
    "span_freq",
    "bucket_span_freqs",
    "span_topk",
]


@dataclass(frozen=True)
class SpanTerm:
    term: str


@dataclass(frozen=True)
class SpanNear:
    clauses: tuple
    slop: int = 0
    in_order: bool = True

    def __post_init__(self):
        if not isinstance(self.clauses, tuple):
            object.__setattr__(self, "clauses", tuple(self.clauses))


@dataclass(frozen=True)
class SpanOr:
    clauses: tuple

    def __post_init__(self):
        if not isinstance(self.clauses, tuple):
            object.__setattr__(self, "clauses", tuple(self.clauses))


@dataclass(frozen=True)
class SpanFirst:
    clause: object
    end: int


@dataclass(frozen=True)
class SpanPositionRange:
    """search/spans/SpanPositionRangeQuery.java#acceptPosition: spans of
    ``clause`` lying fully inside the position window (span.start >=
    ``start`` and span.end <= ``end``) — SpanFirst is the start=0 case."""

    clause: object
    start: int
    end: int

    def __post_init__(self):
        assert 0 <= self.start <= self.end, "need 0 <= start <= end"


@dataclass(frozen=True)
class SpanNot:
    """search/spans/SpanNotQuery.java: spans of ``include`` that do not
    overlap any ``exclude`` span, the exclusion window widened by ``pre``
    tokens before and ``post`` after. Scoring idf uses the INCLUDE side's
    terms only (exclusion terms gate, they don't score)."""

    include: object
    exclude: object
    pre: int = 0
    post: int = 0


@dataclass(frozen=True)
class SpanContaining:
    """search/spans/SpanContainingQuery.java: spans of ``big`` that contain
    at least one ``little`` span."""

    big: object
    little: object


@dataclass(frozen=True)
class SpanWithin:
    """search/spans/SpanWithinQuery.java: spans of ``little`` that lie
    inside at least one ``big`` span."""

    big: object
    little: object


def span_terms(node) -> set[str]:
    """All distinct terms under a span node."""
    if isinstance(node, SpanTerm):
        return {node.term}
    if isinstance(node, (SpanFirst, SpanPositionRange)):
        return span_terms(node.clause)
    if isinstance(node, SpanNot):
        return span_terms(node.include) | span_terms(node.exclude)
    if isinstance(node, (SpanContaining, SpanWithin)):
        return span_terms(node.big) | span_terms(node.little)
    out: set[str] = set()
    for c in node.clauses:
        out |= span_terms(c)
    return out


def scoring_terms(node) -> set[str]:
    """Terms contributing to the summed idf (SpanWeight#buildSimWeight):
    everything except a SpanNot's exclusion side — excluded spans gate
    matches but never score."""
    if isinstance(node, SpanTerm):
        return {node.term}
    if isinstance(node, (SpanFirst, SpanPositionRange)):
        return scoring_terms(node.clause)
    if isinstance(node, SpanNot):
        return scoring_terms(node.include)
    if isinstance(node, (SpanContaining, SpanWithin)):
        return scoring_terms(node.big) | scoring_terms(node.little)
    out: set[str] = set()
    for c in node.clauses:
        out |= scoring_terms(c)
    return out


def doc_spans(node, positions: dict[str, np.ndarray]) -> list[tuple[int, int]]:
    """Enumerate one doc's matching spans for ``node`` as (start, end)
    tuples sorted by (start, end). ``positions[t]`` is the sorted position
    array of term t in this doc (absent terms -> empty array)."""
    if isinstance(node, SpanTerm):
        pos = positions.get(node.term)
        if pos is None or pos.size == 0:
            return []
        return [(int(p), int(p) + 1) for p in pos]
    if isinstance(node, SpanOr):
        out: list[tuple[int, int]] = []
        for c in node.clauses:
            out.extend(doc_spans(c, positions))
        out.sort()
        return out
    if isinstance(node, SpanFirst):
        return [s for s in doc_spans(node.clause, positions) if s[1] <= node.end]
    if isinstance(node, SpanPositionRange):
        return [
            s
            for s in doc_spans(node.clause, positions)
            if node.start <= s[0] and s[1] <= node.end
        ]
    if isinstance(node, SpanNot):
        inc = doc_spans(node.include, positions)
        exc = doc_spans(node.exclude, positions)
        if not exc:
            return inc
        return [
            (s, e)
            for s, e in inc
            if not any(xs < e + node.post and xe > s - node.pre for xs, xe in exc)
        ]
    if isinstance(node, SpanContaining):
        big = doc_spans(node.big, positions)
        little = doc_spans(node.little, positions)
        return [
            (s, e)
            for s, e in big
            if any(s <= ls and le <= e for ls, le in little)
        ]
    if isinstance(node, SpanWithin):
        big = doc_spans(node.big, positions)
        little = doc_spans(node.little, positions)
        return [
            (ls, le)
            for ls, le in little
            if any(s <= ls and le <= e for s, e in big)
        ]
    assert isinstance(node, SpanNear)
    subs = [doc_spans(c, positions) for c in node.clauses]
    if any(not s for s in subs):
        return []
    if node.in_order:
        return [m[0] for m in _ordered_matches(subs, node.slop)]
    return [m[0] for m in _unordered_matches(subs, node.slop)]


def _ordered_matches(
    subs: list[list[tuple[int, int]]], slop: int
) -> list[tuple[tuple[int, int], int]]:
    """Greedy ordered matching: one candidate per leading-clause span.
    Returns [((start, end), slack)] for matches with slack <= slop."""
    if not subs:
        return []
    if len(subs) == 1:
        # SpanNearQuery with one clause rewrites to the clause itself
        return [((s, e), 0) for s, e in subs[0]]
    out = []
    for s0 in subs[0]:
        prev_end = s0[1]
        slack = 0
        last_end = s0[1]
        ok = True
        for spans in subs[1:]:
            # earliest span starting at or after prev_end (binary search)
            lo, hi = 0, len(spans)
            while lo < hi:
                mid = (lo + hi) // 2
                if spans[mid][0] >= prev_end:
                    hi = mid
                else:
                    lo = mid + 1
            if lo == len(spans):
                ok = False
                break
            nxt = spans[lo]
            slack += nxt[0] - prev_end
            prev_end = nxt[1]
            last_end = nxt[1]
        if ok and slack <= slop:
            out.append(((s0[0], last_end), slack))
    return out


def _unordered_matches(
    subs: list[list[tuple[int, int]]], slop: int
) -> list[tuple[tuple[int, int], int]]:
    """Unordered heap walk (NearSpansUnordered analog, same discipline as
    the sloppy-phrase walk): advance the clause with the minimal start;
    a candidate window closes when the advanced clause passes the current
    runner-up start."""
    if not subs:
        return []
    if len(subs) == 1:
        # SpanNearQuery with one clause rewrites to the clause itself
        return [((s, e), 0) for s, e in subs[0]]
    n = len(subs)
    idx = [0] * n
    heap = [(subs[i][0][0], subs[i][0][1], i) for i in range(n)]
    heapq.heapify(heap)
    cur_len = [subs[i][0][1] - subs[i][0][0] for i in range(n)]
    total_len = sum(cur_len)
    max_end = max(subs[i][0][1] for i in range(n))
    out = []

    # slack clamped at 0: clause spans may OVERLAP in an unordered near
    # (NearSpansUnordered allows it), making the raw width - total_len
    # negative; Lucene's sloppy weight never sees a negative distance
    def _slack(start_: int) -> int:
        return max(0, (max_end - start_) - total_len)

    start, end, i = heapq.heappop(heap)
    best = ((start, max_end), _slack(start))
    while True:
        idx[i] += 1
        if idx[i] >= len(subs[i]):
            break
        ns, ne = subs[i][idx[i]]
        total_len += (ne - ns) - cur_len[i]
        cur_len[i] = ne - ns
        max_end = max(max_end, ne)
        nxt_start = heap[0][0]
        if ns > nxt_start:
            # window closed: record the best (tightest) candidate seen
            if best[1] <= slop:
                out.append(best)
            heapq.heappush(heap, (ns, ne, i))
            start, end, i = heapq.heappop(heap)
            best = ((start, max_end), _slack(start))
        else:
            start = ns
            slack = _slack(start)
            if slack < best[1]:
                best = ((start, max_end), slack)
    if best[1] <= slop:
        out.append(best)
    return out


def _doc_matches(
    node, positions: dict[str, np.ndarray]
) -> list[tuple[tuple[int, int], int]]:
    """Matches with their widths (slack): SpanNear carries its walk's
    slack; Term/Or matches have slack 0; the filtering wrappers
    (Not/Containing/Within/First/PositionRange) pass the surviving
    matches' widths THROUGH
    (SpanScorer sees the underlying spans' width — a filtered NearSpans
    match keeps its sloppy weight)."""
    if isinstance(node, SpanNear):
        subs = [doc_spans(c, positions) for c in node.clauses]
        if any(not s for s in subs):
            return []
        return (
            _ordered_matches(subs, node.slop)
            if node.in_order
            else _unordered_matches(subs, node.slop)
        )
    if isinstance(node, SpanNot):
        inc = _doc_matches(node.include, positions)
        exc = doc_spans(node.exclude, positions)
        if not exc:
            return inc
        return [
            ((s, e), w)
            for (s, e), w in inc
            if not any(xs < e + node.post and xe > s - node.pre for xs, xe in exc)
        ]
    if isinstance(node, SpanContaining):
        big = _doc_matches(node.big, positions)
        little = doc_spans(node.little, positions)
        return [
            ((s, e), w)
            for (s, e), w in big
            if any(s <= ls and le <= e for ls, le in little)
        ]
    if isinstance(node, SpanWithin):
        little = _doc_matches(node.little, positions)
        big = doc_spans(node.big, positions)
        return [
            ((ls, le), w)
            for (ls, le), w in little
            if any(s <= ls and le <= e for s, e in big)
        ]
    if isinstance(node, SpanFirst):
        return [
            ((s, e), w)
            for (s, e), w in _doc_matches(node.clause, positions)
            if e <= node.end
        ]
    if isinstance(node, SpanPositionRange):
        return [
            ((s, e), w)
            for (s, e), w in _doc_matches(node.clause, positions)
            if node.start <= s and e <= node.end
        ]
    return [(s, 0) for s in doc_spans(node, positions)]


def span_freq(node, positions: dict[str, np.ndarray]) -> float:
    """SpanScorer#setFreqCurrentDoc analog: fractional span freq =
    sum over matches of 1/(1+slack). For SpanTerm/SpanOr/SpanFirst every
    match has slack 0 (freq = match count)."""
    return float(
        sum(1.0 / (1.0 + slack) for _, slack in _doc_matches(node, positions))
    )


def span_topk(spark: SparkSession, segment, node, k: int = 10) -> DataFrame:
    """Top-k BM25 over a span query tree: MultiSearcher.span_topk on a
    ``Searcher`` over one Segment, (doc_id, score) rows, or on a
    MultiSearcher over a LIST of segments (global df / N / sum_ttf, so a
    live multi-segment index ranks identically to its forced merge)."""
    return (
        Searcher(spark, segment) if isinstance(segment, Segment)
        else MultiSearcher(spark, list(segment))
    ).span_topk(node, k)


def _required_terms(node) -> set[str]:
    """Terms that MUST be present in a doc for any match to exist — used
    as the vectorized candidate gate before per-doc walks. SpanOr requires
    nothing individually (any one alternative suffices)."""
    if isinstance(node, SpanTerm):
        return {node.term}
    if isinstance(node, (SpanFirst, SpanPositionRange)):
        return _required_terms(node.clause)
    if isinstance(node, SpanNot):
        return _required_terms(node.include)  # exclusion terms gate only
    if isinstance(node, (SpanContaining, SpanWithin)):
        return _required_terms(node.big) | _required_terms(node.little)
    if isinstance(node, SpanNear):
        out: set[str] = set()
        for c in node.clauses:
            out |= _required_terms(c)
        return out
    assert isinstance(node, SpanOr)
    return set()


def bucket_span_freqs(
    pdf: pd.DataFrame, node, required: set[str]
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Span freqs for ONE doc-space bucket's positions rows: (doc_ids,
    fractional freqs, norm_bytes) for docs with freq > 0, the contract of
    phrase.py#bucket_phrase_freqs. Candidate gate: docs carrying every
    required term (vectorized); the per-doc span walk runs only on
    those."""
    if required:
        req_rows = pdf[pdf["term"].isin(sorted(required))]
        docs, counts = np.unique(req_rows["doc_id"].to_numpy(), return_counts=True)
        cand = set(docs[counts == len(required)].tolist())
        sub = pdf[pdf["doc_id"].isin(cand)]
    else:
        sub = pdf

    # decode positions once per (term, doc) row; on a synonym-graph index
    # span queries run over the FLATTENED positions (Lucene evaluates
    # spans on the flattened index — raw fresh-node ids would fabricate
    # intervals between unrelated injection sites)
    graph = "end_bin" in sub.columns and sub["end_bin"].notna().any()
    if graph:
        from ..functions.synonyms import flatten_starts
    by_doc: dict[int, dict[str, np.ndarray]] = {}
    norm_by_doc: dict[int, int] = {}
    for row in sub.itertuples():
        d = int(row.doc_id)
        pos = delta_decode(unpack_ints(row.pos_bin)).astype(np.int64)
        if graph:
            pos = np.sort(flatten_starts(pos))
        by_doc.setdefault(d, {})[row.term] = pos
        norm_by_doc[d] = int(row.norm_byte)

    ids, freqs = [], []
    for d in sorted(by_doc):
        fr = span_freq(node, by_doc[d])
        if fr > 0.0:
            ids.append(d)
            freqs.append(fr)
    return (
        np.asarray(ids, dtype=np.int64),
        np.asarray(freqs, dtype=np.float64),
        np.array([norm_by_doc[d] for d in ids], dtype=np.uint8),
    )
