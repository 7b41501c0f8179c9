"""Output checks for every timed query.

Unfiltered disjunction and phrase queries (the seed draws their terms)
are compared with the scalar oracle in ``tests/oracle.py`` (imported, independent of
the engine's code paths): same doc ids in the same order and the same
float32 scores, under liveDocs semantics (deleted docs still count in
the statistics but are never returned). Every other query is checked
for invariants: at most k hits, scores non-increasing, no deleted doc,
every hit matches the query and passes its filter, the hit count is
min(k, matching live docs), and the fetched stored fields belong to the
hit.
"""

from __future__ import annotations

import fnmatch

import numpy as np

from gen import FILTERS
from tests.oracle import OracleIndex


class Truth:
    """The expected state of a catalog: every doc's text and stored
    fields by global doc id (segment doc base + local id, the
    MultiSearcher numbering) and the deleted global ids."""

    def __init__(self, records: dict[int, dict], deleted: set[int]):
        self.records = records
        self.deleted = deleted
        self.oracle = OracleIndex(
            [(g, records[g]["content"]) for g in sorted(records)]
        )

    def matching(self, q: dict) -> set[int]:
        """Live docs matching ``q`` and its filter (set logic only)."""
        tf = self.oracle.tf
        cls, terms = q["cls"], q["terms"]
        if cls in ("term", "fq"):
            docs = set(tf.get(terms[0], {}))
        elif cls == "or":
            docs = set().union(*(tf.get(t, {}) for t in terms))
        elif cls == "and":
            docs = set(tf.get(terms[0], {})) & set(tf.get(terms[1], {}))
        elif cls == "prefix":
            pat = terms[0]
            docs = set().union(
                *(d for t, d in tf.items() if fnmatch.fnmatchcase(t, pat))
            )
        elif cls == "phrase":
            docs = {g for g in tf.get(terms[0], {})
                    if _has_phrase(self.oracle.tokens[g], terms)}
        elif cls == "matchall":
            docs = set(self.records)
        else:
            docs = set()
        docs -= self.deleted
        if q["fq"]:
            keep = FILTERS[q["fq"]]
            docs = {g for g in docs if keep(self.records[g])}
        return docs

    def expected_ranked(self, q: dict, k: int) -> list[tuple[int, float]]:
        """Oracle top-k for an OR or phrase query, deleted docs removed."""
        text = " ".join(q["terms"])
        if q["cls"] == "or":
            scores = self.oracle.score_disjunction(text)
            ranked = sorted(scores.items(), key=lambda kv: (-float(kv[1]), kv[0]))
            ranked = [(d, float(s)) for d, s in ranked]
        else:
            ranked = self.oracle.topk_phrase(text, k=len(self.records))
        return [(d, s) for d, s in ranked if d not in self.deleted][:k]


def _has_phrase(toks: list[str], seq: list[str]) -> bool:
    n = len(seq)
    return any(toks[i: i + n] == seq for i in range(len(toks) - n + 1))


def check_hits(truth: Truth, q: dict, hits: list[tuple[int, float]],
               fetched: list[dict], k: int, use_oracle: bool) -> list[str]:
    """Problems found in one query's result (empty list = correct).
    ``hits`` are (global doc id, score) in result order; ``fetched`` the
    stored fields returned for them, in the same order."""
    problems = []
    ids = [g for g, _ in hits]
    if len(hits) > k:
        problems.append(f"{len(hits)} hits > k={k}")
    if len(set(ids)) != len(ids):
        problems.append("duplicate doc in hits")
    if any(a[1] < b[1] for a, b in zip(hits, hits[1:])):
        problems.append("scores increase down the list")
    if truth.deleted & set(ids):
        problems.append(f"deleted docs returned: {sorted(truth.deleted & set(ids))}")
    for g, f in zip(ids, fetched):
        rec = truth.records.get(g)
        if rec is None or f.get("path") != rec["path"]:
            problems.append(f"fetched fields of doc {g} do not match")
            break
    if use_oracle:
        want = truth.expected_ranked(q, k)
        got = [(g, float(np.float32(s))) for g, s in hits]
        if got != want:
            problems.append(f"oracle mismatch: got {got[:3]} want {want[:3]}")
        return problems
    match = truth.matching(q)
    if not set(ids) <= match:
        problems.append(f"hits outside the matching set: {sorted(set(ids) - match)[:5]}")
    if len(hits) != min(k, len(match)):
        problems.append(f"{len(hits)} hits, expected {min(k, len(match))}")
    if q["cls"] == "matchall":
        if ids != sorted(match)[:k] or any(s != 1.0 for _, s in hits):
            problems.append("matchall is not the first k live docs at score 1")
    return problems

