"""Phrase queries over positional postings — PhraseQuery analog.

Reference semantics being re-expressed (SURVEY.md §2.C "PhraseQuery"):
  search/PhraseQuery.java        — ordered multi-term positional match
  search/ExactPhraseMatcher.java — slop=0: positions of term_i must appear
                                   at (p + i) for a common base p
  search/SloppyPhraseMatcher.java— slop>0, incl. repeat groups (see below)
  scoring: PhraseWeight scores like a single pseudo-term whose freq is the
  number of phrase occurrences (fractional sloppy weight for slop>0), idf is
  the SUM of the phrase terms' idfs (BM25Similarity#idfExplain over the
  terms array, duplicates counted), tf_part uses the same byte4 norm cache
  as TermQuery.

Spark restatement: the positions table is (term, bucket, doc_id, norm_byte,
pos_bin) — one row per (term, doc) with delta+FOR-packed in-doc positions.
Phrase queries run on the catalog searcher (search.py): ``phrase_topk`` is
a Phrase leaf of the Boolean-tree scorer, and ``multi_phrase_topk`` is
MultiSearcher.topk_multi_phrase. Either filters the positions table to its
distinct terms (parquet row-group pruning on the range-partitioned
``term`` column) and calls this module's per-bucket kernels
(``bucket_phrase_freqs``, ``bucket_multi_phrase_freqs``) once per
(bucket, segment) leaf.

Exact path (slop=0) is vectorized ACROSS docs: per (term,doc) rows are
decoded once, positions concatenated with a doc-keyed offset
(key = doc_id * M + adjusted_pos), and the n-way occurrence intersection is
a chain of np.intersect1d over the key arrays — no per-doc Python loop.
Matches the _tf_stage_fn discipline in operators/indexer.py.

Sloppy path (slop>0): candidate docs (those containing every phrase term)
run the classic SloppyPhraseScorer#phraseFreq min-heap walk per doc —
matchLength = span of adjusted positions when the minimum leg is about to
pass its successor, each match with matchLength <= slop contributes
sloppyWeight = 1/(1 + matchLength) to the (fractional) phrase freq.
Repeated phrase terms are handled by SloppyPhraseMatcher-style repeat
groups: legs of the same term must occupy distinct raw token positions
(see sloppy_phrase_freq_general). Candidates are few (conjunction of all
phrase terms), so the per-candidate heap walk is not the hot path;
tests/oracle.py#topk_phrase pins the identical semantics.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions.analysis import tokenize_text
from ..functions.packing import delta_decode, unpack_ints
from ..sources.catalog import Segment
from .query import Phrase
from .search import Searcher

def phrase_topk(
    spark: SparkSession,
    segment: Segment,
    phrase_text: str,
    k: int = 10,
    slop: int = 0,
) -> DataFrame:
    """Top-k docs containing the phrase (pinned-tokenizer order).
    ``slop=0``: exact adjacency; ``slop>0``: SloppyPhraseMatcher semantics
    (incl. repeat groups) with fractional sloppy freq. A Phrase leaf on
    the segment's searcher: the tree scorer runs bucket_phrase_freqs with
    the summed idf and this module's float32 op order."""
    return Searcher(spark, segment).topk_query(
        Phrase(tuple(tokenize_text(phrase_text)), slop), k
    )


def phrase_offsets(terms_seq) -> dict[str, list[int]]:
    """term -> its phrase offsets (duplicates collected), the leg layout
    both matchers consume."""
    out: dict[str, list[int]] = {}
    for i, t in enumerate(terms_seq):
        out.setdefault(t, []).append(i)
    return out


def bucket_phrase_freqs(
    pdf: pd.DataFrame,
    offsets_by_term: dict[str, list[int]],
    slop: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Phrase occurrence counting for ONE doc-space bucket. ``pdf`` holds
    this bucket's positions rows already filtered to the phrase's distinct
    terms. Returns (doc_ids, freqs, norm_bytes) for docs with freq > 0 —
    the per-bucket kernel of the Boolean-tree scorer's Phrase clauses
    (search.py#score_query_postings, which phrase_topk runs) and of
    edismax's phrase boosts."""
    n_terms = len(offsets_by_term)
    empty = (
        np.array([], dtype=np.int64),
        np.array([], dtype=np.int64),
        np.array([], dtype=np.uint8),
    )

    # conjunction gate, vectorized: docs carrying all distinct phrase terms
    doc_ids = pdf["doc_id"].to_numpy()
    u_docs, inv, counts = np.unique(doc_ids, return_inverse=True, return_counts=True)
    cand_mask_per_doc = counts == n_terms  # one row per (term, doc)
    row_keep = cand_mask_per_doc[inv]
    if not row_keep.any():
        return empty
    sub = pdf.loc[row_keep]

    # decode candidate rows once: per term -> (doc array, concatenated pos)
    graph = "end_bin" in sub.columns and sub["end_bin"].notna().any()
    per_term: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    ends_by_term: dict[str, np.ndarray] = {}
    norm_by_doc: dict[int, int] = {}
    for t, g in sub.groupby("term", sort=False):
        docs = g["doc_id"].to_numpy()
        plists = [delta_decode(unpack_ints(b)).astype(np.int64) for b in g["pos_bin"]]
        lens = np.array([p.size for p in plists], dtype=np.int64)
        per_term[t] = (docs, np.concatenate(plists) if plists else np.array([], dtype=np.int64), lens)
        if graph:
            # a bucket can mix graph rows with PLAIN rows (null end_bin)
            # when a graph-built and a plain segment serve one query
            # (edismax unions them padding end_bin with null): a plain
            # token's edge is the trivial start+1, exactly what merge.py
            # synthesizes when carrying a plain segment into a graph one
            elists = [
                (p_ + 1) if b is None else unpack_ints(b).astype(np.int64)
                for b, p_ in zip(g["end_bin"], plists)
            ]
            ends_by_term[t] = (
                np.concatenate(elists) if elists else np.array([], dtype=np.int64)
            )
        for d, nb in zip(docs, g["norm_byte"].to_numpy()):
            norm_by_doc[int(d)] = int(nb)

    if graph and slop == 0:
        ids, freqs = _exact_freqs_graph(per_term, ends_by_term, offsets_by_term)
    elif slop == 0:
        ids, freqs = _exact_freqs(per_term, offsets_by_term)
    else:
        if graph:
            # on a synonym-graph index the sloppy matcher runs over the
            # FLATTENED positions (FlattenGraphFilter view: injected chain
            # token j lands at site + j, derived from the site-addressed
            # fresh-node ids — functions/synonyms.py#flatten_starts), the
            # same approximation Lucene accepts for everything, here
            # confined to slop>0. Raw fresh-node ids would create spurious
            # adjacencies between unrelated injection sites.
            from ..functions.synonyms import flatten_starts

            per_term = {
                t: (docs, flatten_starts(pos_all), lens)
                for t, (docs, pos_all, lens) in per_term.items()
            }
        # flattened per-doc slices are not necessarily sorted -> resort
        ids, freqs = _sloppy_freqs(per_term, offsets_by_term, slop, resort=graph)
    if ids.size == 0:
        return empty
    norms = np.array([norm_by_doc[int(d)] for d in ids], dtype=np.uint8)
    return ids, freqs, norms


def _exact_freqs(
    per_term: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    offsets_by_term: dict[str, list[int]],
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized exact-phrase occurrence counting across all candidate
    docs at once. Each (term, phrase-offset) leg yields sorted unique keys
    doc_id * M + (pos - offset); the intersection chain of the legs is the
    set of phrase start keys (ExactPhraseMatcher, columnar)."""
    max_pos = 0
    for _, pos_all, _ in per_term.values():
        if pos_all.size:
            max_pos = max(max_pos, int(pos_all.max()))
    M = max_pos + 2  # key stride: adjusted positions live in [0, M)

    legs: list[np.ndarray] = []
    for t, offs in offsets_by_term.items():
        docs, pos_all, lens = per_term[t]
        doc_rep = np.repeat(docs, lens)
        for off in offs:
            valid = pos_all >= off
            keys = doc_rep[valid] * M + (pos_all[valid] - off)
            legs.append(np.sort(keys))
    legs.sort(key=lambda a: a.size)  # rarest leg first
    base = legs[0]
    for leg in legs[1:]:
        if base.size == 0:
            break
        base = np.intersect1d(base, leg, assume_unique=True)
    if base.size == 0:
        return np.array([], dtype=np.int64), np.array([], dtype=np.int64)
    docs = base // M
    ids, freqs = np.unique(docs, return_counts=True)
    return ids.astype(np.int64), freqs


def _exact_freqs_graph(
    per_term: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    ends_by_term: dict[str, np.ndarray],
    offsets_by_term: dict[str, list[int]],
) -> tuple[np.ndarray, np.ndarray]:
    """Exact phrase matching over a token GRAPH (synonym-built index):
    every token occurrence is an edge (start_node -> end_node) and a phrase
    occurrence is a path — leg i+1 must start at the node where leg i ended.
    Vectorized frontier DP: the frontier is (doc*M + node) keys with path
    counts; each leg joins its start keys against the frontier
    (searchsorted) and propagates its end keys, multiplying path counts.
    Phrase freq per doc = number of complete paths. On a graph with no
    injections (end == start+1 everywhere) this equals _exact_freqs.
    SynonymGraphFilter.java + ExactPhraseMatcher semantics, lossless where
    Lucene must flatten (see functions/synonyms.py)."""
    empty = (np.array([], dtype=np.int64), np.array([], dtype=np.int64))
    # rebuild the phrase term sequence from the leg layout
    n_legs = sum(len(v) for v in offsets_by_term.values())
    seq: list[str] = [""] * n_legs
    for t, offs in offsets_by_term.items():
        for off in offs:
            seq[off] = t

    max_node = 0
    for t in offsets_by_term:
        _, st, _ = per_term[t]
        en = ends_by_term[t]
        if st.size:
            max_node = max(max_node, int(st.max()), int(en.max()))
    M = max_node + 2

    docs0, st0, _ = per_term[seq[0]]
    en0 = ends_by_term[seq[0]]
    doc_rep = np.repeat(docs0, per_term[seq[0]][2])
    keys, counts = np.unique(doc_rep * M + en0, return_counts=True)
    counts = counts.astype(np.int64)
    for t in seq[1:]:
        docs, st, lens = per_term[t]
        en = ends_by_term[t]
        doc_rep = np.repeat(docs, lens)
        start_keys = doc_rep * M + st
        idx = np.searchsorted(keys, start_keys)
        idx_c = np.minimum(idx, len(keys) - 1)
        ok = keys[idx_c] == start_keys
        if not ok.any():
            return empty
        next_keys = doc_rep[ok] * M + en[ok]
        w = counts[idx_c[ok]]
        keys, inv = np.unique(next_keys, return_inverse=True)
        counts = np.bincount(inv, weights=w).astype(np.int64)
    final_docs = keys // M
    ids, seg_inv = np.unique(final_docs, return_inverse=True)
    freqs = np.bincount(seg_inv, weights=counts).astype(np.int64)
    return ids.astype(np.int64), freqs


def sloppy_phrase_freq(adjusted: list[np.ndarray], slop: int) -> float:
    """Classic SloppyPhraseScorer#phraseFreq (no repeats): ``adjusted[i]``
    is the sorted array of (position - phrase_offset_i) for leg i. Returns
    the fractional phrase freq: sum of 1/(1+matchLength) over greedy
    matches with matchLength <= slop."""
    return sloppy_phrase_freq_general(
        adjusted, [0] * len(adjusted), [], slop
    )


def sloppy_phrase_freq_general(
    raw_legs: list,
    offsets: list[int],
    groups: list[list[int]],
    slop: int,
) -> float:
    """SloppyPhraseMatcher#phraseFreq WITH repeat groups: one leg per
    phrase position; ``raw_legs[i]`` is the sorted RAW token positions of
    leg i's term, ``offsets[i]`` its phrase offset, ``groups`` the leg
    index lists of terms appearing in several phrase positions.

    Pinned repeat semantics (SloppyPhraseMatcher's repeating-pps
    discipline, deterministic variant): legs of the same repeat group must
    occupy DISTINCT raw token positions at all times. At init, group legs
    claim positions in phrase-offset order (a colliding leg advances to
    its next free position). During the walk, an advancing leg skips any
    raw position currently held by a sibling. The walk itself is the
    classic min-heap over adjusted positions (position - offset): when the
    minimal leg is about to pass the runner-up, the candidate match closes
    with matchLength = end - min; matches with matchLength <= slop add
    1/(1+matchLength) to the fractional freq."""
    n = len(raw_legs)
    if any(len(a) == 0 for a in raw_legs):
        return 0.0
    if n == 1:
        return float(len(raw_legs[0]))
    group_of: list[tuple] = [() for _ in range(n)]
    for g in groups:
        for i in g:
            group_of[i] = tuple(j for j in g if j != i)
    idx = [0] * n
    for g in groups:  # init: lower-offset legs keep their first positions
        used: set[int] = set()
        for i in g:
            while idx[i] < len(raw_legs[i]) and int(raw_legs[i][idx[i]]) in used:
                idx[i] += 1
            if idx[i] >= len(raw_legs[i]):
                return 0.0
            used.add(int(raw_legs[i][idx[i]]))

    def cur_raw(i: int) -> int:
        return int(raw_legs[i][idx[i]])

    def advance(i: int) -> bool:
        others = {cur_raw(j) for j in group_of[i]}
        idx[i] += 1
        while idx[i] < len(raw_legs[i]) and cur_raw(i) in others:
            idx[i] += 1
        return idx[i] < len(raw_legs[i])

    heap = [(cur_raw(i) - offsets[i], i) for i in range(n)]
    heapq.heapify(heap)
    end = max(p for p, _ in heap)
    freq = 0.0
    pos, leg = heapq.heappop(heap)
    match_length = end - pos
    while True:
        # advance the minimum leg (collision-aware for repeat groups)
        if not advance(leg):
            break
        pos = cur_raw(leg) - offsets[leg]
        end = max(end, pos)
        next_pos = heap[0][0]
        if pos > next_pos:
            if match_length <= slop:
                freq += 1.0 / (1.0 + match_length)
            heapq.heappush(heap, (pos, leg))
            pos, leg = heapq.heappop(heap)
            match_length = end - pos
        else:
            ml = end - pos
            if ml < match_length:
                match_length = ml
    if match_length <= slop:
        freq += 1.0 / (1.0 + match_length)
    return freq


def _sloppy_freqs(
    per_term: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    offsets_by_term: dict[str, list[int]],
    slop: int,
    resort: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-candidate-doc sloppy freq (fractional), repeats included.
    Candidates are the conjunction of all distinct phrase terms — already
    filtered by the caller. ``resort``: sort each per-doc leg (needed when
    the caller substituted flattened graph positions, which are not
    monotone in emission order)."""
    # leg layout: one leg per phrase position, in phrase-offset order;
    # legs of a repeated term share the raw position array
    leg_specs = sorted(
        (off, t) for t, offs in offsets_by_term.items() for off in offs
    )
    offsets = [off for off, _ in leg_specs]
    leg_terms = [t for _, t in leg_specs]
    groups = [
        [i for i, lt in enumerate(leg_terms) if lt == t]
        for t, offs in offsets_by_term.items()
        if len(offs) > 1
    ]
    # split each term's concatenated positions back per doc (RAW positions)
    by_doc: dict[int, dict[str, np.ndarray]] = {}
    for t in offsets_by_term:
        docs, pos_all, lens = per_term[t]
        starts = np.zeros(lens.size + 1, dtype=np.int64)
        np.cumsum(lens, out=starts[1:])
        for j, d in enumerate(docs):
            leg = pos_all[starts[j] : starts[j + 1]]
            if resort:
                leg = np.sort(leg)
            by_doc.setdefault(int(d), {})[t] = leg
    n_terms = len(offsets_by_term)
    ids, freqs = [], []
    for d, raw_by_term in by_doc.items():
        if len(raw_by_term) < n_terms:
            continue
        raw_legs = [raw_by_term[t] for t in leg_terms]
        fr = sloppy_phrase_freq_general(raw_legs, offsets, groups, slop)
        if fr > 0.0:
            ids.append(d)
            freqs.append(fr)
    return (
        np.asarray(ids, dtype=np.int64),
        np.asarray(freqs, dtype=np.float64),
    )


# ---------------------------------------------------------------------------
# MultiPhraseQuery — per-slot term alternatives
# (lucene/core/.../search/MultiPhraseQuery.java + UnionPostingsEnum): slot i
# of the phrase accepts ANY of a set of terms (the classic use: synonyms or
# analysis-graph alternatives inside a phrase). Pinned semantics:
#   match: start p such that for every slot i, SOME member of slot i occurs
#          at p + i (exact adjacency; slop>0 is gated out explicitly);
#   freq:  number of such starts (UnionPostingsEnum merges member positions,
#          then ExactPhraseMatcher counts as usual);
#   idf:   sum over every PRESENT (slot, member) term's idf, slot order then
#          member order — MultiPhraseWeight collects allTerms and sums
#          idfExplain; absent terms (df=0) are skipped as IndexSearcher
#          .termStatistics returns null for them.
# Spark restatement: per-slot leg = UNION of member (doc*M + pos - slot)
# keys (np.unique of the concatenation — exactly UnionPostingsEnum), then
# the same sorted-key intersection chain as the single-term exact matcher.
# ---------------------------------------------------------------------------


def _multi_exact_freqs(
    per_term: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    slots: list[tuple],
) -> tuple[np.ndarray, np.ndarray]:
    max_pos = 0
    for _, pos_all, _ in per_term.values():
        if pos_all.size:
            max_pos = max(max_pos, int(pos_all.max()))
    M = max_pos + 2

    legs: list[np.ndarray] = []
    for i, members in enumerate(slots):
        parts = []
        for t in members:
            got = per_term.get(t)
            if got is None:
                continue
            docs, pos_all, lens = got
            doc_rep = np.repeat(docs, lens)
            valid = pos_all >= i
            parts.append(doc_rep[valid] * M + (pos_all[valid] - i))
        if not parts:
            return np.array([], dtype=np.int64), np.array([], dtype=np.int64)
        legs.append(np.unique(np.concatenate(parts)))
    legs.sort(key=lambda a: a.size)  # rarest slot first
    base = legs[0]
    for leg in legs[1:]:
        if base.size == 0:
            break
        base = np.intersect1d(base, leg, assume_unique=True)
    if base.size == 0:
        return np.array([], dtype=np.int64), np.array([], dtype=np.int64)
    docs = base // M
    ids, freqs = np.unique(docs, return_counts=True)
    return ids.astype(np.int64), freqs


def _multi_sloppy_freqs(
    per_term: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    slots: list[tuple],
    slop: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Sloppy MultiPhraseQuery freqs: slot i is ONE leg whose raw
    positions are the sorted union of its members' in-doc positions
    (UnionPostingsEnum), offsets = slot indices, walked by the same
    SloppyPhraseMatcher kernel as plain phrases. Slots whose member sets
    intersect (transitively) form one repeat group."""
    n_slots = len(slots)
    # repeat groups: union-find over slots sharing a member term
    parent = list(range(n_slots))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(n_slots):
        for j in range(i + 1, n_slots):
            if set(slots[i]) & set(slots[j]):
                parent[find(j)] = find(i)
    roots: dict[int, list[int]] = {}
    for i in range(n_slots):
        roots.setdefault(find(i), []).append(i)
    groups = [g for g in roots.values() if len(g) > 1]

    # split each term's concatenated positions back per doc (RAW positions)
    by_doc: dict[int, dict[str, np.ndarray]] = {}
    for t, (docs, pos_all, lens) in per_term.items():
        starts = np.zeros(lens.size + 1, dtype=np.int64)
        np.cumsum(lens, out=starts[1:])
        for j, d in enumerate(docs):
            by_doc.setdefault(int(d), {})[t] = pos_all[starts[j] : starts[j + 1]]
    offsets = list(range(n_slots))
    ids, freqs = [], []
    for d, raw_by_term in by_doc.items():
        legs = []
        ok = True
        for members in slots:
            parts = [raw_by_term[t] for t in members if t in raw_by_term]
            if not parts:
                ok = False
                break
            legs.append(np.unique(np.concatenate(parts)))
        if not ok:
            continue
        fr = sloppy_phrase_freq_general(legs, offsets, groups, slop)
        if fr > 0.0:
            ids.append(d)
            freqs.append(fr)
    return (
        np.asarray(ids, dtype=np.int64),
        np.asarray(freqs, dtype=np.float64),
    )


def bucket_multi_phrase_freqs(
    pdf: pd.DataFrame, slots: list[tuple], slop: int = 0
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Multi-phrase occurrence counting for ONE doc-space bucket
    (slop=0: exact adjacency; slop>0: sloppy over slot-union legs).
    Same contract as bucket_phrase_freqs."""
    empty = (
        np.array([], dtype=np.int64),
        np.array([], dtype=np.int64),
        np.array([], dtype=np.uint8),
    )
    n_slots = len(slots)

    # candidate gate, vectorized per slot (slots are few, rows are many):
    # doc must carry >=1 member of EVERY slot
    doc_ids = pdf["doc_id"].to_numpy()
    terms = pdf["term"].to_numpy()
    pair_parts = []
    for i, members in enumerate(slots):
        hit = np.isin(terms, np.asarray(members, dtype=object))
        if hit.any():
            pair_parts.append(doc_ids[hit] * n_slots + i)
    if not pair_parts:
        return empty
    uniq_pairs = np.unique(np.concatenate(pair_parts).astype(np.int64))
    cand_docs, slot_counts = np.unique(uniq_pairs // n_slots, return_counts=True)
    cand = set(cand_docs[slot_counts == n_slots].tolist())
    if not cand:
        return empty
    sub = pdf.loc[pdf["doc_id"].isin(cand)]

    per_term: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    norm_by_doc: dict[int, int] = {}
    for t, g in sub.groupby("term", sort=False):
        docs = g["doc_id"].to_numpy()
        plists = [delta_decode(unpack_ints(b)).astype(np.int64) for b in g["pos_bin"]]
        lens = np.array([p.size for p in plists], dtype=np.int64)
        per_term[t] = (
            docs,
            np.concatenate(plists) if plists else np.array([], dtype=np.int64),
            lens,
        )
        for d, nb in zip(docs, g["norm_byte"].to_numpy()):
            norm_by_doc[int(d)] = int(nb)

    # On a synonym-graph index, MultiPhraseQuery runs over the FLATTENED
    # positions (Lucene indexes the flattened graph for multi-phrase too);
    # both kernels re-sort/unique per leg, so substitution is enough.
    if "end_bin" in sub.columns and sub["end_bin"].notna().any():
        from ..functions.synonyms import flatten_starts

        per_term = {
            t: (d_, flatten_starts(p_), l_)
            for t, (d_, p_, l_) in per_term.items()
        }

    if slop == 0:
        ids, freqs = _multi_exact_freqs(per_term, slots)
    else:
        ids, freqs = _multi_sloppy_freqs(per_term, slots, slop)
    if ids.size == 0:
        return empty
    norms = np.array([norm_by_doc[int(d)] for d in ids], dtype=np.uint8)
    return ids, freqs, norms


def multi_phrase_topk(
    spark: SparkSession,
    segment: Segment,
    slots: list,
    k: int = 10,
    slop: int = 0,
) -> DataFrame:
    """Top-k docs matching a MultiPhraseQuery (search.py#MultiSearcher
    .topk_multi_phrase on the segment's searcher). ``slop=0``: exact
    adjacency; ``slop>0``: sloppy matching with each slot treated as ONE
    pseudo-term whose raw positions are the sorted union of its members'
    positions (MultiPhraseQuery's UnionPostingsEnum), run through the same
    SloppyPhraseMatcher walk as plain phrases; slots whose member sets
    intersect (transitively) form a repeat group — their legs must occupy
    distinct raw positions, mirroring the repeating-pps discipline."""
    return Searcher(spark, segment).topk_multi_phrase(slots, k, slop)
