"""Span queries (spans module analog) — engine per-bucket kernel vs the
scalar token-list oracle, plus the pinned equivalences:
SpanNear(ordered, slop=0) == exact PhraseQuery for a 2-term phrase."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

from lucene_solr_spark.corpus import synth_corpus
from lucene_solr_spark.operators.indexer import assign_doc_ids, build_index
from lucene_solr_spark.operators.phrase import phrase_topk
from lucene_solr_spark.operators.search import MultiSearcher
from lucene_solr_spark.operators.spans import (
    SpanContaining,
    SpanFirst,
    SpanPositionRange,
    SpanNear,
    SpanNot,
    SpanOr,
    SpanTerm,
    SpanWithin,
    span_topk,
)

from .oracle import OracleIndex
from .oracle_spans import topk_span

N_DOCS = 150


@pytest.fixture(scope="module")
def corpus(spark):
    c = synth_corpus(spark, N_DOCS, partitions=4)
    return assign_doc_ids(c, ["repo", "path", "commit"]).persist()


@pytest.fixture(scope="module")
def seg(spark, corpus):
    return build_index(
        spark, corpus, out_dir=None, bucket_docs=64, with_positions=True
    )


@pytest.fixture(scope="module")
def oracle(corpus):
    rows = corpus.select("doc_id", "content").collect()
    return OracleIndex([(int(r["doc_id"]), r["content"]) for r in rows])


@pytest.fixture(scope="module")
def vocab(oracle):
    counts = Counter(t for toks in oracle.tokens.values() for t in toks)
    common = [t for t, _ in counts.most_common(5)]
    pairs = Counter()
    for toks in oracle.tokens.values():
        for a, b in zip(toks, toks[1:]):
            if a != b:
                pairs[(a, b)] += 1
    pair = pairs.most_common(1)[0][0]
    return pair, common


def _queries(vocab):
    (a, b), common = vocab
    c = next(t for t in common if t not in (a, b))
    return {
        "near_ordered_exact": SpanNear((SpanTerm(a), SpanTerm(b)), slop=0),
        "near_ordered_slop3": SpanNear((SpanTerm(a), SpanTerm(c)), slop=3),
        "near_unordered": SpanNear(
            (SpanTerm(b), SpanTerm(a)), slop=2, in_order=False
        ),
        "span_or": SpanOr((SpanTerm(a), SpanTerm(c))),
        "span_first": SpanFirst(SpanTerm(a), 12),
        "position_range": SpanPositionRange(SpanTerm(a), 3, 15),
        "nested_position_range": SpanPositionRange(
            SpanNear((SpanTerm(a), SpanTerm(b)), slop=1), 2, 25
        ),
        "or_in_near": SpanNear(
            (SpanOr((SpanTerm(a), SpanTerm(b))), SpanTerm(c)), slop=4
        ),
        "nested_first": SpanFirst(
            SpanNear((SpanTerm(a), SpanTerm(b)), slop=1), 20
        ),
        "absent_required": SpanNear((SpanTerm(a), SpanTerm("zzzz")), slop=5),
        "or_with_absent": SpanOr((SpanTerm(a), SpanTerm("zzzz"))),
        "three_clause": SpanNear(
            (SpanTerm(a), SpanTerm(b), SpanTerm(c)), slop=6
        ),
        "three_unordered": SpanNear(
            (SpanTerm(c), SpanTerm(a), SpanTerm(b)), slop=6, in_order=False
        ),
        "not_term": SpanNot(SpanTerm(a), SpanTerm(b), pre=1, post=1),
        "not_near": SpanNot(
            SpanNear((SpanTerm(a), SpanTerm(c)), slop=4), SpanTerm(b)
        ),
        "not_absent_exclude": SpanNot(SpanTerm(a), SpanTerm("zzzz")),
        "containing": SpanContaining(
            SpanNear((SpanTerm(a), SpanTerm(c)), slop=6), SpanTerm(b)
        ),
        "within": SpanWithin(
            SpanNear((SpanTerm(a), SpanTerm(c)), slop=6, in_order=False),
            SpanTerm(b),
        ),
    }


NAMES = sorted(_queries((("a", "b"), ["c", "d", "e", "f", "g"])))


@pytest.mark.parametrize("name", NAMES)
def test_span_matches_oracle(spark, seg, oracle, vocab, name):
    q = _queries(vocab)[name]
    got = [
        (r["doc_id"], np.float32(r["score"]))
        for r in span_topk(spark, seg, q, k=10).collect()
    ]
    want = [(d, np.float32(s)) for d, s in topk_span(oracle, q, k=10)]
    assert got == want, f"{name}: {got[:3]} vs {want[:3]}"
    if name != "absent_required":
        assert got, f"{name}: vacuous (no hits) — vocab fixture broken"


def test_ordered_slop0_equals_exact_phrase(spark, seg, vocab):
    """SpanNear(ordered, slop=0) over 2 distinct terms must be bit-identical
    to the exact PhraseQuery path (same freq, same summed idf)."""
    (a, b), _ = vocab
    spans = [
        (r["doc_id"], np.float32(r["score"]))
        for r in span_topk(
            spark, seg, SpanNear((SpanTerm(a), SpanTerm(b)), slop=0), k=10
        ).collect()
    ]
    phr = [
        (r["doc_id"], np.float32(r["score"]))
        for r in phrase_topk(spark, seg, f"{a} {b}", k=10).collect()
    ]
    assert spans == phr and spans


def test_deleted_excluded(spark, seg, oracle, vocab):
    (a, b), _ = vocab
    q = SpanNear((SpanTerm(a), SpanTerm(b)), slop=0)
    full = topk_span(oracle, q, k=5)
    assert full
    ms = MultiSearcher(spark, [seg], deletes=spark.createDataFrame(
        [(seg.segment_id, full[0][0])], "segment_id string, doc_id long"
    ))
    got = [r["doc_id"] for r in ms.span_topk(q, k=5).collect()]
    assert full[0][0] not in got and got


# ---------------------------------------------------------------------------
# Multi-segment spans (MultiReader shape): a 2-way doc-range split must
# rank float32-identically to the single segment — global df/N/sum_ttf
# combine exactly (same ExactStatsCache discipline as MultiSearcher).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def split_segs(spark, corpus):
    mid = N_DOCS // 2
    return [
        build_index(
            spark, corpus.filter(f"doc_id {op} {mid}"), out_dir=None,
            bucket_docs=64, with_positions=True,
        )
        for op in ("<", ">=")
    ]


@pytest.mark.parametrize(
    "name", ["near_ordered_slop3", "near_unordered", "or_in_near",
             "not_near", "position_range"],
)
def test_split_segments_rank_like_merged(spark, seg, split_segs, vocab, name):
    q = _queries(vocab)[name]
    single = [
        (r["doc_id"], np.float32(r["score"]))
        for r in span_topk(spark, seg, q, k=10).collect()
    ]
    split = [
        (r["doc_id"], np.float32(r["score"]))
        for r in span_topk(spark, split_segs, q, k=10).collect()
    ]
    assert split == single and split


def test_split_mixed_graph_plain_segment(spark, seg, corpus, vocab):
    """One split half built WITH a synonym graph, the other plain: a span
    query over terms OUTSIDE the rules must still rank exactly like the
    all-plain single segment (plain rows pass the flattened view
    unchanged; rule-injected tokens sit at fresh addresses and never
    collide with literal positions)."""
    from lucene_solr_spark.functions.synonyms import parse_synonym_rules

    (a, b), _ = vocab
    mid = N_DOCS // 2
    rules = parse_synonym_rules(["zzsyn => zzexpansion"])  # touches nothing
    graph_half = build_index(
        spark, corpus.filter(f"doc_id < {mid}"), out_dir=None,
        bucket_docs=64, with_positions=True, synonyms=rules,
    )
    plain_half = build_index(
        spark, corpus.filter(f"doc_id >= {mid}"), out_dir=None,
        bucket_docs=64, with_positions=True,
    )
    q = SpanNear((SpanTerm(a), SpanTerm(b)), slop=3)
    single = [
        (r["doc_id"], np.float32(r["score"]))
        for r in span_topk(spark, seg, q, k=10).collect()
    ]
    mixed = [
        (r["doc_id"], np.float32(r["score"]))
        for r in span_topk(spark, [graph_half, plain_half], q, k=10).collect()
    ]
    assert mixed == single and mixed


def test_unordered_overlap_slack_clamped():
    """Overlapping clause spans in an unordered near never produce a
    negative slack (no ZeroDivision, no negative freq)."""
    import numpy as np

    from lucene_solr_spark.operators.spans import (
        SpanNear,
        SpanTerm,
        span_freq,
    )

    pos = {"a": np.array([0]), "b": np.array([1])}
    node = SpanNear(
        (SpanNear((SpanTerm("a"), SpanTerm("b")), 0, True), SpanTerm("b")),
        slop=0,
        in_order=False,
    )
    f = span_freq(node, pos)
    assert f >= 0.0 and f == 1.0  # clamped slack 0 -> weight 1


def test_span_near_degenerate_clause_counts():
    from lucene_solr_spark.operators.spans import (
        _ordered_matches,
        _unordered_matches,
    )

    assert _ordered_matches([], 0) == []
    assert _unordered_matches([], 0) == []
    one = [[(0, 1), (3, 4)]]
    assert _unordered_matches(one, 0) == [((0, 1), 0), ((3, 4), 0)]
    assert _ordered_matches(one, 0) == [((0, 1), 0), ((3, 4), 0)]


def test_span_first_keeps_sloppy_width():
    """SpanFirst/SpanPositionRange pass the inner match's width through
    (SpanPositionCheckQuery keeps the underlying scorer's width)."""
    import numpy as np

    from lucene_solr_spark.operators.spans import (
        SpanFirst,
        SpanNear,
        SpanPositionRange,
        SpanTerm,
        span_freq,
    )

    pos = {"a": np.array([0]), "b": np.array([2])}
    near = SpanNear((SpanTerm("a"), SpanTerm("b")), slop=2, in_order=True)
    assert span_freq(SpanFirst(near, 10), pos) == 0.5  # slack 1 kept
    assert span_freq(SpanPositionRange(near, 0, 10), pos) == 0.5
