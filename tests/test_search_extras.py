"""searchAfter paging + explain — IndexSearcher#searchAfter / #explain
analogs, pinned against full result sets."""

from __future__ import annotations

import pytest

from lucene_solr_spark.corpus import synth_corpus
from lucene_solr_spark.operators.indexer import assign_doc_ids, build_index
from lucene_solr_spark.operators.search import Searcher

N_DOCS = 120
Q = "import return def"


@pytest.fixture(scope="module")
def seg(spark):
    c = synth_corpus(spark, N_DOCS, partitions=4)
    c = assign_doc_ids(c, ["repo", "path", "commit"])
    return build_index(spark, c, out_dir=None, bucket_docs=64)


def _hits(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def test_search_after_pages_cover_full_ranking(spark, seg):
    s = Searcher(spark, seg)
    full = _hits(s.topk(Q, k=N_DOCS, mode="exhaustive"))
    assert len(full) > 25
    # page through with k=10 cursors; concatenation must equal full order
    pages, cursor = [], None
    while True:
        page = (
            _hits(s.topk(Q, k=10))
            if cursor is None
            else _hits(s.topk_after(Q, cursor, k=10))
        )
        if not page:
            break
        pages.extend(page)
        cursor = (page[-1][1], page[-1][0])
        if len(pages) > len(full):
            break
    assert pages == full


def test_explain_matches_score(spark, seg):
    s = Searcher(spark, seg)
    top = _hits(s.topk(Q, k=5))
    for doc_id, score in top:
        ex = s.explain(Q, doc_id)
        assert ex["score"] == score, (doc_id, ex["score"], score)
        assert ex["matched_terms"] >= 1
        assert abs(sum(d["contribution"] for d in ex["details"]) - score) < 1e-5
        for d in ex["details"]:
            assert d["freq"] >= 1 and d["idf"] > 0


def test_explain_nonmatching_doc(spark, seg):
    s = Searcher(spark, seg)
    ex = s.explain("zzzqqqnever", 0)
    assert ex["score"] == 0.0 and ex["matched_terms"] == 0


def test_filter_cache_hits(spark, seg):
    """LRUQueryCache analog: the second identical constant-score filter is
    served from the cache (no rebuild), results unchanged."""
    from lucene_solr_spark.operators.search import Searcher

    s = Searcher(spark, seg)
    first = [(r["doc_id"], r["score"]) for r in s.topk_prefix("im", k=20).collect()]
    misses0 = s.filter_cache.misses
    second = [(r["doc_id"], r["score"]) for r in s.topk_prefix("im", k=20).collect()]
    assert second == first
    assert s.filter_cache.hits >= 1
    assert s.filter_cache.misses == misses0  # no rebuild on the repeat


def test_spell_suggest_ranked_by_distance_then_df(spark, seg):
    """DirectSpellChecker analog: candidates from the terms dict, ranked
    (distance asc, df desc, term asc); the input term itself excluded."""
    s = Searcher(spark, seg)
    rows = s.spell_suggest("improt", max_edits=2, k=5).collect()
    assert rows, "no suggestions for a near-miss of 'import'"
    assert rows[0]["term"] == "import"  # distance-2 transposition, high df
    assert all(r["term"] != "improt" for r in rows)
    keys = [(r["distance"], -r["df"], r["term"]) for r in rows]
    assert keys == sorted(keys)


def test_suggest_prefix_weight_order(spark, seg):
    s = Searcher(spark, seg)
    rows = s.suggest_prefix("re", k=10).collect()
    assert rows and all(r["term"].startswith("re") for r in rows)
    weights = [r["ttf"] for r in rows]
    assert weights == sorted(weights, reverse=True)


def test_fq_filters_without_changing_scores(spark, seg):
    """Solr fq semantics: results restricted to the filter set, scores
    and corpus stats untouched — identical to post-filtering the
    unfiltered full ranking. Checked for BOTH wand and exhaustive (the
    fq must also keep excluded docs out of the pruning threshold)."""
    s = Searcher(spark, seg)
    fq = "lang = 'python'"
    allowed = {
        int(r["doc_id"])
        for r in s.docmap.filter("lang = 'python'").select("doc_id").collect()
    }
    assert 0 < len(allowed) < seg.stats.n_docs
    full = _hits(s.topk(Q, k=N_DOCS, mode="exhaustive"))
    want = [(d, sc) for d, sc in full if d in allowed][:10]
    for mode in ("exhaustive", "wand"):
        got = _hits(s.topk(Q, k=10, mode=mode, fq=fq))
        assert got == want, f"fq mismatch in {mode}: {got[:3]} vs {want[:3]}"
    assert want, "fq fixture vacuous"


def test_fq_conjunction_and_cache(spark, seg):
    s = Searcher(spark, seg)
    fq = "lang = 'java' AND dl > 50"
    misses0 = s.filter_cache.misses
    a = _hits(s.topk(Q, k=10, op="and", fq=fq))
    b = _hits(s.topk(Q, k=10, op="and", fq=fq))
    assert a == b
    assert s.filter_cache.misses == misses0 + 1  # second call hit the cache
    allowed = {
        int(r["doc_id"]) for r in s.docmap.filter(fq).select("doc_id").collect()
    }
    assert all(d in allowed for d, _ in a)


def test_fq_empty_filter_set(spark, seg):
    s = Searcher(spark, seg)
    assert _hits(s.topk(Q, k=10, fq="lang = 'cobol'")) == []


def test_fq_with_search_after(spark, seg):
    """Deep paging under a filter: pages concatenate to the filtered
    full ranking."""
    s = Searcher(spark, seg)
    fq = "lang = 'python'"
    full = _hits(s.topk(Q, k=N_DOCS, mode="exhaustive", fq=fq))
    assert len(full) > 10
    page1 = _hits(s.topk(Q, k=10, fq=fq))
    last_doc, last_score = page1[-1]
    page2 = _hits(s.topk_after(Q, after=(last_score, last_doc), k=10, fq=fq))
    assert page1 + page2 == full[:20]


def test_match_docs_and_facet(spark, seg):
    """DocSet + facet.field over the result set: facet counts must equal
    a direct recount over the matching docs."""
    s = Searcher(spark, seg)
    docs = {int(r["doc_id"]) for r in s.match_docs(Q, op="and").collect()}
    per_term = [
        {int(r["doc_id"]) for r in s.match_docs(t).collect()}
        for t in Q.split()
    ]
    assert docs == set.intersection(*per_term) and docs
    facets = s.facet_field(Q, "lang", op="and").collect()
    want = {}
    for r in s.docmap.select("doc_id", "lang").collect():
        if int(r["doc_id"]) in docs:
            want[r["lang"]] = want.get(r["lang"], 0) + 1
    got = {r["lang"]: r["count"] for r in facets}
    assert got == want
    counts = [r["count"] for r in facets]
    assert counts == sorted(counts, reverse=True)


def test_ranked_passages_prefer_rare_dense_cluster(spark):
    """UnifiedHighlighter PassageScorer analog: rank_passages=True picks
    the window with the highest summed-idf hit density, not the earliest
    hit; default mode keeps earliest-first (engine-row behavior pinned)."""
    from lucene_solr_spark.operators.highlight import highlight
    from lucene_solr_spark.operators.indexer import build_index

    common, rare = "merge", "quasar"
    filler = "alpha beta gamma delta epsilon zeta eta theta"
    # doc 0: one early common hit, then a late dense cluster with the rare
    # term; several other docs make 'quasar' rare and 'merge' common
    text0 = (
        f"{common} {filler} {filler} {filler} "
        f"{rare} {common} {rare} {filler}"
    )
    rows = [("r", "d0", "c", "t", text0, 0)] + [
        ("r", f"d{i}", "c", "t", f"{common} {filler}", i) for i in range(1, 6)
    ]
    corpus = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string, doc_id long",
    )
    seg = build_index(spark, corpus, out_dir=None, bucket_docs=8,
                      with_positions=True)
    q = f"{common} {rare}"
    ranked = highlight(
        spark, seg, q, [0], window=5, max_snippets=1, rank_passages=True
    ).collect()[0]
    default = highlight(
        spark, seg, q, [0], window=5, max_snippets=1
    ).collect()[0]
    assert rare in ranked["snippet"]           # dense rare cluster wins
    assert rare not in default["snippet"]      # earliest-first stays put
    assert "<em>" in ranked["snippet"] and ranked["n_hits"] == 4


def test_fuzzy_transpositions_osa(spark):
    """FuzzyQuery transpositions=true: OSA metric (Lucene default) — a
    transposed probe finds the term plain Levenshtein misses; the 2-tuple
    legacy form stays plain-Levenshtein (engine rows pinned)."""
    from lucene_solr_spark.operators.indexer import build_index
    from lucene_solr_spark.operators.search import Searcher, osa_distance

    assert osa_distance("mrege", "merge") == 1
    assert osa_distance("ca", "abc") == 3  # OSA, not unrestricted Damerau
    rows = [("r", f"d{i}", "c", "t", txt, i) for i, txt in enumerate(
        ["merge sort data", "marge likes tables", "purge the cache"]
    )]
    corpus = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string, doc_id long",
    )
    s = Searcher(spark, build_index(spark, corpus, out_dir=None, bucket_docs=8))
    assert s.expand_terms(fuzzy=("mrege", 1)) == []
    assert s.expand_terms(fuzzy=("mrege", 1, True)) == ["merge"]
    assert sorted(s.expand_terms(fuzzy=("marge", 1, True))) == ["marge", "merge"]


def test_multisearcher_refuses_empty_segment_list(spark):
    """A typed refusal, not a bare assert that ``python -O`` strips."""
    from lucene_solr_spark.operators.search import MultiSearcher

    with pytest.raises(ValueError, match="at least one segment"):
        MultiSearcher(spark, [])

