"""queryResultCache + queryResultWindowSize analog
(operators/search.py#QueryResultCache): identical results, driver-served
hits (no postings scan), window paging, larger-k refresh, and LRU
bounds. Reference: solr/core/.../search/SolrIndexSearcher.java
(queryResultCache), solrconfig queryResultWindowSize."""

from __future__ import annotations

import numpy as np
import pytest

from lucene_solr_spark.corpus import synth_corpus
from lucene_solr_spark.operators.indexer import assign_doc_ids, build_index
from lucene_solr_spark.operators.query import Bool, Term
from lucene_solr_spark.operators.search import Searcher

N_DOCS = 120


@pytest.fixture(scope="module")
def seg(spark):
    c = synth_corpus(spark, N_DOCS, partitions=4)
    return build_index(
        spark, assign_doc_ids(c, ["repo", "path", "commit"]), out_dir=None,
        bucket_docs=64,
    )


def _rows(df):
    return [(r["doc_id"], np.float32(r["score"])) for r in df.collect()]


def _last_job(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None),
               default=-1)


def _jobs_since(spark, last: int) -> int:
    """Jobs started after job id ``last`` (the status store keeps a
    bounded job history, so a plain count of it stops growing)."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return sum(1 for j in ids if j > last)


def test_hit_serves_identical_results_without_scan(spark, seg):
    s = Searcher(spark, seg)
    baseline = _rows(s.topk("import return", k=10))
    rc = s.enable_result_cache(window=20)
    first = _rows(s.topk("import return", k=10))
    assert first == baseline
    assert rc.misses == 1 and rc.hits == 0
    last = _last_job(spark)
    second = _rows(s.topk("import return", k=10))
    jobs_on_hit = _jobs_since(spark, last)
    assert second == baseline
    assert rc.hits == 1
    # hit path: only the trivial local createDataFrame collect — no
    # terms-dict scan, no postings scoring job
    assert jobs_on_hit <= 1, f"cache hit launched {jobs_on_hit} jobs"


def test_window_serves_larger_k_within_window(spark, seg):
    s = Searcher(spark, seg)
    rc = s.enable_result_cache(window=20)
    s.topk("import return", k=5).collect()
    got = _rows(s.topk("import return", k=15))   # still inside window=20
    assert rc.hits == 1 and len(got) == 15
    want = _rows(Searcher(spark, seg).topk("import return", k=15))
    assert got == want


def test_k_beyond_window_refreshes(spark, seg):
    s = Searcher(spark, seg)
    rc = s.enable_result_cache(window=8)
    s.topk("import return", k=5).collect()
    got = _rows(s.topk("import return", k=30))   # beyond window -> miss
    assert rc.misses == 2
    want = _rows(Searcher(spark, seg).topk("import return", k=30))
    assert got == want
    # the refreshed entry now serves k=30
    again = _rows(s.topk("import return", k=30))
    assert again == want and rc.hits == 1


def test_exhausted_results_serve_any_k(spark, seg):
    s = Searcher(spark, seg)
    rc = s.enable_result_cache(window=10_000)
    n = s.topk("import", k=10_000).count()       # fewer hits than window
    huge = _rows(s.topk("import", k=99_999))     # complete -> any k hits
    assert len(huge) == n and rc.hits == 1


def test_distinct_params_are_distinct_keys(spark, seg):
    s = Searcher(spark, seg)
    rc = s.enable_result_cache(window=20)
    s.topk("import return", k=5).collect()
    s.topk("import return", k=5, op="and").collect()
    s.topk("import return", k=5, mode="exhaustive").collect()
    assert rc.misses == 3 and rc.hits == 0


def test_tree_queries_cache_by_canonical_repr(spark, seg):
    s = Searcher(spark, seg)
    rc = s.enable_result_cache(window=20)
    q = Bool(must=(Term("import"),), should=(Term("return", boost=2.0),))
    a = _rows(s.topk_query(q, k=10))
    b = _rows(s.topk_query(q, k=10))
    assert a == b and rc.hits == 1 and rc.misses == 1


def test_lru_eviction(spark, seg):
    s = Searcher(spark, seg)
    rc = s.enable_result_cache(max_entries=2, window=10)
    for q in ("import", "return", "self"):
        s.topk(q, k=3).collect()
    assert len(rc._entries) == 2
    s.topk("import", k=3).collect()              # evicted -> miss again
    assert rc.misses == 4


def test_fq_is_part_of_the_key(spark, seg):
    """A filtered and an unfiltered request must never share an entry."""
    s = Searcher(spark, seg)
    rc = s.enable_result_cache(window=20)
    unfiltered = _rows(s.topk("import return", k=10))
    filtered = _rows(s.topk("import return", k=10, fq="lang = 'python'"))
    assert rc.misses == 2 and rc.hits == 0
    # and each key replays its own entry
    assert _rows(s.topk("import return", k=10)) == unfiltered
    assert _rows(s.topk("import return", k=10, fq="lang = 'python'")) == filtered
    assert rc.hits == 2
