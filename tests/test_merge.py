"""Segment merge / deletes / multi-segment search — SegmentMerger,
TieredMergePolicy, PendingDeletes and TopDocs#merge analogs.

Key equivalence (the reference's own test pattern, SURVEY.md §5.1
"Distributed == single-node control"): an index built as TWO segments and
searched via MultiSearcher, or merged back into ONE segment, must produce
exactly the results of the single-segment build over the same corpus.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.corpus import synth_corpus
from lucene_solr_spark.operators.checker import check_segment
from lucene_solr_spark.operators.indexer import assign_doc_ids, build_index
from lucene_solr_spark.operators.merge import (
    decode_postings,
    delete_by_query,
    find_merges,
    maybe_compact,
    merge_segments,
)
from lucene_solr_spark.operators.search import MultiSearcher, Searcher
from lucene_solr_spark.sources.catalog import Catalog, Segment, SegmentStats

N_DOCS = 200
QUERIES = ["import return def", "getnode parseindex", "public self merge"]


@pytest.fixture(scope="module")
def corpus_full(spark):
    c = synth_corpus(spark, N_DOCS, partitions=4)
    return assign_doc_ids(c, ["repo", "path", "commit"]).persist()


@pytest.fixture(scope="module")
def seg_full(spark, corpus_full):
    return build_index(spark, corpus_full, out_dir=None, bucket_docs=64)


@pytest.fixture(scope="module")
def catalog_two(spark, corpus_full, tmp_path_factory):
    """Two on-disk segments splitting the corpus at the doc-id midpoint,
    each re-assigned dense local ids (a fresh per-segment build)."""
    root = str(tmp_path_factory.mktemp("cat"))
    cat = Catalog(root)
    half = N_DOCS // 2
    for i, pred in enumerate(
        [F.col("doc_id") < half, F.col("doc_id") >= half]
    ):
        part = corpus_full.filter(pred).drop("doc_id")
        build_index(
            spark, part, out_dir=root, bucket_docs=64, segment_id=f"seg{i}"
        )
    return cat


def _hits(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def test_multisearcher_equals_single_segment(spark, seg_full, catalog_two):
    single = Searcher(spark, seg_full)
    multi = MultiSearcher.from_catalog(spark, catalog_two)
    assert multi.n_docs == seg_full.stats.n_docs
    assert abs(multi.avgdl - seg_full.stats.avgdl) < 1e-9
    for q in QUERIES:
        a = _hits(single.topk(q, k=10, mode="wand"))
        b = [
            (int(r["gdoc_id"]), float(r["score"]))
            for r in multi.topk(q, k=10, mode="wand").collect()
        ]
        assert a == b, f"multi != single for {q!r}"


def test_merge_two_segments_equals_single(spark, seg_full, catalog_two, tmp_path):
    segs = sorted(catalog_two.segments(), key=lambda s: s.segment_id)
    merged = merge_segments(
        spark,
        segs,
        out_dir=str(tmp_path),
        bucket_docs=64,
        drop_sources=False,
    )
    assert merged.stats.n_docs == seg_full.stats.n_docs
    assert merged.stats.sum_ttf == seg_full.stats.sum_ttf
    assert merged.stats.n_terms == seg_full.stats.n_terms
    assert merged.stats.n_postings == seg_full.stats.n_postings
    check_segment(spark, merged)
    s_m, s_f = Searcher(spark, merged), Searcher(spark, seg_full)
    for q in QUERIES:
        assert _hits(s_m.topk(q, k=10)) == _hits(s_f.topk(q, k=10))


def test_decode_roundtrip(spark, seg_full):
    dec = decode_postings(seg_full.table(spark, "postings"))
    tot = dec.agg(F.count("*"), F.sum("freq")).collect()[0]
    assert int(tot[0]) == seg_full.stats.n_postings
    # ttf preserved
    ttf = (
        seg_full.table(spark, "terms").agg(F.sum("ttf")).collect()[0][0]
    )
    assert int(tot[1]) == int(ttf)


def test_deletes_then_compaction(spark, corpus_full, tmp_path):
    cat = Catalog(str(tmp_path))
    half = N_DOCS // 2
    for i, pred in enumerate([F.col("doc_id") < half, F.col("doc_id") >= half]):
        build_index(
            spark,
            corpus_full.filter(pred).drop("doc_id"),
            out_dir=cat.root,
            bucket_docs=64,
            segment_id=f"d{i}",
        )
    n_del = delete_by_query(spark, cat, F.col("lang") == "go")
    assert n_del > 0
    deleted_langs = set()
    ms = MultiSearcher.from_catalog(spark, cat)
    # stats still include deleted docs (Lucene liveDocs semantics)
    assert ms.n_docs == N_DOCS
    hits = ms.topk("import return def", k=50).collect()
    assert hits
    for seg in cat.segments():
        dm = {r["doc_id"]: r["lang"] for r in seg.table(spark, "docmap").collect()}
        for r in hits:
            if r["segment_id"] == seg.segment_id:
                deleted_langs.add(dm[r["doc_id"]])
    assert "go" not in deleted_langs

    # compaction drops tombstoned docs, purges tombstones, shrinks the index
    merged = maybe_compact(spark, cat, bucket_docs=64, size_ratio=4.0)
    assert len(merged) == 1
    segs = cat.segments()
    assert len(segs) == 1 and segs[0].segment_id == merged[0].segment_id
    assert segs[0].stats.n_docs == N_DOCS - n_del
    assert cat.deletes(spark).count() == 0
    check_segment(spark, Segment.load(segs[0].path))
    s = Searcher(spark, segs[0])
    langs = {
        r["lang"]
        for r in s.topk_with_fields("import return def", k=50).collect()
    }
    assert "go" not in langs


def test_find_merges_tiers():
    def seg(n):
        return Segment(segment_id=f"s{n}", stats=SegmentStats(n_docs=n))

    groups = find_merges([seg(100), seg(110), seg(95), seg(10_000)])
    sizes = [[s.stats.n_docs for s in g] for g in groups]
    assert sizes == [[95, 100, 110]]
    assert find_merges([seg(100)]) == []


# ---------------------------------------------------------------------------
# Distributed Boolean-tree / phrase search (MultiSearcher.topk_query):
# global stats must make the scatter-gather bit-identical to one segment.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def seg_full_pos(spark, corpus_full):
    return build_index(
        spark, corpus_full, out_dir=None, bucket_docs=64, with_positions=True
    )


@pytest.fixture(scope="module")
def catalog_two_pos(spark, corpus_full, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("catp"))
    cat = Catalog(root)
    half = N_DOCS // 2
    for i, pred in enumerate(
        [F.col("doc_id") < half, F.col("doc_id") >= half]
    ):
        part = corpus_full.filter(pred).drop("doc_id")
        build_index(
            spark,
            part,
            out_dir=root,
            bucket_docs=64,
            segment_id=f"seg{i}",
            with_positions=True,
        )
    return cat


def test_multisearcher_tree_equals_single(spark, seg_full, catalog_two):
    from lucene_solr_spark.operators.query import Bool, Term

    single = Searcher(spark, seg_full)
    multi = MultiSearcher.from_catalog(spark, catalog_two)
    trees = [
        Bool(should=(Term("import"), Term("return"), Term("def"))),
        Bool(must=(Term("import"),), must_not=(Term("merge"),)),
        Bool(
            should=(Term("import"), Term("return"), Term("public")),
            min_should_match=2,
        ),
        Bool(
            must=(Bool(should=(Term("import"), Term("public"))),),
            should=(Term("return", boost=2.0),),
        ),
    ]
    from lucene_solr_spark.operators.query import Synonym

    trees.append(Bool(should=(Synonym(("import", "return")), Term("public"))))
    trees.append(Bool(must=(Synonym(("def", "public")),)))
    for q in trees:
        a = _hits(single.topk_query(q, k=10))
        b = [
            (int(r["gdoc_id"]), float(r["score"]))
            for r in multi.topk_query(q, k=10).collect()
        ]
        assert a == b and a, f"multi tree != single for {q!r}"


def test_multisearcher_phrase_tree_equals_single(spark, seg_full_pos, catalog_two_pos):
    from lucene_solr_spark.operators.query import Bool, Phrase, Term

    single = Searcher(spark, seg_full_pos)
    multi = MultiSearcher.from_catalog(spark, catalog_two_pos)
    corpus_pair = ("import", "return")
    trees = [
        Bool(must=(Phrase(corpus_pair),), should=(Term("public"),)),
        Bool(should=(Phrase(corpus_pair, slop=2), Term("merge"))),
        Phrase(corpus_pair),
    ]
    any_hits = False
    for q in trees:
        a = _hits(single.topk_query(q, k=10))
        b = [
            (int(r["gdoc_id"]), float(r["score"]))
            for r in multi.topk_query(q, k=10).collect()
        ]
        assert a == b, f"multi phrase tree != single for {q!r}"
        any_hits = any_hits or bool(a)
    assert any_hits, "all phrase trees vacuous — fixture terms wrong"


def test_multisearcher_fq_equals_single(spark, seg_full, catalog_two):
    """Distributed q+fq: MultiSearcher with an fq must equal the
    single-segment fq result (global ids line up by construction)."""
    from lucene_solr_spark.operators.query import Bool, Term

    single = Searcher(spark, seg_full)
    multi = MultiSearcher.from_catalog(spark, catalog_two)
    fq = "lang = 'python'"
    a = _hits(single.topk("import return", k=10, fq=fq))
    b = [
        (int(r["gdoc_id"]), float(r["score"]))
        for r in multi.topk("import return", k=10, fq=fq).collect()
    ]
    assert a == b and a
    q = Bool(must=(Term("import"),), should=(Term("public"),))
    c = _hits(single.topk_query(q, k=10, fq=fq))
    d = [
        (int(r["gdoc_id"]), float(r["score"]))
        for r in multi.topk_query(q, k=10, fq=fq).collect()
    ]
    assert c == d and c


def test_staged_merge_returns_usable_handle(spark, tmp_path):
    """The Segment returned by a staged catalog merge reads from the
    FINAL path (the staging dir was renamed away)."""
    from lucene_solr_spark.corpus import stamp_sha256
    from lucene_solr_spark.operators.indexer import build_index
    from lucene_solr_spark.operators.search import Searcher
    from lucene_solr_spark.sources.catalog import Catalog

    schema = (
        "doc_id long, repo string, path string, commit string, "
        "lang string, content string"
    )
    root = str(tmp_path / "cat")
    cat = Catalog(root)
    a = spark.createDataFrame([(0, "r", "a", "c", "en", "order batch")], schema)
    b = spark.createDataFrame([(1, "r", "b", "c", "en", "stream order")], schema)
    build_index(spark, stamp_sha256(a), out_dir=root, segment_id="s0")
    build_index(spark, stamp_sha256(b), out_dir=root, segment_id="s1")
    cat.commit_swap(add=["s0", "s1"])
    m = merge_segments(spark, cat.segments(), catalog=cat)
    assert m.table(spark, "docmap").count() == 2  # no staging-path crash
    assert Searcher(spark, m).topk("order", k=5).count() == 2


def test_catalog_merge_refuses_foreign_out_dir(spark, tmp_path):
    """catalog= plus an out_dir outside catalog.root would drop sources
    without committing the merge anywhere — refused."""
    from lucene_solr_spark.corpus import stamp_sha256
    from lucene_solr_spark.operators.indexer import build_index
    from lucene_solr_spark.sources.catalog import Catalog

    schema = (
        "doc_id long, repo string, path string, commit string, "
        "lang string, content string"
    )
    root = str(tmp_path / "cat2")
    cat = Catalog(root)
    a = spark.createDataFrame([(0, "r", "a", "c", "en", "order")], schema)
    build_index(spark, stamp_sha256(a), out_dir=root, segment_id="s0")
    cat.commit_swap(add=["s0"])
    with pytest.raises(ValueError, match="catalog merges must write"):
        merge_segments(
            spark, cat.segments(), catalog=cat,
            out_dir=str(tmp_path / "elsewhere"),
        )
    assert [s.segment_id for s in cat.segments()] == ["s0"]  # nothing lost
    # other spellings of catalog.root name the catalog's own dir: accepted
    for same in (root + os.sep, os.path.relpath(root)):
        merged = merge_segments(spark, cat.segments(), catalog=cat, out_dir=same)
        assert [s.segment_id for s in cat.segments()] == [merged.segment_id]
        assert merged.stats.n_docs == 1


def test_delete_by_query_idempotent(spark, tmp_path):
    """Re-deleting already-tombstoned docs writes nothing and counts 0
    (liveDocs bit semantics)."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.corpus import stamp_sha256
    from lucene_solr_spark.operators.indexer import build_index
    from lucene_solr_spark.operators.merge import delete_by_query
    from lucene_solr_spark.sources.catalog import Catalog

    schema = (
        "doc_id long, repo string, path string, commit string, "
        "lang string, content string"
    )
    root = str(tmp_path / "cat3")
    cat = Catalog(root)
    a = spark.createDataFrame(
        [(0, "r", "a", "c", "en", "x"), (1, "r", "b", "c", "de", "y")], schema
    )
    build_index(spark, stamp_sha256(a), out_dir=root, segment_id="s0")
    cat.commit_swap(add=["s0"])
    assert delete_by_query(spark, cat, F.col("lang") == "en") == 1
    assert delete_by_query(spark, cat, F.col("lang") == "en") == 0
    assert cat.deletes(spark).count() == 1  # no duplicate tombstones


def test_assign_ids_refuses_null_and_duplicate_keys(spark):
    from lucene_solr_spark.operators.indexer import assign_doc_ids

    schema = (
        "repo string, path string, commit string, lang string, content string"
    )
    with pytest.raises(ValueError, match="NULL"):
        assign_doc_ids(
            spark.createDataFrame([("r", None, "c", "en", "x")], schema),
            ["repo", "path", "commit"],
        ).count()
    with pytest.raises(ValueError, match="not unique"):
        assign_doc_ids(
            spark.createDataFrame(
                [("r", "a", "c", "en", "x"), ("r", "a", "c", "en", "y")],
                schema,
            ),
            ["repo", "path", "commit"],
        ).count()
