"""Distributed tombstones (index/PendingDeletes.java analog, r02 VERDICT #3/#4):

- MultiSearcher must never collect the delete set to the driver: tombstones
  ride the scorer cogroup slot as per-(segment, bucket) DataFrames, exactly
  like fq_docs. Semantics pinned here against a post-filter oracle (scores
  are unchanged by deletes — Lucene keeps stats until merge — so filtering
  an undeleted full ranking is an exact ground truth).
- Catalog.purge_deletes must rewrite via DataFrame ops (no driver round-trip).
- MultiSearcher.term_stats/expand_terms must compile to ONE scan node no
  matter how many segments exist (index/MultiTermsEnum.java merged enum) —
  plan size constant in segment count.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.corpus import synth_corpus
from lucene_solr_spark.operators.indexer import assign_doc_ids, build_index
from lucene_solr_spark.operators.search import MultiSearcher, Searcher
from lucene_solr_spark.sources.catalog import Catalog, Segment, SegmentStats

N_DOCS = 240
# drops about half of every ranking, so a leaf that ignored the fq fails
FQ_ODD = "doc_id % 2 = 1"


@pytest.fixture(scope="module")
def corpus(spark):
    c = synth_corpus(spark, N_DOCS, partitions=4)
    return assign_doc_ids(c, ["repo", "path", "commit"]).persist()


@pytest.fixture(scope="module")
def cat2(spark, corpus, tmp_path_factory):
    """Two positional on-disk segments splitting the corpus at the midpoint."""
    root = str(tmp_path_factory.mktemp("ddel"))
    cat = Catalog(root)
    half = N_DOCS // 2
    for i, pred in enumerate([F.col("doc_id") < half, F.col("doc_id") >= half]):
        part = corpus.filter(pred).drop("doc_id")
        build_index(
            spark, part, out_dir=root, bucket_docs=64,
            segment_id=f"seg{i}", with_positions=True,
        )
    return cat


def _del_df(spark, cat2, spark_filter):
    """Synthetic tombstone set: every doc matching the predicate, per segment."""
    parts = []
    for s in cat2.segments():
        dm = s.stored_fields(spark).filter(spark_filter)
        parts.append(
            dm.select(F.lit(s.segment_id).alias("segment_id"), "doc_id")
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u


def _expected_topk(ms_nodel, query, deleted_gids, k, fq=None, tree=False):
    """Ground truth: full undeleted ranking, post-filtered. Valid because
    deletes are mask-only (stats untouched)."""
    if tree:
        full = ms_nodel.search(query, k=10_000, fq=fq)
    else:
        full = ms_nodel.topk(query, k=10_000, fq=fq)
    rows = [
        (r["segment_id"], int(r["doc_id"]), int(r["gdoc_id"]), float(r["score"]))
        for r in full.collect()
        if (r["segment_id"], int(r["doc_id"])) not in deleted_gids
    ]
    return rows[:k]


@pytest.fixture(scope="module")
def big_deletes(spark, cat2):
    """A large synthetic backlog: ~1/3 of the whole corpus tombstoned."""
    return _del_df(spark, cat2, F.col("doc_id") % 3 == F.lit(0))


@pytest.fixture(scope="module")
def deleted_keys(big_deletes):
    return {
        (r["segment_id"], int(r["doc_id"])) for r in big_deletes.collect()
    }


@pytest.fixture(scope="module")
def fq_odd_dropped(cat2, deleted_keys):
    """Keys FQ_ODD removes on top of the tombstones — its oracle, worked
    out without the engine's fq path."""
    return deleted_keys | {
        (s.segment_id, d)
        for s in cat2.segments()
        for d in range(0, s.stats.n_docs, 2)
    }


def test_large_delete_set_topk(
    spark, cat2, big_deletes, deleted_keys, fq_odd_dropped
):
    ms_nodel = MultiSearcher(spark, cat2.segments())
    ms = MultiSearcher(spark, cat2.segments(), deletes=big_deletes)
    assert ms._deletes is not None  # DataFrame retained, not collected
    for q in ["import return def", "public self merge"]:
        for mode in ["wand", "exhaustive"]:
            for fq, dropped in [(None, deleted_keys), (FQ_ODD, fq_odd_dropped)]:
                got = [
                    (r["segment_id"], int(r["doc_id"]), int(r["gdoc_id"]),
                     float(r["score"]))
                    for r in ms.topk(q, k=10, mode=mode, fq=fq).collect()
                ]
                assert got == _expected_topk(ms_nodel, q, dropped, 10), (
                    f"mismatch for {q!r} mode={mode} fq={fq!r}"
                )
                assert all((s, d) not in deleted_keys for s, d, _, _ in got)


def test_large_delete_set_tree_phrase_fq(
    spark, cat2, big_deletes, deleted_keys, fq_odd_dropped
):
    """Boolean-tree path with an fq alongside the tombstones, with and
    without a phrase clause — position, fq and tombstone rows all ride
    one cogrouped side channel, told apart by its tag column."""
    ms_nodel = MultiSearcher(spark, cat2.segments())
    ms = MultiSearcher(spark, cat2.segments(), deletes=big_deletes)
    q = '"import return" OR def'
    fq = "dl > 4"
    got = [
        (r["segment_id"], int(r["doc_id"]), int(r["gdoc_id"]), float(r["score"]))
        for r in ms.search(q, k=10, fq=fq).collect()
    ]
    assert got == _expected_topk(
        ms_nodel, q, deleted_keys, 10, fq=fq, tree=True
    )
    assert got, "query must actually match something"
    for q in ['"import return" OR def', "import OR def"]:
        got = [
            (r["segment_id"], int(r["doc_id"]), int(r["gdoc_id"]),
             float(r["score"]))
            for r in ms.search(q, k=10, fq=FQ_ODD).collect()
        ]
        assert got == _expected_topk(
            ms_nodel, q, fq_odd_dropped, 10, tree=True
        ), f"mismatch for {q!r}"
        assert got, "query must actually match something"


def test_purge_deletes_dataframe_path(spark, corpus, tmp_path):
    root = str(tmp_path / "purge")
    cat = Catalog(root)
    for i, pred in enumerate(
        [F.col("doc_id") < 120, F.col("doc_id") >= 120]
    ):
        build_index(
            spark, corpus.filter(pred).drop("doc_id"), out_dir=root,
            bucket_docs=64, segment_id=f"s{i}",
        )
    dels = _del_df(spark, cat, F.col("doc_id") % 2 == F.lit(0))
    cat.add_deletes(dels)
    n_s1 = cat.deletes(spark).filter(F.col("segment_id") == "s1").count()
    assert n_s1 > 0
    cat.purge_deletes(spark, ["s0"])
    rem = cat.deletes(spark)
    assert rem.filter(F.col("segment_id") == "s0").count() == 0
    assert rem.filter(F.col("segment_id") == "s1").count() == n_s1
    cat.purge_deletes(spark, ["s1"])
    assert cat.deletes(spark).count() == 0


# ---------------------------------------------------------------------------
# Plan-size constancy: term_stats / expand_terms at 64 segments
# ---------------------------------------------------------------------------

def _mk_terms_segments(tmp_path, n_segments):
    segs = []
    for i in range(n_segments):
        p = str(tmp_path / f"ts{i}")
        os.makedirs(p, exist_ok=True)
        pd.DataFrame(
            {
                "term": [f"term{i % 7}", "shared", f"uniq{i}"],
                "df": [i + 1, 2, 1],
            }
        ).to_parquet(os.path.join(p, "terms"))
        segs.append(
            Segment(
                segment_id=f"ts{i}",
                stats=SegmentStats(n_docs=10, sum_ttf=100),
                path=p,
            )
        )
    return segs


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_term_stats_single_scan_at_64_segments(spark, tmp_path):
    segs = _mk_terms_segments(tmp_path, 64)
    ms = MultiSearcher(spark, segs)
    plan = _optimized(ms._all_terms())
    assert plan.count("Relation") == 1, plan  # ONE multi-path scan node
    assert "Union" not in plan, plan
    # and it is correct: dfs sum across all 64 segments
    st = ms.term_stats(["shared"])
    assert st["shared"].df == 2 * 64
    # plan size is CONSTANT in segment count (not merely small)
    ms4 = MultiSearcher(spark, segs[:4])
    assert len(_optimized(ms4._all_terms()).splitlines()) == len(
        plan.splitlines()
    )
    # expand_terms rides the same single scan
    assert ms.expand_terms(prefix="uniq", max_expansions=2048) == sorted(
        f"uniq{i}" for i in range(64)
    )


def test_term_stats_mixed_memory_and_disk_segments(spark, tmp_path):
    """NRT (in-memory dfs) segments still union on top of the single scan."""
    segs = _mk_terms_segments(tmp_path, 3)
    mem = Segment(
        segment_id="mem0",
        stats=SegmentStats(n_docs=5, sum_ttf=50),
        dfs={
            "terms": spark.createDataFrame(
                [("shared", 7), ("memonly", 1)], "term string, df long"
            )
        },
    )
    ms = MultiSearcher(spark, segs + [mem])
    st = ms.term_stats(["shared", "memonly"])
    assert st["shared"].df == 2 * 3 + 7
    assert st["memonly"].df == 1
