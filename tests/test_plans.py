"""Physical-plan guards — the scan-pruning contracts that make the design
scale (SURVEY.md §4.2): the query-term filter must reach the parquet scan
(row-group min/max stats over the term-sorted postings table are our FST
terms-index analog), and the scorer plan must stay narrow until after the
top-k limit (two-phase retrieval / late materialization)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.corpus import synth_corpus
from lucene_solr_spark.operators.indexer import build_index
from lucene_solr_spark.operators.search import Searcher


@pytest.fixture(scope="module")
def disk_seg(spark, tmp_path_factory):
    c = synth_corpus(spark, 80, partitions=4)
    return build_index(
        spark, c, out_dir=str(tmp_path_factory.mktemp("plans")), bucket_docs=64
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_term_filter_pushed_to_parquet_scan(spark, disk_seg):
    plan = _plan(
        disk_seg.table(spark, "postings").filter(
            F.col("term").isin(["import", "return"])
        )
    )
    assert "PushedFilters: [In(term, [import,return])]" in plan


def test_topk_plan_is_narrow_until_limit(spark, disk_seg):
    """The scoring plan reads only postings columns (no docmap fields) and
    ends in a TakeOrderedAndProject — display fields join after the limit."""
    s = Searcher(spark, disk_seg)
    plan = _plan(s.topk("import return", k=5))
    assert "TakeOrderedAndProject" in plan
    # the only table scanned is postings — no docmap/terms scan in the
    # scoring plan (terms stats were a collected pre-pass)
    assert "/postings" in plan
    assert "/docmap" not in plan and "/terms" not in plan
    for docmap_col in ("repo#", "lang#", "content_sha256#"):
        assert docmap_col not in plan, f"docmap column {docmap_col} in scorer plan"


def test_docmap_scan_prunes_columns(spark, disk_seg):
    """Column pruning: selecting two docmap columns must not read the rest."""
    plan = _plan(disk_seg.table(spark, "docmap").select("doc_id", "lang"))
    i = plan.find("ReadSchema")
    schema = plan[i : i + 200]
    assert "doc_id" in schema and "lang" in schema
    assert "content_sha256" not in schema


@pytest.fixture(scope="module")
def disk_seg_pos(spark, tmp_path_factory):
    c = synth_corpus(spark, 80, partitions=4)
    return build_index(
        spark,
        c,
        out_dir=str(tmp_path_factory.mktemp("plansp")),
        bucket_docs=64,
        with_positions=True,
    )


def test_span_plan_prunes_positions_scan(spark, disk_seg_pos):
    """Span queries filter the positions table on its sorted term column —
    the predicate must reach the parquet scan (row-group pruning)."""
    from lucene_solr_spark.operators.spans import SpanNear, SpanTerm, span_topk

    plan = _plan(
        span_topk(
            spark, disk_seg_pos,
            SpanNear((SpanTerm("import"), SpanTerm("return")), slop=2), k=5,
        )
    )
    assert "PushedFilters: [In(term, [import,return])]" in plan
    assert "/positions" in plan and "/docmap" not in plan


def test_phrase_tree_cogroup_single_exchange_per_side(spark, disk_seg_pos):
    """The cogrouped postings+positions tree scorer shuffles each side
    exactly once (hash on bucket) — no join, no extra exchange."""
    from lucene_solr_spark.operators.query import Bool, Phrase, Term
    from lucene_solr_spark.operators.search import Searcher

    s = Searcher(spark, disk_seg_pos)
    q = Bool(must=(Phrase(("import", "return")),), should=(Term("public"),))
    plan = _plan(s.topk_query(q, k=5))
    assert plan.count("Exchange hashpartitioning(bucket") == 2  # one per side
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "FlatMapCoGroupsInPandas" in plan


def test_fq_plan_no_join_and_pruned_scan(spark, disk_seg_pos):
    """fq cogroups the filter set by bucket: no join operator appears, and
    the docmap scan for the filter reads only the predicate+id columns."""
    from lucene_solr_spark.operators.search import Searcher

    s = Searcher(spark, disk_seg_pos)
    plan = _plan(s.topk("import return", k=5, fq="lang = 'python'"))
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "FlatMapCoGroupsInPandas" in plan
    i = plan.find("/docmap")
    window = plan[max(0, i - 1200): i + 300]
    assert "PushedFilters" in window and "lang" in window
    assert "content" not in window.split("ReadSchema")[-1][:200]


def test_fielded_union_keeps_pruned_scans(spark, disk_seg_pos, tmp_path_factory):
    """FieldedSearcher unions per-field postings AFTER each side's term
    filter — both scans carry their own pushed In(term,...) predicate."""
    from lucene_solr_spark.corpus import synth_corpus as sc
    from lucene_solr_spark.operators.fields import FieldedSearcher
    from lucene_solr_spark.operators.query import Bool, Term

    title = build_index(
        spark,
        sc(spark, 80, partitions=4).withColumn(
            "content", F.substring("content", 1, 40)
        ),
        out_dir=str(tmp_path_factory.mktemp("planst")),
        bucket_docs=64,
    )
    fs = FieldedSearcher(
        spark, {"body": disk_seg_pos, "title": title}, default_field="body"
    )
    q = Bool(should=(Term("import", field="body"), Term("return", field="title")))
    df = fs.topk_query(q, k=5)
    plan = _plan(df)
    assert "Union" in plan
    # long FileScan lines truncate in toString — use formatted explain for
    # the per-scan PushedFilters assertion
    fmt = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pushed = [ln for ln in fmt.splitlines() if "PushedFilters" in ln]
    assert (
        sum("In(term" in ln or "EqualTo(term" in ln for ln in pushed) == 2
    ), "\n".join(pushed)


@pytest.fixture(scope="module")
def catalog3(spark, tmp_path_factory):
    """Three positional segments of one catalog, each numbering its docs
    from 0, with two tombstones in every segment."""
    from lucene_solr_spark.sources.catalog import Catalog

    cat = Catalog(str(tmp_path_factory.mktemp("plans3")))
    c = synth_corpus(spark, 180, partitions=4).withColumn(
        "part", F.abs(F.hash("path")) % 3
    )
    for i in range(3):
        seg = build_index(
            spark, c.filter(F.col("part") == i).drop("part"), out_dir=cat.root,
            segment_id=f"s{i}", bucket_docs=32, with_positions=True,
        )
        cat.commit_swap(add=[seg.segment_id])
    cat.add_deletes(spark.createDataFrame(
        [(f"s{i}", d) for i in range(3) for d in (1, 5)],
        "segment_id string, doc_id long",
    ))
    return cat


def _last_job(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None),
               default=-1)


def _jobs_since(spark, last: int) -> int:
    """Jobs started after job id ``last`` (the status store keeps a
    bounded job history, so a plain count of it stops growing)."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return sum(1 for j in ids if j > last)


def test_catalog_query_is_one_plan(spark, catalog3):
    """A catalog query scores every segment in ONE cogroup (one exchange
    per side, keyed on bucket first), and `*:*` joins the tombstones once
    and the fq sets once: the plan does not grow with the segment
    count."""
    from lucene_solr_spark.operators.search import MultiSearcher

    ms = MultiSearcher.from_catalog(spark, catalog3)
    plan = _plan(ms.search('"import return" public', fq="lang = 'python'"))
    assert plan.count("FlatMapCoGroupsInPandas") == 1
    assert plan.count("Exchange hashpartitioning(bucket") == 2
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    mplan = _plan(ms.matchall_topk(k=5, fq="lang = 'python'"))
    joins = re.findall(r"(?:BroadcastHash|ShuffledHash|SortMerge)Join", mplan)
    assert len(joins) == 2, mplan


def test_catalog_query_and_fetch_job_counts(spark, catalog3):
    """A warm catalog query runs at most 4 Spark jobs (term stats, one
    exchange per cogroup side, the result), and a warm stored-fields fetch
    of hits from three segments runs ONE: each Segment's stored fields are
    opened (schema inference is a job per table) once, by the first
    fetch. A docvalues update on that Segment is seen by the next fetch."""
    from lucene_solr_spark.__main__ import _fetch_stored
    from lucene_solr_spark.operators.search import MultiSearcher
    from lucene_solr_spark.operators.updates import update_numeric_docvalue

    ms = MultiSearcher.from_catalog(spark, catalog3)
    ms.search("import", k=40).collect()  # tables opened, workers started
    last = _last_job(spark)
    rows = ms.search("import", k=40).collect()
    assert _jobs_since(spark, last) <= 4
    assert {r["segment_id"] for r in rows} == {"s0", "s1", "s2"}

    segs = {s.segment_id: s for s in ms.segments}
    wanted: dict[str, dict[int, int]] = {}
    for r in rows:
        wanted.setdefault(r["segment_id"], {})[r["doc_id"]] = r["gdoc_id"]
    _fetch_stored(spark, segs, wanted, ["path"])
    last = _last_job(spark)
    got = _fetch_stored(spark, segs, wanted, ["path", "_version_"])
    assert _jobs_since(spark, last) == 1
    paths = {
        (sid, r["doc_id"]): r["path"]
        for sid, s in segs.items()
        for r in s.stored_fields(spark).select("doc_id", "path").collect()
    }
    assert got == {
        r["gdoc_id"]: {"path": paths[(r["segment_id"], r["doc_id"])],
                       "_version_": 1}
        for r in rows
    }

    sid, w = sorted(wanted.items())[0]
    doc = min(w)
    update_numeric_docvalue(
        spark, segs[sid], "_version_",
        spark.createDataFrame([(doc, 7)], "doc_id long, value long"),
    )
    again = _fetch_stored(spark, segs, {sid: {doc: "x"}}, ["_version_"])
    assert again == {"x": {"_version_": 7}}


def test_catalog_span_query_is_one_plan(spark, catalog3):
    """A span query scores on the catalog searcher: one cogroup over every
    segment's positions with the tombstones on its side channel, no join,
    and rows equal to the scalar span oracle over all docs keyed by
    gdoc_id, tombstones removed before the top-k."""
    from lucene_solr_spark.operators.search import MultiSearcher
    from lucene_solr_spark.operators.spans import SpanNear, SpanTerm

    from .oracle import OracleIndex
    from .oracle_spans import topk_span

    ms = MultiSearcher.from_catalog(spark, catalog3)
    node = SpanNear((SpanTerm("import"), SpanTerm("return")), slop=3,
                    in_order=False)
    hits = ms.span_topk(node, k=10)
    plan = _plan(hits)
    assert plan.count("FlatMapCoGroupsInPandas") == 1
    assert plan.count("Exchange hashpartitioning(bucket") == 2
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan

    docs, dead = [], set()
    for s in ms.segments:
        base = ms.doc_base[s.segment_id]
        rows = s.stored_fields(spark).select("doc_id", "content").collect()
        docs += [(base + r["doc_id"], r["content"]) for r in rows]
        dead |= {base + 1, base + 5}
    want = [
        (d, sc) for d, sc in topk_span(OracleIndex(docs), node, k=len(docs))
        if d not in dead
    ][:10]
    got = [(r["gdoc_id"], r["score"]) for r in hits.collect()]
    assert got == want and got
    assert {r["segment_id"] for r in hits.collect()} == {"s0", "s1", "s2"}
