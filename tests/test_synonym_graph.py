"""Index-time SynonymGraphFilter — graph injection, lossless phrase match.

Reference semantics (SURVEY.md §2.H "SynonymGraphFilter"):
  analysis/synonym/SynonymGraphFilter.java, SolrSynonymParser.java.
Where Lucene flattens (FlattenGraphFilter) and loses multi-token synonym
phrases, this engine stores token-graph edges (pos_bin starts + end_bin
ends) and matches phrases by path-chaining — see functions/synonyms.py and
phrase.py#_exact_freqs_graph."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.functions.synonyms import (
    SynonymRules,
    apply_synonym_graph,
    parse_synonym_rules,
)
from lucene_solr_spark.functions.smallfloat import int_to_byte4
from lucene_solr_spark.operators.indexer import build_index
from lucene_solr_spark.operators.phrase import phrase_topk

DOCS = [
    ("the new york subway is fast and the new york subway is crowded", 1),
    ("ny subway map of the ny region", 2),
    ("new jersey subway line", 3),
    ("a york subway new line", 4),
    ("united states metro systems", 5),
    ("usa metro report", 6),
]

RULES = parse_synonym_rules(["new york, ny", "usa, united states"])


def _mk_corpus(spark):
    rows = [
        ("r", f"d{i}.txt", "c0", "text", content, i)
        for content, i in DOCS
    ]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string, doc_id long"
    )


@pytest.fixture(scope="module")
def seg_syn(spark):
    return build_index(
        spark,
        _mk_corpus(spark),
        out_dir=None,
        bucket_docs=4,  # force multiple buckets
        with_positions=True,
        synonyms=RULES,
    )


# ---------- pure-unit: parser + graph construction ----------

def test_parser_explicit_and_equivalence():
    r = parse_synonym_rules(["a b => c", "x, y z", "# comment", ""])
    assert ("a", "b") in {inp for inp, _ in r.by_first["a"]}
    # equivalence: every member maps to all members
    outs_x = dict(r.by_first["x"])[("x",)]
    assert set(outs_x) == {("x",), ("y", "z")}
    outs_y = dict(r.by_first["y"])[("y", "z")]
    assert set(outs_y) == {("x",), ("y", "z")}


def test_graph_contraction_edges():
    t, s, e = apply_synonym_graph("the new york subway".split(), RULES)
    edges = dict(zip(t, zip(s.tolist(), e.tolist())))
    assert edges["ny"] == (1, 3)       # spans the input region
    assert edges["subway"] == (3, 4)   # chains off the contraction's end
    assert edges["new"] == (1, 2) and edges["york"] == (2, 3)  # originals kept


def test_graph_expansion_fresh_nodes():
    t, s, e = apply_synonym_graph("ny here".split(), RULES)
    trip = list(zip(t, s.tolist(), e.tolist()))
    new_edge = next(x for x in trip if x[0] == "new")
    york_edge = next(x for x in trip if x[0] == "york")
    assert new_edge[1] == 0 and york_edge[2] == 1      # spans input token
    assert new_edge[2] == york_edge[1] > 2              # fresh internal node
    assert ("ny", 0, 1) in trip                          # original path kept


def test_replacement_rule_drops_original():
    r = parse_synonym_rules(["new york => ny"])
    t, _, _ = apply_synonym_graph("new york subway".split(), r)
    assert "new" not in t and "york" not in t and "ny" in t


# ---------- engine end-to-end ----------

def _hits(df):
    return {int(r["doc_id"]): float(r["score"]) for r in df.collect()}


def test_phrase_across_contraction(spark, seg_syn):
    # the verdict's headline case: "ny subway" finds the "new york subway" doc
    hits = _hits(phrase_topk(spark, seg_syn, "ny subway", k=10))
    assert set(hits) == {1, 2}


def test_phrase_across_expansion(spark, seg_syn):
    # reverse direction: literal phrase finds the contracted doc
    hits = _hits(phrase_topk(spark, seg_syn, "new york subway", k=10))
    assert set(hits) == {1, 2}


def test_phrase_single_token_equivalence(spark, seg_syn):
    hits = _hits(phrase_topk(spark, seg_syn, "usa metro", k=10))
    assert set(hits) == {5, 6}


def test_unrelated_phrase_unaffected(spark, seg_syn):
    hits = _hits(phrase_topk(spark, seg_syn, "york subway", k=10))
    assert set(hits) == {1, 2, 4}


def test_phrase_freq_counts_paths(spark, seg_syn):
    # doc 1 has TWO "new york subway" occurrences -> freq 2 -> higher score
    # than doc 2's single graph path at equal idf (norms differ; just check
    # doc 1 scores strictly higher than it would with freq 1 by comparing
    # against doc 2 ordering)
    df = phrase_topk(spark, seg_syn, "ny subway", k=10)
    rows = df.collect()
    assert rows[0]["doc_id"] == 1  # two occurrences dominate


def test_norms_discount_overlaps(spark, seg_syn):
    # byte4 norm must count ORIGINAL tokens only (discountOverlaps):
    # doc 6 "usa metro report" -> 3 tokens even though 'united states' was
    # injected alongside 'usa'
    norms = seg_syn.table(spark, "norms")
    row = norms.filter(F.col("doc_id") == 6).collect()[0]
    assert int(row["norm_byte"]) == int_to_byte4(3)


def test_postings_include_injected_terms(spark, seg_syn):
    terms = seg_syn.table(spark, "terms")
    dfs = {
        r["term"]: int(r["df"])
        for r in terms.filter(F.col("term").isin("ny", "united", "states")).collect()
    }
    assert dfs["ny"] == 2      # doc 1 (injected, x2 occurrences -> df 1) + doc 2
    assert dfs["united"] == 2  # doc 5 literal + doc 6 injected
    assert dfs["states"] == 2


def test_qparser_phrase_on_graph_index(spark, seg_syn):
    # classic-syntax phrase through the real tree scorer (Searcher.search)
    from lucene_solr_spark.operators.search import Searcher

    s = Searcher(spark, seg_syn)
    hits = _hits(s.search('"ny subway"', k=10))
    assert set(hits) == {1, 2}
    # Boolean tree mixing a graph phrase with a term clause
    hits = _hits(s.search('"ny subway" AND crowded', k=10))
    assert set(hits) == {1}


def test_qparser_phrase_with_fq_on_graph_index(spark, seg_syn):
    # fq rows share the side channel with the positions rows; they must
    # fit the graph schema (end_bin column) — search.py#_bucket_plan
    from lucene_solr_spark.operators.search import Searcher

    s = Searcher(spark, seg_syn)
    hits = _hits(s.search('"ny subway"', k=10, fq="path = 'd2.txt'"))
    assert set(hits) == {2}


def test_merge_preserves_graph(spark, seg_syn):
    # two synonym segments merged -> phrase still matches across the graph
    from lucene_solr_spark.operators.merge import merge_segments

    rows2 = [("r", "e1.txt", "c0", "text", "riding the ny subway daily", 100)]
    extra = spark.createDataFrame(
        rows2,
        "repo string, path string, commit string, lang string, content string, doc_id long",
    )
    seg2 = build_index(
        spark, extra, out_dir=None, bucket_docs=4, with_positions=True,
        synonyms=RULES,
    )
    merged = merge_segments(spark, [seg_syn, seg2], out_dir=None)
    assert "end_bin" in merged.table(spark, "positions").columns
    res = phrase_topk(spark, merged, "new york subway", k=10)
    # doc ids are remapped; just assert 3 hits survive (docs 1, 2, new one)
    assert res.count() == 3


def test_multisearcher_graph_phrase(spark, seg_syn):
    # two synonym segments under scatter-gather: graph phrases match with
    # global stats, same doc set as the merged view
    from lucene_solr_spark.operators.search import MultiSearcher

    rows2 = [("r", "e1.txt", "c0", "text", "riding the ny subway daily", 100)]
    extra = spark.createDataFrame(
        rows2,
        "repo string, path string, commit string, lang string, content string, doc_id long",
    )
    seg2 = build_index(
        spark, extra, out_dir=None, bucket_docs=4, with_positions=True,
        synonyms=RULES,
    )
    ms = MultiSearcher(spark, [seg_syn, seg2])
    res = ms.search('"new york subway"', k=10).collect()
    assert len(res) == 3  # docs 1, 2 and the extra segment's doc


def test_plain_index_unchanged(spark, seg_syn):
    # a no-synonym build of the same corpus has no end_bin column
    plain = build_index(
        spark, _mk_corpus(spark), out_dir=None, bucket_docs=4, with_positions=True
    )
    assert "end_bin" not in plain.table(spark, "positions").columns
    assert "end_bin" in seg_syn.table(spark, "positions").columns
    # and the no-graph phrase result still works through the same kernel
    hits = _hits(phrase_topk(spark, plain, "ny subway", k=10))
    assert set(hits) == {2}


# ---------- flattened-position semantics (slop>0 / highlight / merge) ----------

EXP_RULES = parse_synonym_rules(["spark, big data"])


def _mini_seg(spark, texts):
    rows = [
        ("r", f"m{i}.txt", "c0", "text", t, i) for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string, doc_id long",
    )
    return build_index(
        spark, df, out_dir=None, bucket_docs=4, with_positions=True,
        synonyms=EXP_RULES,
    )


def test_flatten_starts_unit():
    from lucene_solr_spark.functions.synonyms import FRESH_BASE, flatten_starts

    t, s, _ = apply_synonym_graph("spark x y z spark".split(), EXP_RULES)
    flat = flatten_starts(s)
    by_term: dict[str, list[int]] = {}
    for term, f in zip(t, flat.tolist()):
        by_term.setdefault(term, []).append(f)
    # injected chains land at site + chain_pos (FlattenGraphFilter sausage)
    assert sorted(by_term["big"]) == [0, 4]
    assert sorted(by_term["data"]) == [1, 5]
    assert sorted(by_term["spark"]) == [0, 4]
    # and originals are untouched
    assert by_term["x"] == [1] and by_term["z"] == [3]
    # fresh nodes are site-addressed above FRESH_BASE
    assert all(x < FRESH_BASE for x in flat.tolist())


def test_sloppy_no_cross_site_adjacency(spark):
    # ADVICE r03: with raw sequential fresh ids, the two injected 'data'
    # tokens of distant sites were ADJACENT in id space and "data data"~1
    # matched doc 'spark x y z spark'. Flattened positions (1 and 5) must
    # not match at slop 1.
    seg = _mini_seg(spark, ["spark x y z spark"])
    assert phrase_topk(spark, seg, "data data", k=10, slop=1).count() == 0
    # sanity: the pair DOES match once the slop covers the real distance
    # (adjusted gap |(5-1) - 1| = 3)
    assert phrase_topk(spark, seg, "data data", k=10, slop=3).count() == 1


def test_sloppy_flattened_keeps_region_matches(spark):
    # the converse miss: injected 'data' sits AT its site region, so a
    # sloppy phrase pairing it with the next original token must match
    # (raw fresh ids were far from the region and missed it)
    seg = _mini_seg(spark, ["spark fast"])
    assert phrase_topk(spark, seg, "data fast", k=10, slop=1).count() == 1


def test_merge_mixed_graph_and_plain_segments(spark):
    # ADVICE r03: merging a graph segment with a PLAIN segment silently
    # dropped end_bin while keeping fresh start nodes. The merge must stay
    # graph-aware (trivial edges synthesized for the plain side).
    from lucene_solr_spark.operators.merge import merge_segments

    seg_g = _mini_seg(spark, ["spark pipelines"])
    plain_rows = [("r", "p0.txt", "c0", "text", "big data pipelines", 50)]
    plain_df = spark.createDataFrame(
        plain_rows,
        "repo string, path string, commit string, lang string, content string, doc_id long",
    )
    seg_p = build_index(
        spark, plain_df, out_dir=None, bucket_docs=4, with_positions=True
    )
    merged = merge_segments(spark, [seg_g, seg_p], out_dir=None)
    assert "end_bin" in merged.table(spark, "positions").columns
    # graph path still matches the injected doc AND the literal doc
    assert phrase_topk(spark, merged, "big data", k=10).count() == 2
    # both docs match the trigram: the plain doc literally, the graph doc
    # via the injected chain big->data ending where 'pipelines' starts
    assert phrase_topk(spark, merged, "big data pipelines", k=10).count() == 2
    # and a phrase ABSENT from both graphs stays absent (no spurious
    # adjacency from the synthesized trivial edges)
    assert phrase_topk(spark, merged, "pipelines big", k=10).count() == 0


def test_highlight_on_graph_index(spark, seg_syn):
    # highlighting a synonym hit: injected 'ny' spans the 'new york'
    # region; snippet must render ORIGINAL document tokens only (no
    # injected chain terms from fresh nodes) and positions stay in range
    from lucene_solr_spark.operators.highlight import highlight

    res = {
        int(r["doc_id"]): r
        for r in highlight(spark, seg_syn, "subway", [1, 2], window=5).collect()
    }
    assert res[1]["n_hits"] == 2 and res[2]["n_hits"] == 1
    # doc 2 is literal text "ny subway map of the ny region"
    assert "<em>subway</em>" in res[2]["snippet"]
    # a query for the INJECTED side highlights the original region too
    res1 = {
        int(r["doc_id"]): r
        for r in highlight(spark, seg_syn, "usa", [5, 6], window=3).collect()
    }
    assert 6 in res1 and res1[6]["n_hits"] >= 1
    assert 5 in res1  # 'united states' doc: usa injected at site 0


def test_spans_on_graph_index_use_flattened_positions(spark):
    # span queries on a synonym-graph index run over FLATTENED positions:
    # the injected 'data' of site 0 sits at position 1, adjacent to 'x' —
    # raw fresh-node ids (>= FRESH_BASE) would never match, and the two
    # distant injection sites must not fabricate adjacency
    from lucene_solr_spark.operators.spans import SpanNear, SpanTerm, span_topk

    seg = _mini_seg(spark, ["spark x y z spark"])
    near = SpanNear((SpanTerm("data"), SpanTerm("y")), slop=0, in_order=True)
    assert span_topk(spark, seg, near, k=5).count() == 1
    # the two injected 'data' tokens (flat 1 and 5) are NOT near each other
    dd = SpanNear((SpanTerm("data"), SpanTerm("data")), slop=1, in_order=True)
    assert span_topk(spark, seg, dd, k=5).count() == 0


def test_highlight_contraction_renders_original_text(spark, seg_syn):
    # code-review regression: the injected contraction 'ny' spans original
    # boundaries (0-2) and used to race the real token 'new' for the
    # display slot depending on row order. Trivial edges must win: the
    # snippet renders the DOCUMENT's words.
    from lucene_solr_spark.operators.highlight import highlight

    for _ in range(3):  # row order is shuffle-dependent; repeat for luck
        res = {
            int(r["doc_id"]): r["snippet"]
            for r in highlight(spark, seg_syn, "subway", [1], window=9).collect()
        }
        assert "new york <em>subway</em>" in res[1]
        assert "ny york" not in res[1]
