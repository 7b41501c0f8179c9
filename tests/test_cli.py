"""spark-submit CLI (lucene_solr_spark/__main__.py) + MultiSearcher query
strings: the north_star's deployment surface. main() is invoked in-process
(it picks up the test session via getOrCreate)."""

from __future__ import annotations

import json
import shutil

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.__main__ import main
from lucene_solr_spark.corpus import documents_as_corpus
from lucene_solr_spark.operators.indexer import build_index
from lucene_solr_spark.operators.search import MultiSearcher, Searcher

SF = "/root/testdata/sf0.001"
IDX = "/tmp/spark_graft_cli_test"


@pytest.fixture(scope="module")
def cli_index(spark, capsysbinary=None):
    shutil.rmtree(IDX, ignore_errors=True)
    rc = main(
        ["build", "--input", SF, "--out", IDX, "--positions",
         "--segment-id", "cli0"]
    )
    assert rc == 0
    return IDX


def _lines(capsys):
    return [json.loads(l) for l in capsys.readouterr().out.splitlines() if l]


def test_cli_build_emits_lineage_metrics(spark, cli_index, capsys):
    rc = main(["check", "--index", cli_index])
    assert rc == 0
    (summary,) = _lines(capsys)
    assert summary["segment_id"] == "cli0"
    assert summary["n_docs"] == 500
    assert summary["blocks_checked"] > 0


def test_cli_search_matches_library(spark, cli_index, capsys):
    q = '+order "key order" batch^2 -zzz'
    rc = main(["search", "--index", cli_index, "--query", q, "--k", "5"])
    assert rc == 0
    got = [(r["doc_id"], round(r["score"], 6)) for r in _lines(capsys)]
    seg = build_index(
        spark, documents_as_corpus(spark, SF), out_dir=None,
        with_positions=True,
    )
    want = [
        (int(r.doc_id), round(float(r.score), 6))
        for r in Searcher(spark, seg).search(q, k=5).collect()
    ]
    assert got == want


def test_cli_merge_preserves_docs(spark, cli_index, capsys):
    rc = main(["merge", "--index", cli_index])
    assert rc == 0
    (out,) = _lines(capsys)
    assert out["n_docs"] == 500


@pytest.mark.parametrize(
    "q",
    [
        '+order "key order" batch^2 -zzz',  # tree + phrase + boost + NOT
        "ord* batch",                        # wildcard rewrite
        "fast~1",                            # fuzzy rewrite
        "[batch TO merge]",                  # term range rewrite
        '"key order"~2',                     # pure sloppy phrase
    ],
)
def test_multisearcher_search_parity(spark, q):
    """MultiSearcher.search over 2 segments is bit-identical to
    Searcher.search over the merged corpus (global stats)."""
    docs = documents_as_corpus(spark, SF)
    single = Searcher(
        spark, build_index(spark, docs, out_dir=None, with_positions=True)
    )
    segs = [
        build_index(
            spark, docs.filter(p), out_dir=None, segment_id=f"par{i}",
            with_positions=True,
        )
        for i, p in enumerate(
            [F.col("doc_id") < 250, F.col("doc_id") >= 250]
        )
    ]
    ms = MultiSearcher(spark, segs)
    a = [
        (int(r.doc_id), float(r.score))
        for r in single.search(q, k=8).collect()
    ]
    b = [(int(r.doc_id), float(r.score)) for r in ms.search(q, k=8).collect()]
    assert a == b


def test_cli_percolate(spark, capsys):
    rc = main([
        "percolate", "--input", f"{SF}/documents.parquet",
        "--query", "merge", "--query", "+merge +spark", "--collect",
    ])
    assert rc == 0
    rows = _lines(capsys)
    byq = {}
    for r in rows:
        byq.setdefault(r["query_id"], set()).add(r["doc_id"])
    # conjunction matches are a subset of the single-term matches
    assert byq["q1"] <= byq["q0"] and byq["q0"]


def test_cli_facet(spark, capsys):
    spec = json.dumps(
        {"type": "terms", "field": "lang", "limit": 3,
         "facet": {"avg_len": "avg(n_chars)"}}
    )
    rc = main(["facet", "--input", f"{SF}/documents.parquet", "--spec", spec])
    assert rc == 0
    rows = _lines(capsys)
    assert rows and all({"lang", "count", "avg_len"} <= set(r) for r in rows)


def test_cli_build_with_synonyms(spark, tmp_path, capsys):
    syn = tmp_path / "syn.txt"
    syn.write_text("spark, big data\n")
    idx = str(tmp_path / "idx")
    rc = main(["build", "--input", SF, "--out", idx,
               "--synonyms", str(syn), "--segment-id", "syn0"])
    assert rc == 0
    capsys.readouterr()
    rc = main(["search", "--index", idx, "--query", '"big data"', "--k", "3"])
    assert rc == 0
    rows = _lines(capsys)
    # graph survives the on-disk round-trip: expansion docs match
    assert len(rows) == 3 and rows[0]["doc_id"] == 276


def test_cli_edismax(spark, cli_index, capsys):
    rc = main([
        "search", "--index", cli_index, "--query", "key order",
        "--deftype", "edismax", "--qf", "content", "--mm", "2",
        "--pf", "content^1.5", "--tie", "0.3", "--k", "5",
    ])
    assert rc == 0
    got = [(r["doc_id"], round(r["score"], 4)) for r in _lines(capsys)]
    from lucene_solr_spark.operators.edismax import edismax_topk
    from lucene_solr_spark.sources.catalog import Catalog

    seg = Catalog(cli_index).segments()[0]
    want = [
        (int(r.doc_id), round(float(r.score), 4))
        for r in edismax_topk(
            spark, {"content": seg},
            {"q": "key order", "qf": "content", "mm": "2",
             "pf": "content^1.5", "tie": 0.3},
            k=5,
        ).collect()
    ]
    assert got == want and got


def test_cli_query_time_synonyms(spark, cli_index, tmp_path, capsys):
    syn = tmp_path / "syn.txt"
    syn.write_text("spark, big data\n")
    rc = main([
        "search", "--index", cli_index, "--query", "spark",
        "--synonyms", str(syn), "--k", "5",
    ])
    assert rc == 0
    got = _lines(capsys)
    assert got and all("doc_id" in r for r in got)


def test_cli_edismax_boost_params(spark, cli_index, capsys):
    rc = main([
        "search", "--index", cli_index, "--query", "key order",
        "--deftype", "edismax", "--qf", "content", "--mm", "2",
        "--bq", "content:window^0.5", "--bf", "recip(dl,1,100,100)",
        "--boost", "sqrt(dl)", "--k", "5",
    ])
    assert rc == 0
    got = [(r["doc_id"], round(r["score"], 4)) for r in _lines(capsys)]
    from lucene_solr_spark.operators.edismax import edismax_topk
    from lucene_solr_spark.sources.catalog import Catalog

    seg = Catalog(cli_index).segments()[0]
    want = [
        (int(r.doc_id), round(float(r.score), 4))
        for r in edismax_topk(
            spark, {"content": seg},
            {"q": "key order", "qf": "content", "mm": "2",
             "bq": ["content:window^0.5"], "bf": ["recip(dl,1,100,100)"],
             "boost": "sqrt(dl)"},
            k=5,
        ).collect()
    ]
    assert got == want and got


def test_cli_surround(spark, cli_index, capsys):
    rc = main([
        "search", "--index", cli_index, "--query", "2W(key, s*)",
        "--deftype", "surround", "--k", "5",
    ])
    assert rc == 0
    got = [(r["doc_id"], round(r["score"], 4)) for r in _lines(capsys)]
    from lucene_solr_spark.operators.search import Searcher
    from lucene_solr_spark.operators.spans import span_topk
    from lucene_solr_spark.operators.surround import parse_surround
    from lucene_solr_spark.sources.catalog import Catalog

    seg = Catalog(cli_index).segments()[0]
    s = Searcher(spark, seg)
    node = parse_surround("2W(key, s*)", expand=lambda p: s.expand_terms(prefix=p))
    want = [
        (int(r.doc_id), round(float(r.score), 4))
        for r in span_topk(spark, seg, node, k=5).collect()
    ]
    assert got == want and got


def test_cli_xmlparser(spark, cli_index, capsys):
    xml = (
        '<BooleanQuery>'
        '<Clause occurs="must"><TermQuery>order</TermQuery></Clause>'
        '<Clause occurs="should"><TermQuery boost="2">batch</TermQuery></Clause>'
        '</BooleanQuery>'
    )
    rc = main([
        "search", "--index", cli_index, "--query", xml,
        "--deftype", "xmlparser", "--k", "5",
    ])
    assert rc == 0
    got = [(r["doc_id"], round(r["score"], 4)) for r in _lines(capsys)]
    from lucene_solr_spark.operators.search import Searcher
    from lucene_solr_spark.operators.xmlparser import parse_xml_query
    from lucene_solr_spark.sources.catalog import Catalog

    seg = Catalog(cli_index).segments()[0]
    want = [
        (int(r.doc_id), round(float(r.score), 4))
        for r in Searcher(spark, seg).topk_query(
            parse_xml_query(xml), k=5
        ).collect()
    ]
    assert got == want and got


def test_cli_surround_refuses_fq(spark, cli_index, capsys):
    rc = main([
        "search", "--index", cli_index, "--query", "W(key, order)",
        "--deftype", "surround", "--fq", "lang = 'en'",
    ])
    assert rc == 2
    captured = capsys.readouterr()
    assert "not supported" in captured.err


def test_cli_edismax_matchall(spark, cli_index, capsys):
    """edismax `*:*` = MatchAllDocsQuery (the ExtendedDismaxQParser
    special case): every live doc, constant score 1.0."""
    rc = main([
        "search", "--index", cli_index, "--query", "*:*",
        "--deftype", "edismax", "--k", "5",
    ])
    assert rc == 0
    rows = _lines(capsys)
    assert len(rows) == 5
    assert all(r["score"] == 1.0 for r in rows)
    ids = [r["doc_id"] for r in rows]
    assert ids == sorted(ids)


def test_cli_edismax_refuses_undefined_field(spark, cli_index, capsys):
    """Solr's edismax "undefined field" refusal: a qf/pf naming anything
    but the catalog's 'content' field errors cleanly (rc=2, JSON on
    stderr), not an assertion in the kernel."""
    rc = main([
        "search", "--index", cli_index, "--query", "key order",
        "--deftype", "edismax", "--qf", "text",
    ])
    assert rc == 2
    captured = capsys.readouterr()
    assert "undefined field 'text'" in captured.err
    rc = main([
        "search", "--index", cli_index, "--query", "key order",
        "--deftype", "edismax", "--qf", "content", "--pf", "body^2",
    ])
    assert rc == 2
    assert "undefined field 'body'" in capsys.readouterr().err


def test_cli_xmlparser_parse_error_is_json(spark, cli_index, capsys):
    """Malformed XML surfaces as the CLI's JSON error contract (rc=2)."""
    rc = main([
        "search", "--index", cli_index, "--query", "<BooleanQuery><Oops",
        "--deftype", "xmlparser",
    ])
    assert rc == 2
    assert "xml query parse" in capsys.readouterr().err


def test_cli_surround_parse_error_is_json(spark, cli_index, capsys):
    """Bad surround syntax surfaces as the CLI's JSON error contract
    (rc=2), not a SurroundParseError traceback."""
    rc = main([
        "search", "--index", cli_index, "--query", "W(key,",
        "--deftype", "surround",
    ])
    assert rc == 2
    assert "surround parse" in capsys.readouterr().err


def test_cli_missing_index_is_json(spark, tmp_path, capsys):
    """A path with no committed segments refuses cleanly
    (IndexNotFoundException analog), for every read subcommand, WITHOUT
    creating the typo'd directory."""
    import os

    bad = str(tmp_path / "nope")
    for argv in (
        ["search", "--index", bad, "--query", "order"],
        ["search", "--index", bad, "--query", "order",
         "--deftype", "edismax", "--qf", "content"],
        ["check", "--index", bad],
        ["merge", "--index", bad],
    ):
        rc = main(argv)
        assert rc == 2
        assert "no index found" in capsys.readouterr().err
        assert not os.path.exists(bad)  # read path never mkdirs


def test_cli_xmlparser_match_all(spark, cli_index, capsys):
    rc = main([
        "search", "--index", cli_index, "--query", "<MatchAllDocsQuery/>",
        "--deftype", "xmlparser", "--k", "7",
    ])
    assert rc == 0
    got = _lines(capsys)
    assert [r["doc_id"] for r in got] == list(range(7))
    assert all(r["score"] == 1.0 for r in got)


def test_cli_edismax_multi_segment(spark, cli_index, tmp_path, capsys):
    """edismax over a 2-segment catalog must equal the single-segment
    ranking (per-field segment lists, global stats — no forced merge)."""
    import shutil

    from lucene_solr_spark.corpus import documents_as_corpus
    from lucene_solr_spark.operators.edismax import edismax_topk
    from lucene_solr_spark.sources.catalog import Catalog

    two = str(tmp_path / "two_seg")
    corpus = documents_as_corpus(spark, SF)  # carries driver doc ids
    cat2 = Catalog(two)
    from lucene_solr_spark.operators.indexer import build_index

    for i, pred in enumerate(("doc_id < 250", "doc_id >= 250")):
        seg = build_index(
            spark, corpus.filter(pred), out_dir=two,
            segment_id=f"half{i}", with_positions=True,
        )
        cat2.commit_swap(add=[seg.segment_id])
    rc = main([
        "search", "--index", two, "--query", "key order",
        "--deftype", "edismax", "--qf", "content", "--mm", "2",
        "--pf", "content^1.5", "--tie", "0.3", "--k", "5",
    ])
    assert rc == 0
    got = [(r["doc_id"], round(r["score"], 4)) for r in _lines(capsys)]
    seg1 = Catalog(cli_index).segments()[0]
    want = [
        (int(r.doc_id), round(float(r.score), 4))
        for r in edismax_topk(
            spark, {"content": seg1},
            {"q": "key order", "qf": "content", "mm": "2",
             "pf": "content^1.5", "tie": 0.3},
            k=5,
        ).collect()
    ]
    assert got == want and got


def test_cli_surround_multi_segment(spark, cli_index, tmp_path, capsys):
    """surround over a 2-segment catalog equals the single-segment
    ranking (catalog searcher: global stats, union terms dict), its ids
    in the catalog's gdoc_id space."""
    from lucene_solr_spark.corpus import documents_as_corpus
    from lucene_solr_spark.operators.indexer import build_index
    from lucene_solr_spark.operators.search import Searcher
    from lucene_solr_spark.operators.spans import span_topk
    from lucene_solr_spark.operators.surround import parse_surround
    from lucene_solr_spark.sources.catalog import Catalog

    two = str(tmp_path / "two_seg_srd")
    corpus = documents_as_corpus(spark, SF)
    cat2 = Catalog(two)
    for i, pred in enumerate(("doc_id < 250", "doc_id >= 250")):
        seg = build_index(
            spark, corpus.filter(pred), out_dir=two,
            segment_id=f"srd{i}", with_positions=True,
        )
        cat2.commit_swap(add=[seg.segment_id])
    rc = main([
        "search", "--index", two, "--query", "2W(key, s*)",
        "--deftype", "surround", "--k", "5",
    ])
    assert rc == 0
    got = [(r["doc_id"], round(r["score"], 4)) for r in _lines(capsys)]
    seg1 = Catalog(cli_index).segments()[0]
    s = Searcher(spark, seg1)
    node = parse_surround("2W(key, s*)", expand=lambda p: s.expand_terms(prefix=p))
    # srd1 keeps the corpus ids 250.. as local ids, at its docBase
    base = MultiSearcher.from_catalog(spark, cat2).doc_base["srd1"]
    want = [
        (int(r.doc_id) + (base if r.doc_id >= 250 else 0),
         round(float(r.score), 4))
        for r in span_topk(spark, seg1, node, k=5).collect()
    ]
    assert got == want and got


def test_cli_multi_segment_overlapping_ids_refused(spark, tmp_path, capsys):
    """Independently built segments both assign doc ids from the same range;
    serving them in ONE flat doc-id space would silently merge different
    documents' postings, so edismax must refuse (run merge). surround
    scores on the catalog searcher, in gdoc_id space."""
    from lucene_solr_spark.operators.surround import parse_surround
    from lucene_solr_spark.sources.catalog import Catalog

    two = str(tmp_path / "overlap")
    corpus = documents_as_corpus(spark, SF)
    cat2 = Catalog(two)
    # same id range [0,50) twice -> overlapping flat doc-id spaces
    for i, pred in enumerate(("doc_id < 50", "doc_id < 50")):
        seg = build_index(
            spark, corpus.filter(pred), out_dir=two,
            segment_id=f"ov{i}", with_positions=True,
        )
        cat2.commit_swap(add=[seg.segment_id])
    rc = main(["search", "--index", two, "--query", "key order",
               "--deftype", "edismax", "--qf", "content", "--k", "5"])
    assert rc == 2
    assert "overlap" in capsys.readouterr().err
    rc = main(["search", "--index", two, "--query", "W(key, order)",
               "--deftype", "surround", "--k", "5"])
    assert rc == 0
    got = [(r["doc_id"], r["score"]) for r in _lines(capsys)]
    assert got and len({d for d, _ in got}) == len(got)
    ms = MultiSearcher.from_catalog(spark, cat2)
    want = [
        (r["gdoc_id"], float(r["score"]))
        for r in ms.span_topk(parse_surround("W(key, order)"), k=5).collect()
    ]
    assert got == want


@pytest.mark.parametrize(
    "argv",
    [
        ["--query", "W(key, order)", "--deftype", "surround"],
        ["--query", "spark", "--synonyms", "{syn}"],
        ["--query", "key order", "--deftype", "edismax", "--qf", "content"],
    ],
    ids=["surround", "synonyms", "edismax"],
)
def test_cli_surround_excludes_deletes(spark, cli_index, tmp_path, capsys, argv):
    """liveDocs: a tombstoned doc must vanish from surround, query-time
    synonym and edismax results exactly as it does on the classic
    (MultiSearcher) path."""
    import shutil as _sh

    from lucene_solr_spark.sources.catalog import Catalog

    syn = tmp_path / "syn.txt"
    syn.write_text("spark, big data\n")
    argv = [a.replace("{syn}", str(syn)) for a in argv]
    idx = str(tmp_path / "srd_del")
    _sh.copytree(cli_index, idx)
    rc = main(["search", "--index", idx, *argv, "--k", "5"])
    assert rc == 0
    before = [r["doc_id"] for r in _lines(capsys)]
    assert before
    victim = before[0]
    cat = Catalog(idx)
    seg_id = cat.segments()[0].segment_id
    cat.add_deletes(
        spark.createDataFrame(
            [(seg_id, victim)], "segment_id string, doc_id long"
        )
    )
    rc = main(["search", "--index", idx, *argv, "--k", "5"])
    assert rc == 0
    after = [r["doc_id"] for r in _lines(capsys)]
    assert victim not in after
    assert after == [d for d in before if d != victim][: len(after)] or after


def test_cli_synonyms_multi_segment(spark, cli_index, tmp_path, capsys):
    """--synonyms serves a two-segment catalog with a tombstone: global
    stats, liveDocs excluded, ids in the global doc space — the same hits
    as MultiSearcher.topk_query over the expanded query."""
    from lucene_solr_spark.functions.analysis import tokenize_text
    from lucene_solr_spark.functions.synonyms import (
        expand_query_synonyms,
        parse_synonym_rules,
    )
    from lucene_solr_spark.sources.catalog import Catalog

    two = str(tmp_path / "two_seg_syn")
    shutil.copytree(cli_index, two)
    cat = Catalog(two)
    seg = build_index(
        spark, documents_as_corpus(spark, SF).filter("doc_id < 100"),
        out_dir=two, segment_id="syn1", with_positions=True,
    )
    cat.commit_swap(add=[seg.segment_id])
    assert len(cat.segments()) == 2
    rules_text = "spark, big data\n"
    syn = tmp_path / "syn.txt"
    syn.write_text(rules_text)
    node = expand_query_synonyms(
        tokenize_text("spark"), parse_synonym_rules(rules_text.splitlines())
    )
    top = MultiSearcher.from_catalog(spark, cat).topk_query(node, k=1).first()
    cat.add_deletes(spark.createDataFrame(
        [(top["segment_id"], top["doc_id"])], "segment_id string, doc_id long"
    ))
    rc = main(["search", "--index", two, "--query", "spark",
               "--synonyms", str(syn), "--k", "5"])
    assert rc == 0
    got = [(r["doc_id"], round(r["score"], 5)) for r in _lines(capsys)]
    want = [
        (int(r["gdoc_id"]), round(float(r["score"]), 5))
        for r in MultiSearcher.from_catalog(spark, cat)
        .topk_query(node, k=5).collect()
    ]
    assert got == want and got
    assert int(top["gdoc_id"]) not in [d for d, _ in got]


def test_cli_xmlparser_match_all_honours_fq(spark, cli_index, capsys):
    """MatchAllDocsQuery + --fq must apply the filter (it used to return
    every live doc, silently dropping the user's filter)."""
    rc = main([
        "search", "--index", cli_index, "--query", "<MatchAllDocsQuery/>",
        "--deftype", "xmlparser", "--fq", "doc_id >= 100", "--k", "5",
    ])
    assert rc == 0
    got = [r["doc_id"] for r in _lines(capsys)]
    assert got == list(range(100, 105))
    assert all(d >= 100 for d in got)


def test_cli_simple_parser_matches_classic_equivalent(spark, cli_index, capsys):
    """--deftype simple: 'order+batch | window' scores exactly like the
    classic '(+order +batch) window' (same IR modulo grouping)."""
    rc = main(["search", "--index", cli_index, "--deftype", "simple",
               "--query", "order+batch | window", "--k", "5"])
    assert rc == 0
    simple = [(r["doc_id"], round(r["score"], 6)) for r in _lines(capsys)]
    rc = main(["search", "--index", cli_index,
               "--query", "(+order +batch) window", "--k", "5"])
    assert rc == 0
    classic = [(r["doc_id"], round(r["score"], 6)) for r in _lines(capsys)]
    assert simple and simple == classic


def test_cli_simple_parser_never_throws(spark, cli_index, capsys):
    for junk in ["(((", '"unterminated', "+ | -", ""]:
        rc = main(["search", "--index", cli_index, "--deftype", "simple",
                   "--query", junk, "--k", "5"])
        assert rc == 0, junk
        _lines(capsys)  # drain


def test_cli_local_params_dispatch(spark, cli_index, capsys):
    """A {!type ...} query dispatches through the registry regardless of
    --deftype; {!maxscore} result matches the library tree evaluation."""
    from lucene_solr_spark.plans.localparams import dispatch
    from lucene_solr_spark.sources.catalog import Catalog

    q = "{!maxscore tie=0.3}order batch"
    rc = main(["search", "--index", cli_index, "--query", q, "--k", "5"])
    assert rc == 0
    got = [(r["doc_id"], round(r["score"], 6)) for r in _lines(capsys)]
    ms = MultiSearcher.from_catalog(spark, Catalog(cli_index))
    want = [
        (int(r["gdoc_id"]), round(float(r["score"]), 6))
        for r in ms.topk_query(dispatch(q), k=5).collect()
    ]
    assert got and got == want


def test_cli_local_params_honours_fq(spark, cli_index, capsys):
    rc = main(["search", "--index", cli_index,
               "--query", "{!term f=text}order",
               "--fq", "doc_id >= 250", "--k", "50"])
    assert rc == 0
    got = [r["doc_id"] for r in _lines(capsys)]
    assert got and all(d >= 250 for d in got)


def test_cli_fl_returns_stored_fields(spark, cli_index, capsys):
    """--fl fetches stored fields for the hits (RealTimeGet-style);
    values must match the source parquet; unknown names are ignored."""
    rc = main(["search", "--index", cli_index, "--query", "order batch",
               "--k", "5", "--fl", "lang,content,nosuchfield"])
    assert rc == 0
    got = _lines(capsys)
    assert len(got) == 5
    src = {
        int(r["doc_id"]): (r["lang"], r["text"])
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "lang", "text").collect()
    }
    for rec in got:
        assert "nosuchfield" not in rec
        assert (rec["lang"], rec["content"]) == src[rec["doc_id"]]


def test_cli_fl_on_localparams_and_xml_matchall(spark, cli_index, capsys):
    rc = main(["search", "--index", cli_index,
               "--query", "{!maxscore}order batch", "--k", "3",
               "--fl", "lang"])
    assert rc == 0
    for rec in _lines(capsys):
        assert isinstance(rec["lang"], str) and rec["lang"]
    rc = main(["search", "--index", cli_index, "--query",
               "<MatchAllDocsQuery/>", "--deftype", "xmlparser",
               "--k", "3", "--fl", "content_sha256"])
    assert rc == 0
    recs = _lines(capsys)
    assert [r["doc_id"] for r in recs] == [0, 1, 2]
    assert all(len(r["content_sha256"]) == 64 for r in recs)


def test_cli_local_params_refuses_field_scope_and_bad_syntax(
    spark, cli_index, capsys
):
    """{!term f=lang} must refuse (it would score the text field's
    postings for a lang query), and malformed local params must emit a
    clean JSON error, not a traceback."""
    rc = main(["search", "--index", cli_index,
               "--query", "{!term f=lang}order", "--k", "3"])
    assert rc == 2
    assert "field-scoped" in capsys.readouterr().err
    for bad in ["{!nosuch}x", "{!term v=$missing}", "{!bool}",
                "{!maxscore tie=abc}order", "{!bool must=a mm=x}"]:
        rc = main(["search", "--index", cli_index, "--query", bad])
        assert rc == 2, bad
        assert "error" in capsys.readouterr().err


def test_cli_fl_multi_segment_local_id_collision(spark, tmp_path, capsys):
    """Two independently built segments share local doc ids; --fl must
    fetch each hit's fields from ITS OWN segment (keyed by
    (segment_id, local id), not the printed id)."""
    from lucene_solr_spark.sources.catalog import Catalog

    idx = str(tmp_path / "fl2seg")
    docs = documents_as_corpus(spark, SF)
    lo = docs.filter(F.col("doc_id") < 250)
    hi = docs.filter(F.col("doc_id") >= 250).withColumn(
        "doc_id", F.col("doc_id") - 250
    )
    cat = Catalog(idx)
    for sid, part in (("lo", lo), ("hi", hi)):
        build_index(spark, part, out_dir=idx, segment_id=sid)
        cat.commit_swap(add=[sid])
    rc = main(["search", "--index", idx, "--query", "order batch",
               "--k", "10", "--fl", "content_sha256"])
    assert rc == 0
    recs = _lines(capsys)
    assert len(recs) == 10
    sha = {
        (sid, int(r["doc_id"])): r["content_sha256"]
        for sid, part in (("lo", lo), ("hi", hi))
        for r in part.select("doc_id", "content_sha256").collect()
    }
    ms = MultiSearcher.from_catalog(spark, Catalog(idx))
    want = sorted(
        (int(r["gdoc_id"]), round(float(r["score"]), 6),
         sha[(r["segment_id"], int(r["doc_id"]))])
        for r in ms.search("order batch", k=10).collect()
    )
    got = sorted(
        (r["doc_id"], round(r["score"], 6), r["content_sha256"]) for r in recs
    )
    assert got == want
    # printed ids are global: two segments' equal local ids stay apart
    assert len({r["doc_id"] for r in recs}) == len(recs)
