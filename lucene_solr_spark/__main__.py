"""spark-submit entry point — the north_star deployment shape:

    zip -r pyspark_fulltext.zip lucene_solr_spark
    spark-submit --py-files pyspark_fulltext.zip \
        --master <cluster> [--num-executors N ...] \
        -m lucene_solr_spark build --input /data/corpus --out /data/index

(locally: ``python -m lucene_solr_spark <cmd> ...``). The session comes
from ``SparkSession.builder.getOrCreate()`` via session.get_spark, so under
spark-submit the submitted master/executor config wins; standalone it
falls back to local[*].

Subcommands map 1:1 onto the library surface (this file is a thin argparse
shim — no logic lives here):

- ``build``   corpus parquet -> on-disk segment + catalog commit
              (operators/indexer.py#build_index; resumable, per-partition
              lineage + metrics printed as one JSON line)
- ``search``  classic query string against a catalog
              (operators/search.py#MultiSearcher + plans/qparser.py)
- ``check``   CheckIndex invariants + stats (operators/checker.py)
- ``merge``   compact all segments into one (operators/merge.py)
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _build(args) -> int:
    from .corpus import documents_as_corpus, stamp_sha256
    from .operators.indexer import build_index
    from .session import get_spark
    from .sources.catalog import Catalog

    if not os.path.exists(args.input):
        print(
            json.dumps({"error": f"input not found: '{args.input}'"}),
            file=sys.stderr,
        )
        return 2
    spark = get_spark(app_name="fulltext-build")
    if args.table == "documents":
        corpus = documents_as_corpus(spark, args.input)
    else:
        corpus = stamp_sha256(spark.read.parquet(args.input))
    synonyms = None
    if args.synonyms:
        from .functions.synonyms import parse_synonym_rules

        with open(args.synonyms) as fh:
            synonyms = parse_synonym_rules(fh.read().splitlines())
    seg = build_index(
        spark,
        corpus,
        out_dir=args.out,
        segment_id=args.segment_id,
        bucket_docs=args.bucket_docs,
        with_positions=args.positions or synonyms is not None,
        synonyms=synonyms,
    )
    if args.commit:
        Catalog(args.out).commit_swap(add=[seg.segment_id])
    print(
        json.dumps(
            {
                "segment_id": seg.segment_id,
                "n_docs": seg.stats.n_docs,
                "n_terms": seg.stats.n_terms,
                "postings_written": seg.stats.n_postings,
                "bytes_compressed": seg.stats.packed_bytes,
            }
        )
    )
    return 0


def _disjoint_doc_ids(spark, segments) -> bool:
    """True iff the segments' doc-id ranges are pairwise disjoint — the
    precondition for serving a segment LIST in ONE flat doc-id space
    (edismax's per-field segment lists). Independently built
    segments each assign ids from 0 (why MultiSearcher applies doc_base
    offsets), so overlap is the common case and must be refused rather
    than silently merging different documents' postings. Ranges come from
    the manifest stats; pre-r5 manifests (-1) fall back to one narrow agg."""
    spans = []
    for sg in segments:
        lo, hi = sg.stats.min_doc_id, sg.stats.max_doc_id
        if lo < 0 or hi < 0:
            from pyspark.sql import functions as F

            r = sg.table(spark, "docmap").agg(
                F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
            ).collect()[0]
            if r["lo"] is None:
                continue  # empty segment occupies no range
            lo, hi = int(r["lo"]), int(r["hi"])
        spans.append((lo, hi))
    spans.sort()
    return all(a[1] < b[0] for a, b in zip(spans, spans[1:]))


def _fetch_stored(spark, segs_by_id, wanted, fl):
    """RealTimeGet-style stored-fields point fetch for the <=k result
    docs (solr RealTimeGetComponent / the 'fl' field list over the
    stored-fields store): each segment's isin-pruned stored-fields scan,
    unioned into ONE job; driver-side rows bounded by --k. The raw stored
    fields are read (opened once per Segment), the norms-joined docmap
    view only when ``fl`` names a norms column. ``wanted`` maps
    segment_id -> {local doc_id: printed doc_id}; unknown fl names are
    ignored, as in the reference."""
    from pyspark.sql import functions as F

    from .operators.search import union_all

    parts, cols_of = [], {}
    for sid, w in wanted.items():
        seg = segs_by_id.get(sid)
        if seg is None or not w:
            continue
        if {"dl", "norm_byte"} & set(fl):
            dm = seg.table(spark, "docmap")
        else:
            dm = seg.stored_fields(spark)
        cols = [c for c in fl if c in dm.columns]
        if cols:
            cols_of[sid] = cols
            parts.append(
                dm.filter(F.col("doc_id").isin([int(x) for x in w])).select(
                    F.lit(sid).alias("segment_id"), "doc_id", *cols
                )
            )
    out: dict[int, dict] = {}
    for r in union_all(parts).collect() if parts else []:
        sid = r["segment_id"]
        out[wanted[sid][int(r["doc_id"])]] = {c: r[c] for c in cols_of[sid]}
    return out


def _search(args) -> int:
    from .operators.search import MultiSearcher
    from .session import get_spark

    cat = _require_index(args.index)
    if isinstance(cat, int):
        return cat
    spark = get_spark(app_name="fulltext-search")
    printed = "gdoc_id"  # edismax serves flat doc ids instead
    if getattr(args, "deftype", "lucene") == "edismax":
        # eDisMax request (ExtendedDismaxQParser analog): the catalog's
        # single field is addressed as 'content' in qf/pf specs
        from .operators.edismax import edismax_topk

        if args.fq:
            # refuse rather than silently drop a filter the user relies on
            print(
                json.dumps({"error": "--fq is not supported with "
                            "--deftype edismax; use the classic parser"}),
                file=sys.stderr,
            )
            return 2
        # Solr's edismax rejects a qf/pf naming an undefined field
        # ("undefined field" SolrException); refuse with the same shape
        # as the other CLI errors instead of an assertion deep in the
        # kernel. The catalog's single stored text field is 'content'.
        for spec_name, spec in (("qf", args.qf), ("pf", args.pf)):
            for part in (spec or "").split():
                field = part.split("^", 1)[0]
                if field and field != "content":
                    print(
                        json.dumps({"error": f"undefined field '{field}' "
                                    f"in {spec_name}; this catalog's only "
                                    "field is 'content'"}),
                        file=sys.stderr,
                    )
                    return 2
        # multi-segment catalogs ride the per-field segment-LIST support
        # (MultiReader shape — no forced merge, global stats). The list
        # shares ONE flat doc-id space, so ranges must be disjoint.
        segs = cat.segments()
        if len(segs) > 1 and not _disjoint_doc_ids(spark, segs):
            print(
                json.dumps({"error": "segments' doc-id ranges overlap; "
                            "edismax needs one global doc-id space — "
                            "run merge"}),
                file=sys.stderr,
            )
            return 2
        if args.query.strip() == "*:*":
            # ExtendedDismaxQParser special-cases `*:*` as
            # MatchAllDocsQuery: every LIVE doc, constant score 1.0, in
            # the flat doc-id space the disjointness guard just verified
            from pyspark.sql import functions as F

            deletes = cat.deletes(spark)
            parts = []
            for sg in segs:
                dm = sg.stored_fields(spark).select("doc_id")
                dd = deletes.filter(
                    F.col("segment_id") == sg.segment_id
                ).select("doc_id")
                parts.append(dm.join(dd, "doc_id", "left_anti"))
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            for r in (
                u.orderBy(F.asc("doc_id")).limit(args.k).collect()
            ):
                print(json.dumps({"doc_id": int(r["doc_id"]),
                                  "score": 1.0}))
            return 0
        params = {
            "q": args.query,
            "qf": args.qf or "content",
            "tie": args.tie,
            "mm": args.mm,
        }
        if args.pf:
            params["pf"] = args.pf
        if args.ps:
            params["ps"] = args.ps
        if args.bq:
            params["bq"] = args.bq          # repeatable field:term^boost
        if args.bf:
            params["bf"] = args.bf          # repeatable dl functions
        if args.boost:
            params["boost"] = args.boost    # multiplicative function
        # liveDocs: with disjoint ranges a local id is the flat id
        dead = cat.deletes(spark)
        hits = edismax_topk(
            spark, {"content": list(segs)}, params, k=args.k,
            deletes=dead.filter(
                dead["segment_id"].isin([sg.segment_id for sg in segs])
            ).select("doc_id"),
        )
        printed = "doc_id"
    elif getattr(args, "deftype", "lucene") == "surround":
        # {!surround} request: W/N distance ops + truncation on the span
        # kernel (operators/surround.py), scored on the catalog searcher:
        # truncation expands against the merged terms dict, stats are
        # global and tombstoned docs are excluded, as on the classic path
        from .operators.surround import SurroundParseError, parse_surround

        if args.fq:
            print(
                json.dumps({"error": "--fq is not supported with "
                            "--deftype surround; use the classic parser"}),
                file=sys.stderr,
            )
            return 2
        ms = MultiSearcher.from_catalog(spark, cat)
        try:
            node = parse_surround(
                args.query, expand=lambda pfx: ms.expand_terms(prefix=pfx)
            )
        except SurroundParseError as exc:
            # surface the parse failure the way the local-params
            # dispatcher does (JSON on stderr, rc=2), not a traceback
            print(json.dumps({"error": f"surround parse: {exc}"}),
                  file=sys.stderr)
            return 2
        hits = ms.span_topk(node, k=args.k)
    elif getattr(args, "deftype", "lucene") == "xmlparser":
        # {!xmlparser} request: XML element tree -> engine Boolean tree,
        # evaluated across the WHOLE catalog (MultiSearcher, global stats)
        from .operators.query import Bool
        from .operators.xmlparser import parse_xml_query

        try:
            tree = parse_xml_query(args.query)
        except Exception as exc:  # malformed XML / unknown element
            print(json.dumps({"error": f"xml query parse: {exc}"}),
                  file=sys.stderr)
            return 2
        ms = MultiSearcher.from_catalog(spark, cat)
        if tree == Bool():
            # top-level MatchAllDocsQuery: every LIVE doc, constant score
            # 1.0, gdoc order; fq composes as on the scored path
            hits = ms.matchall_topk(k=args.k, fq=args.fq)
        else:
            hits = ms.topk_query(tree, k=args.k, fq=args.fq)
    elif (
        getattr(args, "deftype", "lucene") in ("simple", "maxscore")
        or args.query.lstrip().startswith("{!")
    ):
        # local-params dispatch (plans/localparams.py — QParser.getParser
        # analog): a q starting with {!type ...} picks its parser inline
        # (overriding defType, as in the reference); --deftype simple /
        # maxscore wrap a plain q. Evaluated across the WHOLE catalog via
        # MultiSearcher.topk_query — global stats, liveDocs excluded,
        # --fq applies as the usual stored-fields mask.
        from .operators.query import collect_fields
        from .plans.localparams import dispatch
        from .plans.qparser import QueryParseError, resolve_multi_terms

        ms = MultiSearcher.from_catalog(spark, cat)
        q = args.query.lstrip()
        if not q.startswith("{!"):
            q = (
                "{!simple}" if args.deftype == "simple"
                else f"{{!maxscore tie={args.tie}}}"
            ) + q
        try:
            node = dispatch(q)
            if isinstance(node, tuple) and node[0] == "matchall":
                # `{!lucene}*:*` — the canonical Solr everything-request:
                # serve it on the catalog matchall path (fq composes)
                hits = ms.matchall_topk(
                    k=args.k, fq=args.fq, boost=float(node[1])
                )
                for r in hits.collect():
                    print(json.dumps(
                        {"doc_id": int(r["gdoc_id"]),
                         "score": float(r["score"])}))
                return 0
            node = resolve_multi_terms(node, ms)
        except QueryParseError as exc:
            print(json.dumps({"error": str(exc)}), file=sys.stderr)
            return 2
        if collect_fields(node) - {None}:
            # a field-scoped leaf (e.g. {!term f=lang}) would otherwise be
            # looked up in the single text field's postings — silently
            # scoring the wrong field. Refuse like MultiSearcher.topk_query;
            # use --fq for stored-field predicates.
            print(
                json.dumps({"error": "field-scoped clauses are not served "
                            "by this single-field catalog; filter stored "
                            "fields with --fq instead"}),
                file=sys.stderr,
            )
            return 2
        hits = ms.topk_query(node, k=args.k, fq=args.fq)
    elif getattr(args, "synonyms", None):
        # query-time synonym expansion against the plain catalog
        # (global stats, liveDocs excluded)
        from .functions.synonyms import parse_synonym_rules

        with open(args.synonyms) as f:
            rules = parse_synonym_rules(f.read().splitlines())
        hits = MultiSearcher.from_catalog(spark, cat).search_synonyms(
            args.query, rules, k=args.k, fq=args.fq
        )
    else:
        from .plans.qparser import QueryParseError

        ms = MultiSearcher.from_catalog(spark, cat)
        try:
            hits = ms.search(args.query, k=args.k, fq=args.fq)
        except QueryParseError as exc:
            print(json.dumps({"error": f"query parse: {exc}"}),
                  file=sys.stderr)
            return 2
    rows = hits.collect()
    extra: dict[int, dict] = {}
    fl = [c.strip() for c in (getattr(args, "fl", None) or "").split(",")
          if c.strip()]
    if fl and rows:
        cols = set(rows[0].__fields__)
        segs_by_id = {s.segment_id: s for s in cat.segments()}
        wanted: dict[str, dict[int, int]] = {}
        if "segment_id" in cols:
            # unambiguous (segment, local id) pairs straight from the hit;
            # the fetch is keyed by the SAME pair: two segments can share
            # local doc_ids and must not swap stored fields
            row_key = lambda r: (r["segment_id"], int(r["doc_id"]))  # noqa: E731
            for r in rows:
                wanted.setdefault(r["segment_id"], {})[int(r["doc_id"])] = (
                    row_key(r)
                )
        else:
            # flat doc-id space: edismax serves it only after the
            # disjoint-ranges guard, so a raw id matches in at most one
            # docmap
            row_key = lambda r: int(r[printed])  # noqa: E731
            for sid in segs_by_id:
                wanted[sid] = {int(r[printed]): int(r[printed]) for r in rows}
        extra = _fetch_stored(spark, segs_by_id, wanted, fl)
    for r in rows:
        rec = {"doc_id": int(r[printed]), "score": float(r["score"])}
        if fl:
            rec.update(extra.get(row_key(r), {}))
        print(json.dumps(rec, default=str))
    return 0


def _require_index(path: str):
    """Shared IndexNotFoundException-analog guard for read-only
    subcommands: the index's Catalog, or exit code 2 after refusing a
    missing or segment-less index path with the CLI's JSON error
    contract. Runs before any Spark session starts, and never creates the
    directory (checked BEFORE Catalog(), whose constructor mkdirs)."""
    from .sources.catalog import Catalog

    if not os.path.isdir(path):
        reason = "directory does not exist"
    else:
        cat = Catalog(path)
        if cat.segments():
            return cat
        reason = "no committed segments"
    print(
        json.dumps({"error": f"no index found at '{path}' ({reason})"}),
        file=sys.stderr,
    )
    return 2


def _check(args) -> int:
    from .operators.checker import check_segment
    from .session import get_spark

    cat = _require_index(args.index)
    if isinstance(cat, int):
        return cat
    spark = get_spark(app_name="fulltext-check")
    for seg in cat.segments():
        summary = check_segment(spark, seg)
        print(json.dumps({"segment_id": seg.segment_id, **summary}))
    return 0


def _merge(args) -> int:
    from .operators.merge import merge_segments
    from .session import get_spark

    cat = _require_index(args.index)
    if isinstance(cat, int):
        return cat
    spark = get_spark(app_name="fulltext-merge")
    merged = merge_segments(spark, cat.segments(), catalog=cat)
    print(
        json.dumps(
            {"segment_id": merged.segment_id, "n_docs": merged.stats.n_docs}
        )
    )
    return 0


def _percolate(args) -> int:
    from .operators.monitor import Monitor
    from .session import get_spark

    spark = get_spark(app_name="fulltext-percolate")
    queries = [
        (f"q{i}", qs) for i, qs in enumerate(args.query)
    ] if args.query else []
    if args.queries_file:
        with open(args.queries_file) as fh:
            for line in fh:
                line = line.strip()
                if not line or line.startswith("#"):
                    continue
                qid, _, qs = line.partition("\t")
                queries.append((qid, qs))
    mon = Monitor(queries)
    docs = spark.read.parquet(args.input)
    out = mon.match(docs, id_col=args.id_col, text_col=args.text_col)
    for r in out.collect() if args.collect else []:
        print(json.dumps({"doc_id": int(r.doc_id), "query_id": r.query_id}))
    if not args.collect:
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"written": args.out}))
    return 0


def _facet(args) -> int:
    from .operators.facets import json_facet
    from .session import get_spark

    spark = get_spark(app_name="fulltext-facet")
    df = spark.read.parquet(args.input)
    spec = json.loads(args.spec)
    for r in json_facet(df, spec).collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="lucene_solr_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build an index segment from parquet")
    b.add_argument("--input", required=True,
                   help="corpus dir (documents.parquet) or a parquet path")
    b.add_argument("--out", required=True, help="index/catalog directory")
    b.add_argument("--table", default="documents",
                   choices=["documents", "parquet"],
                   help="'documents' = testdata-shaped dir; 'parquet' = "
                        "any table with (repo,path,commit,lang,content)")
    b.add_argument("--segment-id", default=None)
    b.add_argument("--bucket-docs", type=int, default=8192)
    b.add_argument("--synonyms", default=None,
                   help="synonyms.txt (Solr format) for index-time "
                        "SynonymGraphFilter injection (implies --positions)")
    b.add_argument("--positions", action="store_true",
                   help="store positional postings (phrase/span queries)")
    b.add_argument("--no-commit", dest="commit", action="store_false",
                   help="write the segment but skip the catalog commit")
    b.set_defaults(func=_build)

    s = sub.add_parser("search", help="query a catalog")
    s.add_argument("--index", required=True)
    s.add_argument("--query", required=True,
                   help="classic query string (plans/qparser.py syntax)")
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--fq", default=None,
                   help="filter query: SQL predicate over stored fields "
                        "(mask only — scores and stats untouched)")
    s.add_argument("--deftype", default="lucene",
                   choices=["lucene", "edismax", "surround", "xmlparser",
                            "simple", "maxscore"],
                   help="query parser: classic lucene (default), edismax, "
                        "surround (W/N span ops), xmlparser (XML DSL), "
                        "simple (never-throws end-user grammar), or "
                        "maxscore (SHOULD clauses combine as max + tie). "
                        "Under lucene/simple/maxscore, a --query starting "
                        "with {!type ...} dispatches through the "
                        "local-params registry instead (the edismax/"
                        "surround/xmlparser deftypes take their own "
                        "syntax verbatim)")
    s.add_argument("--qf", default=None,
                   help="edismax qf spec (field^boost ...; field = 'content')")
    s.add_argument("--pf", default=None, help="edismax phrase-boost fields")
    s.add_argument("--ps", default=None, help="edismax phrase slop for pf")
    s.add_argument("--mm", default=None,
                   help="edismax min-should-match spec (e.g. 2, -1, 75%%, '2<-25%%')")
    s.add_argument("--tie", type=float, default=0.0, help="edismax tie-breaker")
    s.add_argument("--bq", action="append", default=None,
                   help="edismax additive boost query (field:term^boost; repeatable)")
    s.add_argument("--bf", action="append", default=None,
                   help="edismax additive boost function over dl (repeatable)")
    s.add_argument("--boost", default=None,
                   help="edismax multiplicative boost function over dl")
    s.add_argument("--synonyms", default=None,
                   help="synonyms.txt for QUERY-TIME expansion (classic parser path)")
    s.add_argument("--fl", default=None,
                   help="comma-separated stored fields to return with each "
                        "hit (RealTimeGet-style point fetch from the "
                        "stored-fields store; unknown names ignored)")
    s.set_defaults(func=_search)

    c = sub.add_parser("check", help="CheckIndex every committed segment")
    c.add_argument("--index", required=True)
    c.set_defaults(func=_check)

    m = sub.add_parser("merge", help="compact all segments into one")
    m.add_argument("--index", required=True)
    m.set_defaults(func=_merge)

    pc = sub.add_parser(
        "percolate", help="reverse search: registered queries vs a doc stream"
    )
    pc.add_argument("--input", required=True, help="docs parquet")
    pc.add_argument("--query", action="append", default=None,
                    help="query string (repeatable; ids q0, q1, ...)")
    pc.add_argument("--queries-file", default=None,
                    help="TSV file: query_id<TAB>query_string per line")
    pc.add_argument("--id-col", default="doc_id")
    pc.add_argument("--text-col", default="text")
    pc.add_argument("--collect", action="store_true",
                    help="print matches as JSON lines instead of writing")
    pc.add_argument("--out", default="/tmp/percolate_out",
                    help="output parquet (when not --collect)")
    pc.set_defaults(func=_percolate)

    fa = sub.add_parser("facet", help="run a json.facet spec over parquet")
    fa.add_argument("--input", required=True)
    fa.add_argument("--spec", required=True, help="JSON facet spec")
    fa.set_defaults(func=_facet)

    args = p.parse_args(argv)
    return args.func(args)


if __name__ == "__main__":
    sys.exit(main())
