"""The benchmark's workloads, driven through the engine's public entry
points only: ``build_index`` + ``Catalog.commit_swap`` (CLI ``build
--positions --commit``), ``MultiSearcher.from_catalog`` + ``.search`` and
the stored-fields fetch (CLI ``search --fl``), ``delete_by_key`` and
``maybe_compact``.

serve        One client, closed loop: classic-parser queries against a
             fixed three-segment catalog with tombstones, each followed by
             the stored-fields fetch of its hits. Builds nothing.
ingest-serve One client, a fixed number of steps on a copy of the fixed
             catalog's smallest segment: build a small batch as a new
             segment and commit it, delete a few earlier docs, reopen the
             searcher, run two checked queries, let the merge policy
             compact. Small builds, so per-job cost dominates; each
             commit gets a new searcher, so caches start cold.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

import numpy as np
import pandas as pd

import gen
from checks import Truth, check_hits
from spans import wall_ms

def log(msg: str) -> None:
    """Progress to stderr; stdout is kept for the result lines."""
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


K = 10
FL = ["path", "lang", "repo"]
# The fixed catalog both workloads start from. Three segments of unequal
# size, as an index that has taken batches of different sizes; 1% of its
# docs are tombstoned, so every query runs the liveDocs mask. The size
# (3,300 docs) is set by the run-time budget, not by a measured user
# catalog: at ~2.5 s a query, most of it per-job Spark cost, a run has
# room for one deck of queries, and the oracle that checks them is built
# from the whole catalog in every run's set-up.
CATALOG_SEED = 7331
SEGMENT_DOCS = (2000, 900, 400)
CATALOG_TOMBSTONES = 40
# ingest-serve: a batch is small enough that fixed per-job cost dominates
# the build, as for a near-real-time feed. Five earlier docs are deleted
# per step. The step count is fixed, not tied to --seconds, so every
# commit does the same work on the same segment layout. One step is what
# the run-time budget holds (a step costs 37-50 s, most of it the first
# build in a fresh JVM and the compaction): the queries see 2 segments
# and 5 tombstones, then the tiered merge policy (at most two segments
# within 1.3x of each other) merges the 400-doc base with the batch,
# dropping the tombstones.
BATCH_DOCS = 500
STEPS = 1
STEP_DELETES = 5
MERGE_POLICY = {"max_merge_at_once": 2, "size_ratio": 1.3}
PAIRS = 4  # traced runs: queries timed both traced and untraced


def dir_bytes(path: str | Path) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _fixture_key(repo: Path) -> str:
    """Content hash of everything the fixed catalog depends on: the
    generator, this module, the session settings and the engine sources."""
    h = hashlib.sha256()
    here = Path(__file__).parent
    files = [here / "gen.py", Path(__file__), here / "run.py"]
    files += sorted((repo / "lucene_solr_spark").rglob("*.py"))
    for f in files:
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def ensure_catalog(spark, repo: Path, work: Path) -> tuple[Path, dict, pd.DataFrame]:
    """The fixed catalog, built once per checkout and reused: (directory,
    meta, corpus). Workloads never write to it (ingest-serve copies)."""
    from lucene_solr_spark.corpus import stamp_sha256
    from lucene_solr_spark.operators.indexer import build_index
    from lucene_solr_spark.operators.merge import delete_by_key
    from lucene_solr_spark.sources.catalog import Catalog

    dest = work / "cache" / f"catalog-{_fixture_key(repo)}"
    if (dest / "meta.json").exists():
        return (dest, json.loads((dest / "meta.json").read_text()),
                pd.read_parquet(dest / "corpus.parquet"))
    tmp = work / "cache" / f"building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    docs = gen.corpus(CATALOG_SEED, CATALOG_SEED, sum(SEGMENT_DOCS))
    cat = Catalog(str(tmp / "catalog"))
    off = 0
    for i, n in enumerate(SEGMENT_DOCS):
        src = tmp / f"input-{i}.parquet"
        docs.iloc[off: off + n].to_parquet(src, index=False)
        off += n
        seg = build_index(spark, stamp_sha256(spark.read.parquet(str(src))),
                          out_dir=cat.root, with_positions=True)
        cat.commit_swap(add=[seg.segment_id])
    rng = np.random.default_rng([CATALOG_SEED, 9])
    victims = docs.iloc[sorted(rng.choice(len(docs), CATALOG_TOMBSTONES, replace=False))]
    delete_by_key(spark, cat, spark.createDataFrame(victims[["repo", "path", "commit"]]))
    docmap = {
        s.segment_id: [[int(r["doc_id"]), r["path"]] for r in
                       s.stored_fields(spark).select("doc_id", "path").collect()]
        for s in cat.segments()
    }
    meta = {"segments": [s.segment_id for s in cat.segments()],
            "docmap": docmap, "deleted_paths": sorted(victims["path"])}
    for i in range(len(SEGMENT_DOCS)):
        (tmp / f"input-{i}.parquet").unlink()
    docs.to_parquet(tmp / "corpus.parquet", index=False)
    (tmp / "meta.json").write_text(json.dumps(meta))
    os.replace(tmp, dest)
    return dest, meta, docs


class Client:
    """One closed-loop client: runs queries through MultiSearcher.search
    plus the stored-fields fetch, timing each from the call to the
    fetched hits, and keeps results for the checks after the window."""

    def __init__(self, spark, tracer, paired: bool):
        from lucene_solr_spark.__main__ import _fetch_stored

        self.spark = spark
        self.tracer = tracer
        self._fetch_stored = _fetch_stored
        # traced runs time the first PAIRS queries twice, untraced and
        # traced, the order alternating from query to query (the second
        # run of a query finds warmer caches); the paired gap is the
        # tracing overhead
        self.paired = paired
        self.results: list[dict] = []
        self.overhead: list[float] = []

    def query(self, ms, q: dict) -> dict:
        qid = len(self.results)
        if not self.paired:
            res = self._once(ms, q, qid, account=False)
        elif qid >= PAIRS:
            res = self._once(ms, q, qid, account=True)
            self._layer_calls(ms, q, qid)
        else:
            plain_first = qid % 2 == 0
            a = self._once(ms, q, qid, account=not plain_first)
            b = self._once(ms, q, qid, account=plain_first)
            traced, plain = (b, a) if plain_first else (a, b)
            if traced["error"] is None and plain["error"] is None:
                self.overhead.append(traced["ms"] / plain["ms"] - 1.0)
            res = traced
            self._layer_calls(ms, q, qid)
        self.results.append(res)
        return res

    def _once(self, ms, q: dict, qid: int, account: bool) -> dict:
        res = {"q": q, "hits": [], "fetched": [], "error": None}
        with self.tracer.span("search.query", qid=qid, account=account) as sp:
            try:
                rows = ms.search(q["q"], k=K, fq=q["fq"]).collect()
                with self.tracer.span("catalog.fetch", account=account):
                    fetched = self._fetch(ms, rows)
                res["hits"] = [(int(r["gdoc_id"]), float(r["score"])) for r in rows]
                res["fetched"] = fetched
            except Exception as exc:  # a failed query is counted, not fatal
                res["error"] = repr(exc)
        res["ms"] = wall_ms(sp)
        sp["cls"] = q["cls"]
        return res

    def _fetch(self, ms, rows) -> list[dict]:
        """CLI ``search --fl``: fetch stored fields keyed by (segment,
        local id)."""
        if not rows:
            return []
        segs = {s.segment_id: s for s in ms.segments}
        wanted: dict[str, dict] = {}
        for r in rows:
            key = (r["segment_id"], int(r["doc_id"]))
            wanted.setdefault(r["segment_id"], {})[int(r["doc_id"])] = key
        got = self._fetch_stored(self.spark, segs, wanted, FL)
        return [got.get((r["segment_id"], int(r["doc_id"])), {}) for r in rows]

    def _layer_calls(self, ms, q: dict, qid: int) -> None:
        """Traced runs only: call the parser, the multi-term rewrite and
        the term-stats pre-pass on their own, so each layer is timed and
        its Spark jobs counted apart from the whole query."""
        from lucene_solr_spark.plans.qparser import parse, resolve_multi_terms

        with self.tracer.span("qparser.parse", qid=qid):
            node = parse(q["q"])
        if q["cls"] == "prefix":
            with self.tracer.span("qparser.rewrite", qid=qid) as sp:
                node = resolve_multi_terms(node, ms)
            sp["terms_expanded"] = len(node.should)
        if q["cls"] in ("term", "fq", "or", "and"):
            with self.tracer.span("search.term_stats", qid=qid):
                ms.term_stats(q["terms"])

    def latencies(self) -> list[float]:
        return [r["ms"] for r in self.results]


def tail(lat: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value): the highest of p50..p99.9 that has at least
    ten samples beyond it, or (None, None) when none has."""
    best = (None, None)
    s = sorted(lat)
    for p in (50, 75, 90, 95, 99, 99.9):
        beyond = len(s) - int(np.ceil(p / 100 * len(s)))
        if beyond >= 10:
            best = (p, float(np.percentile(s, p)))
    return best


def _check_serve(client: Client, truth: Truth) -> int:
    """Checks every timed serve query; returns the number that failed.
    Unfiltered OR and phrase queries go to the oracle."""
    failed = 0
    for res in client.results:
        if res["error"] is not None:
            failed += 1
            print(f"FAILED {res['q']['q']!r}: {res['error']}", flush=True)
            continue
        q = res["q"]
        problems = check_hits(truth, q, res["hits"], res["fetched"], K,
                              use_oracle=q["cls"] in ("or", "phrase") and not q["fq"])
        if problems:
            failed += 1
            print(f"FAILED {q['q']!r} fq={q['fq']!r}: {problems}", flush=True)
    return failed


# --------------------------------------------------------------------------
# serve
# --------------------------------------------------------------------------

def serve(ctx) -> dict:
    from lucene_solr_spark.operators.search import MultiSearcher
    from lucene_solr_spark.sources.catalog import Catalog

    spark, tracer = ctx.spark, ctx.tracer
    t0 = time.perf_counter()
    cat_dir, meta, docs = ensure_catalog(spark, ctx.repo, ctx.work)
    by_path = {r["path"]: r for r in docs.to_dict("records")}
    records, deleted, base = {}, set(), 0
    for sid in meta["segments"]:
        for local, path in meta["docmap"][sid]:
            records[base + local] = by_path[path]
        base += len(meta["docmap"][sid])
    del_paths = set(meta["deleted_paths"])
    deleted = {g for g, r in records.items() if r["path"] in del_paths}
    log(f"catalog ready {time.perf_counter() - t0:.1f}s")
    truth = Truth(records, deleted)
    vocab = gen.QueryVocab([truth.oracle.tokens[g] for g in sorted(records)])
    log(f"oracle ready {time.perf_counter() - t0:.1f}s")
    queries = gen.queries(ctx.seed, vocab, 2000)
    opens = []
    for _ in range(3):
        with tracer.span("catalog.open") as sp:
            ms = MultiSearcher.from_catalog(spark, Catalog(str(cat_dir / "catalog")))
        opens.append(sp["end"] - sp["start"])
    client = Client(spark, tracer, paired=tracer.enabled)
    # warm-up: Python workers start and the scoring plan compiles once.
    # It carries the filter of the run's fq queries, so those are served
    # from the FilterCache, as for a user repeating a filter; the miss
    # (filter materialisation) is paid here.
    fq = next(q["fq"] for q in queries if q["fq"])
    client._once(ms, {"cls": "fq", "q": "import return", "fq": fq,
                      "terms": ["import", "return"]}, -1, account=False)
    log(f"warm {time.perf_counter() - t0:.1f}s")
    setup_once = time.perf_counter() - t0 - sum(opens)
    ctx.setup_s += setup_once + statistics.median(opens)

    start = time.perf_counter()
    i = 0
    # whole decks: at least ``seconds`` long, and every class as often as
    # every other
    while time.perf_counter() - start < ctx.seconds or i % len(gen.DECK):
        client.query(ms, queries[i])
        i += 1
    elapsed = time.perf_counter() - start
    log(f"window {elapsed:.1f}s, {i} queries: "
        + ", ".join(f"{r['q']['cls']}={r['ms']:.0f}" for r in client.results))

    failed = _check_serve(client, truth)
    log(f"checked {time.perf_counter() - start:.1f}s")
    lat = client.latencies()
    content_bytes = sum(len(r["content"].encode()) for r in records.values())
    out = {
        "attempted": len(lat),
        "failed": failed,
        "query_p50_ms": statistics.median(lat),
        "query_qps": len(lat) / elapsed,
        "throughput_per_s": len(lat) / elapsed,
        "index_bytes_per_content_byte": dir_bytes(cat_dir / "catalog") / content_bytes,
        "tail": tail(lat),
        "n_queries": len(lat),
        "query_ms": {f"{j}:{r['q']['cls']}": round(r["ms"]) for j, r in enumerate(client.results)},
        "inputs_sha256": gen.digest(docs, queries),
    }
    if tracer.enabled:
        _tokenize_layer(tracer, [r["content"] for r in records.values()])
        out["layers"] = {"catalog_dir": cat_dir / "catalog", "ms": ms,
                         "ingested_bytes": content_bytes, "client": client}
    return out


def _tokenize_layer(tracer, texts: list[str]) -> None:
    """functions.analysis: the engine's vectorized tokenizer run on the
    driver over the workload's text."""
    import pandas as pd

    from lucene_solr_spark.functions.analysis import tokenize_pandas

    with tracer.span("analysis.tokenize") as sp:
        toks = tokenize_pandas(pd.Series(texts))
    sp["tokens"] = int(toks.map(len).sum())


# --------------------------------------------------------------------------
# ingest-serve
# --------------------------------------------------------------------------

def _check_ingest(res: dict) -> list[str]:
    """Invariants for an ingest-serve query, keyed by the fetched path:
    at most k hits, scores non-increasing, no deleted doc, every hit in
    the query's matching live docs and as many hits as min(k, matching
    live docs). The marker query matches exactly one doc of the new
    batch."""
    if res["error"] is not None:
        return [res["error"]]
    problems = []
    paths = [f.get("path") for f in res["fetched"]]
    scores = [s for _, s in res["hits"]]
    match = res["match"]
    if res["deleted"] & set(paths):
        problems.append("deleted doc returned")
    if any(a < b for a, b in zip(scores, scores[1:])) or len(paths) > K:
        problems.append("not a descending top-k")
    if not set(paths) <= match:
        problems.append(f"hits outside the matching live docs: {sorted(set(paths) - match)[:5]}")
    if len(paths) != min(K, len(match)):
        problems.append(f"{len(paths)} hits, expected {min(K, len(match))}")
    return problems


def _deleted_doc_term(victims: list[dict], toks: dict, live: set) -> str:
    """A term of a doc deleted in this step that some live doc also
    holds: the rarest such term, so the deleted doc would rank near the
    top if the liveDocs mask failed, and the right answer is not empty."""
    for v in victims:
        own = toks[v["path"]]
        df = {t: 0 for t in own}
        for p in live:
            for t in own & toks[p]:
                df[t] += 1
        shared = [t for t in sorted(own) if df[t] > 0]
        if shared:
            return min(shared, key=lambda t: (df[t], -len(t), t))
    raise AssertionError("no deleted doc shares a term with a live doc")


def ingest_serve(ctx) -> dict:
    from lucene_solr_spark.corpus import stamp_sha256
    from lucene_solr_spark.operators.checker import check_segment
    from lucene_solr_spark.operators.indexer import build_index
    from lucene_solr_spark.operators.merge import delete_by_key, maybe_compact
    from lucene_solr_spark.operators.search import MultiSearcher
    from lucene_solr_spark.sources.catalog import Catalog
    from tests.oracle import tokenize

    spark, tracer = ctx.spark, ctx.tracer
    t0 = time.perf_counter()
    cat_dir, meta, docs = ensure_catalog(spark, ctx.repo, ctx.work)
    # the base: the fixed catalog's smallest segment, without tombstones
    # (fewer segments keep the step short; the step's deletes add them)
    sid = meta["segments"][-1]
    base_paths = {path for _, path in meta["docmap"][sid]}
    by_path = {r["path"]: r for r in docs.to_dict("records") if r["path"] in base_paths}
    deleted: set[str] = set()
    root = ctx.run_dir / "catalog"
    copies = []
    for _ in range(3):
        shutil.rmtree(root, ignore_errors=True)
        t = time.perf_counter()
        shutil.copytree(cat_dir / "catalog" / sid, root / sid)
        cat = Catalog(str(root))
        cat.commit_swap(add=[sid])
        copies.append(time.perf_counter() - t)
    ctx.setup_s += time.perf_counter() - t0 - sum(copies) + statistics.median(copies)

    client = Client(spark, tracer, paired=tracer.enabled)
    rng = np.random.default_rng([ctx.seed, 13])
    toks = {p: set(tokenize(r["content"])) for p, r in by_path.items()}
    steps, batches, batch_texts = [], [], []
    start = time.perf_counter()
    for n in range(STEPS):
        # this step's input and expected answers (benchmark work, outside
        # the step's timing)
        batch = gen.corpus(CATALOG_SEED, ctx.seed, BATCH_DOCS,
                           first_id=1_000_000 + n * BATCH_DOCS)
        marker = "zqvisible" + "".join(chr(97 + int(c)) for c in rng.integers(0, 26, 8))
        batch.loc[0, "content"] += "\n" + marker
        src = ctx.run_dir / f"batch-{n}.parquet"
        batch.to_parquet(src, index=False)
        victims = [by_path[p] for p in
                   rng.choice(sorted(set(by_path) - deleted), STEP_DELETES, replace=False)]
        batches.append(batch)
        batch_texts += list(batch["content"])
        for r in batch.to_dict("records"):
            by_path[r["path"]] = r
            toks[r["path"]] = set(tokenize(r["content"]))
        deleted.update(v["path"] for v in victims)
        live = set(by_path) - deleted
        gone = _deleted_doc_term(victims, toks, live)
        asked = [
            # the marker is only in the new batch's first doc
            {"cls": "visible", "q": marker, "fq": None, "terms": [marker]},
            {"cls": "term", "q": gone, "fq": None, "terms": [gone]},
        ]
        for q in asked:
            q["match"] = {p for p in live if q["terms"][0] in toks[p]}

        s0 = time.perf_counter()
        with tracer.span("indexer.build", qid=n) as sp:
            seg = build_index(spark, stamp_sha256(spark.read.parquet(str(src))),
                              out_dir=cat.root, with_positions=True)
        sp.update(postings_rows=seg.stats.n_postings, packed_bytes=seg.stats.packed_bytes)
        with tracer.span("catalog.commit", qid=n):
            cat.commit_swap(add=[seg.segment_id])
        built = time.perf_counter() - s0
        keys = [{k: v[k] for k in ("repo", "path", "commit")} for v in victims]
        with tracer.span("merge.delete", qid=n):
            delete_by_key(spark, cat, spark.createDataFrame(keys))
        with tracer.span("catalog.open", qid=n):
            ms = MultiSearcher.from_catalog(spark, cat)
        client.query(ms, asked[0])
        visible = time.perf_counter() - s0
        client.query(ms, asked[1])
        for res in client.results[-2:]:
            res.update(match=res["q"]["match"], deleted=frozenset(deleted))
        with tracer.span("merge.compact", qid=n) as sp:
            merged = maybe_compact(spark, cat, **MERGE_POLICY)
        sp["bytes_rewritten"] = sum(dir_bytes(m.path) for m in merged)
        steps.append({"docs": seg.stats.n_docs, "s": time.perf_counter() - s0,
                      "build_s": built, "visible_s": visible})
        log(f"step {n}: " + ", ".join(f"{k}={v:.2f}" for k, v in steps[-1].items())
            + f" merged={len(merged)} segments={len(cat.segments())} queries="
            + ",".join(f"{r['ms']:.0f}" for r in client.results[-2:]))
    elapsed = time.perf_counter() - start

    failed = 0
    for res in client.results:
        problems = _check_ingest(res)
        if problems:
            failed += 1
            print(f"FAILED {res['q']['q']!r}: {problems}", flush=True)
    # the build output: CheckIndex invariants and the stored content hashes
    # of the newest segment (the last batch, or the segment it merged into)
    newest = cat.segments()[-1]
    try:
        check_segment(spark, newest)
        stored = newest.stored_fields(spark).select("path", "content_sha256").collect()
        good = sum(
            1 for r in stored if r["path"] in by_path and r["content_sha256"]
            == hashlib.sha256(by_path[r["path"]]["content"].encode()).hexdigest()
        )
        if not good == len(stored) == newest.stats.n_docs:
            raise AssertionError(f"{good} of {newest.stats.n_docs} content hashes match")
    except AssertionError as exc:
        failed += 1
        print(f"FAILED build output check: {exc}", flush=True)
    log(f"checked {time.perf_counter() - start:.1f}s")

    lat = client.latencies()
    docs_in = sum(s["docs"] for s in steps)
    step_s = sum(s["s"] for s in steps)
    content_bytes = sum(len(r["content"].encode()) for r in by_path.values())
    out = {
        "attempted": len(steps) + len(lat) + 1,
        "failed": failed,
        "query_p50_ms": statistics.median(lat),
        "throughput_per_s": docs_in / step_s,
        "ingest_docs_per_s": docs_in / step_s,
        "build_docs_per_s": docs_in / sum(s["build_s"] for s in steps),
        "visible_p50_s": statistics.median(s["visible_s"] for s in steps),
        "index_bytes_per_content_byte": dir_bytes(root) / content_bytes,
        "tail": tail(lat),
        "n_queries": len(lat),
        "n_steps": len(steps),
        "window_s": elapsed,
        "query_ms": [round(x) for x in lat],
        "steps": [{k: round(v, 2) for k, v in st.items()} for st in steps],
        "inputs_sha256": gen.digest(*batches),
    }
    if tracer.enabled:
        _tokenize_layer(tracer, batch_texts)
        out["layers"] = {"catalog_dir": root, "ms": ms, "client": client,
                         "ingested_bytes": sum(len(t.encode()) for t in batch_texts)}
    return out
