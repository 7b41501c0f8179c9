"""Top-k BM25 search over segment tables — IndexSearcher analog, Spark-first.

Reference lifecycle being re-expressed (SURVEY.md §3.1):
  IndexSearcher#search -> Weight (stats pre-pass) -> per-leaf Scorer DAG
  (TermScorer / WANDScorer + ImpactsDISI block skipping)
  -> TopScoreDocCollector per leaf -> TopDocs#merge

One searcher: ``MultiSearcher`` serves a catalog of segments (Lucene's
IndexSearcher over an N-leaf reader); ``Searcher`` is its one-segment
case, reporting (doc_id, score) since a lone segment's gdoc_id is its
doc_id. Each segment's tables are opened once per searcher.

Spark restatement:
  * stats pre-pass: the query terms' (term, df) rows of every segment's
    ``terms`` table, collected and summed on the driver (at most terms x
    segments rows — the ExactStatsCache analog, global by construction).
  * postings scan: ``postings.filter(term.isin(...))`` — the postings table
    is range-partitioned + sorted by term, so parquet row-group min/max stats
    prune everything else (the FST terms-index analog).
  * per-leaf scoring: ONE applyInPandas over every segment, grouped by
    (``bucket``, ``seg``): the segments' postings are unioned, each row
    tagged with its segment ordinal ``seg``, and a (doc-space bucket fixed
    at build time, segment) pair is a self-contained "leaf" — every term's
    blocks are aligned to the bucket. Inside: numpy decode + float32 BM25,
    optionally with block-max pruning (WAND analog — see ``_score_bucket``).
    A query runs one scoring stage however many segments the catalog has.
  * merge: per-leaf top-k (seg, doc_id, score) -> ``seg`` mapped to
    segment_id and docBase, then ONE global ``orderBy(score desc, gdoc_id
    asc).limit(k)`` (gdoc_id = docBase + doc_id) — TopDocs#merge with the
    pinned tie-break.
  * late materialization: display fields joined from ``docmap`` only AFTER
    the limit (QueryComponent#distributedProcess two-phase retrieval analog).

Float32 parity (SURVEY.md §4.3): per-doc scores are accumulated in float32
in lexicographic term order in BOTH paths; WAND pruning uses float64 upper
bounds with a safety factor, then re-accumulates survivors in the pinned
order, so pruning never changes a reported score.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.analysis import tokenize_text
from ..functions.packing import delta_decode, unpack_ints
from ..sources.catalog import Segment
from . import bm25

_TOPK_SCHEMA = "doc_id long, score float"
_MULTI_SCHEMA = "segment_id string, doc_id long, gdoc_id long, score float"

# side-channel row tags (see _bucket_plan)
_POS, _FQ, _DEL = 0, 1, 2
_NO_SIDE = pd.DataFrame(
    {"doc_id": np.array([], dtype=np.int64), "tag": np.array([], dtype=np.int32)}
)


def _empty_topk() -> pd.DataFrame:
    return pd.DataFrame(
        {"doc_id": np.array([], dtype=np.int64),
         "score": np.array([], dtype=np.float32)}
    )


def union_all(frames: list[DataFrame]) -> DataFrame:
    """One frame from several, by column name; a column some frames lack
    is null in their rows."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def _lit_map(values: dict, key: str) -> Column:
    """``values[x]`` for the value x of column ``key``, as a literal map:
    no join, one expression."""
    return F.element_at(
        F.create_map(*(F.lit(x) for kv in values.items() for x in kv)),
        F.col(key),
    )


@dataclass
class TermStats:
    term: str
    df: int
    idf: float


def osa_distance(a: str, b: str) -> int:
    """Optimal string alignment distance — Levenshtein + adjacent
    transposition, each substring transposed at most once. This is the
    metric of Lucene's LevenshteinAutomata with transpositions=true
    (FuzzyQuery's default), NOT unrestricted Damerau."""
    la, lb = len(a), len(b)
    prev2 = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    return prev[lb]


def _osa_udf(query_term: str):
    """Vectorized OSA distance to ``query_term`` (runs only on the
    Levenshtein-pre-filtered sliver of the terms dict)."""
    import pandas as pd

    @F.pandas_udf("int")
    def dist(terms):
        return terms.map(lambda t: osa_distance(t, query_term)).astype("int32")

    return dist


def _apply_term_patterns(t, prefix, wildcard, fuzzy, regexp, term_range):
    """MultiTermQuery predicate set over a terms-dict DataFrame (used by
    MultiSearcher.expand_terms)."""
    if prefix is not None:
        t = t.filter(F.col("term").startswith(prefix))
    if wildcard is not None:
        t = t.filter(F.col("term").like(_wildcard_like(wildcard)))
    if fuzzy is not None:
        # FuzzyQuery (search/FuzzyQuery.java): Lucene's metric is OSA
        # (Damerau with transpositions, the LevenshteinAutomata default,
        # transpositions=true). 2-tuple keeps the legacy plain-Levenshtein
        # behavior; 3-tuple (term, max_edits, True) enables transpositions:
        # a sound JVM-side Levenshtein pre-filter (osa <= lev <= 2*osa, so
        # lev <= 2k contains every osa <= k term) narrows the dictionary
        # before the exact OSA check runs vectorized on the sliver.
        if len(fuzzy) == 3:
            term, max_edits, transpositions = fuzzy
        else:
            term, max_edits = fuzzy
            transpositions = False
        if not transpositions:
            t = t.filter(F.levenshtein(F.col("term"), F.lit(term)) <= max_edits)
        else:
            t = t.filter(
                F.levenshtein(F.col("term"), F.lit(term)) <= 2 * max_edits
            )
            t = t.filter(_osa_udf(term)(F.col("term")) <= max_edits)
    if regexp is not None:
        # RegexpQuery (search/RegexpQuery.java) matches the ENTIRE term;
        # Spark rlike is a substring search, so anchor the pattern
        # (idempotent for already-anchored patterns)
        t = t.filter(F.col("term").rlike(f"^(?:{regexp})$"))
    if term_range is not None:
        # TermRangeQuery (search/TermRangeQuery.java): [lo, hi) over the
        # sorted terms dict — maps straight onto parquet min/max pruning
        lo, hi = term_range
        if lo is not None:
            t = t.filter(F.col("term") >= lo)
        if hi is not None:
            t = t.filter(F.col("term") < hi)
    return t


def _wildcard_like(wildcard: str) -> str:
    """WildcardQuery pattern -> SQL LIKE pattern (escape '\\'). As in
    search/WildcardQuery.java#toAutomaton, only '*' and '?' are wildcards,
    a backslash makes the next character literal (``\\*`` matches a '*'),
    and a trailing lone backslash is itself literal; literal '%', '_' and
    '\\' are escaped for LIKE."""
    out, chars = [], iter(wildcard)
    for c in chars:
        if c in "*?":
            out.append("%" if c == "*" else "_")
            continue
        if c == "\\":
            c = next(chars, "\\")
        out.append("\\" + c if c in "\\%_" else c)
    return "".join(out)


class FilterCache:
    """Searcher-level filter cache — the LRUQueryCache analog
    (search/LRUQueryCache.java): caches the MATERIALIZED doc-id set of a
    filter per searcher, keyed by the filter's canonical form. Cached
    entries are persisted DataFrames, so a repeated filter skips the
    postings decode entirely (Lucene caches the built bitset the same
    way). LRU-bounded; evicted entries are unpersisted."""

    def __init__(self, max_entries: int = 32):
        from collections import OrderedDict

        self._entries: "OrderedDict[tuple, DataFrame]" = OrderedDict()
        self.max_entries = max_entries
        self.hits = 0
        self.misses = 0

    def get_or_build(self, key: tuple, builder) -> DataFrame:
        if key in self._entries:
            self.hits += 1
            self._entries.move_to_end(key)
            return self._entries[key]
        self.misses += 1
        df = builder().persist()
        df.count()  # materialize now (cache the bitset, not the plan)
        self._entries[key] = df
        while len(self._entries) > self.max_entries:
            _, old = self._entries.popitem(last=False)
            old.unpersist()
        return df


class QueryResultCache:
    """Searcher-level ranked-result cache — the queryResultCache +
    queryResultWindowSize analog (solr/core/.../search/SolrIndexSearcher
    .java): caches the COLLECTED (doc_id, score) prefix of a ranked
    result keyed by the query's canonical form. A later request for
    k <= cached-window is answered from the driver-side entry with no
    postings scan (Solr serves follow-up pages inside the window the
    same way); a larger k misses, re-executes with the window applied,
    and refreshes the entry. ``complete`` marks results the index
    exhausted (fewer hits than the window) — those serve ANY k."""

    def __init__(self, max_entries: int = 64, window: int = 50):
        from collections import OrderedDict

        self._entries: "OrderedDict[tuple, tuple[list, bool]]" = OrderedDict()
        self.max_entries = max_entries
        self.window = window
        self.hits = 0
        self.misses = 0

    def lookup(self, key: tuple, k: int):
        ent = self._entries.get(key)
        if ent is None:
            self.misses += 1
            return None
        rows, complete = ent
        if len(rows) >= k or complete:
            self.hits += 1
            self._entries.move_to_end(key)
            return rows[:k]
        self.misses += 1  # window too small — treat as miss, will refresh
        return None

    def put(self, key: tuple, rows: list, complete: bool) -> None:
        self._entries[key] = (list(rows), complete)
        self._entries.move_to_end(key)
        while len(self._entries) > self.max_entries:
            self._entries.popitem(last=False)


class MultiSearcher:
    """Search across a catalog of segments — the Solr distributed-select
    analog (SURVEY.md §3.2: QueryComponent#distributedProcess + mergeIds)
    and Lucene's IndexSearcher over an N-leaf MultiReader/TopDocs#merge.
    A single segment is the one-leaf case (``Searcher``).

    Semantics pinned to Lucene:
    - corpus stats are GLOBAL: N = sum of segment docCounts, avgdl from the
      summed totals, df(t) = sum of per-segment df — the ExactStatsCache
      analog, free here because the terms tables are just unioned+summed.
    - deleted docs are EXCLUDED from results but still counted in stats
      until a merge rewrites the segment (liveDocs semantics).
    - merge tie-break: score desc, then global doc order = (segment order,
      local doc_id) — Lucene's leaf-ordered docBase + docID.

    Result columns: (segment_id, doc_id, gdoc_id, score) where gdoc_id =
    segment docBase + local doc_id.
    """

    _SCHEMA = _MULTI_SCHEMA

    def __init__(self, spark: SparkSession, segments: list[Segment], deletes: DataFrame | None = None):
        if not segments:
            raise ValueError("MultiSearcher needs at least one segment")
        self.spark = spark
        self.segments = segments
        n_docs = sum(s.stats.n_docs for s in segments)
        sum_ttf = sum(s.stats.sum_ttf for s in segments)
        self.n_docs = n_docs
        self.avgdl = sum_ttf / n_docs if n_docs else 0.0
        self._cache = bm25.norm_cache(self.avgdl)
        self.doc_base = {}
        acc = 0
        for s in segments:
            self.doc_base[s.segment_id] = acc
            acc += s.stats.n_docs
        # Tombstones stay a DataFrame end-to-end (PendingDeletes analog,
        # distributed): (bucket, seg) slices ride the scorers' one tagged
        # side channel next to the fq sets (_bucket_plan) — never
        # collected to the driver, so a 100 TB-scale delete backlog costs
        # O(1) driver memory. isEmpty() is a limit-1 probe so delete-free
        # catalogs skip the side channel entirely (the common fast path).
        self._deletes: DataFrame | None = None
        if deletes is not None and not deletes.isEmpty():
            self._deletes = deletes
        # shards.tolerant bookkeeping (set by from_catalog(tolerant=True))
        self.skipped: list[tuple[str, str]] = []
        self.partial_results = False
        # per-(segment, fq) materialized DocSets (the Searcher FilterCache
        # analog): repeated filters skip the stored-fields scan per query
        self.filter_cache = FilterCache()
        self.result_cache: QueryResultCache | None = None
        self.bloom = None
        # tables opened on first use, then reused by every query
        self._opened: dict[tuple[str | None, str], DataFrame] = {}
        self._terms_union: DataFrame | None = None

    def _table(self, s: Segment, name: str) -> DataFrame:
        """Segment ``s``'s table ``name``, opened once per searcher — the
        SegmentReader opened once per IndexSearcher. Segments are
        immutable, so one read (file listing + schema inference) serves
        every later query; a reopen builds a new searcher."""
        key = (s.segment_id, name)
        if key not in self._opened:
            self._opened[key] = s.table(self.spark, name)
        return self._opened[key]

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], self._SCHEMA)

    def _fq_docs(self, s: Segment, fq: str) -> DataFrame:
        return self.filter_cache.get_or_build(
            (s.segment_id, fq), lambda: build_fq_docs(self.spark, s, fq)
        )

    def _each_segment(self, frame) -> DataFrame:
        """``frame(s)`` of every segment as one frame, each row tagged with
        its segment ordinal ``seg`` (the N-leaf reader of one plan)."""
        return union_all([
            frame(s).withColumn("seg", F.lit(i))
            for i, s in enumerate(self.segments)
        ])

    def _segs_table(self, name: str) -> DataFrame:
        """Every segment's table ``name``, tagged with ``seg``, opened once."""
        key = (None, name)
        if key not in self._opened:
            self._opened[key] = self._each_segment(lambda s: self._table(s, name))
        return self._opened[key]

    def _fq_sets(self, fq: str) -> DataFrame:
        """(bucket, doc_id, seg) of every segment's docs passing ``fq``,
        each segment's set from the FilterCache."""
        return self._each_segment(lambda s: self._fq_docs(s, fq))

    def _tombstones(self) -> DataFrame | None:
        """The catalog's tombstones as (seg, bucket, doc_id), sharing each
        segment's build-time doc-space bucketing — the one (segment_id,
        doc_id) frame mapped through literal maps, no join — or None when
        the catalog has no deletes at all."""
        if self._deletes is None:
            return None
        ids = [s.segment_id for s in self.segments]
        bd = _lit_map({s.segment_id: s.stats.bucket_docs for s in self.segments},
                      "segment_id")
        return self._deletes.filter(F.col("segment_id").isin(ids)).select(
            _lit_map({sid: i for i, sid in enumerate(ids)}, "segment_id")
            .alias("seg"),
            F.floor(F.col("doc_id") / bd).cast("long").alias("bucket"),
            "doc_id",
        )

    @classmethod
    def from_catalog(
        cls, spark: SparkSession, catalog, tolerant: bool = False
    ) -> "MultiSearcher":
        """``tolerant`` is solr's shards.tolerant=true
        (HttpShardHandler/SearchHandler: a failed shard is skipped and the
        response carries partialResults=true instead of propagating the
        error; the default re-raises like shards.tolerant=false). A
        segment "fails" when a required table's completeness marker is
        missing — the per-table _SUCCESS marker is this engine's analog
        of the reference's per-file checksum validation at reader-open
        (index/SegmentInfos.java read path). Skipped segments are listed
        on ``.skipped`` (segment_id, reason) and ``.partial_results`` is
        set — surfaced, not logged."""
        segs = catalog.segments()
        if not tolerant:
            return cls(spark, segs, deletes=catalog.deletes(spark))
        ok: list[Segment] = []
        skipped: list[tuple[str, str]] = []
        for s in segs:
            reason = cls._validate_segment(s)
            if reason is None:
                ok.append(s)
            else:
                skipped.append((s.segment_id, reason))
        if not ok:
            raise RuntimeError(
                "shards.tolerant: every segment failed validation: "
                + "; ".join(f"{sid}: {r}" for sid, r in skipped)
            )
        ms = cls(spark, ok, deletes=catalog.deletes(spark))
        ms.skipped = skipped
        ms.partial_results = bool(skipped)
        return ms

    @staticmethod
    def _validate_segment(s: Segment) -> str | None:
        """None when servable; else the skip reason. In-memory (NRT)
        segments are live by construction."""
        for t in ("terms", "postings", "docmap"):
            if not s.has_table(t):
                return f"missing table {t!r}"
        return None

    def _all_terms(self) -> DataFrame:
        """Every segment's (term, df) rows as ONE scan, opened once: all
        on-disk segments go through a single multi-path parquet read (one
        FileScan node — plan size constant in segment count, the
        index/MultiTermsEnum.java merged enum), with in-memory (NRT,
        unflushed) segments unioned on top. At a thousand segments this
        keeps plan compilation O(1) instead of O(segments) union nodes. A
        lone on-disk segment reuses its own opened terms table."""
        if self._terms_union is None:
            on_disk = [bool(s.path) and "terms" not in s.dfs for s in self.segments]
            scan = sum(on_disk) > 1
            parts = [self.spark.read.parquet(*(
                os.path.join(s.path, "terms")
                for s, d in zip(self.segments, on_disk) if d
            ))] if scan else []
            parts += [
                self._table(s, "terms")
                for s, d in zip(self.segments, on_disk) if not (scan and d)
            ]
            self._terms_union = union_all([p.select("term", "df") for p in parts])
        return self._terms_union

    def attach_bloom(self, bloom=None, fp: float = 0.01):
        """Attach a terms bloom filter (functions/bloom.py — the
        BloomFilteringPostingsFormat analog) over the union of the
        segments' terms: all-absent queries then skip the stats pre-pass
        and every scoring job, answered on the driver. Built over a
        one-table view of ``_all_terms`` if not given; its size hint is
        the summed per-segment term counts (the union's row count)."""
        if bloom is None:
            from ..functions.bloom import TermBloom
            from ..sources.catalog import SegmentStats

            union = Segment(
                "terms-union",
                SegmentStats(n_terms=sum(s.stats.n_terms for s in self.segments)),
                dfs={"terms": self._all_terms()},
            )
            bloom = TermBloom.build(self.spark, union, fp=fp)
        self.bloom = bloom
        return bloom

    def term_stats(self, terms: list[str]) -> dict[str, TermStats]:
        """Global df per query term (phase 0, the Weight stats pre-pass):
        the query terms' (term, df) rows of every segment, collected and
        summed on the driver — at most terms x segments rows, and no
        aggregation job."""
        if not terms:
            return {}
        if self.bloom is not None:
            terms = [t for t in terms if self.bloom.might_contain(t)]
            if not terms:  # no false negatives -> absent in EVERY segment
                return {}
        dfs: dict[str, int] = {}
        for r in self._all_terms().filter(F.col("term").isin(terms)).collect():
            dfs[r["term"]] = dfs.get(r["term"], 0) + int(r["df"])
        return {
            t: TermStats(term=t, df=df, idf=bm25.idf(self.n_docs, df))
            for t, df in dfs.items()
        }

    def enable_result_cache(
        self, max_entries: int = 64, window: int = 50
    ) -> QueryResultCache:
        """Turn on the queryResultCache (off by default — a searcher over
        a mutating catalog must invalidate by building a new searcher,
        exactly Solr's new-searcher-per-commit discipline)."""
        self.result_cache = QueryResultCache(max_entries, window)
        return self.result_cache

    def _cached_topk(self, key: tuple, k: int, run):
        """Route a ranked query through the result cache when enabled:
        serve k <= window from the driver-side entry (zero postings
        scans), otherwise execute with the window applied and refresh."""
        rc = self.result_cache
        if rc is None:
            return run(k)
        rows = rc.lookup(key, k)
        if rows is None:
            wk = max(k, rc.window)
            fetched = run(wk).collect()
            rc.put(key, fetched, complete=len(fetched) < wk)
            rows = fetched[:k]
        return self.spark.createDataFrame(rows, self._SCHEMA)

    def topk(
        self,
        query_text: str,
        k: int = 10,
        mode: str = "wand",
        op: str = "or",
        fq: str | None = None,
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """Top-k BM25. ``mode``: 'wand' (block-max pruning) or 'exhaustive'.
        ``op``: 'or' (disjunction, sum of matching terms) or 'and'
        (conjunction: doc must contain every query term). ``fq``: optional
        filter query — SQL predicate over stored fields; restricts matches
        without touching scores or corpus stats (Solr fq semantics).

        ``after``: searchAfter deep paging (search/IndexSearcher.java
        #searchAfter, Solr cursorMark) — the k hits strictly after the
        cursor ``(score, gdoc_id)`` in (score desc, gdoc_id asc) order,
        keyset pagination with no offset scan. Each segment applies
        ``(score, gdoc_id - docBase)`` INSIDE its per-bucket scorer before
        the local top-k, so a bucket emits at most k rows and per-page
        cost stays proportional to k. WAND stays off under a cursor: its
        threshold prunes exactly the below-cursor region a page needs."""
        if mode not in ("wand", "exhaustive"):
            raise ValueError(f"mode must be 'wand' or 'exhaustive', got {mode!r}")
        if op not in ("or", "and"):
            raise ValueError(f"op must be 'or' or 'and', got {op!r}")
        return self._cached_topk(
            ("topk", query_text, mode, op, fq, after), k,
            lambda kk: self._topk_run(query_text, kk, mode, op, fq, after),
        )

    def topk_after(
        self, query_text: str, after: tuple[float, int], k: int = 10, **kw
    ) -> DataFrame:
        """``topk(query_text, k, after=after, ...)``."""
        return self.topk(query_text, k, after=after, **kw)

    def _topk_run(
        self, query_text: str, k: int, mode: str, op: str, fq: str | None,
        after: tuple[float, int] | None,
    ) -> DataFrame:
        q_terms = sorted(set(tokenize_text(query_text)))
        stats = self.term_stats(q_terms)
        matched = sorted(stats)  # lexicographic — pinned summation order
        if not matched or (op == "and" and len(matched) < len(q_terms)):
            return self._empty()
        idfs = {t: np.float32(stats[t].idf) for t in matched}
        # "and" routes to the BlockMaxConjunction branch
        use_wand = mode == "wand" and after is None
        return self._merge(
            score_postings(
                self._segs_table("postings"),
                idfs,
                self._cache,
                k,
                op,
                len(q_terms),
                self.avgdl,
                use_wand,
                after=None if after is None else (
                    float(after[0]),
                    tuple(int(after[1]) - self.doc_base[s.segment_id]
                          for s in self.segments),
                ),
                deleted_docs=self._tombstones(),
                filter_docs=self._fq_sets(fq) if fq else None,
            ),
            k,
        )

    def topk_query(self, q, k: int = 10, fq: str | None = None) -> DataFrame:
        """Boolean-tree (and Phrase-clause) search — the IndexSearcher
        #search(BooleanQuery) analog. The tree (nested bool,
        minShouldMatch, per-clause boost, MUST_NOT, FILTER, Phrase and
        Synonym clauses) is evaluated vectorized inside the per-bucket
        leaf. Global stats (summed df / N / avgdl) feed EVERY segment's
        leaf scorer, so scores are identical to a single merged index
        (ExactStatsCache); per-segment liveDocs excluded; merge tie-break
        (score desc, gdoc_id asc) as in topk. Reference:
        search/BooleanQuery.java, Boolean2ScorerSupplier.java,
        MinShouldMatchSumScorer.java, PhraseQuery.java."""
        # frozen-dataclass trees have a stable canonical repr
        return self._cached_topk(
            ("tree", repr(q), fq), k,
            lambda kk: self._topk_query_run(q, kk, fq),
        )

    def _topk_query_run(self, q, k: int, fq: str | None) -> DataFrame:
        from .query import collect_fields, collect_phrases, collect_terms, rewrite

        if collect_fields(q) - {None}:
            # a field-scoped leaf would silently score against the single
            # indexed text field (wrong field, wrong results)
            raise ValueError(
                f"field-scoped query on a single-field {type(self).__name__}"
                " — use operators.fields.FieldedSearcher"
            )
        q = rewrite(q)
        phrases = collect_phrases(q)
        stats = self.term_stats(sorted(collect_terms(q)))
        if not stats:
            return self._empty()
        # GLOBAL dfs and N — identical to a merged index
        idfs, syn_idfs, phrase_idfs = _tree_idfs(q, stats, self.n_docs)
        if not (idfs or syn_idfs or phrase_idfs):
            return self._empty()  # no leaf can match: scan nothing
        if phrases:
            assert all(s.has_table("positions") for s in self.segments), (
                "phrase clauses need a positional index in every segment "
                "(build_index(with_positions=True))"
            )
        return self._merge(
            score_query_postings(
                self._segs_table("postings"),
                q,
                idfs,
                self._cache,
                k,
                deleted_docs=self._tombstones(),
                positions=(
                    self._segs_table("positions") if phrase_idfs else None
                ),
                phrase_idfs=phrase_idfs,
                filter_docs=self._fq_sets(fq) if fq else None,
                syn_idfs=syn_idfs,
            ),
            k,
        )

    def _merge(self, hits: DataFrame, k: int) -> DataFrame:
        """Global merge (TopDocs#merge) of one plan's per-leaf (seg,
        doc_id, score) rows: ``seg`` maps to segment_id and to docBase
        (gdoc_id = docBase + doc_id) through literal maps, and the rows are
        ordered by (score desc, gdoc_id asc) and limited to k."""
        ids = [s.segment_id for s in self.segments]
        return hits.select(
            _lit_map(dict(enumerate(ids)), "seg").alias("segment_id"),
            "doc_id",
            (F.col("doc_id") + _lit_map(
                {i: self.doc_base[sid] for i, sid in enumerate(ids)}, "seg"
            )).alias("gdoc_id"),
            "score",
        ).orderBy(F.desc("score"), F.asc("gdoc_id")).limit(k)

    def topk_multi_phrase(self, slots: list, k: int = 10, slop: int = 0) -> DataFrame:
        """MultiPhraseQuery (search/MultiPhraseQuery.java): slot i of the
        phrase accepts any member of ``slots[i]``. ``slop=0`` is exact
        adjacency; ``slop>0`` walks each slot as ONE leg over the union of
        its members' positions (phrase.py#bucket_multi_phrase_freqs has
        the pinned semantics). idf sums every PRESENT (slot, member) term,
        slot order then member order (MultiPhraseWeight); a slot with no
        present member matches nothing."""
        from .phrase import bucket_multi_phrase_freqs

        slots = [tuple(s) for s in slots]
        stats = self.term_stats(sorted({t for s in slots for t in s}))
        if not slots or not all(any(t in stats for t in s) for s in slots):
            return self._empty()
        idf_sum = np.float32(
            sum(stats[t].idf for s in slots for t in s if t in stats)
        )
        return self._positional_topk(
            stats, idf_sum,
            lambda rows: bucket_multi_phrase_freqs(rows, slots, slop), k,
        )

    def span_topk(self, node, k: int = 10) -> DataFrame:
        """Top-k BM25 over a span query tree (spans.py — SpanWeight):
        freq = fractional span freq, idf = sum over the distinct SCORING
        terms present (a SpanNot's exclusion side gates but never scores);
        no hit unless every required term is present."""
        from .spans import _required_terms, bucket_span_freqs, scoring_terms, span_terms

        required = _required_terms(node)
        stats = self.term_stats(sorted(span_terms(node)))
        if not stats or any(t not in stats for t in required):
            return self._empty()
        idf_sum = np.float32(
            sum(stats[t].idf for t in sorted(scoring_terms(node)) if t in stats)
        )
        return self._positional_topk(
            stats, idf_sum,
            lambda rows: bucket_span_freqs(rows, node, required), k,
        )

    def _positional_topk(self, terms, idf_sum: np.float32, freqs, k: int) -> DataFrame:
        """One plan for the positional scorers, each a pseudo-term over the
        catalog's leaves like PhraseWeight and SpanWeight: every segment's
        positions rows of ``terms`` go through _bucket_plan with the
        tombstones on its side channel. In a leaf, ``freqs(rows)`` gives
        (doc_ids, freqs, norm_bytes); each doc scores
        f32(idf_sum * (f / (f + cache[norm_byte]))), tombstones are masked
        before the local top-k, and _merge merges."""
        assert all(s.has_table("positions") for s in self.segments), (
            "positional queries need a positional index in every segment "
            "(build_index(with_positions=True))"
        )
        cache = self._cache  # closures must not capture the searcher

        def leaf(seg: int, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            ids, fr, norms = freqs(left)
            if not ids.size:
                return _empty_topk()
            _, _, deleted = _split_side(right, False)
            base = int(ids.min())
            span = int(ids.max()) - base + 1
            f = fr.astype(np.float32)
            score = np.zeros(span, dtype=np.float32)
            score[ids - base] = idf_sum * (f / (f + cache[norms]))
            hit = np.zeros(span, dtype=bool)
            hit[ids - base] = True
            return _local_topk(hit & ~_excluded(base, span, deleted), score, base, k)

        rows = self._segs_table("positions").filter(F.col("term").isin(sorted(terms)))
        return self._merge(_bucket_plan(rows, leaf, None, self._tombstones()), k)

    def expand_terms(
        self,
        prefix: str | None = None,
        wildcard: str | None = None,
        fuzzy: tuple[str, int] | None = None,
        regexp: str | None = None,
        term_range: tuple[str | None, str | None] | None = None,
        max_expansions: int = 1024,
    ) -> list[str]:
        """MultiTermQuery rewrite (CONSTANT_SCORE_REWRITE): expand a
        pattern against the UNION of every segment's terms dictionary
        (index/MultiTermsEnum.java's merged enum) — the automaton walk of
        PrefixQuery/WildcardQuery/FuzzyQuery/RegexpQuery, expressed as
        predicates pushed into the one terms scan (parquet min/max stats
        are the FST index analog). Capped at ``max_expansions`` distinct
        terms like the reference's BooleanQuery#maxClauseCount
        discipline: a term occurs at most once per segment, so the first
        ``max_expansions`` x segments rows in term order hold them all,
        and they are deduplicated on the driver."""
        t = _apply_term_patterns(
            self._all_terms().select("term"), prefix, wildcard, fuzzy, regexp,
            term_range,
        )
        rows = t.orderBy("term").limit(max_expansions * len(self.segments))
        return list(dict.fromkeys(r["term"] for r in rows.collect()))[
            :max_expansions
        ]

    def matchall_topk(
        self, k: int = 10, fq: str | None = None, boost: float = 1.0
    ) -> DataFrame:
        """MatchAllDocsQuery across the catalog: every LIVE doc, constant
        score = boost, global doc order (docBase + local id). One plan over
        every segment: the stored-fields doc ids (each segment's opened
        once, Segment.stored_fields), tagged with ``seg``, go through ONE
        join that drops the tombstones and, with an fq, ONE join with the
        segments' cached fq sets. Shared by the classic-parser `*:*` route
        and the CLI's local-params and xmlparser branches."""
        live = self._each_segment(
            lambda s: s.stored_fields(self.spark).select("doc_id")
        )
        # outer join + null filter and an inner join (a doc is in an fq
        # set once), not left_anti / left_semi: Spark pushes semi and anti
        # joins below the union, one join and one broadcast per segment
        dead = self._tombstones()
        if dead is not None:
            live = live.join(
                dead.select("seg", "doc_id", F.lit(True).alias("dead")),
                ["seg", "doc_id"], "left",
            ).filter(F.col("dead").isNull())
        if fq:
            live = live.join(
                self._fq_sets(fq).select("seg", "doc_id"), ["seg", "doc_id"]
            )
        # constant score: the merge order reduces to gdoc_id asc
        return self._merge(
            live.select(
                "seg", "doc_id", F.lit(float(boost)).cast("float").alias("score")
            ),
            k,
        )

    def search(self, query_string: str, k: int = 10, fq: str | None = None) -> DataFrame:
        """Parse a classic Lucene query string (plans/qparser.py —
        queryparser/classic/QueryParser.jj analog) and execute it: `*:*`
        takes the live-docs scan, multi-term leaves (wildcard/fuzzy/range)
        rewrite against the merged terms dict, and everything else —
        pure phrases included, as a Phrase clause — runs through the
        Boolean-tree scorer with global stats (bit-identical to a single
        merged segment)."""
        from ..plans.qparser import _contains_tuple, parse, resolve_multi_terms
        from .query import Phrase

        node = parse(query_string)
        if isinstance(node, tuple) and node[0] == "matchall":
            return self.matchall_topk(k=k, fq=fq, boost=float(node[1]))
        if isinstance(node, tuple) and node[0] == "phrase":
            node = Phrase(tuple(node[1]), node[2], node[3], node[4])
        else:
            node = resolve_multi_terms(node, self)
            assert not _contains_tuple(node), "unresolved leaf after rewrite"
        return self.topk_query(node, k=k, fq=fq)

    def search_synonyms(
        self, query_text: str, rules, k: int = 10, fq: str | None = None
    ) -> DataFrame:
        """QUERY-TIME synonym search (SynonymGraphFilter in the query
        analyzer — the deployment that lets synonyms change without
        reindexing): the analyzed query rewrites through ``rules``
        (functions/synonyms.py#expand_query_synonyms) into Synonym /
        Phrase / Term leaves, then runs the ordinary Boolean-tree scorer
        against the PLAIN index."""
        from ..functions.synonyms import expand_query_synonyms

        node = expand_query_synonyms(tokenize_text(query_text), rules)
        return self.topk_query(node, k=k, fq=fq)


class Searcher(MultiSearcher):
    """One segment served as a one-segment catalog without deletes: every
    query entry point is MultiSearcher's, and results are (doc_id, score)
    because a lone segment's gdoc_id is its doc_id. Adds the
    single-segment extras (explain, similarities, constant-score
    multi-term queries, DocSets and facets, suggesters)."""

    _SCHEMA = _TOPK_SCHEMA

    def __init__(self, spark: SparkSession, segment: Segment):
        super().__init__(spark, [segment])
        self.segment = segment
        self.stats = segment.stats

    @property
    def postings(self) -> DataFrame:
        return self._table(self.segment, "postings")

    @property
    def terms(self) -> DataFrame:
        return self._table(self.segment, "terms")

    @property
    def docmap(self) -> DataFrame:
        return self._table(self.segment, "docmap")

    def _merge(self, hits: DataFrame, k: int) -> DataFrame:
        # gdoc_id == doc_id: the one segment's (doc_id, score) is the result
        return (
            hits.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def fq_docs(self, fq: str) -> DataFrame:
        """The cached (bucket, doc_id) set of docs passing ``fq``."""
        return self._fq_docs(self.segment, fq)

    def topk_with_fields(self, query_text: str, k: int = 10, **kw) -> DataFrame:
        """Two-phase retrieval: ids+scores first, docmap fields after limit."""
        hits = self.topk(query_text, k, **kw)
        return hits.join(self.docmap, "doc_id", "left").orderBy(
            F.desc("score"), F.asc("doc_id")
        )

    def explain(self, query_text: str, doc_id: int) -> dict:
        """IndexSearcher#explain analog: per-term score breakdown for one
        doc — idf, freq, quantized dl, tf_part, contribution — summing (in
        lexicographic float32 order) to the reported score."""
        q_terms = sorted(set(tokenize_text(query_text)))
        stats = self.term_stats(q_terms)
        bucket = doc_id // self.stats.bucket_docs
        rows = self.postings.filter(
            F.col("term").isin(sorted(stats))
            & (F.col("bucket") == bucket)
            & (F.col("first_doc") <= doc_id)
            & (F.col("last_doc") >= doc_id)
        ).collect()
        details = []
        total = np.float32(0.0)
        for term in sorted(stats):
            for r in (x for x in rows if x["term"] == term):
                ids, freqs, norms = _decode_block(r)
                hit = np.nonzero(ids == doc_id)[0]
                if hit.size == 0:
                    continue
                i = int(hit[0])
                freq = int(freqs[i])
                nb = int(norms[i])
                contrib = bm25.score_block(
                    freqs[i : i + 1], norms[i : i + 1], stats[term].idf, self._cache
                )[0]
                total = np.float32(total + contrib)
                from ..functions.smallfloat import BYTE4_DECODE_TABLE

                details.append(
                    {
                        "term": term,
                        "df": stats[term].df,
                        "idf": stats[term].idf,
                        "freq": freq,
                        "dl_quantized": int(BYTE4_DECODE_TABLE[nb]),
                        "contribution": float(contrib),
                    }
                )
        return {
            "doc_id": doc_id,
            "score": float(total),
            "matched_terms": len(details),
            "details": details,
        }

    # -- alternative similarities (search/similarities/*.java) --------------

    def topk_sim(
        self, query_text: str, similarity, k: int = 10, op: str = "or"
    ) -> DataFrame:
        """Top-k under a pluggable Similarity (operators/similarity.py).
        Always exhaustive: block-max impacts bound only the BM25 formula
        (see similarity.py docstring), so WAND stays a BM25 feature."""
        from .similarity import SIMILARITIES

        sim = SIMILARITIES[similarity]() if isinstance(similarity, str) else similarity
        sim.prepare(self.stats.n_docs, self.stats.avgdl)
        q_terms = sorted(set(tokenize_text(query_text)))
        if not q_terms:
            return self._empty()
        rows = self.terms.filter(F.col("term").isin(q_terms)).collect()
        states = {
            r["term"]: sim.weight(int(r["df"]), int(r["ttf"]), self.stats.sum_ttf)
            for r in rows
        }
        if not states or (op == "and" and len(states) < len(q_terms)):
            return self._empty()
        n_req = len(q_terms)

        def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            return _score_bucket_sim(pdf, states, sim, k, op, n_req)

        rows_df = self.postings.filter(F.col("term").isin(sorted(states)))
        per_bucket = rows_df.groupBy("bucket").applyInPandas(
            score_bucket, _TOPK_SCHEMA
        )
        return per_bucket.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    # -- multi-term query rewrites (MultiTermQuery CONSTANT_SCORE_REWRITE) --

    def topk_constant(
        self,
        terms: list[str],
        k: int = 10,
        boost: float = 1.0,
    ) -> DataFrame:
        """ConstantScoreQuery over a term-set union (the default rewrite of
        prefix/wildcard/regexp queries in the reference): every matching
        doc scores ``boost``, tie-break doc_id asc -> top-k = first k ids."""
        if not terms:
            return self._empty()
        from .merge import decode_postings

        docs = self.filter_cache.get_or_build(
            ("term_set", tuple(sorted(terms))),
            lambda: decode_postings(
                self.postings.filter(F.col("term").isin(terms))
            )
            .select("doc_id")
            .distinct(),
        )
        return (
            docs.orderBy("doc_id")
            .limit(k)
            .select("doc_id", F.lit(float(boost)).cast("float").alias("score"))
        )

    def match_docs(
        self, query_text: str, op: str = "or", fq: str | None = None
    ) -> DataFrame:
        """All matching doc ids, unscored — the Solr DocSet analog
        (search/DocSetCollector.java): the input to faceting/stats over a
        result set. No BM25 work: postings decode + distinct, optional
        conjunction count, optional fq semi-join."""
        from .merge import decode_postings

        q_terms = sorted(set(tokenize_text(query_text)))
        if not q_terms:
            return self.spark.createDataFrame([], "doc_id long")
        rows = decode_postings(
            self.postings.filter(F.col("term").isin(q_terms))
        ).select("doc_id", "term")
        if op == "and":
            docs = (
                rows.distinct()
                .groupBy("doc_id")
                .agg(F.count("*").alias("nt"))
                .filter(F.col("nt") == len(q_terms))
                .select("doc_id")
            )
        else:
            docs = rows.select("doc_id").distinct()
        if fq:
            docs = docs.join(
                self.fq_docs(fq).select("doc_id"), "doc_id", "left_semi"
            )
        return docs

    def facet_field(
        self,
        query_text: str,
        field: str,
        k_buckets: int = 10,
        op: str = "or",
        fq: str | None = None,
    ) -> DataFrame:
        """facet.field over the q+fq RESULT SET (Solr SimpleFacets /
        handler/component/FacetComponent.java): bucket counts of a stored
        field among matching docs, ordered count desc then value asc
        (facet.sort=count with the index tie-break)."""
        docs = self.match_docs(query_text, op=op, fq=fq)
        return (
            docs.join(self.docmap.select("doc_id", field), "doc_id")
            .groupBy(field)
            .agg(F.count("*").alias("count"))
            .orderBy(F.desc("count"), F.asc(field))
            .limit(k_buckets)
        )

    def spell_suggest(
        self, term: str, max_edits: int = 2, k: int = 5, min_df: int = 1
    ) -> DataFrame:
        """DirectSpellChecker analog (suggest/DirectSpellChecker.java /
        solr SpellCheckComponent): candidate corrections from the terms
        dictionary within ``max_edits`` Levenshtein edits, ranked the way
        the reference breaks ties — closer first, then more frequent
        (df desc), then lexicographic."""
        return (
            self.terms.select("term", "df")
            .filter(F.col("term") != term)
            .withColumn("distance", F.levenshtein(F.col("term"), F.lit(term)))
            .filter((F.col("distance") <= max_edits) & (F.col("df") >= min_df))
            .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
            .limit(k)
        )

    def suggest_prefix(self, prefix: str, k: int = 10) -> DataFrame:
        """Autocomplete suggester (suggest/analyzing/AnalyzingInfixSuggester
        shape, weight = collection frequency): top terms with the prefix,
        ranked ttf desc — the sorted terms dict IS the suggest index
        (parquet min/max prune to the prefix range)."""
        return (
            self.terms.select("term", "ttf")
            .filter(F.col("term").startswith(prefix))
            .orderBy(F.desc("ttf"), F.asc("term"))
            .limit(k)
        )

    def topk_prefix(self, prefix: str, k: int = 10) -> DataFrame:
        return self.topk_constant(self.expand_terms(prefix=prefix), k)

    def topk_wildcard(self, pattern: str, k: int = 10) -> DataFrame:
        return self.topk_constant(self.expand_terms(wildcard=pattern), k)

    def topk_fuzzy(
        self,
        term: str,
        max_edits: int = 2,
        k: int = 10,
        transpositions: bool = False,
    ) -> DataFrame:
        """FuzzyQuery rewrite + constant-score top-k. ``transpositions``
        selects the OSA metric (Lucene's FuzzyQuery default); the plain
        Levenshtein default here is kept for the pinned oracle rows."""
        fz = (term, max_edits, True) if transpositions else (term, max_edits)
        return self.topk_constant(self.expand_terms(fuzzy=fz), k)

    def topk_regexp(self, pattern: str, k: int = 10) -> DataFrame:
        return self.topk_constant(self.expand_terms(regexp=pattern), k)

    def topk_term_range(
        self, lo: str | None, hi: str | None, k: int = 10
    ) -> DataFrame:
        """TermRangeQuery [lo, hi) -> constant-score union."""
        return self.topk_constant(self.expand_terms(term_range=(lo, hi)), k)


def build_fq_docs(spark: SparkSession, segment: Segment, fq: str) -> DataFrame:
    """(bucket, doc_id) set of one segment's docs passing an fq predicate.
    Stored-column predicates run join-free against the raw stored-fields
    table; dl/norm_byte predicates fall back to the composed docmap view."""
    from pyspark.errors.exceptions.base import AnalysisException

    bd = segment.stats.bucket_docs
    base = segment.stored_fields(spark)
    try:
        out = base.filter(F.expr(fq))
        out.schema  # force analysis: unknown column -> fall back
    except AnalysisException:
        out = segment.table(spark, "docmap").filter(F.expr(fq))
    return out.select(
        F.floor(F.col("doc_id") / bd).cast("long").alias("bucket"),
        "doc_id",
    )


def _tree_idfs(q, stats: dict[str, TermStats], n_docs: int):
    """float32 idfs of a rewritten query tree's leaves from its term stats
    (``n_docs`` = the N those stats were taken over): Term leaf -> idf;
    Synonym -> idf of its max member df (SynonymQuery.java); Phrase -> idf
    summed over ALL its positions, duplicates counted
    (BM25Similarity#idfExplain over the terms array). A Synonym with no
    present member, or a Phrase with any absent term, is omitted and
    matches nothing."""
    from .query import collect_phrases, collect_synonyms, collect_term_leaves

    leaf_terms = collect_term_leaves(q)
    idfs = {t: np.float32(stats[t].idf) for t in sorted(stats) if t in leaf_terms}
    syn_idfs: dict = {}
    for sq in set(collect_synonyms(q)):
        dfs = [stats[t].df for t in set(sq.terms) if t in stats]
        if dfs:
            syn_idfs[sq] = np.float32(bm25.idf(n_docs, max(dfs)))
    phrase_idfs = {
        p: np.float32(sum(stats[t].idf for t in p.terms))
        for p in set(collect_phrases(q))
        if all(t in stats for t in p.terms)
    }
    return idfs, syn_idfs, phrase_idfs


def _bucket_plan(
    rows: DataFrame,
    leaf,
    filter_docs: DataFrame | None,
    deleted_docs: DataFrame | None,
    positions: DataFrame | None = None,
) -> DataFrame:
    """The one per-leaf plan under both scoring entry points. A leaf is
    one segment's doc-space bucket: rows tagged with a segment ordinal
    ``seg`` (MultiSearcher's union of every segment) group on (bucket,
    seg), one table's rows on bucket, and the side-channel frames carry
    the same keys. ``leaf(seg, left, right)`` returns a leaf's local top-k
    (doc_id, score) from its postings rows ``left`` and side-channel rows
    ``right``, each tagged in one ``tag`` column as a position row (_POS),
    a doc passing the fq (_FQ) or a tombstone (_DEL); the plan prepends
    ``seg`` for tagged rows. With no side channel the plan is a plain
    groupBy and ``right`` is empty; otherwise it is ONE cogroup — both
    sides share the build-time bucketing, so no shuffle join appears and
    neither the fq set nor the delete backlog ever reaches the driver.
    Either way one pandas-UDF stage serves every segment."""
    keys = [c for c in ("bucket", "seg") if c in rows.columns]
    tagged = len(keys) > 1
    schema = ("seg int, " if tagged else "") + _TOPK_SCHEMA

    def keyed(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        seg = int(key[1]) if tagged else 0
        out = leaf(seg, left, right)
        if tagged:
            out.insert(0, "seg", np.full(len(out), seg, dtype=np.int32))
        return out

    side = []
    if positions is not None:
        side.append(positions.withColumn("tag", F.lit(_POS)))
    for docs, tag in ((filter_docs, _FQ), (deleted_docs, _DEL)):
        if docs is not None:
            side.append(docs.select(*keys, "doc_id", F.lit(tag).alias("tag")))
    if not side:
        return rows.groupBy(*keys).applyInPandas(
            lambda key, pdf: keyed(key, pdf, _NO_SIDE), schema
        )
    # fq / tombstone rows carry null position columns
    right = union_all(side)
    return (
        rows.groupBy(*keys)
        .cogroup(right.groupBy(*keys))
        .applyInPandas(keyed, schema)
    )


def _split_side(right: pd.DataFrame, has_filter: bool):
    """One bucket's side channel -> (position rows, doc ids passing the
    fq or None when no fq is set, tombstoned doc ids)."""
    tag = right["tag"].to_numpy()
    ids = right["doc_id"].to_numpy(dtype=np.int64)
    allowed = ids[tag == _FQ] if has_filter else None
    return right[tag == _POS], allowed, ids[tag == _DEL]


def _excluded(
    base: int,
    span: int,
    deleted: np.ndarray | None,
    allowed: np.ndarray | None = None,
) -> np.ndarray:
    """bool[span] over the bucket docs [base, base + span): True where the
    liveDocs/fq mask removes the doc — tombstoned, or (when ``allowed`` is
    given) outside the fq set. Excluded docs never match and never hold a
    pruning-threshold slot; corpus stats are untouched (Lucene liveDocs,
    Solr fq)."""
    out = np.full(span, allowed is not None)
    for ids, value in ((allowed, False), (deleted, True)):
        if ids is not None:
            rel = ids - base
            out[rel[(rel >= 0) & (rel < span)]] = value
    return out


def _local_topk(
    mask: np.ndarray,
    score: np.ndarray,
    base: int,
    k: int,
    after: tuple[float, int] | None = None,
) -> pd.DataFrame:
    """A bucket's local top-k by (score desc, doc_id asc) among ``mask``.
    ``after``: searchAfter cursor — keep only hits strictly after
    (score, doc_id) in that order, BEFORE the top-k cap."""
    nz = np.nonzero(mask)[0]
    scores = score[nz]
    if after is not None:
        a_s, a_d = np.float32(after[0]), int(after[1])
        keep = (scores < a_s) | ((scores == a_s) & (nz + base > a_d))
        nz, scores = nz[keep], scores[keep]
    # lexsort on (doc_id asc) then stable by -score
    order = np.lexsort((nz, -scores))[:k]
    return pd.DataFrame(
        {"doc_id": (nz[order] + base).astype(np.int64), "score": scores[order]}
    )


def score_postings(
    postings: DataFrame,
    idfs: dict[str, np.float32],
    cache: np.ndarray,
    k: int,
    op: str,
    n_query_terms: int,
    avgdl: float,
    use_wand: bool,
    after: tuple[float, int] | None = None,
    filter_docs: DataFrame | None = None,
    deleted_docs: DataFrame | None = None,
) -> DataFrame:
    """Per-bucket scoring plan over a postings table (per-leaf Scorer DAG +
    TopScoreDocCollector analog). Returns an un-merged DataFrame of local
    top-k (doc_id, score) rows — (seg, doc_id, score) when ``postings``
    carries a segment ordinal ``seg`` (see _bucket_plan); caller applies
    the global merge/limit.
    ``after``: optional searchAfter cursor ``(score, doc_ids)`` applied
    before the local top-k, ``doc_ids[seg]`` being the cursor's doc id in
    segment ``seg``'s local id space.
    ``filter_docs``: optional (bucket, doc_id) DataFrame of docs passing a
    filter query (fq) — mask-only, stats untouched; a bucket with no fq
    rows matches nothing. ``deleted_docs``: optional (bucket, doc_id)
    DataFrame of tombstones — distributed liveDocs
    (index/PendingDeletes.java analog). Both carry ``seg`` when the
    postings do, and ride the one tagged side channel of _bucket_plan, so
    they stay per-(bucket, segment) on the executors (the LRUQueryCache
    bitset analog, distributed), and are masked INSIDE the kernel so
    WAND's threshold never holds an excluded doc."""
    has_filter = filter_docs is not None  # closures must not capture the DFs

    def leaf(seg: int, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left):
            return _empty_topk()
        _, allowed, deleted = _split_side(right, has_filter)
        return _score_bucket(
            left, idfs, cache, k, op, n_query_terms, avgdl, use_wand,
            None if after is None else (after[0], after[1][seg]),
            deleted, allowed,
        )

    rows = postings.filter(F.col("term").isin(sorted(idfs)))
    return _bucket_plan(rows, leaf, filter_docs, deleted_docs)


def score_query_postings(
    postings: DataFrame,
    q,
    idfs: dict[str, np.float32],
    cache: np.ndarray,
    k: int,
    positions: DataFrame | None = None,
    phrase_idfs: dict | None = None,
    caches: dict | None = None,
    phrase_caches: dict | None = None,
    filter_docs: DataFrame | None = None,
    syn_idfs: dict | None = None,
    deleted_docs: DataFrame | None = None,
) -> DataFrame:
    """Per-bucket Boolean-tree scoring plan (Boolean2ScorerSupplier analog).
    ``filter_docs`` / ``deleted_docs``: optional (bucket, doc_id) fq and
    tombstone sets — same semantics as score_postings, riding the same
    tagged side channel (_bucket_plan) alongside any position rows.
    ``caches``/``phrase_caches``: optional per-term / per-Phrase norm-cache
    overrides (FieldedSearcher: each field has its own avgdl, so tagged
    terms score with their field's cache; default = ``cache``).
    Same shape as score_postings: one applyInPandas leaf per bucket (per
    (bucket, seg) when the postings carry ``seg``), local top-k out,
    caller merges globally.

    Phrase clauses (operators/query.py#Phrase — PhraseQuery as a
    BooleanClause, search/PhraseWeight.java): pass the ``positions`` table
    (tagged with ``seg`` when the postings are) and ``phrase_idfs`` (Phrase node -> summed idf,
    float32; phrases with any absent term are simply omitted and match
    nothing). The positions rows join the side channel, so each leaf still
    sees a self-contained doc range and no shuffle joins appear anywhere;
    phrase freqs come from the vectorized bucket kernel
    phrase.py#bucket_phrase_freqs."""
    from .phrase import bucket_phrase_freqs, phrase_offsets
    from .query import eval_node

    # per-phrase leg layout + distinct terms, computed once driver-side;
    # without a positions table every Phrase clause matches nothing
    phrase_meta = {}
    if positions is not None:
        phrase_meta = {
            p: (phrase_offsets(p.terms), sorted(set(p.terms)))
            for p in phrase_idfs or {}
        }
    syn_idfs = syn_idfs or {}
    # Synonym leaves (query.py#Synonym): member terms must be scanned even
    # when they are not Term leaves; the kernel keeps their raw (tf, norm)
    # dense arrays and blends them into one pseudo-term score per node.
    syn_meta = {s: sorted(set(s.terms)) for s in syn_idfs}
    syn_members = frozenset(t for ms in syn_meta.values() for t in ms)
    has_filter = filter_docs is not None  # closures must not capture the DFs

    def term_dense(pdf: pd.DataFrame, base: int, span: int):
        tscores: dict[str, np.ndarray] = {}
        tmasks: dict[str, np.ndarray] = {}
        traw: dict[str, tuple] = {}
        for t, g in pdf.groupby("term", sort=False):
            decoded = [_decode_block(row) for row in g.itertuples()]
            if t in idfs:
                cch = caches.get(t, cache) if caches else cache
                sarr = np.zeros(span, dtype=np.float32)
                marr = np.zeros(span, dtype=bool)
                for ids, freqs, norms in decoded:
                    rel = ids - base
                    sarr[rel] = bm25.score_block(freqs, norms, idfs[t], cch)
                    marr[rel] = True
                tscores[t] = sarr
                tmasks[t] = marr
            if t in syn_members:
                farr = np.zeros(span, dtype=np.float32)
                narr = np.zeros(span, dtype=np.uint8)
                for ids, freqs, norms in decoded:
                    rel = ids - base
                    farr[rel] = freqs
                    narr[rel] = norms
                traw[t] = (farr, narr)
        return tscores, tmasks, traw

    def syn_dense(traw: dict, span: int):
        """Blend member (tf, norm) arrays per Synonym node: freq = sum of
        member tfs, one BM25 saturation at the blended idf (SynonymScorer)."""
        sscores: dict = {}
        smasks: dict = {}
        for node, members in syn_meta.items():
            fsum = np.zeros(span, dtype=np.float32)
            narr = np.zeros(span, dtype=np.uint8)
            m = np.zeros(span, dtype=bool)
            for t in members:
                fr = traw.get(t)
                if fr is None:
                    continue
                fsum += fr[0]
                np.maximum(narr, fr[1], out=narr)
                m |= fr[0] > 0
            sarr = np.zeros(span, dtype=np.float32)
            nz = np.nonzero(m)[0]
            if nz.size:
                cch = caches.get(members[0], cache) if caches else cache
                sarr[nz] = bm25.score_block(
                    fsum[nz], narr[nz], syn_idfs[node], cch
                )
            sscores[node] = sarr
            smasks[node] = m
        return sscores, smasks

    def phrase_dense(pos: pd.DataFrame, base: int, span: int):
        pscores: dict = {}
        pmasks: dict = {}
        for p, (offs, dterms) in phrase_meta.items():
            sarr = np.zeros(span, dtype=np.float32)
            marr = np.zeros(span, dtype=bool)
            if len(pos):
                sub = pos[pos["term"].isin(dterms)]
                ids, freqs, norms = bucket_phrase_freqs(sub, offs, p.slop)
                if ids.size:
                    pcch = phrase_caches.get(p, cache) if phrase_caches else cache
                    f = freqs.astype(np.float32)
                    rel = ids - base
                    # float32 op order of MultiSearcher._positional_topk
                    sarr[rel] = (
                        phrase_idfs[p] * (f / (f + pcch[norms]))
                    ).astype(np.float32)
                    marr[rel] = True
            pscores[p] = sarr
            pmasks[p] = marr
        return pscores, pmasks

    def leaf(seg: int, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        pos, allowed, deleted = _split_side(right, has_filter)
        # bucket doc range from whichever side has rows (a pure-phrase tree
        # has no Term-leaf postings; a term-only bucket has no positions)
        lo, hi = [], []
        if len(left):
            lo.append(int(left["first_doc"].min()))
            hi.append(int(left["last_doc"].max()))
        if len(pos):
            lo.append(int(pos["doc_id"].min()))
            hi.append(int(pos["doc_id"].max()))
        if not lo:
            return _empty_topk()
        base = min(lo)
        span = max(hi) - base + 1
        tscores, tmasks, traw = term_dense(left, base, span)
        sscores, smasks = syn_dense(traw, span)
        pscores, pmasks = phrase_dense(pos, base, span)
        mask, score = eval_node(
            q, tscores, tmasks, span, pscores, pmasks, sscores, smasks
        )
        return _local_topk(
            mask & ~_excluded(base, span, deleted, allowed), score, base, k
        )

    scan_terms = sorted(set(idfs) | set(syn_members))
    rows = postings.filter(F.col("term").isin(scan_terms))
    if phrase_meta:
        pos_terms = sorted({t for _, dterms in phrase_meta.values() for t in dterms})
        positions = positions.filter(F.col("term").isin(pos_terms))
    else:
        positions = None
    return _bucket_plan(rows, leaf, filter_docs, deleted_docs, positions)


def _decode_bins(doc_bin, freq_bin, norm_bin) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    ids = delta_decode(unpack_ints(doc_bin)).astype(np.int64)
    freqs = unpack_ints(freq_bin)
    norms = np.frombuffer(norm_bin, dtype=np.uint8)
    return ids, freqs, norms


def _decode_block(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    return _decode_bins(row.doc_bin, row.freq_bin, row.norm_bin)


def _term_arrays(g: pd.DataFrame, base: int) -> dict:
    """One-time pandas->numpy extraction for a term's blocks in a bucket,
    sorted by first_doc (block ranges are disjoint), so the scoring loops
    touch no pandas objects."""
    firsts = g["first_doc"].to_numpy() - base
    order = np.argsort(firsts, kind="stable")
    docs = g["doc_bin"].to_list()
    freqs = g["freq_bin"].to_list()
    norms = g["norm_bin"].to_list()
    return {
        "first": firsts[order],
        "last": g["last_doc"].to_numpy()[order] - base,
        "maxf": g["max_freq"].to_numpy()[order],
        "mind": g["min_dl"].to_numpy()[order],
        "doc": [docs[i] for i in order],
        "freq": [freqs[i] for i in order],
        "norm": [norms[i] for i in order],
        "ndocs": int(g["n_docs"].sum()),
    }


def _score_bucket(
    pdf: pd.DataFrame,
    idfs: dict[str, np.float32],
    cache: np.ndarray,
    k: int,
    op: str,
    n_query_terms: int,
    avgdl: float,
    use_wand: bool,
    after: tuple[float, int] | None = None,
    deleted: np.ndarray | None = None,
    allowed: np.ndarray | None = None,
) -> pd.DataFrame:
    """Score one doc-space bucket (a 'leaf'). Returns its local top-k.
    ``after``: searchAfter cursor (see _local_topk). ``deleted`` /
    ``allowed``: this bucket's tombstoned and fq-passing doc ids from the
    side channel, masked by _excluded."""
    base = int(pdf["first_doc"].min())
    span = int(pdf["last_doc"].max()) - base + 1
    acc = np.zeros(span, dtype=np.float32)
    hit = np.zeros(span, dtype=np.int16)
    excluded = _excluded(base, span, deleted, allowed)
    terms_sorted = sorted(idfs)  # lexicographic accumulation order (pinned)
    by_term = {t: g for t, g in pdf.groupby("term", sort=False)}

    decoded: dict[str, list[tuple[np.ndarray, np.ndarray]]] = {t: [] for t in terms_sorted}

    if not use_wand:
        for t in terms_sorted:
            g = by_term.get(t)
            if g is None:
                continue
            ta = _term_arrays(g, base)
            for j in range(len(ta["first"])):
                rel, freqs, norms = _decode_bins(
                    ta["doc"][j], ta["freq"][j], ta["norm"][j]
                )
                decoded[t].append(
                    (rel - base, bm25.score_block(freqs, norms, idfs[t], cache))
                )
    elif op == "and":
        # ---- BlockMaxConjunction analog (search/BlockMaxConjunctionScorer
        # .java): lead with the term that has the fewest postings in this
        # bucket; every other term only decodes blocks whose [first_doc,
        # last_doc] range contains a surviving candidate. Exact: a doc in
        # the final conjunction is a candidate at every stage, so each of
        # its blocks is decoded for every term — hit counts stay complete.
        # (Lucene's score-based minCompetitiveScore feedback is doc-at-a-
        # time; in this term-at-a-time columnar layout the candidate range
        # skip is the safe equivalent — partial-sum thresholds are NOT
        # valid lower bounds under AND because a partially-scored doc can
        # still fail the conjunction.)
        if any(by_term.get(t) is None for t in terms_sorted):
            return _empty_topk()
        arrs = {t: _term_arrays(by_term[t], base) for t in terms_sorted}
        by_rarity = sorted(terms_sorted, key=lambda t: int(arrs[t]["ndocs"]))
        cand: np.ndarray | None = None  # sorted rel doc ids still alive
        for t in by_rarity:
            ta = arrs[t]
            if cand is None:
                keep_idx = range(len(ta["first"]))
            else:
                # vectorized skip decision over ALL blocks of this term:
                # keep a block iff any surviving candidate falls in range
                a = np.searchsorted(cand, ta["first"], "left")
                b = np.searchsorted(cand, ta["last"], "right")
                keep_idx = np.nonzero(a < b)[0]
            seen = []
            for j in keep_idx:
                rel, freqs, norms = _decode_bins(
                    ta["doc"][j], ta["freq"][j], ta["norm"][j]
                )
                rel = rel - base
                decoded[t].append((rel, bm25.score_block(freqs, norms, idfs[t], cache)))
                seen.append(rel)
            if not seen:
                cand = np.array([], dtype=np.int64)
            else:
                got = np.concatenate(seen)
                got.sort()
                cand = got if cand is None else cand[np.isin(cand, got, assume_unique=True)]
            if cand.size == 0:
                return _empty_topk()
    else:
        # ---- block-max WAND (columnar variant) -----------------------------
        # Upper bounds in float64 with a safety factor so float32 scoring can
        # never exceed them; process terms by descending bound; a block is
        # decoded only if (max partial in its doc range) + (its bound) +
        # (bound of all unprocessed terms) can reach the current threshold
        # theta = k-th largest partial accumulated so far. Survivor blocks are
        # re-accumulated afterwards in lexicographic order (exact float32).
        # Skip decisions are vectorized per term: per-block max of the
        # partial array via np.maximum.reduceat over the (disjoint, sorted)
        # block ranges, one comparison for all blocks at once.
        SAFETY = 1.0 + 1e-5
        term_rows = []
        for t in terms_sorted:
            g = by_term.get(t)
            if g is None:
                continue
            ta = _term_arrays(g, base)
            bub = (
                float(idfs[t])
                * (ta["maxf"] /
                   (ta["maxf"]
                    + bm25.K1 * (1 - bm25.B + bm25.B * ta["mind"] / max(avgdl, 1e-9))))
            ) * SAFETY
            term_rows.append((t, ta, bub, float(bub.max())))
        term_rows.sort(key=lambda x: -x[3])
        ubs = [x[3] for x in term_rows]
        suffix = np.concatenate([np.cumsum(ubs[::-1])[::-1], [0.0]])
        # span+1 so maximum.reduceat can take last_doc+1 == span boundaries
        wacc = np.zeros(span + 1, dtype=np.float64)  # pruning-side partials
        # excluded docs must never hold a top-k slot in the pruning
        # threshold theta, else a live doc could be pruned wrongly
        wacc[:span][excluded] = -np.inf
        for i, (t, ta, bub, _) in enumerate(term_rows):
            if span > 2 * k:
                theta = np.partition(wacc[:span], span - k)[span - k]
            else:
                theta = 0.0
            rem = suffix[i + 1]
            if theta > 0.0:
                idx = np.empty(2 * len(ta["first"]), dtype=np.int64)
                idx[0::2] = ta["first"]
                idx[1::2] = ta["last"] + 1
                block_max = np.maximum.reduceat(wacc, idx)[0::2]
                keep_idx = np.nonzero(block_max + bub + rem >= theta)[0]
            else:
                keep_idx = range(len(ta["first"]))
            for j in keep_idx:
                rel, freqs, norms = _decode_bins(
                    ta["doc"][j], ta["freq"][j], ta["norm"][j]
                )
                rel = rel - base
                sc = bm25.score_block(freqs, norms, idfs[t], cache)
                decoded[t].append((rel, sc))
                wacc[rel] += sc.astype(np.float64)

    # ---- final accumulation: lexicographic term order, float32 ------------
    for t in terms_sorted:
        for rel, sc in decoded[t]:
            acc[rel] += sc  # float32 in-place
            hit[rel] += 1

    mask = (hit == n_query_terms) if op == "and" else (hit > 0)
    return _local_topk(mask & ~excluded, acc, base, k, after)


def _score_bucket_sim(
    pdf: pd.DataFrame,
    states: dict[str, dict],
    sim,
    k: int,
    op: str,
    n_query_terms: int,
) -> pd.DataFrame:
    """Per-bucket scoring under a pluggable Similarity (exhaustive).
    Same accumulation contract as the BM25 path: float32, lexicographic
    term order, tie-break (score desc, doc_id asc)."""
    base = int(pdf["first_doc"].min())
    span = int(pdf["last_doc"].max()) - base + 1
    acc = np.zeros(span, dtype=np.float32)
    hit = np.zeros(span, dtype=np.int16)
    by_term = {t: g for t, g in pdf.groupby("term", sort=False)}
    for t in sorted(states):
        g = by_term.get(t)
        if g is None:
            continue
        st = states[t]
        for row in g.itertuples():
            ids, freqs, norms = _decode_block(row)
            rel = ids - base
            acc[rel] += sim.score_block(freqs, norms, st)
            hit[rel] += 1
    mask = (hit == n_query_terms) if op == "and" else (hit > 0)
    return _local_topk(mask, acc, base, k)


def exhaustive_scores(searcher: Searcher, query_text: str, op: str = "or") -> DataFrame:
    """All matching docs with scores (no top-k) — for tests/debug."""
    q_terms = sorted(set(tokenize_text(query_text)))
    stats = searcher.term_stats(q_terms)
    matched = sorted(stats)
    if not matched or (op == "and" and len(matched) < len(q_terms)):
        # conjunction with an absent query term matches nothing — mirror
        # topk()'s early return so this debug oracle agrees with it
        return searcher.spark.createDataFrame([], _TOPK_SCHEMA)
    idfs = {t: np.float32(stats[t].idf) for t in matched}
    return score_postings(
        searcher.postings, idfs, searcher._cache,
        searcher.stats.n_docs,  # k = every doc: no truncation
        op, len(matched), searcher.stats.avgdl, False,
    )


def sorted_index_topk(
    spark, segment, k: int, sort: list[str] | None = None, deleted=None
) -> DataFrame:
    """Early-terminated top-k over an index-sorted segment.

    Reference semantics (SURVEY §2.G index sort):
      index/IndexWriterConfig.java#setIndexSort + LUCENE-6766 and
      search/TopFieldCollector.java early termination (solr:
      'segmentTerminateEarly') — when the query sort is a prefix of the
      index sort, collection stops after the first k competitive LIVE
      docs in index order instead of scoring/sorting the whole segment.

    Spark restatement: the segment's doc ids ARE the sort order
    (``build_index(index_sort=...)`` ranks ids by the sort key and
    records the sort in the segment stats, Lucene's SegmentInfo sort), so
    the top-k is the first k live docs of the doc-id space — a bounded
    prefix of doc-space buckets of the docmap. On a disk-backed segment
    the docmap is range-partitioned by doc_id at write time, so the
    predicate prunes every other file (min/max parquet stats); at 10^12
    docs the job reads one bucket prefix regardless of corpus size, the
    literal early-termination win.

    ``sort``: the query sort keys; must equal the recorded index sort
    (Lucene rejects a SortField mismatch — a segment with no recorded
    sort is insertion-ordered and refused). ``deleted``: optional
    tombstone doc ids (liveDocs complement); the scan window widens by
    the tombstone count so the k-th live doc is always inside it.
    """
    recorded = segment.stats.index_sort
    if sort is not None:
        want = ",".join(sort)
        if recorded != want:
            raise ValueError(
                f"query sort [{want}] does not match the segment's recorded "
                f"index sort [{recorded or 'none: insertion order'}] — "
                "early termination would return wrong results "
                "(IndexWriterConfig#setIndexSort mismatch)"
            )
    elif not recorded:
        raise ValueError(
            "segment records no index sort (insertion-ordered); "
            "build with build_index(index_sort=[...]) to enable "
            "early-terminated sorted top-k"
        )
    bd = segment.stats.bucket_docs
    if k > bd:
        raise ValueError(
            f"early termination reads a one-bucket prefix; k={k} exceeds "
            f"bucket_docs={bd} (widen buckets or page with search_after)"
        )
    # accept list/tuple OR numpy array (the tombstone shape sibling APIs
    # take) — `deleted or ()` would raise on a multi-element ndarray
    dead = sorted(int(d) for d in (() if deleted is None else deleted))
    # the k-th live doc id is at most k-1 + |tombstones|: widen the bucket
    # prefix just enough (still O(k + deletes), never O(corpus))
    need = k + len(dead)
    window = ((need - 1) // bd + 1) * bd
    dm = segment.table(spark, "docmap").filter(F.col("doc_id") < window)
    if dead:
        dm = dm.filter(~F.col("doc_id").isin(dead))
    return dm.orderBy("doc_id").limit(k)
