"""eDisMax query parser + scorer — the default user-facing Solr parser.

Reference surface being re-expressed (SURVEY.md §2.J "Query parser / DSL"):
  solr/core/.../search/ExtendedDismaxQParser.java — user query across qf
    fields (per-field boosts), mm (minimum-should-match spec), tie,
    phrase-field boosts pf/pf2/pf3, graceful bad-syntax fallback
  solr/core/.../util/SolrPluginUtils.java#calculateMinShouldMatch — the
    mm spec grammar (int / negative / percent / conditional "k<v" pairs)
  search/DisjunctionMaxQuery.java — per-term max over fields + tie·rest

Spark restatement: ONE per-bucket applyInPandas pass over the union of
the qf fields' posting blocks and the pf fields' positional postings
(every field segment shares the doc-space bucket grid, so the leaf sees
everything about a doc range with no shuffle join). Per-bucket top-k,
then a global TakeOrderedAndProject — the same scatter/gather shape as
the single-field scorer, so the plan scales with bucket count, not
corpus size.

Pinned scoring (float32 like the rest of the engine):
  clause list = the user query's term occurrences in sequence order
  (required '+' and optional bare terms score; '-' terms only gate);
  per clause: dmx_t = max_f s_{f,t} + tie · (sum_f s_{f,t} − max_f)
  with s_{f,t} = BM25(field stats) · qf_boost_f, fields reduced in
  sorted(qf) order; doc passes iff all required clauses hit, no
  prohibited clause hits, and ≥ mm optional clauses hit (mm computed
  from the spec against the optional-clause count; with no required
  clauses at least 1 optional must hit);
  score = f32 left fold of passing clause dmx values in clause order,
  then + each phrase-boost clause in (pf, pf2, pf3) order, fields in
  sorted order within each: p = f32(f32(idf_sum_f · tf_sat_f) · boost),
  where the phrase freq is exact adjacency over that field's positions
  (operators/phrase.py#bucket_phrase_freqs — the same kernel as
  PhraseQuery) and idf_sum/norms are that field's statistics.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.analysis import tokenize_text
from ..sources.catalog import Segment
from . import bm25
from .phrase import bucket_phrase_freqs, phrase_offsets
from .search import _decode_block, _excluded, union_all

_TOPK_SCHEMA = "doc_id long, score float"


# ---------------------------------------------------------------------------
# Param parsing (ExtendedDismaxQParser front end)
# ---------------------------------------------------------------------------


def parse_field_boosts(spec: str) -> dict[str, float]:
    """qf/pf syntax: ``"title^2 body"`` -> {"title": 2.0, "body": 1.0}."""
    out: dict[str, float] = {}
    for part in (spec or "").split():
        if "^" in part:
            f, b = part.split("^", 1)
            out[f] = float(b)
        else:
            out[part] = 1.0
    return out


def calculate_mm(spec: str | int | None, n_optional: int) -> int:
    """SolrPluginUtils#calculateMinShouldMatch: int ("3"), negative
    ("-2" = all but 2), percent ("75%" floor), negative percent
    ("-25%" = all but floor(25%)), and conditional pairs
    ("2<-25% 9<3": if n > k apply v of the LARGEST matching k, else all
    required). Result clamped to [0, n_optional]."""
    n = n_optional
    if spec is None or spec == "":
        return 0
    spec = str(spec).strip()
    if "<" in spec:
        best_k, best_v = None, None
        for part in spec.split():
            k_s, v = part.split("<", 1)
            k = int(k_s)
            if n > k and (best_k is None or k > best_k):
                best_k, best_v = k, v
        if best_k is None:
            return n  # clause count at/below every k -> all required
        return calculate_mm(best_v, n)
    if spec.endswith("%"):
        pct = int(spec[:-1].lstrip("+-"))
        part = (n * pct) // 100
        val = n - part if spec.startswith("-") else part
    else:
        v = int(spec)
        val = n + v if v < 0 else v
    return max(0, min(n, val))


def parse_user_query(
    q: str,
) -> tuple[list[str], list[str], list[str], list[str]]:
    """User query -> (required, optional, prohibited, scoring-sequence)
    analyzed term lists. The first three are per-occur lists; the fourth
    is the scoring terms (required + optional) in USER QUERY ORDER — the
    sequence eDisMax builds pf phrases and the score fold from. Supports
    +term / -term / NOT / AND / OR (classic translation: AND marks both
    neighbors required). Anything else — quotes, parens, stray syntax —
    is ESCAPED, not rejected: edismax's documented fallback strips the
    special characters and treats the rest as plain terms."""
    req: list[str] = []
    opt: list[str] = []
    neg: list[str] = []
    seq: list[str] = []
    pending: str | None = None
    and_next = False
    slots: list[tuple[str, list[str]]] = []  # (occur, analyzed terms)
    for raw in (q or "").split():
        if raw in ("AND", "&&"):
            if slots and slots[-1][0] == "opt":
                slots[-1] = ("req", slots[-1][1])
            and_next = True
            continue
        if raw in ("OR", "||"):
            and_next = False
            continue
        if raw == "NOT":
            pending = "neg"
            continue
        occ = pending or ("req" if and_next else "opt")
        pending, and_next = None, False
        body = raw
        if body.startswith("+"):
            occ, body = "req", body[1:]
        elif body.startswith("-"):
            occ, body = "neg", body[1:]
        # graceful fallback: strip query-syntax characters, analyze the rest
        body = re.sub(r'["()\[\]{}^~:*?]', " ", body)
        terms = tokenize_text(body)
        if terms:
            slots.append((occ, terms))
    for occ, terms in slots:
        {"req": req, "opt": opt, "neg": neg}[occ].extend(terms)
        if occ != "neg":
            seq.extend(terms)
    return req, opt, neg, seq


def _shingles(seq: list[str], size: int) -> list[list[str]]:
    if size <= 0 or len(seq) < size:
        return []
    if size >= len(seq):
        return [list(seq)]
    return [list(seq[i : i + size]) for i in range(len(seq) - size + 1)]


def parse_boost_queries(spec) -> list[tuple[str, str, np.float32]]:
    """bq syntax (DisMaxQParser#getBoostQueries): each clause is
    ``field:term^boost`` — parsed with the term analyzer, scored as an
    extra SHOULD clause (score adds when the doc matches; never gates,
    never counts toward mm). Accepts one string or a list of strings;
    whitespace separates clauses within a string."""
    out: list[tuple[str, str, np.float32]] = []
    specs = [spec] if isinstance(spec, str) else list(spec or [])
    for s in specs:
        for part in (s or "").split():
            body, _, b = part.partition("^")
            f, _, t = body.partition(":")
            assert f and t, f"bq clause {part!r} is not field:term[^boost]"
            terms = tokenize_text(t)
            assert len(terms) == 1, f"bq clause {part!r} must analyze to one term"
            out.append((f, terms[0], np.float32(float(b) if b else 1.0)))
    return out


def parse_boost_func(spec: str):
    """bf / boost function grammar (FunctionQParser subset over the ``dl``
    doc-value source): ``recip(dl,m,a,b)`` = a/(m·dl+b), ``sqrt(dl)``,
    ``linear(dl,m,c)`` = m·dl+c, or a bare numeric constant. Returns a
    vectorized callable evaluated in float64 with ONE float32 cast at the
    end (the pinned cross-engine discipline)."""
    s = (spec or "").strip()
    m = re.fullmatch(r"recip\(dl,([^,]+),([^,]+),([^)]+)\)", s)
    if m:
        mm_, a, b = (float(x) for x in m.groups())
        return lambda dl: (a / (mm_ * dl + b)).astype(np.float32)
    if s == "sqrt(dl)":
        return lambda dl: np.sqrt(dl).astype(np.float32)
    m = re.fullmatch(r"linear\(dl,([^,]+),([^)]+)\)", s)
    if m:
        mm_, c = (float(x) for x in m.groups())
        return lambda dl: (mm_ * dl + c).astype(np.float32)
    c = float(s)  # bare constant; raises on unknown syntax
    return lambda dl: np.full_like(dl, c, dtype=np.float32)


# ---------------------------------------------------------------------------
# Scorer
# ---------------------------------------------------------------------------


def edismax_topk(
    spark: SparkSession,
    segments: dict[str, Segment],
    params: dict,
    k: int = 10,
    deletes: DataFrame | None = None,
) -> DataFrame:
    """Top-k for an edismax request. ``params`` keys: q (user query),
    qf ("field^boost ..."), optional pf / pf2 / pf3, tie (float), mm
    (min-should-match spec), bq (additive boost queries,
    DisMaxQParser#getBoostQueries — "field:term^boost" clauses whose BM25
    score ADDS to matching docs without gating or counting toward mm),
    bf (additive boost functions over the ``dl`` doc value,
    DisMaxQParser#getBoostFunctions / FunctionQParser), boost
    (multiplicative function, BoostQParserPlugin — final score =
    subquery score × function value), dv (field whose norms table is the
    dl value source; defaults to the first qf field in sorted order).
    Every field maps to ONE Segment or a LIST of segments (the
    MultiReader shape — live multi-segment indexes need no forced merge;
    df / N / sum_ttf combine exactly so the ranking equals the merged
    segment's, the ExactStatsCache discipline). All involved segments
    must share the corpus doc-id assignment and bucket_docs (asserted);
    pf fields need positional postings. ``deletes``: optional (doc_id)
    tombstones in that shared doc-id space (liveDocs): they ride the same
    union and are masked before the per-bucket top-k, never collected.

    Pinned boost arithmetic (cross-engine f32 contract): after the f32
    clause fold — bq contributions f32(raw_bm25 · bq_boost) in given
    order, then pf clauses, then bf values; functions are evaluated in
    float64 over the EXACT dl (norms table, not byte4) with one f32 cast;
    the multiplicative boost applies last: f32(acc · f32(func(dl)))."""
    qf = parse_field_boosts(params.get("qf", ""))
    fields = sorted(qf)
    assert fields and all(f in segments for f in fields), "qf field missing a segment"
    # each field maps to ONE segment or a LIST of segments sharing the
    # global doc-id space (the MultiReader shape: no forced merge; df / N /
    # sum_ttf combine exactly, so scores equal the single-merged-segment
    # ranking — same ExactStatsCache discipline as MultiSearcher)
    seglists: dict[str, list] = {
        f: (v if isinstance(v, (list, tuple)) else [v])
        for f, v in segments.items()
    }

    def _field_n_docs(f: str) -> int:
        return sum(sg.stats.n_docs for sg in seglists[f])

    def _field_avgdl(f: str) -> float:
        n = _field_n_docs(f)
        return (
            sum(sg.stats.sum_ttf for sg in seglists[f]) / n if n else 0.0
        )

    tie32 = np.float32(float(params.get("tie", 0.0)))

    # clause_seq: the scoring clauses in USER QUERY ORDER (required and
    # optional interleaved as typed — the order eDisMax scores in and
    # builds pf phrases from)
    req, opt, neg, clause_seq = parse_user_query(params.get("q", ""))
    if not clause_seq:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    mm_eff = calculate_mm(params.get("mm"), len(opt))
    if not req and opt:
        mm_eff = max(mm_eff, 1)  # BooleanQuery: some SHOULD must match

    # phrase-boost clauses: (field, terms, boost, slop) in pinned order;
    # ps/ps2/ps3 set the slop of the corresponding phrase tier (edismax's
    # phrase-slop params — SloppyPhraseMatcher semantics, fractional freq)
    phrase_terms = clause_seq  # pf phrases follow the user's term order
    pclauses: list[tuple[str, list[str], np.float32, int]] = []
    for key, size, ps_key in (("pf", 0, "ps"), ("pf2", 2, "ps2"), ("pf3", 3, "ps3")):
        spec = params.get(key)
        if not spec:
            continue
        slop = int(params.get(ps_key, params.get("ps", 0)) or 0)
        seqs = (
            [phrase_terms] if size == 0 else _shingles(phrase_terms, size)
        )
        seqs = [s for s in seqs if len(s) >= 2]
        for f, b in sorted(parse_field_boosts(spec).items()):
            assert f in segments, f"{key} field {f!r} missing a segment"
            assert all(
                sg.has_table("positions") for sg in seglists[f]
            ), f"{key} field {f!r} was built without positions"
            for seq in seqs:
                pclauses.append((f, seq, np.float32(b), slop))

    # boost params: bq clauses + bf/boost functions over the dl doc value
    bq = parse_boost_queries(params.get("bq"))
    for f, _t, _b in bq:
        assert f in segments, f"bq field {f!r} missing a segment"
    bf_specs = params.get("bf")
    bf_specs = [bf_specs] if isinstance(bf_specs, str) else list(bf_specs or [])
    bf_funcs = [parse_boost_func(s) for s in bf_specs]
    boost_func = (
        parse_boost_func(params["boost"]) if params.get("boost") else None
    )
    dv_field = params.get("dv", fields[0]) if (bf_funcs or boost_func) else None
    if dv_field is not None:
        assert dv_field in segments, f"dv field {dv_field!r} missing a segment"
    bq_fields = sorted({f for f, _t, _b in bq})

    # EVERY segment joining the bucket-grouped union must share the corpus
    # doc-id assignment grid — qf AND pf AND bq AND dv (a mismatched
    # bucket_docs would silently land rows in different kernel groups)
    involved = set(fields) | set(bq_fields) | {
        f for f, _s, _b, _sl in pclauses
    }
    if dv_field is not None:
        involved.add(dv_field)
    bd = {sg.stats.bucket_docs for f in involved for sg in seglists[f]}
    assert len(bd) == 1, f"segments disagree on bucket_docs: {bd}"

    # ---- driver-side stats pre-pass (Weight analog): ONE terms-dict
    # collect per involved field, shared by the clause idfs AND the
    # phrase-boost idf sums -------------------------------------------------
    all_terms = sorted(set(clause_seq) | set(neg) | {t for _f, t, _b in bq})
    pf_fields = sorted({f for f, _s, _b, _sl in pclauses})
    idfs: dict[tuple[str, str], np.float32] = {}
    raw_df: dict[tuple[str, str], int] = {}
    caches: dict[str, np.ndarray] = {}
    for f in sorted(set(fields) | set(pf_fields) | set(bq_fields)):
        caches[f] = bm25.norm_cache(_field_avgdl(f))
        for seg in seglists[f]:
            rows = (
                seg.table(spark, "terms")
                .filter(F.col("term").isin(all_terms))
                .select("term", "df")
                .collect()
            )
            for r in rows:  # df sums across the field's segments
                raw_df[(f, r["term"])] = raw_df.get((f, r["term"]), 0) + int(
                    r["df"]
                )
        if f in qf or f in bq_fields:
            n_docs_f = _field_n_docs(f)
            for (ff, t), dfv in raw_df.items():
                if ff == f:
                    idfs[(f, t)] = np.float32(bm25.idf(n_docs_f, dfv))
    # phrase idf sums per (field, phrase): f64 sum of present terms, one
    # f32 cast (PhraseWeight / BM25Similarity#idfExplain discipline)
    pidf: list[np.float32] = []
    for f, seq, _b, _sl in pclauses:
        if any((f, t) not in raw_df for t in seq):
            pidf.append(None)  # a phrase term absent from the field
        else:
            n_docs_f = _field_n_docs(f)
            pidf.append(
                np.float32(
                    sum(bm25.idf(n_docs_f, raw_df[(f, t)]) for t in seq)
                )
            )
    boosts = {f: np.float32(qf[f]) for f in fields}
    hit_any = {t for (f, t) in idfs if f in qf}
    if any(t not in hit_any for t in req):
        return spark.createDataFrame([], _TOPK_SCHEMA)
    matched_terms = sorted({t for t in all_terms if t in hit_any})
    # bq clauses resolve against their own field's postings (which may sit
    # outside qf); keep only those whose (field, term) exists in the index
    bq_live = [(f, t, b) for f, t, b in bq if (f, t) in raw_df]

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        post = pdf[pdf["kind"] == 0]
        empty = pd.DataFrame(
            {"doc_id": np.array([], dtype=np.int64),
             "score": np.array([], dtype=np.float32)}
        )
        if len(post) == 0:
            return empty
        base = int(post["first_doc"].min())
        span = int(post["last_doc"].max()) - base + 1
        per: dict[tuple[str, str], tuple[np.ndarray, np.ndarray]] = {}
        for (f, t), g in post.groupby(["field", "term"], sort=False):
            sarr = np.zeros(span, dtype=np.float32)
            marr = np.zeros(span, dtype=bool)
            for row in g.itertuples():
                ids, freqs, norms = _decode_block(row)
                rel = ids - base
                sarr[rel] = bm25.score_block(
                    freqs, norms, idfs[(f, t)], caches[f]
                )
                marr[rel] = True
            per[(f, t)] = (sarr, marr)  # RAW field score; qf boost at dmx

        # per-term dismax combine (sorted field order, pinned f32)
        dmx: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for t in matched_terms:
            fs = [
                ((per[(f, t)][0] * boosts[f]).astype(np.float32),
                 per[(f, t)][1])
                for f in fields
                if (f, t) in per
            ]
            if not fs:
                continue
            if len(fs) == 1:
                dmx[t] = fs[0]
                continue
            stack = np.stack([sv for sv, _ in fs])
            mx = stack.max(axis=0)
            sm = np.zeros_like(mx)
            for sv, _ in fs:  # sequential in field order (pinned float32)
                sm += sv
            dmx[t] = (
                (mx + tie32 * (sm - mx)).astype(np.float32),
                np.logical_or.reduce([mv for _, mv in fs]),
            )

        # clause gate: req all hit, neg none hit, >= mm_eff of opt hit
        ok = np.ones(span, dtype=bool)
        for t in req:
            ok &= dmx[t][1] if t in dmx else False
        if neg:
            bad = np.zeros(span, dtype=bool)
            for t in neg:
                if t in dmx:
                    bad |= dmx[t][1]
            ok &= ~bad
        if opt:
            nm = np.zeros(span, dtype=np.int32)
            for t in opt:  # each optional clause occurrence counts
                if t in dmx:
                    nm += dmx[t][1]
            ok &= nm >= mm_eff
        # liveDocs: tombstones (kind == 3 rows) never match
        ok &= ~_excluded(
            base, span, pdf.loc[pdf["kind"] == 3, "doc_id"].to_numpy(np.int64)
        )
        if not ok.any():
            return empty

        # f32 left fold over scoring clauses in clause order
        acc = np.zeros(span, dtype=np.float32)
        for t in clause_seq:
            if t in dmx:
                acc += dmx[t][0]

        # bq clauses add their RAW field BM25 × bq boost in given order
        # (SHOULD semantics: never gates, never counts toward mm)
        for f, t, b in bq_live:
            if (f, t) in per:
                acc += (per[(f, t)][0] * b).astype(np.float32)

        # phrase boosts ride the SAME bucket (positions rows, kind == 1)
        pos = pdf[pdf["kind"] == 1]
        for ci, (f, seq, b, slop) in enumerate(pclauses):
            if pidf[ci] is None:
                continue
            sub = pos[(pos["field"] == f) & (pos["term"].isin(set(seq)))]
            if len(sub) == 0:
                continue
            ids, freqs, norms = bucket_phrase_freqs(
                sub, phrase_offsets(seq), slop
            )
            if ids.size == 0:
                continue
            fr = freqs.astype(np.float32)
            p = (pidf[ci] * (fr / (fr + caches[f][norms]))).astype(np.float32)
            rel = ids - base
            # a pf-only field can carry docs outside the qf postings span
            # of this bucket; those can't pass the clause gate anyway
            inb = (rel >= 0) & (rel < span)
            add = np.zeros(span, dtype=np.float32)
            add[rel[inb]] = (p[inb] * b).astype(np.float32)
            acc += add

        # bf / boost functions over the EXACT dl doc value (kind == 2 rows
        # carry dl in first_doc); functions evaluate in f64, one f32 cast
        if bf_funcs or boost_func is not None:
            dl_arr = np.zeros(span, dtype=np.float64)
            dv = pdf[pdf["kind"] == 2]
            if len(dv):
                ids = dv["doc_id"].to_numpy(dtype=np.int64) - base
                inb = (ids >= 0) & (ids < span)
                dl_arr[ids[inb]] = dv["first_doc"].to_numpy(
                    dtype=np.float64
                )[inb]
            for fn in bf_funcs:
                acc += fn(dl_arr)
            if boost_func is not None:
                acc = (acc * boost_func(dl_arr)).astype(np.float32)

        nz = np.nonzero(ok & (acc != 0))[0]
        if nz.size == 0:
            # mm can pass with zero-score docs (all-stopword edge); keep
            # the matched set faithful anyway
            nz = np.nonzero(ok)[0]
            if nz.size == 0:
                return empty
        scores = acc[nz]
        order = np.lexsort((nz, -scores))[: min(k, nz.size)]
        return pd.DataFrame(
            {"doc_id": (nz[order] + base).astype(np.int64),
             "score": scores[order]}
        )

    # ---- one union frame: posting blocks + pf positional rows + dl rows ---
    null_bin = F.lit(None).cast("binary")
    parts = []
    bq_terms_by_field: dict[str, set] = {}
    for f, t, _b in bq_live:
        bq_terms_by_field.setdefault(f, set()).add(t)
    for f in sorted(set(fields) | set(bq_terms_by_field)):
        wanted = sorted(
            (set(matched_terms) if f in qf else set())
            | bq_terms_by_field.get(f, set())
        )
        for _seg in seglists[f]:
            parts.append(
            _seg
            .table(spark, "postings")
            .filter(F.col("term").isin(wanted))
            .select(
                F.lit(0).alias("kind"),
                F.lit(f).alias("field"),
                "term", "bucket", "first_doc", "last_doc",
                "doc_bin", "freq_bin", "norm_bin",
                F.lit(None).cast("long").alias("doc_id"),
                F.lit(None).cast("int").alias("norm_byte"),
                null_bin.alias("pos_bin"),
                null_bin.alias("end_bin"),
            )
        )
    for f in sorted({f for f, _s, _b, _sl in pclauses}):
        pterms = sorted(
            {t for pf_f, seq, _b, _sl in pclauses if pf_f == f for t in seq}
        )
        for _seg in seglists[f]:
            ptbl = _seg.table(spark, "positions")
            has_end = "end_bin" in ptbl.columns
            parts.append(
            ptbl.filter(F.col("term").isin(pterms)).select(
                F.lit(1).alias("kind"),
                F.lit(f).alias("field"),
                "term", "bucket",
                F.lit(None).cast("long").alias("first_doc"),
                F.lit(None).cast("long").alias("last_doc"),
                null_bin.alias("doc_bin"),
                null_bin.alias("freq_bin"),
                null_bin.alias("norm_bin"),
                "doc_id",
                F.col("norm_byte").cast("int").alias("norm_byte"),
                "pos_bin",
                (F.col("end_bin") if has_end else null_bin).alias("end_bin"),
            )
        )
    if dv_field is not None:
        # dl value rows (kind == 2): the narrow norms table (.nvd analog)
        # when present; merged segments fold dl into the docmap instead
        # (assemble_segment skips the norms phase when dl is stored), so
        # fall back to the pruned 2-column docmap read — same narrow scan.
        for dv_seg in seglists[dv_field]:
            dv_src = (
                dv_seg.table(spark, "norms")
                if dv_seg.has_table("norms")
                else dv_seg.table(spark, "docmap").select("doc_id", "dl")
            )
            bdocs = dv_seg.stats.bucket_docs
            parts.append(
            dv_src.select(
                F.lit(2).alias("kind"),
                F.lit(dv_field).alias("field"),
                F.lit("dl").alias("term"),
                (F.col("doc_id") / F.lit(bdocs)).cast("long").alias("bucket"),
                F.col("dl").cast("long").alias("first_doc"),
                F.lit(None).cast("long").alias("last_doc"),
                null_bin.alias("doc_bin"),
                null_bin.alias("freq_bin"),
                null_bin.alias("norm_bin"),
                "doc_id",
                F.lit(None).cast("int").alias("norm_byte"),
                null_bin.alias("pos_bin"),
                null_bin.alias("end_bin"),
            )
        )
    if deletes is not None:
        # tombstone rows (kind == 3); union_all nulls the other columns
        parts.append(deletes.select(
            F.lit(3).alias("kind"),
            F.floor(F.col("doc_id") / next(iter(bd))).cast("long").alias("bucket"),
            F.col("doc_id").cast("long"),
        ))
    per_bucket = union_all(parts).groupBy("bucket").applyInPandas(
        score_bucket, _TOPK_SCHEMA
    )
    return per_bucket.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
