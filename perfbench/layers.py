"""Per-layer metrics of a traced run, one name per engine module.

Every workload reports the same names; a layer the workload does not call
reads 0 (no calls, no jobs). Timings are medians per call; ``jobs`` is the
median job count per call, which repeats exactly on a given program.
"""

from __future__ import annotations

import os
import statistics

from spans import wall_ms
from workloads import dir_bytes

QUERY_CLASSES = ("term", "fq", "or", "and", "phrase", "prefix", "matchall",
                 "absent", "visible")
TABLES = ("postings", "positions", "docmap", "terms", "norms")

# (name, unit, better)
METRICS = [
    # operators.indexer
    ("indexer.build.calls", "count", "higher"),
    ("indexer.build.wall_ms", "ms", "lower"),
    ("indexer.build.jobs", "count", "lower"),
    ("indexer.build.stages", "count", "lower"),
    ("indexer.build.tasks", "count", "lower"),
    ("indexer.build.executor_run_ms", "ms", "lower"),
    ("indexer.build.shuffle_write_bytes", "bytes", "lower"),
    ("indexer.postings_rows", "count", "lower"),
    ("indexer.packed_bytes", "bytes", "lower"),
    # functions.analysis
    ("analysis.tokenize.wall_ms", "ms", "lower"),
    ("analysis.tokens", "count", "lower"),
    # sources.catalog
    ("catalog.commit.wall_ms", "ms", "lower"),
    ("catalog.open.wall_ms", "ms", "lower"),
    ("catalog.open.jobs", "count", "lower"),
    ("catalog.fetch.wall_ms", "ms", "lower"),
    ("catalog.fetch.jobs", "count", "lower"),
    ("catalog.fetch.tasks", "count", "lower"),
    *[(f"catalog.bytes.{t}", "bytes", "lower") for t in TABLES],
    # plans.qparser
    ("qparser.parse.wall_ms", "ms", "lower"),
    ("qparser.rewrite.wall_ms", "ms", "lower"),
    ("qparser.rewrite.jobs", "count", "lower"),
    ("qparser.rewrite.terms_expanded", "count", "lower"),
    # operators.search
    ("search.term_stats.wall_ms", "ms", "lower"),
    ("search.term_stats.jobs", "count", "lower"),
    *[m for c in QUERY_CLASSES for m in (
        (f"search.query.{c}.wall_ms", "ms", "lower"),
        (f"search.query.{c}.jobs", "count", "lower"))],
    ("search.query.stages", "count", "lower"),
    ("search.query.stages_skipped", "count", "higher"),
    ("search.query.tasks", "count", "lower"),
    ("search.query.executor_run_ms", "ms", "lower"),
    ("search.query.shuffle_read_bytes", "bytes", "lower"),
    ("search.query.shuffle_write_bytes", "bytes", "lower"),
    ("search.segments", "count", "lower"),
    ("search.filter_cache.hit_ratio", "ratio", "higher"),
    ("search.filter_cache.lookups", "count", "lower"),
    # operators.merge
    ("merge.delete.wall_ms", "ms", "lower"),
    ("merge.delete.jobs", "count", "lower"),
    ("merge.compact.wall_ms", "ms", "lower"),
    ("merge.compact.jobs", "count", "lower"),
    ("merge.compact.shuffle_write_bytes", "bytes", "lower"),
    ("merge.bytes_rewritten_per_content_byte", "ratio", "lower"),
    # the benchmark's own tracing
    ("trace_overhead_frac", "ratio", "lower"),
]
UNITS = {name: unit for name, unit, _ in METRICS}


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def compute(tracer, layers: dict) -> dict[str, float]:
    """Per-layer metrics from the collected spans of a traced run."""
    out: dict[str, float] = {}

    def per_call(prefix: str, spans: list[dict], fields: tuple) -> None:
        out[f"{prefix}.wall_ms"] = _med(wall_ms(s) for s in spans)
        for f in fields:
            out[f"{prefix}.{f}"] = _med(s[f] for s in spans)

    builds = tracer.named("indexer.build")
    out["indexer.build.calls"] = float(len(builds))
    per_call("indexer.build", builds, ("jobs", "stages", "tasks",
                                       "executor_run_ms", "shuffle_write_bytes"))
    out["indexer.postings_rows"] = float(sum(s["postings_rows"] for s in builds))
    out["indexer.packed_bytes"] = float(sum(s["packed_bytes"] for s in builds))

    tok = tracer.named("analysis.tokenize")
    out["analysis.tokenize.wall_ms"] = _med(wall_ms(s) for s in tok)
    out["analysis.tokens"] = float(sum(s["tokens"] for s in tok))

    out["catalog.commit.wall_ms"] = _med(wall_ms(s) for s in tracer.named("catalog.commit"))
    per_call("catalog.open", tracer.named("catalog.open"), ("jobs",))
    per_call("catalog.fetch", tracer.named("catalog.fetch"), ("jobs", "tasks"))
    cat_dir = layers["catalog_dir"]
    for t in TABLES:
        out[f"catalog.bytes.{t}"] = float(sum(
            dir_bytes(os.path.join(cat_dir, d, t)) for d in os.listdir(cat_dir)
            if not d.startswith(("_", "."))
        ))

    out["qparser.parse.wall_ms"] = _med(wall_ms(s) for s in tracer.named("qparser.parse"))
    rewrites = tracer.named("qparser.rewrite")
    per_call("qparser.rewrite", rewrites, ("jobs",))
    out["qparser.rewrite.terms_expanded"] = _med(s["terms_expanded"] for s in rewrites)

    per_call("search.term_stats", tracer.named("search.term_stats"), ("jobs",))
    queries = tracer.named("search.query")
    for c in QUERY_CLASSES:
        per_call(f"search.query.{c}", [s for s in queries if s["cls"] == c], ("jobs",))
    for f in ("stages", "stages_skipped", "tasks", "executor_run_ms",
              "shuffle_read_bytes", "shuffle_write_bytes"):
        out[f"search.query.{f}"] = _med(s[f] for s in queries)
    ms = layers["ms"]
    out["search.segments"] = float(len(ms.segments))
    fc = ms.filter_cache
    lookups = fc.hits + fc.misses
    out["search.filter_cache.hit_ratio"] = fc.hits / lookups if lookups else 0.0
    out["search.filter_cache.lookups"] = float(lookups)

    per_call("merge.delete", tracer.named("merge.delete"), ("jobs",))
    compacts = tracer.named("merge.compact")
    per_call("merge.compact", compacts, ("jobs", "shuffle_write_bytes"))
    out["merge.bytes_rewritten_per_content_byte"] = (
        sum(s["bytes_rewritten"] for s in compacts) / layers["ingested_bytes"]
    )
    out["trace_overhead_frac"] = _med(layers["client"].overhead)
    assert set(out) == set(UNITS), set(out) ^ set(UNITS)
    return out

