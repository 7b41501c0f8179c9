"""Atomic updates + optimistic concurrency — the Solr update-path analog.

Reference semantics being re-expressed (SURVEY.md §2.I):
  update/processor/AtomicUpdateDocumentMerger.java — an update supplies only
    the fields to change; the rest are read from the STORED document
    (docmap keeps content — the stored-fields contract).
  update/processor/DistributedUpdateProcessor.java#versionAdd — every doc
    carries ``_version_``; an update that supplies ``_expected_version_``
    is rejected unless it matches the current version; accepted updates
    write version+1.
  DirectUpdateHandler2 delete+add — Lucene has no in-place update: the old
    doc is tombstoned, the new doc lands in a fresh segment.

Spark restatement: one read of the live docmaps resolves current
(fields, version, owner segment/doc), a broadcast join against the update
batch splits accepted/rejected, tombstones land in the catalog ``_deletes``
table, and the merged rows run the ordinary build_index into ONE new
segment committed atomically (commit_swap). Everything is a DataFrame op;
cost tracks the batch size, not the index size (the docmap join prunes to
key columns + updated fields).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import Catalog, new_segment_id
from .indexer import build_index

KEY = ("repo", "path", "commit")


@dataclass
class UpdateResult:
    n_updated: int
    n_rejected: int
    segment_id: str | None
    rejected: DataFrame  # key cols + current_version + expected_version


def _live_docs(spark: SparkSession, catalog: Catalog) -> DataFrame:
    """Current stored docs across live segments, minus tombstones."""
    deletes = catalog.deletes(spark)
    parts = []
    for seg in catalog.segments():
        dm = seg.table(spark, "docmap").withColumn(
            "_segment_id", F.lit(seg.segment_id)
        )
        seg_del = deletes.filter(F.col("segment_id") == seg.segment_id).select(
            "doc_id"
        )
        parts.append(dm.join(F.broadcast(seg_del), "doc_id", "left_anti"))
    assert parts, "empty catalog"
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    if "_version_" not in out.columns:
        out = out.withColumn("_version_", F.lit(1).cast("long"))
    return out.withColumn(
        "_version_", F.coalesce(F.col("_version_"), F.lit(1)).cast("long")
    )


def atomic_update(
    spark: SparkSession,
    catalog: Catalog,
    updates: DataFrame,
    set_fields: list[str],
    bucket_docs: int = 8192,
) -> UpdateResult:
    """Apply one batch of atomic updates.

    ``updates`` columns: the key (repo, path, commit), the fields in
    ``set_fields`` (the 'set' operation — only these change), and
    optionally ``_expected_version_`` for optimistic concurrency (rows
    whose expectation misses the current version are rejected, exactly
    Solr's version=N conflict semantics; omit the column to skip the
    check). Unknown keys are ignored (Solr: add would create — out of
    scope for the atomic path)."""
    live = _live_docs(spark, catalog)
    key = list(KEY)
    has_expect = "_expected_version_" in updates.columns
    upd_cols = key + set_fields + (["_expected_version_"] if has_expect else [])
    lv = live.alias("lv")
    up = updates.select(*upd_cols).alias("up")
    joined = lv.join(F.broadcast(up), key, "inner")

    if has_expect:
        ok = F.col("up._expected_version_").isNull() | (
            F.col("up._expected_version_") == F.col("lv._version_")
        )
        rejected, accepted = joined.filter(~ok), joined.filter(ok)
    else:
        rejected, accepted = joined.limit(0), joined
    rejected_out = rejected.select(
        *key,
        F.col("lv._version_").alias("current_version"),
        (
            F.col("up._expected_version_")
            if has_expect
            else F.lit(None).cast("long")
        ).alias("expected_version"),
    )
    n_rejected = rejected_out.count()

    # merged doc: stored fields from the live doc, set_fields overridden
    # from the update, version bumped (AtomicUpdateDocumentMerger 'set')
    carry = [c for c in live.columns if not c.startswith("_") and c != "doc_id"]
    merged = accepted.select(
        *[F.col(f"lv.{c}").alias(c) for c in carry if c not in set_fields],
        *[F.col(f"up.{c}").alias(c) for c in set_fields],
        (F.col("lv._version_") + 1).alias("_version_"),
        F.col("lv._segment_id").alias("_old_segment_id"),
        F.col("lv.doc_id").alias("_old_doc_id"),
    )
    n_updated = merged.count()
    if n_updated == 0:
        return UpdateResult(0, n_rejected, None, rejected_out)

    # 1. tombstone the old rows
    catalog.add_deletes(
        merged.select(
            F.col("_old_segment_id").alias("segment_id"),
            F.col("_old_doc_id").alias("doc_id"),
        )
    )
    # 2. index the merged docs as a fresh segment (content_sha256 restamped
    #    by build_index if content changed is NOT automatic — drop it so the
    #    stamp reflects the new content, per input_hint)
    seg_id = f"upd-{new_segment_id()}"
    new_corpus = merged.drop("_old_segment_id", "_old_doc_id")
    if "content" in set_fields and "content_sha256" in new_corpus.columns:
        new_corpus = new_corpus.drop("content_sha256")
    build_index(
        spark,
        new_corpus,
        out_dir=catalog.root,
        bucket_docs=bucket_docs,
        segment_id=seg_id,
    )
    # 3. publish atomically
    catalog.commit_swap(add=[seg_id])
    return UpdateResult(n_updated, n_rejected, seg_id, rejected_out)


def update_numeric_docvalue(
    spark: SparkSession,
    segment,
    column: str,
    updates: DataFrame,
) -> int:
    """In-place numeric docvalues update — IndexWriter#updateNumericDocValue
    (LUCENE-5189 docvalues generations) / Solr's in-place atomic update
    path (AtomicUpdateDocumentMerger#computeInPlaceUpdatableFields: only
    non-indexed numeric DV fields and ``_version_`` qualify).

    ``updates`` is (doc_id, value) for the touched docs only. The update
    writes a NEW generation sidecar next to the segment's tables — the
    .dvd gen-file analog — and readers overlay generations newest-last
    (Segment.stored_fields). Postings, positions, norms, and the base
    docmap bytes are untouched: a term query returns identical results
    before and after, exactly the reference's contract. A later merge
    reads through the overlay view, so merged segments materialize
    current values and carry no sidecars (forceMerge collapsing DV
    generations).

    Returns the generation number written. Cost at scale: one narrow
    (doc_id, value) write of the touched rows — never a docmap rewrite.
    """
    import os

    assert segment.path, "in-place DV updates need an on-disk segment"
    base_cols = set(segment.stored_fields(spark).columns)
    if column not in base_cols:
        raise ValueError(
            f"unknown docvalues field {column!r}; in-place updates cannot "
            "add fields (Lucene updateNumericDocValue contract)"
        )
    gens = [g for c, g in segment.dv_generations() if c == column]
    gen = (max(gens) + 1) if gens else 1
    out = os.path.join(segment.path, f"dv_{column}_g{gen}")
    updates.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.col("value")
    ).write.mode("errorifexists").parquet(out)
    # the cached stored-fields frame and docmap view are stale now
    segment.dfs.pop("_stored_fields", None)
    segment.dfs.pop("_docmap_view", None)
    return gen
