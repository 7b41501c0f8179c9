"""Segment catalog: parquet tables in an Iceberg-shaped layout + build manifest.

Reference analogs:
- Segment / SegmentInfos (lucene/core/.../index/SegmentInfo.java,
  SegmentInfos.java): an index is a set of immutable segments; ours is a set
  of segment directories, each holding docmap/terms/postings parquet tables
  plus a JSON manifest (stats + lineage).
- Transaction log / recovery (solr/core/.../update/TransactionLog.java,
  UpdateLog.java): our manifest records per-phase completion with input
  fingerprints and metrics, so a killed build resumes by skipping completed
  phases (writes are directory-atomic: tmp dir + rename).

No Iceberg runtime jar exists in this sandbox, so the layout is plain parquet
behind this thin adapter; on a real cluster the same call sites would target
Iceberg tables (bucket(N, term) partition transform, snapshot commits).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_DV_GEN_RE = re.compile(r"^dv_(.+)_g(\d+)$")

MANIFEST = "_MANIFEST.json"
TABLES = ("docmap", "terms", "postings")


@dataclass
class SegmentStats:
    n_docs: int = 0
    sum_ttf: int = 0          # sum of raw (unquantized) doc lengths
    n_terms: int = 0
    n_postings: int = 0       # total (term, doc) pairs
    packed_bytes: int = 0     # compressed posting-block bytes
    bucket_docs: int = 8192   # doc-space bucket width (block grid alignment)
    # doc-id range ([min,max], -1 = unknown/pre-r5 manifest): segments built
    # independently each assign ids from 0, so serving several of them in
    # ONE flat doc-id space (edismax's segment lists) is only sound
    # when the ranges are disjoint — MultiSearcher's doc_base offsets exist
    # precisely because they usually are not. __main__._disjoint_doc_ids
    # checks this before any flat multi-segment serve.
    min_doc_id: int = -1
    max_doc_id: int = -1
    # index sort (IndexWriterConfig#setIndexSort recorded in SegmentInfo):
    # comma-joined sort-key columns when doc ids were RANKED BY a sort key
    # at build time ("" = insertion order / unknown). Early-termination
    # readers (operators/search.py#sorted_index_topk) verify their query
    # sort against this, as Lucene rejects a SortField mismatch.
    index_sort: str = ""

    @property
    def avgdl(self) -> float:
        return self.sum_ttf / self.n_docs if self.n_docs else 0.0


@dataclass
class Segment:
    """Handle to one immutable segment: either on-disk (path) or in-memory
    DataFrames (tests / ephemeral driver queries). ``lineage`` carries the
    transitive set of source segment ids this segment was merged from
    (ingest replay uses it to skip batches already absorbed by a merge)."""

    segment_id: str
    stats: SegmentStats
    path: str | None = None
    dfs: dict[str, DataFrame] = field(default_factory=dict)
    lineage: list[str] = field(default_factory=list)

    def table(self, spark: SparkSession, name: str) -> DataFrame:
        if name == "docmap":
            return self._docmap_view(spark)
        if name in self.dfs:
            return self.dfs[name]
        assert self.path, f"segment has no path and no cached df for {name}"
        return spark.read.parquet(os.path.join(self.path, name))

    def _docmap_view(self, spark: SparkSession) -> DataFrame:
        """The docmap is stored fields + per-doc norms. Norms live in their
        own narrow table (Lucene's .nvd/.nvm files next to the .fdt stored
        fields) so the BUILD never shuffles the wide content column; this
        view joins them back lazily for readers that want dl/norm_byte.
        Zero-token docs have no norms row -> dl=0, norm 0."""
        if "_docmap_view" in self.dfs:
            return self.dfs["_docmap_view"]
        dm = self.stored_fields(spark)
        if "dl" not in dm.columns and self.has_table("norms"):
            norms = (
                self.dfs["norms"]
                if "norms" in self.dfs
                else spark.read.parquet(os.path.join(self.path, "norms"))
            )
            dm = dm.join(norms, "doc_id", "left").na.fill(
                {"dl": 0, "norm_byte": 0}
            )
            self.dfs["_docmap_view"] = dm  # cache the composed (lazy) view
        return dm

    def stored_fields(self, spark: SparkSession) -> DataFrame:
        """The raw stored-fields table WITHOUT the norms join — for readers
        whose predicates/projections touch only stored columns (keeps their
        plans join-free), overlaid with any in-place docvalues update
        generations (LUCENE-5189 .dvd gen files;
        ``operators/updates.py#update_numeric_docvalue``): each sidecar
        holds (doc_id, value) for the docs that generation touched and
        newer generations win — readers see current values, postings and
        the base docmap bytes stay untouched. Opened once per Segment: the
        composed (lazy) frame is cached in ``dfs`` like the docmap view,
        and update_numeric_docvalue drops both."""
        if "_stored_fields" in self.dfs:
            return self.dfs["_stored_fields"]
        dm = self.dfs.get("docmap")
        if dm is None:
            assert self.path, "segment has no path and no cached df for docmap"
            dm = spark.read.parquet(os.path.join(self.path, "docmap"))
        for column, gen in self.dv_generations():
            side = spark.read.parquet(
                os.path.join(self.path, f"dv_{column}_g{gen}")
            ).select("doc_id", F.col("value").alias("__dv"))
            dm = (
                dm.join(side, "doc_id", "left")
                .withColumn(column, F.coalesce("__dv", column))
                .drop("__dv")
            )
        self.dfs["_stored_fields"] = dm
        return dm

    def dv_generations(self) -> list[tuple[str, int]]:
        """(column, generation) pairs of committed in-place DV update
        sidecars, oldest generation first (apply order)."""
        if not self.path or not os.path.isdir(self.path):
            return []
        out = []
        for name in os.listdir(self.path):
            m = _DV_GEN_RE.match(name)
            if m and os.path.exists(
                os.path.join(self.path, name, "_SUCCESS")
            ):
                out.append((m.group(1), int(m.group(2))))
        return sorted(out, key=lambda cg: cg[1])

    def has_table(self, name: str) -> bool:
        if name in self.dfs:
            return True
        return bool(self.path) and os.path.exists(
            os.path.join(self.path, name, "_SUCCESS")
        )

    def save_manifest(self, phases: dict[str, Any] | None = None) -> None:
        assert self.path
        doc = {
            "segment_id": self.segment_id,
            "stats": self.stats.__dict__,
            "phases": phases or {},
            "written_at": time.time(),
        }
        tmp = os.path.join(self.path, MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=2)
        os.replace(tmp, os.path.join(self.path, MANIFEST))

    @classmethod
    def load(cls, path: str) -> "Segment":
        with open(os.path.join(path, MANIFEST)) as f:
            doc = json.load(f)
        return cls(
            segment_id=doc["segment_id"],
            stats=SegmentStats(**doc["stats"]),
            path=path,
            lineage=list(doc.get("phases", {}).get("merged_from", [])),
        )


def new_segment_id() -> str:
    return uuid.uuid4().hex[:12]


def write_table(df: DataFrame, seg_path: str, name: str) -> None:
    """Directory-atomic table write: parquet to tmp, rename into place.
    (Parquet job commit is already all-or-nothing per attempt; the rename
    makes phase completion atomic for the resume check.)"""
    final = os.path.join(seg_path, name)
    tmp = final + f".tmp-{uuid.uuid4().hex[:6]}"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(final):
        shutil.rmtree(final)
    os.replace(tmp, final)


def phase_complete(seg_path: str, name: str) -> bool:
    marker = os.path.join(seg_path, name, "_SUCCESS")
    return os.path.exists(marker)


class Catalog:
    """A directory of segments = the index (SegmentInfos analog).

    Deletes (liveDocs analog — lucene/core/.../index/PendingDeletes.java):
    a catalog-level ``_deletes`` parquet table of (segment_id, doc_id)
    tombstones. Applied as an exclusion mask at query time (stats still
    include deleted docs, exactly like Lucene until a merge); purged when
    the owning segment is merged away or dropped.
    """

    COMMIT_FILE = "_segments.json"

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---- commit point (SegmentInfos / segments_N analog) ------------------
    # When `_segments.json` exists it is THE authoritative listing: readers
    # see exactly the ids it names, and a merge commit (sources out, merged
    # in) is one atomic os.replace of this file. Without it (legacy /
    # hand-built catalogs) the directory scan below applies; staging dirs
    # (underscore prefix) are never listed either way.

    @property
    def _commit_path(self) -> str:
        return os.path.join(self.root, self.COMMIT_FILE)

    def _committed_ids(self) -> list[str] | None:
        if not os.path.exists(self._commit_path):
            return None
        with open(self._commit_path) as f:
            return list(json.load(f)["segments"])

    def _commit_doc(self) -> dict | None:
        if not os.path.exists(self._commit_path):
            return None
        with open(self._commit_path) as f:
            return json.load(f)

    def commit_swap(self, add: list[str] = (), remove: list[str] = ()) -> None:
        """Atomically publish a new segment listing: current - remove + add.
        Mirrors IndexWriter's segments_N commit — a reader either sees the
        old listing or the new one, never a merged segment alongside its
        sources. Every commit is also archived as ``_commits/segments_N``
        so snapshots can pin and time-travel to it."""
        doc = self._commit_doc()
        if doc is None:  # bootstrap from the legacy directory scan
            current, gen = [s.segment_id for s in self._scan_segments()], 0
        else:
            current, gen = list(doc["segments"]), int(doc.get("gen", 0))
        new = [i for i in current if i not in set(remove)]
        new += [a for a in add if a not in set(new)]
        gen += 1
        payload = {"segments": new, "gen": gen, "written_at": time.time()}
        os.makedirs(os.path.join(self.root, "_commits"), exist_ok=True)
        with open(
            os.path.join(self.root, "_commits", f"segments_{gen}.json"), "w"
        ) as f:
            json.dump(payload, f)
        tmp = self._commit_path + f".tmp-{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, self._commit_path)

    # ---- snapshots / time travel (SnapshotDeletionPolicy analog) ----------
    # snapshot() pins the CURRENT commit generation: segments it references
    # survive merges physically (drop defers) until the snapshot is
    # released, and segments(at=gen) reads the index as of that commit —
    # index/SnapshotDeletionPolicy.java + IndexCommit, the same contract
    # Iceberg snapshots give table readers. Tombstones are current-state
    # only (a time-travel read sees the old segment set, today's deletes).

    @property
    def _snap_path(self) -> str:
        return os.path.join(self.root, "_snapshots.json")

    def _snap_gens(self) -> list[int]:
        if not os.path.exists(self._snap_path):
            return []
        with open(self._snap_path) as f:
            return list(json.load(f)["gens"])

    def _write_snaps(self, gens: list[int]) -> None:
        tmp = self._snap_path + f".tmp-{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump({"gens": sorted(set(gens))}, f)
        os.replace(tmp, self._snap_path)

    def snapshot(self) -> int:
        """Pin the current commit; returns its generation id."""
        doc = self._commit_doc()
        if doc is None:
            self.commit_swap()  # materialize a commit point first
            doc = self._commit_doc()
        gen = int(doc["gen"])
        self._write_snaps(self._snap_gens() + [gen])
        return gen

    def release_snapshot(self, gen: int) -> None:
        self._write_snaps([g for g in self._snap_gens() if g != gen])

    def _gen_ids(self, gen: int) -> list[str]:
        p = os.path.join(self.root, "_commits", f"segments_{gen}.json")
        if not os.path.exists(p):
            # IndexNotFoundException analog for a missing segments_N:
            # name what IS available instead of a raw FileNotFoundError
            cdir = os.path.join(self.root, "_commits")
            avail = sorted(
                int(m.group(1))
                for f in (os.listdir(cdir) if os.path.isdir(cdir) else [])
                if (m := re.match(r"^segments_(\d+)\.json$", f))
            )
            raise ValueError(
                f"no commit generation {gen} in {self.root!r} "
                f"(archived generations: {avail or 'none'})"
            )
        with open(p) as f:
            return list(json.load(f)["segments"])

    def retained_ids(self) -> set[str]:
        out: set[str] = set()
        for g in self._snap_gens():
            try:
                out |= set(self._gen_ids(g))
            except FileNotFoundError:
                pass
        return out

    def cleanup(self) -> list[str]:
        """Delete segment dirs referenced by neither the live listing nor
        any retained snapshot (IndexFileDeleter sweep). Returns removals."""
        live = {s.segment_id for s in self.segments()} | self.retained_ids()
        removed = []
        for d in sorted(os.listdir(self.root)):
            p = os.path.join(self.root, d)
            if d.startswith(("_", ".")) or not os.path.isdir(p):
                continue
            if os.path.exists(os.path.join(p, MANIFEST)) and d not in live:
                shutil.rmtree(p)
                removed.append(d)
        return removed

    def _scan_segments(self) -> list[Segment]:
        out = []
        for d in sorted(os.listdir(self.root)):
            p = os.path.join(self.root, d)
            if d.startswith(("_", ".")):
                continue  # staging dirs / commit file / deletes table
            if os.path.isdir(p) and os.path.exists(os.path.join(p, MANIFEST)):
                out.append(Segment.load(p))
        return out

    def segments(self, at: int | None = None) -> list[Segment]:
        """Live segments, or the set as of commit generation ``at``
        (time-travel — the commit must still be archived and its segments
        pinned by a snapshot to be guaranteed on disk)."""
        ids = self._gen_ids(at) if at is not None else self._committed_ids()
        if ids is None:
            return self._scan_segments()
        return [
            Segment.load(os.path.join(self.root, i))
            for i in ids
            if os.path.exists(os.path.join(self.root, i, MANIFEST))
        ]

    def drop(self, segment_id: str) -> None:
        if segment_id in self.retained_ids():
            return  # pinned by a snapshot — deferred to cleanup()
        p = os.path.join(self.root, segment_id)
        if os.path.isdir(p):
            shutil.rmtree(p)

    # ---- deletes ----------------------------------------------------------

    @property
    def _deletes_path(self) -> str:
        return os.path.join(self.root, "_deletes")

    def deletes(self, spark: SparkSession) -> DataFrame:
        """(segment_id string, doc_id long) tombstones; empty DF if none."""
        if os.path.exists(os.path.join(self._deletes_path, "_SUCCESS")) or (
            os.path.isdir(self._deletes_path) and os.listdir(self._deletes_path)
        ):
            return spark.read.parquet(self._deletes_path)
        return spark.createDataFrame([], "segment_id string, doc_id long")

    def add_deletes(self, df: DataFrame) -> None:
        """Append (segment_id, doc_id) tombstone rows (delete-by-* resolved
        upstream against each segment's docmap)."""
        df.select("segment_id", "doc_id").write.mode("append").parquet(
            self._deletes_path
        )

    def purge_deletes(self, spark: SparkSession, segment_ids: list[str]) -> None:
        """Drop tombstones owned by segments that no longer exist (post-merge).
        Crash-safe: survivors are written to a tmp directory first, then
        swapped into place (the write_table tmp+rename pattern) — a crash
        never loses tombstones belonging to unrelated segments."""
        if not os.path.isdir(self._deletes_path):
            return
        remaining = self.deletes(spark).filter(
            ~col_in("segment_id", segment_ids)
        )
        tmp = self._deletes_path + f".tmp-{uuid.uuid4().hex[:6]}"
        # Survivors never round-trip through the driver: the anti-filter is
        # written straight back out as a DataFrame (O(deletes) stays on the
        # executors). isEmpty() is a limit-1 probe, not a collect.
        if remaining.isEmpty():
            os.makedirs(tmp, exist_ok=True)  # empty dir == "no tombstones"
        else:
            remaining.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(self._deletes_path)
        os.replace(tmp, self._deletes_path)


def col_in(name: str, values: list[str]):
    from pyspark.sql import functions as F

    return F.col(name).isin(values) if values else F.lit(False)
