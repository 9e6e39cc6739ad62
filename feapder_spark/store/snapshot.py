"""Snapshot-committed tables over parquet — the engine's state store.

The north rule targets Iceberg tables; this sandbox image ships no Iceberg
(or Delta) jars, so this module provides the same *semantics* on plain
parquet with an Iceberg-shaped metadata layout, and is the single seam where
a real Iceberg catalog would plug in (`SnapshotTable` ≈ `catalog.table`,
`commit()` ≈ snapshot commit, `version` ≈ snapshot id, `rollback()` ≈
`rollback_to_snapshot`).  The reference's equivalents are Redis atomic Lua
commits (redisdb.py:472-523) and MySQL transactions — here a commit is an
atomic version-pointer swap.

Layout per table::

    {warehouse}/{name}/
        data/v{version}-{token}/part-*.parquet    immutable data segments
        _versions/{version}.json                  manifest: schema + segment list
        _current                                  pointer file (atomic rename)

- **append** commit: new manifest = previous segments + the new segment.
- **overwrite** commit: new manifest = just the new segment.
- Readers resolve `_current` → manifest → explicit segment dirs, so a reader
  never sees a half-written commit (writes land in a fresh segment dir before
  the pointer moves) — snapshot isolation, same guarantee Iceberg gives.
- **time travel / resume**: read any retained version; `rollback(v)` moves
  the pointer back (used by the crawl engine's checkpoint resume, mirroring
  the reference's "frontier non-empty ⇒ don't re-seed" resume at
  scheduler.py:197-201).

At cluster scale the segment dirs are partitioned parquet (writers use
``partition_by``), so Catalyst partition pruning works exactly as it would on
Iceberg manifests.
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Manifest:
    version: int
    schema_ddl: str
    segments: list[str]  # relative segment dir names under data/
    meta: dict
    # partition-mode tables (commit_partitions): partition key (as string) →
    # relative dir under data/.  Exclusive with segments.  This is the
    # parquet stand-in for Iceberg's dynamic partition overwrite: a commit
    # replaces only the partitions present in the written frame.
    partitions: dict | None = None
    # partitioned-APPEND segments (commit_append_partitioned): segment name →
    # {partition key (string) → leaf dir under data/}.  The segment still
    # appears in ``segments`` (append semantics, GC by top-level dir); this
    # map lets readers prune the scan to a key subset across every appended
    # segment — the parquet stand-in for Iceberg manifest-level partition
    # pruning on an append-only table.
    seg_parts: dict | None = None
    # segment name → total data bytes, recorded at commit time — Iceberg's
    # manifest ``file_size_in_bytes``.  Lets maintenance (fold_segments)
    # pick bin-pack candidates from driver-side dict math instead of
    # re-LISTing every segment's leaf dirs per iteration (at a 10^4-segment
    # capped items table that metadata storm IS the cost).  Optional:
    # segments absent from the map fall back to a filesystem walk.
    seg_bytes: dict | None = None

    def to_json(self) -> str:
        d = {
            "version": self.version,
            "schema_ddl": self.schema_ddl,
            "segments": self.segments,
            "meta": self.meta,
        }
        if self.partitions is not None:
            d["partitions"] = self.partitions
        if self.seg_parts is not None:
            d["seg_parts"] = self.seg_parts
        if self.seg_bytes is not None:
            d["seg_bytes"] = self.seg_bytes
        return json.dumps(d, indent=1)

    @staticmethod
    def from_json(text: str) -> "Manifest":
        d = json.loads(text)
        return Manifest(
            d["version"], d["schema_ddl"], d["segments"], d.get("meta", {}),
            d.get("partitions"), d.get("seg_parts"), d.get("seg_bytes"),
        )


def _dir_bytes(path: str) -> int:
    """Total file bytes under ``path`` (recursive); 0 if absent."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _atomic_write(path: str, text: str) -> None:
    """Write-then-rename so readers see old or new content, never partial."""
    d = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".tmp-")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str, name: str):
        self.spark = spark
        self.name = name
        self.root = os.path.join(root, name)
        os.makedirs(os.path.join(self.root, "data"), exist_ok=True)
        os.makedirs(os.path.join(self.root, "_versions"), exist_ok=True)
        # fold_segments fallback sizes for segments committed before the
        # manifest seg_bytes stat existed (immutable dirs → cacheable)
        self._size_cache: dict[str, int] = {}

    # -- metadata ----------------------------------------------------------
    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_current")

    def current_version(self) -> int:
        """Current snapshot id; -1 if the table has never been committed."""
        try:
            with open(self._pointer) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def manifest(self, version: int | None = None) -> Manifest | None:
        v = self.current_version() if version is None else version
        if v < 0:
            return None
        with open(os.path.join(self.root, "_versions", f"{v}.json")) as f:
            return Manifest.from_json(f.read())

    def exists(self) -> bool:
        return self.current_version() >= 0

    # -- read --------------------------------------------------------------
    def _segment_paths(self, m: Manifest, keys=None) -> list[str]:
        """Leaf data dirs for the manifest's segments.  ``keys`` (stringified
        partition keys) prunes partitioned-append segments to that subset;
        legacy unpartitioned segments are always included whole (unprunable)."""
        sp = m.seg_parts or {}
        key_set = None if keys is None else {str(k) for k in keys}
        paths = []
        for s in m.segments:
            parts = sp.get(s)
            if parts is None:
                paths.append(os.path.join(self.root, "data", s))
            else:
                for k, rel in parts.items():
                    if key_set is None or k in key_set:
                        paths.append(os.path.join(self.root, "data", rel))
        return paths

    def read(self, version: int | None = None) -> DataFrame:
        m = self.manifest(version)
        if m is None:
            raise FileNotFoundError(f"table {self.name} has no committed snapshot")
        if m.partitions:
            paths = [os.path.join(self.root, "data", p) for p in m.partitions.values()]
            return self.spark.read.schema(m.schema_ddl).parquet(*paths)
        paths = self._segment_paths(m)
        if not paths:
            return self.spark.createDataFrame([], m.schema_ddl)
        return self.spark.read.schema(m.schema_ddl).parquet(*paths)

    def read_partitions(self, keys, version: int | None = None) -> DataFrame:
        """Partition-pruned read of a partition-mode table: only the listed
        keys' dirs are scanned (keys absent from the table are simply
        skipped).  This is driver-side partition pruning — the stand-in for
        Iceberg manifest pruning; at a 4096-bucket/10^10-key seen set it is
        the difference between scanning the touched blobs and the whole set."""
        m = self.manifest(version)
        if m is None:
            raise FileNotFoundError(f"table {self.name} has no committed snapshot")
        parts = m.partitions or {}
        paths = [
            os.path.join(self.root, "data", parts[str(k)]) for k in keys if str(k) in parts
        ]
        if not paths:
            return self.spark.createDataFrame([], m.schema_ddl)
        return self.spark.read.schema(m.schema_ddl).parquet(*paths)

    def read_partition_subset(self, keys, version: int | None = None) -> DataFrame:
        """Partition-pruned read of an APPEND-mode table whose segments were
        committed with :meth:`commit_append_partitioned`: only the listed
        keys' leaf dirs are scanned, across every appended segment.  Legacy
        unpartitioned segments (committed before the table adopted bucketing)
        are read whole — correct, just unpruned.  This is the items-dedup
        scale path: an anti-join right side bounded by the batch's buckets,
        never the whole table."""
        m = self.manifest(version)
        if m is None:
            raise FileNotFoundError(f"table {self.name} has no committed snapshot")
        if m.partitions:
            return self.read_partitions(keys, version)
        paths = self._segment_paths(m, keys=keys)
        if not paths:
            return self.spark.createDataFrame([], m.schema_ddl)
        return self.spark.read.schema(m.schema_ddl).parquet(*paths)

    def leaf_partition_count(self) -> int:
        """Total leaf partition dirs across appended segments (driver-side,
        manifest-only) — the pruning-worthiness signal: below a threshold,
        scanning the whole small table beats the extra driver job that
        computes the touched-key list."""
        m = self.manifest()
        if m is None:
            return 0
        if m.partitions:
            return len(m.partitions)
        sp = m.seg_parts or {}
        return sum(len(sp.get(s, {})) or 1 for s in m.segments)

    # -- write -------------------------------------------------------------
    def commit(
        self,
        df: DataFrame | None,
        mode: str = "append",
        meta: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        """Commit one snapshot; returns the new version id.

        ``df=None`` commits a metadata-only snapshot (same segments, new
        meta) — used for checkpoint markers.
        """
        prev = self.manifest()
        version = (prev.version + 1) if prev else 0
        if df is not None:
            seg = f"v{version}-{uuid.uuid4().hex[:8]}"
            seg_path = os.path.join(self.root, "data", seg)
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(seg_path)
            schema_ddl = df._jdf.schema().toDDL()
            if mode == "append":
                if prev and prev.partitions:
                    # an append manifest has no partition map, so it would
                    # silently drop every partition-mode row — same hazard as
                    # commit_partitions on a segment table, other direction
                    raise ValueError(
                        f"table {self.name} is in partition mode; "
                        "append via commit_partitions, not commit(mode='append')"
                    )
                segments = (prev.segments if prev else []) + [seg]
            elif mode == "overwrite":
                segments = [seg]
            else:
                raise ValueError(f"unknown commit mode {mode!r}")
        else:
            if prev is None:
                raise ValueError("metadata-only commit on uncommitted table")
            schema_ddl, segments = prev.schema_ddl, prev.segments
        # append/metadata commits carry the prior seg_parts pruning maps
        # forward (their segments are still listed); overwrite drops them
        keep_prev = prev is not None and (df is None or mode == "append")
        man = Manifest(
            version, schema_ddl, segments, meta or {},
            prev.partitions if (df is None and prev) else None,
            prev.seg_parts if keep_prev else None,
            prev.seg_bytes if keep_prev else None,
        )
        _atomic_write(os.path.join(self.root, "_versions", f"{version}.json"), man.to_json())
        _atomic_write(self._pointer, str(version))
        return version

    def commit_append_partitioned(
        self,
        df: DataFrame,
        partition_col: str,
        meta: dict | None = None,
        shuffle_to: int | None = None,
        mode: str = "append",
        count_rows: bool = False,
        coalesce_to: int | None = None,
    ) -> int:
        """Append one segment hive-partitioned by ``partition_col`` and record
        its per-key leaf dirs in the manifest, so later reads can prune to a
        key subset (:meth:`read_partition_subset`) — Iceberg append +
        manifest partition stats on plain parquet.

        ``partition_col`` is a PLACEMENT column only: it is dropped from the
        table schema (derive it from a data column, e.g.
        ``pmod(xxhash64(item_fp), B)``, so readers recompute it for free).
        Write bytes are O(df) — append semantics, nothing rewrites.

        ``shuffle_to``: hash-partition the frame on ``partition_col`` into
        this many tasks before the write, so each bucket's rows are
        colocated and ``partitionBy`` emits ≤1 file per (task ∩ bucket)
        instead of the input-partitions × buckets small-file explosion —
        pass the same right-sizing count used for plain commits.

        ``mode='overwrite'`` replaces every prior segment with this one
        (compaction commits); ``count_rows=True`` additionally records
        cumulative per-key row counts in ``meta['part_rows']`` (read from the
        just-written parquet footers, driver-side — the stand-in for the
        per-partition record counts an Iceberg manifest carries for free).
        An append WITHOUT ``count_rows`` drops any prior ``part_rows`` (the
        totals would be stale) unless the caller passes their own.

        ``coalesce_to``: for LOW-cardinality partition keys (the frontier's
        priority bands — often ONE band), hash-partitioning on ``pb`` would
        collapse the whole frame into a single write task; a narrow
        ``coalesce`` keeps full write parallelism with NO shuffle and emits
        ≤ coalesce_to files per key — the right-sizing rule of plain
        commits.  Use ``shuffle_to`` instead for high-cardinality keys
        (items/tasks buckets), where colocation matters more than the
        shuffle (one healthy file per bucket vs tasks x buckets shards).
        """
        prev = self.manifest()
        version = (prev.version + 1) if prev else 0
        if prev and prev.partitions:
            raise ValueError(
                f"table {self.name} is in partition-overwrite mode; "
                "use commit_partitions"
            )
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unknown commit mode {mode!r}")
        seg = f"v{version}-{uuid.uuid4().hex[:8]}"
        seg_path = os.path.join(self.root, "data", seg)
        from pyspark.sql import functions as F

        schema_ddl = df.drop(partition_col)._jdf.schema().toDDL()
        out = df.withColumn("pb", F.col(partition_col).cast("string")).drop(partition_col)
        if shuffle_to is not None:
            out = out.repartition(max(1, shuffle_to), F.col("pb"))
        elif coalesce_to is not None:
            out = out.coalesce(max(1, coalesce_to))
        out.write.mode("overwrite").partitionBy("pb").parquet(seg_path)
        written = {
            d.split("=", 1)[1]: f"{seg}/{d}"
            for d in os.listdir(seg_path)
            if d.startswith("pb=")
        }
        if mode == "append":
            segments = (prev.segments if prev else []) + [seg]
            seg_parts = dict(prev.seg_parts) if prev and prev.seg_parts else {}
            seg_bytes = dict(prev.seg_bytes) if prev and prev.seg_bytes else {}
        else:
            segments = [seg]
            seg_parts = {}
            seg_bytes = {}
        seg_parts[seg] = written
        # manifest size stat (Iceberg file_size_in_bytes): lets maintenance
        # bin-pack from driver dict math, no per-iteration re-LIST
        seg_bytes[seg] = _dir_bytes(seg_path)
        meta = dict(meta or {})
        if count_rows:
            import pyarrow.parquet as _pq

            prev_meta = (prev.meta or {}) if prev else {}
            carry = prev is not None and mode == "append" and bool(prev.segments)
            part_rows = dict(prev_meta.get("part_rows", {})) if carry else {}
            # counts are only trustworthy if every prior segment was counted
            # too — a gap (prior uncounted append) must poison the totals
            # visibly, not silently under-count
            complete = (not carry) or (
                "part_rows" in prev_meta and prev_meta.get("part_rows_complete", True)
            )
            for k, rel in written.items():
                leaf = os.path.join(self.root, "data", rel)
                n = sum(
                    _pq.read_metadata(os.path.join(leaf, f)).num_rows
                    for f in os.listdir(leaf)
                    if f.endswith(".parquet")
                )
                part_rows[k] = part_rows.get(k, 0) + n
            meta["part_rows"] = part_rows
            meta["part_rows_complete"] = complete
        man = Manifest(version, schema_ddl, segments, meta, None, seg_parts, seg_bytes)
        _atomic_write(os.path.join(self.root, "_versions", f"{version}.json"), man.to_json())
        _atomic_write(self._pointer, str(version))
        return version

    def fold_segments(
        self, max_segments: int, max_fold_bytes: int | None = None
    ) -> int | None:
        """Small-file maintenance for partitioned-APPEND tables — the
        Iceberg ``rewrite_data_files`` bin-pack strategy on plain parquet:
        when the appended segment count exceeds ``max_segments``, rewrite
        the SMALLEST segments into one, preserving the per-key hive leaf
        layout, the schema, and the manifest meta verbatim (the row set is
        untouched, so ``part_rows`` stay exact and reads/pruning behave
        identically — only the file-open count drops).

        Unlike a full compaction this never joins, filters, or reconciles
        deletes: cost is O(bytes of the folded segments), and smallest-first
        selection (fold down to ~max_segments/2, so folded outputs grow
        geometrically before being re-folded — LSM size tiering) keeps the
        amortized rewrite count per row at O(log segments) while bounding
        every reader at O(max_segments) file opens instead of O(commits).

        ``max_fold_bytes`` (Iceberg's target-file-size analogue) exempts
        segments at or above that size from re-folding: an ever-growing
        APPEND table (items) otherwise eventually nominates its own huge
        fold outputs as "smallest", turning one fold into the unbounded
        O(table) pause this method exists to avoid.  With the cap, a
        single fold costs ≤ max_fold_bytes × n_fold and the segment count
        is bounded by max_segments plus O(table_bytes / max_fold_bytes)
        full-sized outputs — the steady state Iceberg bin-packing reaches.
        The crawl engine passes one cap for every log it folds; on a delta
        log that a full compaction periodically resets (frontier
        adds/tombs) the cap rarely binds.

        Candidate sizes come from the manifest's ``seg_bytes`` stat
        (recorded at commit time — Iceberg's ``file_size_in_bytes``), so
        selection is driver dict math even at 10^4 segments; only
        pre-stat segments pay a (cached) filesystem walk.

        Works on both append layouts: a table with partitioned-append
        segments folds those, preserving the hive leaf layout (any plain
        legacy segments are left alone); a pure plain-append table (the
        ``commit(mode='append')`` log a seen table is) folds its plain
        segments into one plain segment.  Returns the new version, or
        None when no fold ran.  Crash-safe by construction: the fold
        commits ONE table version whose row set equals its parent's, so a
        rollback across it is a no-op, and dereferenced segment dirs are
        swept by expire_snapshots."""
        m = self.manifest()
        if m is None or m.partitions:
            return None
        sp = m.seg_parts or {}
        partitioned = [s for s in m.segments if s in sp]
        foldable = partitioned if partitioned else list(m.segments)
        if len(m.segments) <= max_segments or len(foldable) < 2:
            return None
        # sizes come from the manifest stat (recorded at commit time) —
        # driver dict math; only segments committed before the stat existed
        # pay a filesystem walk, cached per process (segment dirs are
        # immutable once committed)
        sb = m.seg_bytes or {}
        sizes: dict[str, int] = {}
        for s in foldable:
            if s in sb:
                sizes[s] = sb[s]
            elif s in self._size_cache:
                sizes[s] = self._size_cache[s]
            else:
                sizes[s] = self._size_cache[s] = _dir_bytes(
                    os.path.join(self.root, "data", s)
                )
        if max_fold_bytes is not None:
            foldable = [s for s in foldable if sizes[s] < max_fold_bytes]
            if len(foldable) < 2:
                return None
        keep_target = max(1, max_segments // 2)
        n_fold = min(len(foldable), len(m.segments) - keep_target + 1)
        if n_fold < 2:
            return None
        folded = sorted(foldable, key=lambda s: (sizes[s], s))[:n_fold]
        folded_set = set(folded)
        version = m.version + 1
        seg = f"v{version}-{uuid.uuid4().hex[:8]}"
        seg_path = os.path.join(self.root, "data", seg)
        total_bytes = sum(sizes[s] for s in folded)
        n_files = max(1, min(64, total_bytes // (128 << 20) + 1))
        written: dict[str, str] = {}
        wrote = False
        if partitioned:
            by_key: dict[str, list[str]] = {}
            for s in folded:
                for k, rel in sp[s].items():
                    by_key.setdefault(k, []).append(
                        os.path.join(self.root, "data", rel)
                    )
            if by_key:
                from functools import reduce as _reduce

                from pyspark.sql import functions as F

                # key strings round-trip through the hive dir names the
                # folded segments already used, so placement (and therefore
                # key-subset pruning) is preserved exactly
                frames = [
                    self.spark.read.schema(m.schema_ddl).parquet(*paths)
                    .withColumn("pb", F.lit(k))
                    for k, paths in sorted(by_key.items())
                ]
                out = _reduce(DataFrame.unionByName, frames).coalesce(n_files)
                out.write.mode("overwrite").partitionBy("pb").parquet(seg_path)
                written = {
                    d.split("=", 1)[1]: f"{seg}/{d}"
                    for d in os.listdir(seg_path)
                    if d.startswith("pb=")
                }
                wrote = True
        else:
            paths = [os.path.join(self.root, "data", s) for s in folded]
            out = self.spark.read.schema(m.schema_ddl).parquet(*paths)
            out.coalesce(n_files).write.mode("overwrite").parquet(seg_path)
            wrote = True
        segments = [s for s in m.segments if s not in folded_set]
        seg_parts = {s: v for s, v in sp.items() if s not in folded_set}
        seg_bytes = {s: v for s, v in sb.items() if s not in folded_set}
        if wrote:
            segments.append(seg)
            seg_bytes[seg] = _dir_bytes(seg_path)
            if written:
                seg_parts[seg] = written
        man = Manifest(
            version, m.schema_ddl, segments, dict(m.meta or {}), None,
            seg_parts, seg_bytes,
        )
        _atomic_write(os.path.join(self.root, "_versions", f"{version}.json"), man.to_json())
        _atomic_write(self._pointer, str(version))
        return version

    def commit_partitions(
        self,
        df: DataFrame,
        partition_col: str,
        meta: dict | None = None,
        shuffle_to: int | None = None,
    ) -> int:
        """Dynamic-partition-overwrite commit: replace ONLY the partitions
        present in ``df``; all other partitions carry over by reference (no
        data movement).  Iceberg's ``overwritePartitions()`` on plain parquet.

        The frame is written once, hive-partitioned by ``partition_col``; the
        new manifest maps each written key to its new dir and keeps the old
        dirs for every untouched key — commit bytes ∝ touched partitions.
        ``shuffle_to`` colocates buckets before the write (see
        :meth:`commit_append_partitioned`).
        """
        prev = self.manifest()
        version = (prev.version + 1) if prev else 0
        seg = f"v{version}-{uuid.uuid4().hex[:8]}"
        seg_path = os.path.join(self.root, "data", seg)
        schema_ddl = df._jdf.schema().toDDL()  # before the helper column
        from pyspark.sql import functions as F

        out = df.withColumn("pb", F.col(partition_col).cast("string"))
        if shuffle_to is not None:
            out = out.repartition(max(1, shuffle_to), F.col("pb"))
        out.write.mode("overwrite").partitionBy("pb").parquet(seg_path)
        written = {
            d.split("=", 1)[1]: f"{seg}/{d}"
            for d in os.listdir(seg_path)
            if d.startswith("pb=")
        }
        partitions = dict((prev.partitions if prev and prev.partitions else {}))
        if prev and prev.segments:
            # Migrate legacy segment-mode data (rows committed via commit()
            # before the table switched to partition mode) into per-key
            # partitions — without this the first partition-mode commit would
            # silently drop every segment row (for a seen_set that erases the
            # dedup state and already-crawled URLs re-crawl).  Keys the new
            # frame overwrites are excluded (the overwrite wins, matching
            # dynamic-partition-overwrite semantics).
            legacy = self.spark.read.schema(prev.schema_ddl).parquet(
                *self._segment_paths(prev)
            ).withColumn("pb", F.col(partition_col).cast("string"))
            if written:
                legacy = legacy.filter(~F.col("pb").isin(list(written)))
            mseg = f"v{version}-mig-{uuid.uuid4().hex[:8]}"
            mseg_path = os.path.join(self.root, "data", mseg)
            legacy.write.mode("overwrite").partitionBy("pb").parquet(mseg_path)
            migrated = {
                d.split("=", 1)[1]: f"{mseg}/{d}"
                for d in os.listdir(mseg_path)
                if d.startswith("pb=")
            }
            # migrated keys must not shadow keys already in partition mode
            for k, v in migrated.items():
                partitions.setdefault(k, v)
        partitions.update(written)
        man = Manifest(version, schema_ddl, [], meta or {}, partitions)
        _atomic_write(os.path.join(self.root, "_versions", f"{version}.json"), man.to_json())
        _atomic_write(self._pointer, str(version))
        return version

    def rewrite_data_files(
        self,
        partition_col_expr,
        meta: dict | None = None,
        shuffle_to: int | None = None,
        count_rows: bool = False,
    ) -> int:
        """Compact every appended segment into ONE hive-partitioned segment —
        Iceberg's ``rewrite_data_files`` (bin-packing compaction) on the
        parquet store.  An append-partitioned table gains a segment per
        commit, so per-key file counts grow linearly with iterations; this
        folds them back to O(1) per key.  The visible rows are unchanged
        (pure maintenance).

        ``partition_col_expr`` recomputes the placement key from data
        columns (it was dropped from the schema at commit time) — e.g.
        ``pmod(xxhash64(item_fp), B)``.  Rows therefore re-place under the
        CURRENT expression, which also heals a mixed-modulus history.
        ``count_rows`` refreshes per-key row counts (part_rows) when the
        table maintains them.
        """
        df = self.read().withColumn("_pc", partition_col_expr)
        return self.commit_append_partitioned(
            df, "_pc", meta=meta, shuffle_to=shuffle_to,
            mode="overwrite", count_rows=count_rows,
        )

    def create_empty(self, schema_ddl: str) -> int:
        """Commit version 0 with zero segments and a pinned schema."""
        man = Manifest(0, schema_ddl, [], {})
        _atomic_write(os.path.join(self.root, "_versions", "0.json"), man.to_json())
        _atomic_write(self._pointer, "0")
        return 0

    def rollback(self, version: int) -> None:
        if not os.path.exists(os.path.join(self.root, "_versions", f"{version}.json")):
            raise FileNotFoundError(f"no snapshot {version} for table {self.name}")
        _atomic_write(self._pointer, str(version))


class SnapshotStore:
    """A warehouse of SnapshotTables plus a cross-table checkpoint log.

    Iceberg commits are per-table; the reference couples item export with
    request-ack in one flush (item_buffer.py:342-414).  We get the same
    all-or-nothing *observable* behaviour by committing tables in a fixed
    order and recording a checkpoint row only after every table of an
    iteration committed; resume rolls every table back to the versions in
    the last complete checkpoint, discarding any torn partial iteration.
    """

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(os.path.join(warehouse, "_checkpoints"), exist_ok=True)
        self._tables: dict[str, SnapshotTable] = {}

    def table(self, name: str) -> SnapshotTable:
        if name not in self._tables:
            self._tables[name] = SnapshotTable(self.spark, self.warehouse, name)
        return self._tables[name]

    # -- checkpoints ---------------------------------------------------------
    @property
    def _ckpt_dir(self) -> str:
        return os.path.join(self.warehouse, "_checkpoints")

    def checkpoint(self, label: dict, table_names: list[str]) -> int:
        versions = {n: self.table(n).current_version() for n in table_names}
        seq = self.last_checkpoint_seq() + 1
        _atomic_write(
            os.path.join(self._ckpt_dir, f"{seq:08d}.json"),
            json.dumps({"seq": seq, "label": label, "versions": versions}),
        )
        _atomic_write(os.path.join(self._ckpt_dir, "_latest"), str(seq))
        return seq

    def last_checkpoint_seq(self) -> int:
        try:
            with open(os.path.join(self._ckpt_dir, "_latest")) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def last_checkpoint(self) -> dict | None:
        seq = self.last_checkpoint_seq()
        if seq < 0:
            return None
        with open(os.path.join(self._ckpt_dir, f"{seq:08d}.json")) as f:
            return json.load(f)

    def list_checkpoints(self) -> list[dict]:
        """All checkpoints up to the current _latest pointer, in order."""
        last = self.last_checkpoint_seq()
        out = []
        for seq in range(last + 1):
            path = os.path.join(self._ckpt_dir, f"{seq:08d}.json")
            if os.path.exists(path):
                with open(path) as f:
                    out.append(json.load(f))
        return out

    def expire_snapshots(self, keep_checkpoints: int = 2) -> dict:
        """Storage GC — Iceberg's ``expire_snapshots`` on the parquet store.

        Snapshot tables only ever ADD segment dirs; without expiry a long
        crawl's storage grows with every commit even though only the recent
        versions are reachable.  This retains every table version referenced
        by the last ``keep_checkpoints`` complete checkpoints (the resume
        window) plus each table's current version, deletes older manifests,
        and removes segment/partition dirs no retained manifest references.
        Returns {"versions_deleted": n, "segments_deleted": m}.
        """
        import shutil

        ckpts = self.list_checkpoints()
        retained_ckpts = ckpts[-keep_checkpoints:] if keep_checkpoints > 0 else []
        keep: dict[str, set[int]] = {}
        for ck in retained_ckpts:
            for name, version in ck["versions"].items():
                if version >= 0:
                    keep.setdefault(name, set()).add(version)
        table_names = {
            n for ck in ckpts for n in ck["versions"]
        } | set(self._tables)
        stats = {"versions_deleted": 0, "segments_deleted": 0, "errors": []}
        import re as _re

        for name in sorted(table_names):
            # one bad table (stray file, torn manifest) must not abort the
            # sweep midway — record the error and keep GC-ing the others
            try:
                t = self.table(name)
                cur = t.current_version()
                if cur < 0:
                    continue
                retained = keep.get(name, set()) | {cur}
                # referenced data dirs across retained manifests
                referenced: set[str] = set()
                for v in retained:
                    m = t.manifest(v)
                    if m is None:
                        continue
                    referenced.update(s.split("/")[0] for s in m.segments)
                    referenced.update(p.split("/")[0] for p in (m.partitions or {}).values())
                vdir = os.path.join(t.root, "_versions")
                for f in os.listdir(vdir):
                    mv = _re.fullmatch(r"(\d+)\.json", f)
                    if mv is None:
                        continue  # editor temp / partial write — not a version
                    if int(mv.group(1)) not in retained:
                        os.unlink(os.path.join(vdir, f))
                        stats["versions_deleted"] += 1
                ddir = os.path.join(t.root, "data")
                for seg in os.listdir(ddir):
                    if seg not in referenced:
                        shutil.rmtree(os.path.join(ddir, seg), ignore_errors=True)
                        stats["segments_deleted"] += 1
            except Exception as exc:  # noqa: BLE001
                stats["errors"].append(f"{name}: {exc}")
        # drop checkpoint files older than the retention window
        if retained_ckpts:
            oldest_kept = retained_ckpts[0]["seq"]
            for ck in ckpts:
                if ck["seq"] < oldest_kept:
                    path = os.path.join(self._ckpt_dir, f"{ck['seq']:08d}.json")
                    if os.path.exists(path):
                        os.unlink(path)
        return stats

    def restore_last_checkpoint(self) -> dict | None:
        """Roll every table back to the last complete checkpoint (resume)."""
        ckpt = self.last_checkpoint()
        if ckpt is None:
            return None
        for name, version in ckpt["versions"].items():
            if version >= 0:
                self.table(name).rollback(version)
        return ckpt
