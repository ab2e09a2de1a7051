"""LakeTable — a from-scratch ACID table format on parquet + a JSON snapshot log.

No Iceberg/Delta jars exist in this environment, so the engine carries its
own minimal lakehouse layer with the four properties the CDC sink needs
(the same properties the reference gets from its transactional tmp-table
swap, destination-jdbc JdbcBufferedConsumerFactory.java:153-194, and we'd
get from Iceberg in deployment):

  1. atomic commits — a snapshot manifest is the unit of visibility,
     published by one no-replace hard link of a fully written, fsynced
     file, so concurrent writers conflict instead of corrupt (optimistic
     concurrency, Iceberg-style) and no reader sees a torn manifest. Every
     metadata change goes through one publish loop, LakeTable._publish;
  2. snapshot isolation + time travel — readers resolve the latest (or any
     historical) manifest and only see files listed there;
  3. schema evolution — each file records the schema_id it was written
     with; reads align every schema generation to the current schema
     (add-column → NULL fill, widen → cast), so evolution never rewrites
     data;
  4. idempotent commit bookkeeping — every commit may carry a
     (checkpoint_id, partition) key; the set of committed keys rides in
     the manifest, giving exactly-once sinks a transactional dedup check
     (≡ the reference's pending→flushed→committed state machine,
     BufferedStreamConsumer.java:158-181).

Scale notes (the design point is a 1000-executor cluster / 100 TB table):
  - manifests hold per-file partition values + min/max key stats, so MERGE
    prunes candidate files at the driver without touching data;
  - data layout is hash-bucketed on the merge key (PartitionSpec bucket
    transform): a micro-batch only rewrites the buckets its keys hash to;
  - manifest size grows with file count, not rows; at 100 TB with ~512 MB
    files that is ~200k entries. Once the file list (or committed-key set)
    outgrows a fixed size the table moves to SEGMENTED manifests — the
    Iceberg manifest-list shape in JSON: file list and committed-key set
    live in immutable segment files, the head carries {path, n} refs, and
    a commit writes O(delta) metadata instead of re-serializing O(live
    files) (measured 28× at 50k files, scripts/manifest_bench.py; see
    _dehydrate/_hydrate). Size is the only switch: there is no per-table
    knob.

Everything here is driver-side metadata handling (small JSON); all data
movement is Spark DataFrame reads/writes.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from dataclasses import dataclass, field
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

from airbyte_spark.schema import evolve

_LAKE_DIR = "_lake"
_DATA_DIR = "data"
_SEG_DIR = "segs"  # immutable manifest segments, shared by main + branches

# Segmented-manifest sizes: a table moves its file list (committed-key set)
# into segments once the inline list crosses _AUTO_SEGMENT_FILES
# (_COMMITTED_TAIL) entries — the point where rewriting the full list per
# commit stops being O(small) — and merges segments past _MAX_SEGMENTS.
_AUTO_SEGMENT_FILES = 1000
_COMMITTED_TAIL = 1000
_MAX_SEGMENTS = 64

# process-wide cache of immutable segment payloads: abs path -> payload.
# Segments are write-once (uuid names), so cached content never goes stale;
# vacuumed paths simply stop being referenced.
_SEG_CACHE: dict[str, dict] = {}
_SEG_CACHE_MAX = 512
# helper column names for position-delete row tracking
_DV_FILE = "_dv_file"
_DV_POS = "_dv_pos"

# Above this many sidecar-recorded delete rows, reads leave the anti-join
# strategy to AQE instead of forcing a broadcast (mirrors merge.py's
# BROADCAST_WINNER_MAX; the gate reads manifest metadata only — no job).
BROADCAST_DELETE_ROWS_MAX = 5_000_000


class CommitConflict(Exception):
    """Another writer published the manifest version this commit targeted.

    Retryable: metadata-only updates (committed keys, appends, schema
    evolution) are re-applied automatically on the fresh manifest; a
    copy-on-write MERGE whose *input files* were concurrently rewritten
    must re-run its merge instead (≡ Iceberg's validation failure on
    conflicting deleted data files)."""


class ConstraintViolation(Exception):
    """A CHECK constraint rejected a commit (or an add_constraint found
    existing rows violating it). The offending commit's staged files are
    garbage-collected before this raises — the table is unchanged."""


# --- partition spec --------------------------------------------------------------


@dataclass(frozen=True)
class PartitionField:
    name: str  # output column, e.g. p_bucket
    transform: str  # identity | bucket | days
    source: str  # source column, e.g. url
    n: int = 0  # bucket count for bucket transform

    def expr(self):
        c = F.col(self.source)
        if self.transform == "identity":
            return c
        if self.transform == "days":
            return F.date_format(c, "yyyy-MM-dd")
        if self.transform == "bucket":
            # xxhash64 is deterministic across sessions/versions for our
            # purposes (pinned Spark); pmod keeps it non-negative.
            return F.pmod(F.xxhash64(c), F.lit(self.n))
        raise ValueError(f"unknown transform {self.transform}")


@dataclass(frozen=True)
class PartitionSpec:
    fields: tuple[PartitionField, ...] = ()

    @staticmethod
    def bucket(source: str, n: int) -> "PartitionSpec":
        return PartitionSpec((PartitionField("p_bucket", "bucket", source, n),))

    @staticmethod
    def days_and_bucket(ts_col: str, key_col: str, n: int) -> "PartitionSpec":
        return PartitionSpec(
            (
                PartitionField("p_day", "days", ts_col),
                PartitionField("p_bucket", "bucket", key_col, n),
            )
        )

    def names(self) -> list[str]:
        return [f.name for f in self.fields]

    def to_json(self) -> list[dict]:
        return [vars(f) | {} for f in self.fields]

    @staticmethod
    def from_json(rows: list[dict]) -> "PartitionSpec":
        return PartitionSpec(tuple(PartitionField(**r) for r in rows))


# --- manifest model ---------------------------------------------------------------


@dataclass
class FileEntry:
    path: str  # relative to table root
    rows: int
    bytes: int
    schema_id: int
    partition: dict[str, Any] = field(default_factory=dict)
    stats: dict[str, Any] = field(default_factory=dict)  # {col: {min,max}}
    # data sequence number (≡ Iceberg): the commit version that added this
    # file; equality deletes apply only to files with STRICTLY LOWER seq.
    # None on pre-seq manifests — treated as oldest (0), so historical data
    # is always in scope for a later equality delete.
    seq: int | None = None

    def to_json(self) -> dict:
        return vars(self)

    @staticmethod
    def from_json(d: dict) -> "FileEntry":
        return FileEntry(**d)


def _collect_parquet_stats(
    abs_path: str, stat_cols: list[str], bloom_col: str | None = None
) -> tuple[int, int, dict]:
    """rows, bytes, {col: {min,max}} from the parquet footer (no data read,
    except bloom_col: that one column is read back to build a per-file key
    Bloom filter, written as a `<file>.bloom` sidecar and referenced in the
    stats as {bloom: {m, k}} — see lake/bloom.py for why and the size cap)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    rows = md.num_rows
    size = os.path.getsize(abs_path)
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    stats: dict[str, Any] = {}
    for col in stat_cols:
        if col not in names:
            continue
        mn, mx = None, None
        nulls: int | None = 0
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(names[col]).statistics
            if s is None:
                mn = mx = nulls = None
                break
            nulls = None if (nulls is None or s.null_count is None) else nulls + s.null_count
            if not s.has_min_max:
                mn = mx = None
                continue
            mn = s.min if mn is None else min(mn, s.min)
            mx = s.max if mx is None else max(mx, s.max)
        entry: dict[str, Any] = {}
        if mn is not None:
            if isinstance(mn, bytes):
                mn, mx = mn.decode("utf-8", "replace"), mx.decode("utf-8", "replace")
            if not isinstance(mn, (str, int, float, bool)):
                mn, mx = str(mn), str(mx)
            entry["min"], entry["max"] = mn, mx
        if nulls is not None:
            entry["nulls"] = nulls
        if entry:
            stats[col] = entry
    if bloom_col is not None and bloom_col in names and rows:
        from airbyte_spark.lake.bloom import KeyBloom

        values = pq.read_table(abs_path, columns=[bloom_col])[bloom_col].to_pylist()
        bf = KeyBloom.build(values)
        if bf is not None:
            with open(abs_path + ".bloom", "wb") as fh:
                fh.write(bf.to_bytes())
            stats.setdefault(bloom_col, {})["bloom"] = {"m": bf.m, "k": bf.k}
    return rows, size, stats


def _fsync_dir(path: str) -> None:
    """Make a directory's entries (a just-linked manifest name) durable."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


# --- table ------------------------------------------------------------------------


class LakeTable:
    """Handle to one lake table. Cheap to construct; state lives on disk."""

    def __init__(self, spark: SparkSession, path: str, branch: str | None = None):
        self.spark = spark
        self.path = os.path.abspath(path)
        # non-None: this handle's commits land on an isolated branch chain
        # under _lake/branches/<name>/ (see create_branch — WAP staging)
        self._branch = branch

    # ---- lifecycle ----

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: StructType,
        partition_spec: PartitionSpec | None = None,
        properties: dict[str, str] | None = None,
    ) -> "LakeTable":
        # classmethod (not static): an adapter subclass passed through the
        # TableFormat seam constructs ITSELF here
        t = cls(spark, path)
        os.makedirs(os.path.join(t.path, _LAKE_DIR), exist_ok=False)
        os.makedirs(os.path.join(t.path, _DATA_DIR), exist_ok=True)
        manifest = {
            "version": 1,
            "schema_id": 0,
            "schemas": {"0": json.loads(schema.json())},
            # Iceberg-style field ids: column IDENTITY is the id, the name
            # is a label. Renames are metadata-only; a re-added name gets a
            # fresh id so dropped data never resurrects under it.
            "field_ids": {"0": {f.name: i + 1 for i, f in enumerate(schema.fields)}},
            "last_field_id": len(schema.fields),
            "partition_spec": (partition_spec or PartitionSpec()).to_json(),
            "files": [],
            "committed": {},  # checkpoint key -> commit summary
            "properties": properties or {},
            "parent": None,
            "operation": "create",
        }
        t._write_manifest(manifest)
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        t = cls(spark, path)
        if t.current_version() is None:
            raise FileNotFoundError(f"no lake table at {path}")
        return t

    @staticmethod
    def exists(path: str) -> bool:
        return bool(LakeTable(None, path)._versions())

    # ---- manifest I/O ----

    def _meta_dir(self) -> str:
        d = os.path.join(self.path, _LAKE_DIR)
        return os.path.join(d, "branches", self._branch) if self._branch else d

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._meta_dir(), f"v{version:09d}.json")

    def _versions(self) -> list[int]:
        """Retained manifest versions of this handle's chain, ascending."""
        d = self._meta_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[1:-5]) for f in os.listdir(d) if f.startswith("v") and f.endswith(".json")
        )

    def current_version(self) -> int | None:
        versions = self._versions()
        return versions[-1] if versions else None

    def manifest(self, version: "int | str | None" = None) -> dict:
        # a string version is a tag name (≡ Iceberg VERSION AS OF 'tag')
        version = self._resolve_version(version)
        v = version if version is not None else self.current_version()
        if v is None:
            raise FileNotFoundError(f"no manifests in {self.path}")
        return self._read_manifest_file(self._manifest_path(v))

    # ---- segmented manifests (≡ Iceberg manifest list → manifest files) ----
    #
    # A small table keeps its file list + committed-key set inline in the
    # head, rewritten on every commit. Past the sizes above that becomes
    # O(live files) driver JSON work per commit, so the lists move to
    # immutable side files under _lake/segs/ and the head carries only
    # {path, n} refs: a commit writes one small head + new segments for its
    # DELTA (added files / fresh checkpoint keys) and rewrites only segments
    # a removal touched. Hydration happens here, inside manifest(), so every
    # reader and _publish see the same inline dict shape in both forms.

    def _load_segment(self, rel: str, lenient: bool = False) -> dict | None:
        ap = os.path.join(self.path, rel)
        payload = _SEG_CACHE.get(ap)
        if payload is None:
            try:
                with open(ap) as fh:
                    payload = json.load(fh)
            except FileNotFoundError:
                if lenient:
                    return None
                raise FileNotFoundError(
                    f"manifest references missing segment {rel} "
                    "(corrupted table or over-eager external cleanup)"
                )
            while len(_SEG_CACHE) >= _SEG_CACHE_MAX:  # LRU-ish: oldest insert
                del _SEG_CACHE[next(iter(_SEG_CACHE))]
            _SEG_CACHE[ap] = payload
        return payload

    def _write_segment(self, payload: dict) -> str:
        rel = f"{_LAKE_DIR}/{_SEG_DIR}/seg-{uuid.uuid4().hex[:16]}.json"
        ap = os.path.join(self.path, rel)
        os.makedirs(os.path.dirname(ap), exist_ok=True)
        with open(ap, "w") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())  # durable before any head can reference it
        while len(_SEG_CACHE) >= _SEG_CACHE_MAX:
            del _SEG_CACHE[next(iter(_SEG_CACHE))]
        _SEG_CACHE[ap] = payload
        return rel

    def _hydrate(self, m: dict, lenient: bool = False) -> dict:
        """Resolve segment refs into the inline manifest shape. Cached
        segment lists are concatenated/merged by reference — no JSON parse
        after first touch, so a hydrate is cheaper than parsing the
        equivalent inline manifest. `lenient` skips missing segments
        (fsck's damage-survey mode) instead of raising."""
        if "file_segments" in m:
            files: list[dict] = []
            for r in m["file_segments"]:
                seg = self._load_segment(r["path"], lenient)
                if seg is not None:
                    files.extend(seg["entries"])
            files.extend(m.get("files") or [])
            m["files"] = files
        if "committed_segments" in m:
            merged: dict[str, dict] = {}
            for r in m["committed_segments"]:
                seg = self._load_segment(r["path"], lenient)
                if seg is not None:
                    merged.update(seg["committed"])
            merged.update(m.get("committed") or {})
            m["committed"] = merged
        return m

    def _read_manifest_file(self, path: str, lenient: bool = False) -> dict:
        with open(path) as fh:
            m = json.load(fh)
        return self._hydrate(m, lenient)

    def _dehydrate(self, manifest: dict) -> tuple[dict, list[str]]:
        """Convert a hydrated manifest back to its storage form, writing
        segment files for the parts that changed. Returns (storage dict,
        newly written segment rel-paths) — the caller GCs the new segments
        if the publish fails or loses its race.

        Delta detection is structural: a prior file segment is kept BY
        REFERENCE iff every path it holds is still live (entries are
        immutable per path); a removal rewrites only the segments holding
        removed paths. Sealed committed keys are recognized by VALUE
        equality with the segment contents — commit() only ever assigns
        fresh summaries for NEW keys, so equality cleanly separates the
        tail regardless of cache eviction.
        Segment count is bounded LSM-style: past _MAX_SEGMENTS the smallest
        segments merge into one (amortized O(log) rewrites per entry)."""
        m = dict(manifest)
        new_segs: list[str] = []

        if "file_segments" in m or len(m.get("files") or []) > _AUTO_SEGMENT_FILES:
            files = list(m.get("files") or [])
            by_path = {f["path"]: f for f in files}
            covered: set[str] = set()
            refs: list[dict] = []
            for r in m.get("file_segments") or []:
                entries = (self._load_segment(r["path"]) or {}).get("entries", [])
                paths = [e["path"] for e in entries]
                if paths and all(p in by_path and p not in covered for p in paths):
                    refs.append(r)  # untouched — carried forward by reference
                    covered.update(paths)
                else:
                    survivors = [
                        by_path[p] for p in paths if p in by_path and p not in covered
                    ]
                    if survivors:
                        rel = self._write_segment({"entries": survivors})
                        new_segs.append(rel)
                        refs.append({"path": rel, "n": len(survivors)})
                        covered.update(e["path"] for e in survivors)
            fresh = [f for f in files if f["path"] not in covered]
            if fresh:
                rel = self._write_segment({"entries": fresh})
                new_segs.append(rel)
                refs.append({"path": rel, "n": len(fresh)})
            if len(refs) > _MAX_SEGMENTS:
                refs.sort(key=lambda r: r["n"])
                k = len(refs) - max(1, _MAX_SEGMENTS // 2) + 1
                merged_entries: list[dict] = []
                for r in refs[:k]:
                    merged_entries.extend(
                        (self._load_segment(r["path"]) or {}).get("entries", [])
                    )
                rel = self._write_segment({"entries": merged_entries})
                new_segs.append(rel)
                refs = refs[k:] + [{"path": rel, "n": len(merged_entries)}]
            m["file_segments"] = refs
            m["files"] = []

        if "committed_segments" in m or len(m.get("committed") or {}) > _COMMITTED_TAIL:
            committed = dict(m.get("committed") or {})
            crefs = list(m.get("committed_segments") or [])
            sealed: dict[str, dict] = {}
            for r in crefs:
                sealed.update((self._load_segment(r["path"]) or {}).get("committed", {}))
            if all(k in committed for k in sealed):
                # value split: a key whose summary equals its sealed copy
                # stays sealed; anything fresh or overwritten lands in the
                # tail (tail overrides sealed on hydrate, so an overwrite
                # keeps the new value visible). Equality — not object
                # identity — so a cache eviction between hydrate and this
                # dehydrate can't make every key look fresh and trigger an
                # O(all-keys) re-seal.
                tail = {k: v for k, v in committed.items() if sealed.get(k) != v}
            else:
                # the committed set SHRANK (rollback / truncate restore):
                # sealed history is stale — rebuild from the full live set
                crefs = []
                tail = committed
            if len(tail) > _COMMITTED_TAIL:
                rel = self._write_segment({"committed": tail})
                new_segs.append(rel)
                crefs.append({"path": rel, "n": len(tail)})
                tail = {}
            if len(crefs) > _MAX_SEGMENTS:
                crefs.sort(key=lambda r: r["n"])
                k = len(crefs) - max(1, _MAX_SEGMENTS // 2) + 1
                cmerged: dict[str, dict] = {}
                for r in crefs[:k]:
                    cmerged.update(
                        (self._load_segment(r["path"]) or {}).get("committed", {})
                    )
                rel = self._write_segment({"committed": cmerged})
                new_segs.append(rel)
                crefs = crefs[k:] + [{"path": rel, "n": len(cmerged)}]
            m["committed_segments"] = crefs
            m["committed"] = tail

        return m, new_segs

    def _write_manifest(self, manifest: dict) -> int:
        """Atomic compare-and-swap publish of one manifest version. The JSON
        is written and fsynced under a temp name that never lists as a
        version, then hard-linked to its version name: the link is atomic
        and fails if the name exists, so a version appears complete or not
        at all — neither a concurrent reader nor a crash mid-write can see
        a torn head. Returns the version; raises CommitConflict if another
        writer already published it (the caller must re-read the winning
        manifest and re-apply its delta — blindly bumping the version here
        would commit stale content and silently drop the winner's
        files/committed entries, a lost update; _publish does this).
        Segment files written for a failed attempt are reclaimed — the
        winner's segments are untouched (different uuid names)."""
        storage, new_segs = self._dehydrate(manifest)
        v = storage["version"]
        meta = self._meta_dir()
        tmp = os.path.join(meta, f".publish-{uuid.uuid4().hex}.tmp")
        try:
            with open(tmp, "w") as fh:
                json.dump(storage, fh)
                fh.flush()
                os.fsync(fh.fileno())
            os.link(tmp, self._manifest_path(v))
        except BaseException as exc:
            for rel in new_segs:
                ap = os.path.join(self.path, rel)
                _SEG_CACHE.pop(ap, None)
                try:
                    os.remove(ap)
                except OSError:
                    pass
            if isinstance(exc, FileExistsError):
                raise CommitConflict(f"version {v} already committed by another writer")
            raise
        finally:
            try:
                os.remove(tmp)
            except FileNotFoundError:
                pass
        _fsync_dir(meta)
        return v

    def _publish(self, operation: str, apply) -> int:
        """The one commit path: every metadata change to this table lands
        here (a sync's commit point is the publish of one version). Each
        attempt re-reads the head and calls `apply(m)`, which edits it in
        place. `apply` may instead return a version to stop without
        publishing (an idempotent no-op), or raise CommitConflict when the
        data it was derived from changed underneath it. The edited head is
        stamped (parent, version, operation) and published; losing the
        publish race re-runs `apply` on the winner's manifest, so only this
        commit's delta is re-applied, never a stale full manifest."""
        while True:
            m = self.manifest()
            done = apply(m)
            if done is not None:
                return done
            m["parent"] = m["version"]
            m["version"] += 1
            m["operation"] = operation
            try:
                return self._write_manifest(m)
            except CommitConflict:
                continue  # lost the race on metadata only — re-read + re-apply

    # ---- schema ----

    def schema(self, version: int | None = None) -> StructType:
        m = self.manifest(version)
        return StructType.fromJson(m["schemas"][str(m["schema_id"])])

    def partition_spec(self) -> PartitionSpec:
        return PartitionSpec.from_json(self.manifest()["partition_spec"])

    def evolve_schema(self, new_schema: StructType) -> StructType:
        """Merge-evolve the table schema (add columns / widen types); no-op
        if nothing changes. ≡ Iceberg UpdateSchema / the reference's
        catalog-diff incremental run (SURVEY §1.4). Existing names keep
        their field id (type widening is an in-place change); genuinely
        new names get fresh ids."""

        def build(current: StructType, ids: dict) -> "tuple[StructType, dict] | None":
            merged = evolve(current, new_schema)
            if merged == current:
                return None
            return merged, {f.name: ids[f.name] for f in merged.fields if f.name in ids}

        return self._commit_schema_change(build, "evolve-schema")

    def _commit_schema_change(
        self, build, operation: str, defaults: dict | None = None
    ) -> StructType:
        """Metadata-only schema commit. `build(current_schema, current_ids)`
        returns (new_schema, new_ids), None when nothing changes, or raises.
        Columns of new_schema missing from new_ids get fresh field ids;
        `defaults` (column name → initial default) are keyed on the ids."""
        new_schema = None

        def apply(m: dict) -> int | None:
            nonlocal new_schema
            sid = str(m["schema_id"])
            current = StructType.fromJson(m["schemas"][sid])
            field_ids = m.setdefault("field_ids", {})
            if not field_ids.get(sid):
                # legacy manifest: bootstrap identity ids for the current sid
                # and STORE them, so files already written under that sid
                # stay id-mapped through this change and later renames
                field_ids[sid] = {f.name: i + 1 for i, f in enumerate(current.fields)}
            cur_ids = dict(field_ids[sid])
            built = build(current, cur_ids)
            if built is None:
                new_schema = current
                return m["version"]
            new_schema, new_ids = built
            last = int(m.get("last_field_id") or max(cur_ids.values(), default=0))
            for f in new_schema.fields:
                if f.name not in new_ids:
                    last += 1
                    new_ids[f.name] = last
            for name, value in (defaults or {}).items():
                m.setdefault("field_defaults", {})[str(new_ids[name])] = value
            new_sid = int(sid) + 1
            m["schemas"][str(new_sid)] = json.loads(new_schema.json())
            field_ids[str(new_sid)] = new_ids
            m["last_field_id"] = last
            m["schema_id"] = new_sid
            return None

        self._publish(operation, apply)
        return new_schema

    def add_column(
        self, name: str, dtype, default=None
    ) -> StructType:
        """Metadata-only ADD COLUMN with an optional INITIAL DEFAULT
        (≡ Iceberg v3 initial-default / SQL ADD COLUMN ... DEFAULT): rows
        in files written BEFORE the column existed read `default` instead
        of NULL — zero rewrites, the only affordable way to backfill a
        constant onto a 100 TB table. Rows written after the add carry
        their own values (an explicit NULL stays NULL) — exactly the
        initial-default rule, implemented by keying the default on the
        new FIELD ID: a file generation whose schema lacks the id fills
        the default at read; generations that have it read stored bytes.
        Renames keep the default (id survives); re-adding a dropped name
        never resurrects the old default (fresh id).

        `dtype` is a Spark DataType or DDL string ("string", "bigint",
        "timestamp_ntz"). The default must be a JSON-storable literal; it
        is cast to `dtype` at read, so pass timestamps as ISO strings."""
        from pyspark.sql.types import DataType, _parse_datatype_string

        if not isinstance(dtype, DataType):
            dtype = _parse_datatype_string(str(dtype))
        if default is not None and not isinstance(default, (str, int, float, bool)):
            raise ValueError("default must be a JSON-storable scalar")

        def build(current: StructType, ids: dict) -> tuple[StructType, dict]:
            if name in current.fieldNames():
                raise ValueError(f"column {name!r} already exists")
            return StructType([*current.fields, StructField(name, dtype, True)]), ids

        return self._commit_schema_change(
            build,
            f"add-column:{name}",
            {name: default} if default is not None else None,
        )

    def rename_column(self, old: str, new: str) -> StructType:
        """Metadata-only column rename (≡ Iceberg ALTER TABLE ... RENAME
        COLUMN): no file is touched — the field keeps its id, old files are
        projected to the new name at read time via the id mapping."""

        def build(current: StructType, ids: dict) -> tuple[StructType, dict]:
            names = current.fieldNames()
            if old not in names:
                raise KeyError(f"no column {old!r} to rename")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            fields = [
                StructField(new, f.dataType, f.nullable) if f.name == old else f
                for f in current.fields
            ]
            new_ids = {(new if k == old else k): v for k, v in ids.items()}
            return StructType(fields), new_ids

        return self._commit_schema_change(build, "rename-column")

    def drop_column(self, name: str) -> StructType:
        """Metadata-only column drop (≡ Iceberg ALTER TABLE ... DROP
        COLUMN): files keep the bytes, reads stop projecting them. If a
        later evolve re-adds the same NAME it gets a fresh field id, so the
        dropped column's old values never resurrect under the new column."""

        def build(current: StructType, ids: dict) -> tuple[StructType, dict]:
            if name not in current.fieldNames():
                raise KeyError(f"no column {name!r} to drop")
            fields = [f for f in current.fields if f.name != name]
            new_ids = {k: v for k, v in ids.items() if k != name}
            return StructType(fields), new_ids

        return self._commit_schema_change(build, "drop-column")

    # ---- branches (write-audit-publish) ----

    def create_branch(self, name: str) -> "LakeTable":
        """Fork an isolated commit line at the current snapshot (≡ Iceberg
        branch + the WAP pattern: stage risky writes on a branch, audit
        them with real reads, publish atomically or drop without trace).
        The returned handle is a full LakeTable — append, merge, DML and
        schema changes all work; staged data files land in the shared data
        dir but are referenced only by branch manifests until publish, so
        main readers never see them. Branch name creation is CAS (mkdir)."""
        if self._branch:
            raise ValueError("nested branches are not supported")
        m = self.manifest()
        try:
            os.makedirs(os.path.join(self.path, _LAKE_DIR, "branches", name))
        except FileExistsError:
            raise ValueError(f"branch {name!r} already exists")
        bm = dict(m)
        bm["branch"] = name
        bm["branch_base"] = m["version"]
        bm["operation"] = "create-branch"
        bt = self.branch(name)
        bt._write_manifest(bm)
        return bt

    def branch(self, name: str) -> "LakeTable":
        """Handle onto an existing branch's commit line."""
        return LakeTable(self.spark, self.path, branch=name)

    def branches(self) -> list[str]:
        d = os.path.join(self.path, _LAKE_DIR, "branches")
        return sorted(os.listdir(d)) if os.path.isdir(d) else []

    def publish_branch(self, name: str) -> int:
        """Atomic fast-forward publish (the P of WAP): main adopts the
        branch HEAD as its next version in one CAS manifest write — readers
        see none of the branch's work before, all of it after. Requires
        main unchanged since the fork (Iceberg's fast-forward rule): a
        concurrent main commit raises CommitConflict and the branch stays
        intact (recreate it from the new base to rebase). Manifests are
        self-contained snapshots, so the head alone carries the branch's
        full state no matter how many audit-fix commits it took."""
        bm = self.branch(name).manifest()
        main_v = self.current_version()
        if main_v != bm.get("branch_base"):
            raise CommitConflict(
                f"main advanced to v{main_v} since branch base "
                f"v{bm.get('branch_base')}; recreate the branch to rebase"
            )
        pm = dict(bm)
        pm.pop("branch", None)
        pm.pop("branch_base", None)
        pm["version"] = main_v + 1
        pm["parent"] = main_v
        pm["operation"] = f"publish-branch:{name}"
        v = self._write_manifest(pm)  # CAS: a racing main commit loses here
        self.drop_branch(name)
        return v

    def drop_branch(self, name: str) -> None:
        """Abandon a branch: its manifest chain vanishes; data files only
        it referenced become unreferenced and the next vacuum removes
        them. Main history is untouched."""
        shutil.rmtree(
            os.path.join(self.path, _LAKE_DIR, "branches", name),
            ignore_errors=True,
        )

    # ---- CHECK constraints (≡ Delta ALTER TABLE ADD CONSTRAINT) ----

    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints: name → SQL boolean expression."""
        return {
            k[len("constraint."):]: v
            for k, v in self.properties().items()
            if k.startswith("constraint.")
        }

    @staticmethod
    def _violation_expr(expr: str):
        # SQL-standard 3VL (≡ Delta CHECK): a row violates iff the
        # expression evaluates FALSE; NULL passes.
        return F.expr(f"NOT coalesce(({expr}), true)")

    def add_constraint(self, name: str, expr: str) -> int:
        """Add a table-level CHECK constraint, enforced on every later
        commit that adds data files (only the STAGED files are scanned at
        commit time — enforcement cost is O(commit), not O(table)).
        Existing rows must already satisfy it: validated here with one
        scan, exactly Delta's ADD CONSTRAINT contract. Dropping or
        renaming a column a constraint references makes later commits
        fail analysis — drop the constraint first (Delta blocks the same
        way)."""
        bad = self.read().filter(self._violation_expr(expr)).limit(1).count()
        if bad:
            raise ConstraintViolation(
                f"existing rows violate CHECK {name!r}: {expr}"
            )
        return self._update_properties(
            {f"constraint.{name}": expr}, set(), f"add-constraint:{name}"
        )

    def drop_constraint(self, name: str) -> int:
        return self._update_properties(
            {}, {f"constraint.{name}"}, f"drop-constraint:{name}"
        )

    def _check_constraints(
        self, added: "list[FileEntry]", manifest: dict | None = None
    ) -> None:
        """Validate staged files against active constraints; on violation,
        reclaim the staged files and raise (table unchanged)."""
        if manifest is not None:
            props = manifest.get("properties") or {}
            cons = {
                k[len("constraint."):]: v
                for k, v in props.items()
                if k.startswith("constraint.")
            }
        else:
            cons = self.constraints()
        if not added or not cons:
            return
        # Scan exactly the rows the commit will make VISIBLE: staged
        # entries still carry seq=None (era 0), so a plain read would
        # anti-join them against every live equality delete and a
        # violating row whose key matches one would slip past the gate —
        # yet after commit it is stamped seq=new_version (> every delete
        # seq) and becomes visible. Pre-stamp the prospective seq so no
        # live equality delete masks a staged row from the check.
        from dataclasses import replace as _dc_replace

        head = manifest if manifest is not None else self.manifest()
        prospective = int(head.get("version", 0)) + 1
        staged = self.read(files=[_dc_replace(e, seq=prospective) for e in added])
        viol = None
        for e in cons.values():
            v = self._violation_expr(e)
            viol = v if viol is None else viol | v
        if staged.filter(viol).limit(1).count() == 0:
            return
        # identify the violated constraint for the error, then GC staged
        names = [
            n
            for n, e in sorted(cons.items())
            if staged.filter(self._violation_expr(e)).limit(1).count()
        ]
        for entry in added:
            p = os.path.join(self.path, entry.path)
            for stale in (p, p + ".bloom"):
                if os.path.exists(stale):
                    os.remove(stale)
        raise ConstraintViolation(
            f"commit rejected by CHECK {names}: "
            + "; ".join(f"{n}: {cons[n]}" for n in names)
        )

    def _update_properties(
        self, sets: dict[str, str], removes: set[str], operation: str
    ) -> int:
        """Metadata-only property commit."""

        def apply(m: dict) -> None:
            props = dict(m.get("properties") or {})
            props.update(sets)
            for k in removes:
                props.pop(k, None)
            m["properties"] = props

        return self._publish(operation, apply)

    # ---- reads ----

    def properties(self) -> dict[str, str]:
        return dict(self.manifest().get("properties") or {})

    def files(self, version: int | None = None) -> list[FileEntry]:
        return [FileEntry.from_json(d) for d in self.manifest(version)["files"]]

    def delete_files(self, version: int | None = None) -> list[dict]:
        """Live position-delete sidecars: [{path, rows, bytes, targets}]."""
        return list(self.manifest(version).get("delete_files", []))

    def eq_delete_files(self, version: int | None = None) -> list[dict]:
        """Live equality-delete sidecars: [{path, cols, rows, bytes, seq}]."""
        return list(self.manifest(version).get("eq_delete_files", []))

    def stats_summary(self, version: int | None = None) -> dict:
        """Metadata-only table stats (≡ Iceberg snapshot summary / the
        count(*) fast path a catalog answers without scanning): row count,
        byte size, file count, and per-column global min/max folded over
        the per-file parquet-footer stats. Pure manifest arithmetic —
        no Spark job, no data file opened; at 100 TB this is the
        difference between answering COUNT/MIN/MAX in milliseconds and
        scanning the table. Columns appear only if EVERY live file
        carries their stats (a partial fold would be wrong, not
        approximate). min/max ignore NULLs (parquet footer semantics,
        same as SQL aggregates)."""
        entries = self.files(version)
        dvs = self.delete_files(version)
        eqs = self.eq_delete_files(version)
        if eqs:
            # match counts are unknowable without a scan — every aggregate
            # degrades to absent (exact-or-absent contract, like partial
            # position-delete coverage below)
            return {
                "rows": None,
                "bytes": sum(e.bytes for e in entries),
                "files": len(entries),
                "columns": {},
            }
        # position-deleted rows are invisible to reads but still present in
        # the footers. Row count stays EXACT only when every sidecar's
        # targets are all live (then each sidecar row subtracts exactly one
        # visible row); a partially-rewritten sidecar makes the metadata
        # count unknowable -> rows is reported as None (exact-or-absent,
        # same contract as the column stats). min/max under deletes are
        # upper bounds, so affected columns are dropped entirely.
        live_paths = {e.path for e in entries}
        dv_rows: int | None = 0
        for d in dvs:
            if all(t in live_paths for t in d["targets"]):
                dv_rows += d["rows"]
            else:
                dv_rows = None
                break
        cols: dict[str, dict] = {}
        universal: set[str] | None = None
        for e in entries:
            have = {c for c, mm in e.stats.items() if mm.get("min") is not None}
            universal = have if universal is None else (universal & have)
        for e in entries:
            for c in universal or set():
                mm = e.stats[c]
                cur = cols.get(c)
                if cur is None:
                    cols[c] = {"min": mm["min"], "max": mm["max"]}
                else:
                    cur["min"] = min(cur["min"], mm["min"])
                    cur["max"] = max(cur["max"], mm["max"])
        return {
            "rows": (
                sum(e.rows for e in entries) - dv_rows
                if dv_rows is not None
                else None
            ),
            "bytes": sum(e.bytes for e in entries),
            "files": len(entries),
            "columns": cols if not dvs else {},
        }

    def register_view(self, name: str, version: int | None = None) -> None:
        """Register this table (optionally at a historical version) as a
        Spark SQL temp view — the SQL-first access path (≡ registering an
        Iceberg table in the session catalog): `spark.sql(f"SELECT ...
        FROM {name}")` then runs any analytic SQL over the lake snapshot,
        with the same schema alignment / field-id projection as read().
        The view is lazy: each SQL query plans against the manifest
        captured here (snapshot isolation — later commits don't shift
        results under a registered view)."""
        self.read(version).createOrReplaceTempView(name)

    def read(
        self,
        version: int | None = None,
        files: list[FileEntry] | None = None,
        with_positions: bool = False,
    ) -> DataFrame:
        """Read the table (or a pruned file subset) aligned to the current
        schema. Files are grouped by schema_id; each generation is read
        with its exact written schema then aligned (NULL-fill added
        columns, cast widened ones) — evolution without rewrites.

        Position-delete files (≡ Iceberg v2 positional deletes) are applied
        here: rows whose (file, row-position) appear in a delete sidecar
        targeting a live data file vanish from every read — table scans,
        merge candidate reads, compaction rewrites — without the data file
        ever being rewritten. `with_positions=True` additionally exposes
        (_dv_file relative path, _dv_pos) helper columns, post-delete, for
        the position-delete writer itself."""
        m = self.manifest(version)
        target = StructType.fromJson(m["schemas"][str(m["schema_id"])])
        all_ids = m.get("field_ids") or {}
        target_ids = all_ids.get(str(m["schema_id"]))
        # initial defaults (add_column): field-id-keyed → name-keyed for the
        # current schema; files whose generation predates the id fill these
        # at read instead of NULL
        _fd = m.get("field_defaults") or {}
        defaults = {
            fname: _fd[str(fid)]
            for fname, fid in (target_ids or {}).items()
            if str(fid) in _fd
        }
        entries = files if files is not None else [FileEntry.from_json(d) for d in m["files"]]
        if not entries:
            df = empty_frame(self.spark, target)
            if with_positions:
                df = df.withColumn(_DV_FILE, F.lit(None).cast("string")).withColumn(
                    _DV_POS, F.lit(None).cast("bigint")
                )
            return df
        entry_paths = {e.path for e in entries}
        dvs = [
            d
            for d in m.get("delete_files", [])
            if any(t in entry_paths for t in d["targets"])
        ]
        # equality deletes (≡ Iceberg v2): delete-by-key sidecars applied to
        # data files with strictly lower data sequence number. Files are
        # grouped into ERAS by how many deletes postdate them — one
        # broadcast anti-join per (delete, era) pair, and a file written
        # after the last delete joins against nothing.
        from bisect import bisect_right

        eqs = sorted(m.get("eq_delete_files", []), key=lambda d: d["seq"])
        eq_seqs = [d["seq"] for d in eqs]
        need_pos = with_positions or bool(dvs)
        extra = (_DV_FILE, _DV_POS) if need_pos else ()
        prefix = "file:" + os.path.abspath(self.path) + "/"
        by_schema: dict[tuple[int, int], list[str]] = {}
        for e in entries:
            era = bisect_right(eq_seqs, e.seq or 0)
            by_schema.setdefault((e.schema_id, era), []).append(
                os.path.join(self.path, e.path)
            )
        eq_dfs: dict = {}  # (path, resolved-name tuple) -> keys DataFrame
        parts = []
        for (sid, era), paths in by_schema.items():
            written = StructType.fromJson(m["schemas"][str(sid)])
            df = scan_files(self.spark, paths, written)
            if need_pos:
                # relative file path + in-file row position (parquet row
                # tracking via the _metadata struct — no data rewrite)
                df = df.select(
                    "*",
                    F.replace(
                        F.col("_metadata.file_path"), F.lit(prefix), F.lit("")
                    ).alias(_DV_FILE),
                    F.col("_metadata.row_index").alias(_DV_POS),
                )
            written_ids = all_ids.get(str(sid))
            if target_ids and written_ids:
                # field-id projection: a renamed column maps old file name →
                # current name; a name reused after a drop has a different
                # id, so old bytes stay NULL under it
                part = _align_by_id(df, target, written_ids, target_ids, extra, defaults)
            else:  # legacy generation without ids — name-based alignment
                part = _align(df, target, extra, defaults)
            for d in eqs[era:]:  # only deletes that postdate these files
                # resolve the delete's key columns to CURRENT names via
                # field ids (renames keep applying; a dropped key column
                # means the delete can no longer identify rows — skip it,
                # conservatively keeping rows, rather than matching a
                # re-added name's unrelated values). Legacy entries
                # without col_ids fall back to stored names.
                if d.get("col_ids") and target_ids:
                    by_fid = {v: k for k, v in target_ids.items()}
                    names = [by_fid.get(i) for i in d["col_ids"]]
                    if any(n is None for n in names):
                        continue
                else:
                    names = list(d["cols"])
                ckey = (d["path"], tuple(names))
                if ckey not in eq_dfs:
                    ap = os.path.join(self.path, d["path"])
                    eq_dfs[ckey] = scan_files(self.spark, [ap]).select(
                        *[
                            F.col(stored).alias(f"__eq_{cur}")
                            for stored, cur in zip(d["cols"], names)
                        ]
                    )
                ddf = eq_dfs[ckey]
                cond = None
                for c in names:
                    e_ = F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
                    cond = e_ if cond is None else cond & e_
                # broadcast gated on the sidecar's manifest-recorded row
                # count (metadata-only — no job): a normal purge is KBs,
                # but a pathological mega-delete must fall to AQE's
                # size-based join instead of a forced driver broadcast
                side = (
                    F.broadcast(ddf)
                    if (d.get("rows") or 0) <= BROADCAST_DELETE_ROWS_MAX
                    else ddf
                )
                part = part.join(side, cond, "left_anti")
            parts.append(part)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if dvs:
            # alias to collision-proof names: a user column named "file" or
            # "pos" must not make the join condition ambiguous
            dmap = scan_files(
                self.spark,
                [os.path.join(self.path, d["path"]) for d in dvs],
                "file string, pos long",
            ).toDF("__dv_anti_file", "__dv_anti_pos")
            cond = (F.col(_DV_FILE) == F.col("__dv_anti_file")) & (
                F.col(_DV_POS) == F.col("__dv_anti_pos")
            )
            # same metadata-derived gate as the equality sidecars above
            n_dv_rows = sum((d.get("rows") or 0) for d in dvs)
            dside = (
                F.broadcast(dmap)
                if n_dv_rows <= BROADCAST_DELETE_ROWS_MAX
                else dmap
            )
            out = out.join(dside, cond, "left_anti")
        if need_pos and not with_positions:
            out = out.drop(_DV_FILE, _DV_POS)
        return out

    def prune(
        self,
        ranges: dict[str, tuple],
        version: int | None = None,
    ) -> list[FileEntry]:
        """Manifest-only scan planning (≡ Iceberg's TableScan.filter): keep
        a file unless its footer [min, max] for some ranged column provably
        misses the requested [lo, hi] (None = open end). Missing stats keep
        the file — pruning is an optimization, never a correctness gate.

        Runs on the driver against manifest JSON only: at 100 TB / ~200k
        files this is the planning step that turns a cursor-range read into
        a scan of just the few files whose ranges overlap, before Spark
        ever lists a path. NULLs are safe to skip: a range predicate never
        matches NULL, so files outside the range can be dropped even if
        they hold NULLs for the column.
        """
        out = []
        for e in self.files(version):
            keep = True
            for col, (lo, hi) in ranges.items():
                st = e.stats.get(col)
                if st is None or "min" not in st:
                    continue
                try:
                    if (hi is not None and st["min"] > hi) or (
                        lo is not None and st["max"] < lo
                    ):
                        keep = False
                        break
                except TypeError:
                    continue  # stats/bound type mismatch → cannot prune safely
            if keep:
                out.append(e)
        return out

    def load_bloom(self, entry: FileEntry, col: str) -> "object | None":
        """The file's key Bloom filter (lake/bloom.py sidecar), or None if
        the file was written without one. Manifest stats carry {m, k} so
        callers can check availability without touching the sidecar."""
        if "bloom" not in (entry.stats.get(col) or {}):
            return None
        from airbyte_spark.lake.bloom import KeyBloom

        side = os.path.join(self.path, entry.path) + ".bloom"
        try:
            with open(side, "rb") as fh:
                return KeyBloom.from_bytes(fh.read())
        except (FileNotFoundError, ValueError):
            return None  # sidecar lost → pruning degrades, never wrong

    def read_where(
        self,
        ranges: dict[str, tuple],
        version: int | None = None,
    ) -> DataFrame:
        """Stats-pruned read: plan the file subset from manifest min/max
        (zero data I/O), then apply the exact residual predicate — results
        are identical to read().filter(...), only the scan is smaller."""
        df = self.read(version, files=self.prune(ranges, version))
        for col, (lo, hi) in ranges.items():
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
        return df

    def changes_between(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Incremental snapshot-diff read (≡ Iceberg's incremental append
        scan; what lets a downstream consumer tail this table as its own
        CDC source): rows in files that are live at v_to but were not at
        v_from. Planning is a manifest set-difference on the driver — no
        data I/O, no full-table rescan, regardless of table size.

        Exact for append-type commits (each diffed file holds only new
        rows). A merge/compact rewrite mixes carried-over rows into its
        output files, so consumers tailing through such commits should
        diff around them (the `operation` field in history() marks them).
        """
        base = {e.path for e in self.files(v_from)} if v_from else set()
        new = [e for e in self.files(v_to) if e.path not in base]
        return self.read(v_to, files=new)

    def committed(self) -> dict[str, dict]:
        return dict(self.manifest()["committed"])

    def history(self) -> list[dict]:
        out = []
        for v in range(1, (self.current_version() or 0) + 1):
            p = self._manifest_path(v)
            if os.path.exists(p):
                m = self._read_manifest_file(p)
                out.append(
                    {
                        "version": m["version"],
                        "operation": m.get("operation"),
                        "commit": m.get("commit"),
                        "n_files": len(m["files"]),
                    }
                )
        return out

    def files_df(self, version: int | None = None) -> DataFrame:
        """The manifest as a queryable DataFrame (≡ Iceberg's `table.files`
        metadata table): one row per live data file with partition values
        and min/max/null-count stats serialized as JSON strings. Lets
        operators inspect layout health (file sizes, stats coverage,
        partition balance) with plain SQL instead of manifest JSON."""
        rows = [
            json.dumps(
                {
                    "path": e.path,
                    "rows": e.rows,
                    "bytes": e.bytes,
                    "schema_id": e.schema_id,
                    "partition": json.dumps(e.partition, sort_keys=True),
                    "stats": json.dumps(e.stats, sort_keys=True),
                }
            )
            for e in self.files(version)
        ]
        schema = (
            "path string, rows long, bytes long, schema_id long, "
            "partition string, stats string"
        )
        if not rows:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).json(
            self.spark.sparkContext.parallelize(rows)
        )

    def partitions_df(self, version: int | None = None) -> DataFrame:
        """Per-partition-tuple layout stats (≡ Iceberg's `table.partitions`
        metadata table): files/rows/bytes per partition plus a skew ratio
        against the median partition's bytes. Pure manifest arithmetic —
        no data I/O. This is the input to layout-health decisions: a
        bucket rows/bytes ratio far above 1.0 means the url-hash layout
        is absorbing a hot domain unevenly (→ respec to more buckets), a
        file count far above siblings means compaction lag."""
        parts: dict[str, dict] = {}
        for e in self.files(version):
            key = json.dumps(e.partition or {}, sort_keys=True)
            p = parts.setdefault(key, {"files": 0, "rows": 0, "bytes": 0})
            p["files"] += 1
            p["rows"] += e.rows
            p["bytes"] += e.bytes
        med = sorted(p["bytes"] for p in parts.values())
        median = med[len(med) // 2] if med else 0
        rows = [
            json.dumps(
                {
                    "partition": k,
                    **p,
                    "bytes_vs_median": (p["bytes"] / median) if median else None,
                }
            )
            for k, p in sorted(parts.items())
        ]
        schema = (
            "partition string, files long, rows long, bytes long, "
            "bytes_vs_median double"
        )
        if not rows:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).json(
            self.spark.sparkContext.parallelize(rows)
        )

    def snapshots_df(self) -> DataFrame:
        """Retained snapshot history as a DataFrame (≡ Iceberg's
        `table.snapshots`/`table.history` metadata tables): one row per
        retained manifest with operation, commit summary counts, and the
        tag names pointing at it."""
        by_version_tags: dict[int, list[str]] = {}
        for name, v in self.tags().items():
            by_version_tags.setdefault(v, []).append(name)
        rows = []
        for h in self.history():
            rows.append(
                json.dumps(
                    {
                        "version": h["version"],
                        "operation": h["operation"],
                        "n_files": h["n_files"],
                        "checkpoint_key": (h.get("commit") or {}).get("key"),
                        "rows_written": (h.get("commit") or {}).get("rows_written"),
                        "tags": sorted(by_version_tags.get(h["version"], [])),
                    }
                )
            )
        schema = (
            "version long, operation string, n_files long, "
            "checkpoint_key string, rows_written long, tags array<string>"
        )
        if not rows:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).json(
            self.spark.sparkContext.parallelize(rows)
        )

    def metrics_df(self) -> DataFrame:
        """Per-commit lineage/metrics as a DataFrame (rows/bytes/files per
        (checkpoint_id, partition) — the north_star's metrics table)."""
        rows = []
        for key, summary in self.manifest()["committed"].items():
            rows.append(json.dumps({"checkpoint_key": key, **summary}))
        if not rows:
            schema = (
                "checkpoint_key string, checkpoint_id long, partition string, "
                "rows_written long, bytes_written long, rows_removed long, "
                "files_added long, files_removed long, version long"
            )
            return self.spark.createDataFrame([], schema)
        return self.spark.read.json(self.spark.sparkContext.parallelize(rows))

    _LINEAGE_SCHEMA = (
        "version long, operation string, checkpoint_key string, "
        "partition string, files_added long, rows_written long, "
        "bytes_written long, files_removed long"
    )

    def lineage_df(self) -> DataFrame:
        """Per-(version, checkpoint, partition) lineage: rows/bytes/files
        each commit added, split by partition tuple (the north-star's
        per-partition lineage persisted alongside state). Derived by
        diffing the retained manifest chain — a version's added files are
        those absent from its parent — so it needs no extra bookkeeping
        at write time and stays exact under catch-up (grouped) commits."""
        rows = []
        prev_paths: set[str] = set()
        for v in range(1, (self.current_version() or 0) + 1):
            p = self._manifest_path(v)
            if not os.path.exists(p):
                continue
            m = self._read_manifest_file(p)
            cur = {f["path"]: f for f in m["files"]}
            added = [f for pth, f in cur.items() if pth not in prev_paths]
            n_removed = len(prev_paths - set(cur))
            by_part: dict[str, list[dict]] = {}
            for f in added:
                part = json.dumps(f.get("partition") or {}, sort_keys=True)
                by_part.setdefault(part, []).append(f)
            base = {
                "version": v,
                "operation": m.get("operation"),
                "checkpoint_key": (m.get("commit") or {}).get("key"),
                "files_removed": n_removed,
            }
            for part, fs in sorted(by_part.items()) or [("{}", [])]:
                rows.append(
                    json.dumps(
                        {
                            **base,
                            "partition": part,
                            "files_added": len(fs),
                            "rows_written": sum(f["rows"] for f in fs),
                            "bytes_written": sum(f["bytes"] for f in fs),
                        }
                    )
                )
            prev_paths = set(cur)
        if not rows:
            return self.spark.createDataFrame([], self._LINEAGE_SCHEMA)
        return self.spark.read.schema(self._LINEAGE_SCHEMA).json(
            self.spark.sparkContext.parallelize(rows)
        )

    # ---- writes ----

    def _stage_write(
        self,
        df: DataFrame,
        stat_cols: list[str],
        one_file_per_partition: bool,
        spec: "PartitionSpec | None" = None,
    ) -> list[FileEntry]:
        """Write df's data files (partitioned per spec) into data/<uuid>/ and
        return entries; visibility only happens at manifest commit."""
        spec = spec if spec is not None else self.partition_spec()
        commit_id = uuid.uuid4().hex[:12]
        rel_dir = f"{_DATA_DIR}/{commit_id}"
        out_dir = os.path.join(self.path, rel_dir)
        writer_df = df
        pnames = spec.names()
        for f in spec.fields:
            writer_df = writer_df.withColumn(f.name, f.expr())
        if pnames:
            if one_file_per_partition:
                writer_df = writer_df.repartition(*[F.col(n) for n in pnames])
            writer_df.write.partitionBy(*pnames).mode("overwrite").parquet(out_dir)
        else:
            writer_df.write.mode("overwrite").parquet(out_dir)
        m = self.manifest()
        sid = int(m["schema_id"])
        bloom_col = m.get("properties", {}).get("bloom.key")
        found: list[tuple[str, str, dict]] = []
        for root, _dirs, names in os.walk(out_dir):
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                abs_path = os.path.join(root, name)
                partition: dict[str, Any] = {}
                for seg in os.path.relpath(root, out_dir).split(os.sep):
                    if "=" in seg:
                        k, v = seg.split("=", 1)
                        partition[k] = int(v) if v.lstrip("-").isdigit() else v
                found.append((abs_path, os.path.relpath(abs_path, self.path), partition))
        # footer stats are independent per file — read them concurrently
        # (at scale a commit stages hundreds of files; serial driver-side
        # footer reads would become the commit's critical path)
        from concurrent.futures import ThreadPoolExecutor

        def one(item):
            abs_path, rel_path, partition = item
            rows, size, stats = _collect_parquet_stats(abs_path, stat_cols, bloom_col)
            if not rows:
                # Spark writes an empty part file for empty partitions —
                # never referenced, so reclaim it immediately instead of
                # leaving permanent fsck/vacuum noise
                for stale in (abs_path, abs_path + ".bloom"):
                    if os.path.exists(stale):
                        os.remove(stale)
                return None
            return FileEntry(rel_path, rows, size, sid, partition, stats)

        if len(found) > 1:
            with ThreadPoolExecutor(max_workers=min(16, len(found))) as pool:
                results = list(pool.map(one, found))
        else:
            results = [one(i) for i in found]
        return [e for e in results if e is not None]

    def commit(
        self,
        added: list[FileEntry],
        removed_paths: set[str] | None = None,
        operation: str = "append",
        checkpoint_key: "str | list[str] | None" = None,
        summary: dict | None = None,
        delete_files_added: "list[dict] | None" = None,
        eq_deletes_added: "list[dict] | None" = None,
        read_version: int | None = None,
    ) -> int:
        """Publish a new snapshot: current files − removed + added.

        checkpoint_key may be one key or a list — a catch-up commit that
        merges several binlog segments records EVERY constituent segment id
        in the committed set (one manifest write), so a later replay with a
        different grouping skips exactly the applied segments instead of
        re-applying them under a new group label. The full summary lands on
        the first (lead) key; follower keys reference it (group_lead) so
        metrics never double-count.

        If every key is already committed, this is a no-op (idempotent
        replay guard) and staged files are garbage-collected.

        Optimistic concurrency (CAS): the manifest is re-read on every
        attempt and this commit's DELTA is re-applied on top of whatever
        won — never a stale full manifest. If a concurrent writer removed
        one of the files this commit also rewrites, the snapshot this
        commit's data was derived from is gone and CommitConflict
        propagates (caller must re-run its read-merge-write).
        """
        keys = (
            [checkpoint_key]
            if isinstance(checkpoint_key, str)
            else list(checkpoint_key or [])
        )
        removed_paths = removed_paths or set()
        added_json = [e.to_json() for e in added]
        full_summary = {
            "rows_written": sum(e.rows for e in added),
            "bytes_written": sum(e.bytes for e in added),
            "files_added": len(added),
            "files_removed": len(removed_paths),
            **(summary or {}),
        }
        def apply(m: dict) -> int | None:
            if keys and all(k in m["committed"] for k in keys):
                for e in added:
                    p = os.path.join(self.path, e.path)
                    for stale in (p, p + ".bloom"):
                        if os.path.exists(stale):
                            os.remove(stale)
                for d in (delete_files_added or []) + (eq_deletes_added or []):
                    p = os.path.join(self.path, d["path"])
                    if os.path.exists(p):
                        os.remove(p)
                return m["version"]
            # CHECK constraints gate every data-adding commit — checked on
            # EVERY attempt (a constraint added concurrently is seen on
            # retry) and AFTER the idempotency guard (a redelivered
            # committed key stays a silent no-op even if a constraint was
            # added since). Scans staged files only; GCs them on violation.
            self._check_constraints(added, m)
            live = {f["path"] for f in m["files"]}
            for d in delete_files_added or []:
                if set(d["targets"]) - live:
                    # a concurrent rewrite replaced files this sidecar was
                    # built against — its positions point into dead files
                    # and the deletion would be silently lost. Same class
                    # as the removed-paths conflict below: re-run the scan.
                    raise CommitConflict(
                        "delete sidecar targets rewritten by a concurrent "
                        f"commit: {sorted(set(d['targets']) - live)[:3]}"
                    )
            if removed_paths - live:
                # a concurrent commit already rewrote files we merged
                # against — this commit's data is stale, not just its
                # metadata; replaying the merge is the only safe retry
                raise CommitConflict(
                    f"files removed by a concurrent commit: {sorted(removed_paths - live)[:3]}"
                )
            if read_version is not None and removed_paths:
                # Iceberg-style validateNoNewDeleteFiles: a rewrite re-emits
                # rows it read at `read_version` into files stamped with a
                # NEWER seq. A delete (equality or positional) committed
                # since that read was never applied to those rows, yet the
                # new seq / dead targets would make it a silent no-op — a
                # lost "purge these keys NOW". Conflict instead; the caller
                # re-runs its read-rewrite against the delete-applied state.
                fresh = [
                    d
                    for d in m.get("eq_delete_files", []) + m.get("delete_files", [])
                    if (d.get("seq") or 0) > read_version
                ]
                if fresh:
                    raise CommitConflict(
                        "row-level deletes committed since this rewrite's read "
                        f"snapshot v{read_version}: {[d['path'] for d in fresh][:3]} "
                        "— re-run the rewrite against current state"
                    )
            new_version = m["version"] + 1
            # data sequence number = the version this commit publishes;
            # equality deletes apply only to files with strictly lower seq,
            # so rows (re)inserted in or after a delete's commit survive it
            for d in added_json:
                d["seq"] = new_version
            m["files"] = [f for f in m["files"] if f["path"] not in removed_paths] + added_json
            # a delete sidecar lives while >=1 of its target data files is
            # live; a rewrite (merge/compact) that replaces every target has
            # materialized the deletions, so the sidecar entry is dropped
            # (its file becomes a vacuum candidate)
            live_after = {f["path"] for f in m["files"]}
            m["delete_files"] = [
                d
                for d in m.get("delete_files", [])
                if any(t in live_after for t in d["targets"])
            ] + [{**d, "seq": new_version} for d in delete_files_added or []]
            # an equality delete lives while >=1 live data file predates it
            # (lower seq); once every older file is rewritten the deletions
            # are materialized and the entry drops (file → vacuum candidate)
            m["eq_delete_files"] = [
                d
                for d in m.get("eq_delete_files", [])
                if any((f.get("seq") or 0) < d["seq"] for f in m["files"])
            ] + [{**d, "seq": new_version} for d in eq_deletes_added or []]
            m["commit"] = {"key": keys[0] if keys else None, **full_summary}
            for i, k in enumerate(keys):
                m["committed"][k] = (
                    {**full_summary, "version": new_version, "segments": len(keys)}
                    if i == 0
                    else {"version": new_version, "group_lead": keys[0]}
                )
            return None

        return self._publish(operation, apply)

    def append(
        self,
        df: DataFrame,
        checkpoint_key: str | None = None,
        stat_cols: list[str] | None = None,
    ) -> int:
        if checkpoint_key is not None and checkpoint_key in self.manifest()["committed"]:
            return self.manifest()["version"]
        entries = self._stage_write(df, stat_cols or [], one_file_per_partition=True)
        return self.commit(entries, operation="append", checkpoint_key=checkpoint_key)

    def overwrite(self, df: DataFrame, stat_cols: list[str] | None = None) -> int:
        """Full-refresh/overwrite semantics (≡ DestinationSyncMode.OVERWRITE,
        reference's transactional TRUNCATE+INSERT swap) — atomic because the
        snapshot flips in one manifest write."""
        old_paths = {f.path for f in self.files()}
        entries = self._stage_write(df, stat_cols or [], one_file_per_partition=True)
        return self.commit(entries, removed_paths=old_paths, operation="overwrite")

    def truncate(self) -> int:
        return self.commit([], removed_paths={f.path for f in self.files()}, operation="truncate")

    def rollback(self, version: int) -> int:
        """Roll the table back to an earlier snapshot (≡ Iceberg
        `rollback_to_snapshot` / Delta RESTORE): publish a NEW commit whose
        files / schema / partition spec / committed-checkpoint set are
        exactly those of `version`. History is preserved (the bad commits
        stay readable via time travel until vacuum); rollback is itself a
        CAS commit, so it serializes against concurrent writers.

        The committed set reverts WITH the data: the lake's exactly-once
        contract is "table state and checkpoint state move in one atomic
        commit", so segments applied after `version` become un-committed
        again and a subsequent replay re-applies them — the operational
        flow for "bad batch shipped, roll back, fix extractor, re-run".

        Raises if the target manifest is gone (retention) or any of its
        data files was already vacuumed."""
        target = self.manifest(version)
        for f in target["files"]:
            if not os.path.exists(os.path.join(self.path, f["path"])):
                raise FileNotFoundError(
                    f"cannot roll back to v{version}: data file {f['path']} "
                    "was vacuumed"
                )
        for d in target.get("delete_files", []) + target.get("eq_delete_files", []):
            if not os.path.exists(os.path.join(self.path, d["path"])):
                raise FileNotFoundError(
                    f"cannot roll back to v{version}: delete sidecar "
                    f"{d['path']} was vacuumed"
                )
        def apply(m: dict) -> int | None:
            if m["version"] == version:
                return version
            m.update(
                {
                    # segment refs follow the restored state: hydrated
                    # values in target["files"]/["committed"] alias the
                    # target's segments, so carrying ITS refs makes the
                    # restore a metadata-only no-rewrite commit (head refs
                    # would force a full re-split)
                    **{
                        k: target[k]
                        for k in ("file_segments", "committed_segments")
                        if k in target
                    },
                    # sidecars restore WITH the data: keeping the head's (or
                    # dropping the target's) delete_files would make the
                    # restored state differ from what version actually read
                    "delete_files": target.get("delete_files", []),
                    "eq_delete_files": target.get("eq_delete_files", []),
                    "files": target["files"],
                    "schema_id": target["schema_id"],
                    "schemas": target["schemas"],
                    "field_ids": target.get("field_ids", m.get("field_ids", {})),
                    "field_defaults": target.get("field_defaults", {}),
                    "partition_spec": target["partition_spec"],
                    "committed": target["committed"],
                    "properties": target.get("properties", {}),
                    "commit": {"key": None, "rollback_to": version},
                }
            )
            return None

        return self._publish("rollback", apply)

    def compact(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        min_input_files: int = 2,
    ) -> int:
        """Bin-pack small data files into target-size files in one metadata
        commit — no semantic change (≡ Iceberg rewriteDataFiles; the
        maintenance op a CDC sink needs because frequent checkpointed
        commits produce many small files). Per partition tuple, files
        smaller than target_file_bytes are rewritten together when there
        are at least min_input_files of them; large files are left alone.
        Old-schema-generation inputs come out re-encoded at the current
        schema (read() aligns them), so compaction doubles as lazy schema
        migration. Pruning stats are re-derived for the same stat columns
        the inputs carried. Readers of older versions are unaffected until
        vacuum() reclaims the replaced files.
        """
        import math

        read_v = self.current_version()
        by_part: dict[tuple, list[FileEntry]] = {}
        for e in self.files():
            key = tuple(sorted((k, str(v)) for k, v in e.partition.items()))
            by_part.setdefault(key, []).append(e)
        candidates: list[FileEntry] = []
        for entries in by_part.values():
            small = [e for e in entries if e.bytes < target_file_bytes]
            if len(small) >= min_input_files:
                candidates.extend(small)
        if not candidates:
            return self.manifest()["version"]
        stat_cols = sorted({c for e in candidates for c in e.stats})
        df = self.read(files=candidates)
        if self.partition_spec().names():
            entries = self._stage_write(df, stat_cols, one_file_per_partition=True)
        else:
            n_out = max(
                1, math.ceil(sum(e.bytes for e in candidates) / target_file_bytes)
            )
            entries = self._stage_write(
                df.coalesce(n_out), stat_cols, one_file_per_partition=False
            )
        return self.commit(
            entries,
            removed_paths={e.path for e in candidates},
            operation="compact",
            summary={"files_compacted": len(candidates)},
            read_version=read_v,
        )

    def cluster(
        self,
        sort_cols: list[str],
        target_file_bytes: int = 128 * 1024 * 1024,
        zorder: bool = False,
        zorder_bits: int = 5,
    ) -> int:
        """Sort-order rewrite (≡ Iceberg rewriteDataFiles with a sort
        strategy / Delta OPTIMIZE ... ZORDER BY for the 1-2 column case):
        globally range-repartition the live rows by (partition fields,
        sort_cols) and sort within partitions, so each output file covers
        a NARROW, largely non-overlapping [min, max] of the sort key.

        This is what makes manifest stats pruning (prune/read_where)
        selective on non-partition columns: after random-arrival appends
        every file spans the whole key range and a range read keeps all
        of them; after clustering a range read keeps ~selectivity of the
        files. One atomic metadata commit; old snapshots stay readable;
        read-equivalence is oracle-checked (query sync_clustered_prune).

        Scale shape (100 TB): repartitionByRange samples the key
        distribution and produces balanced ranges regardless of skew; the
        rewrite is one shuffle of the live bytes — the same cost class as
        compact(), run at the same maintenance cadence, amortized across
        every subsequent range read. Raises CommitConflict if files were
        committed concurrently (same invariant as rewrite_partition_spec).

        `zorder=True` (≡ Delta OPTIMIZE ... ZORDER BY / Iceberg z-order
        rewrite strategy, for 2+ NUMERIC sort columns): instead of the
        lexicographic order — which makes pruning selective on the FIRST
        column only — rows order by an interleaved-bit z-value over
        per-column quantile-bucket ids, so every file covers a narrow
        hyper-rectangle and range reads prune on ANY of the columns.
        Bucket boundaries come from one distributed approxQuantile pass
        (Greenwald-Khanna sketch — no extra shuffle); `zorder_bits` bits
        per column (default 32 buckets). NULLs bucket to 0 (files holding
        NULLs are never range-matched anyway — prune() semantics).
        """
        m0 = self.manifest()
        old_entries = [FileEntry.from_json(d) for d in m0["files"]]
        if not old_entries:
            return m0["version"]
        stat_cols = sorted({c for e in old_entries for c in e.stats} | set(sort_cols))
        spec = self.partition_spec()
        n_out = max(
            1, -(-sum(e.bytes for e in old_entries) // target_file_bytes)
        )
        live = self.read()
        if zorder and len(sort_cols) >= 2:
            zcol = _zvalue_expr(live, sort_cols, zorder_bits)
            keys = [f.expr() for f in spec.fields] + [zcol]
            arranged = (
                live.withColumn("_zv", zcol)
                .repartitionByRange(
                    int(n_out), *[f.expr() for f in spec.fields], F.col("_zv")
                )
                .sortWithinPartitions(*[f.expr() for f in spec.fields], F.col("_zv"))
                .drop("_zv")
            )
        else:
            keys = [f.expr() for f in spec.fields] + [F.col(c) for c in sort_cols]
            arranged = (
                self.read()
                .repartitionByRange(int(n_out), *keys)
                .sortWithinPartitions(*keys)
            )
        staged = self._stage_write(
            arranged, stat_cols, one_file_per_partition=False
        )
        order = (
            f"zorder({','.join(sort_cols)})"
            if zorder and len(sort_cols) >= 2
            else ",".join(sort_cols)
        )

        def edit(m: dict) -> None:
            m.setdefault("properties", {})["sort.order"] = order

        return self._commit_rewrite(m0, staged, "cluster", edit)

    def rewrite_partition_spec(
        self, new_spec: PartitionSpec, stat_cols: list[str] | None = None
    ) -> int:
        """Partition-spec evolution (≡ Iceberg ALTER TABLE … REPLACE
        PARTITION FIELD + rewriteDataFiles): re-cluster every live file
        under the new spec — the operational move when a table grows 100×
        and its bucket count must grow with it. The data swap and the
        spec flip land in ONE atomic manifest commit, so readers see
        either the old layout or the new, never a mix; old snapshots stay
        readable (reads resolve manifest-recorded paths, not the spec).

        Invariant protected here: every LIVE file's partition values were
        produced by the CURRENT spec (merge's driver-side bucket pruning
        depends on it). A file appended concurrently under the old spec
        would break that, so the commit raises CommitConflict if the
        live set no longer matches what this rewrite read — re-run to
        include the newcomer.
        """
        m0 = self.manifest()
        stat_cols = (
            stat_cols
            if stat_cols is not None
            else sorted({c for d in m0["files"] for c in d.get("stats") or {}})
        )
        staged = self._stage_write(
            self.read(), stat_cols, one_file_per_partition=True, spec=new_spec
        )

        def edit(m: dict) -> None:
            m["partition_spec"] = new_spec.to_json()

        return self._commit_rewrite(m0, staged, "rewrite-spec", edit)

    def _commit_rewrite(
        self, m0: dict, staged: "list[FileEntry]", operation: str, edit
    ) -> int:
        """Publish a full-table rewrite of the snapshot `m0`: `staged`
        replaces every live file, and `edit(m)` adds the caller's own
        metadata change. Raises CommitConflict if files or row-level
        deletes were committed since `m0` was read — the rewrite would
        drop the new files, or materialize-away the new deletes through
        the seq stamp below; re-run it against current state."""
        old_paths = {f["path"] for f in m0["files"]}
        dv0, eq0 = m0.get("delete_files", []), m0.get("eq_delete_files", [])
        added_json = [e.to_json() for e in staged]
        summary = {
            "key": None,
            "rows_written": sum(e.rows for e in staged),
            "bytes_written": sum(e.bytes for e in staged),
            "files_added": len(staged),
            "files_removed": len(old_paths),
        }

        def apply(m: dict) -> None:
            if {f["path"] for f in m["files"]} != old_paths:
                raise CommitConflict(
                    f"live file set changed during {operation} — re-run to "
                    "include the concurrently committed files"
                )
            if m.get("delete_files", []) != dv0 or m.get("eq_delete_files", []) != eq0:
                raise CommitConflict(
                    f"row-level deletes committed during {operation} — "
                    "re-run against current state"
                )
            for d in added_json:
                d["seq"] = m["version"] + 1
            m["files"] = added_json
            # a full rewrite materializes every outstanding delete: position
            # sidecars lose all targets, equality deletes no longer predate
            # any live file — both drop (files become vacuum candidates)
            m["delete_files"] = []
            m["eq_delete_files"] = []
            m["commit"] = summary
            edit(m)

        return self._publish(operation, apply)

    def vacuum(self, retain_last: int = 1, grace_s: float = 0.0) -> int:
        """Delete data files not referenced by the newest `retain_last`
        snapshots (time travel below that horizon is lost for removed
        files). The default keeps only the current snapshot — the
        aggressive end; `retain_last=N` keeps the last N time-travelable
        (≡ Iceberg remove_orphan_files + expire_snapshots' file cleanup
        with a retention window), which is what an operator runs on a
        schedule so a bad commit discovered within the window can still
        roll back. Tagged snapshots' files are always kept.

        `grace_s`: skip unreferenced files younger than this many seconds
        (≡ Iceberg remove_orphan_files' older_than). A writer stages data
        files and manifest segments BEFORE its head publish, so a
        vacuum racing an in-flight commit would see them as orphans and
        corrupt the winning snapshot; any scheduled vacuum that can
        overlap a writer must set grace_s above the longest commit
        duration. The 0 default is for quiesced/maintenance contexts."""
        if self._branch:
            # a branch view's live set excludes main's files — vacuuming
            # from it would delete data the main table references
            raise ValueError("vacuum must run on the main table handle")
        import time as _time

        now = _time.time()

        def _young(ap: str) -> bool:
            if not grace_s:
                return False
            try:
                return now - os.path.getmtime(ap) < grace_s
            except OSError:
                return True  # vanished mid-scan → leave it alone
        versions = self._versions()
        keep = set(versions[-max(1, retain_last):])
        keep |= {v for v in self._refs()["tags"].values() if v in versions}
        live: set[str] = set()
        for v in sorted(keep):
            live |= _live_paths(self.manifest(v))
        # staged-but-unpublished branch work is live too: a vacuum on main
        # must never delete files an open branch head references
        for b in self.branches():
            live |= _live_paths(self.branch(b).manifest())
        removed = 0
        data_root = os.path.join(self.path, _DATA_DIR)
        for root, _dirs, names in os.walk(data_root):
            for name in names:
                rel = os.path.relpath(os.path.join(root, name), self.path)
                ap = os.path.join(self.path, rel)
                if name.endswith(".parquet") and rel not in live and not _young(ap):
                    os.remove(ap)
                    removed += 1
                elif name.endswith(".bloom") and rel[: -len(".bloom")] not in live:
                    if not _young(ap):
                        os.remove(ap)  # sidecar follows its data file
        # manifest segments: unlike data files, segments referenced by ANY
        # retained manifest (main or branch) stay — they are metadata, tiny,
        # and history()/lineage_df() keep reading past versions after a
        # vacuum exactly as the inline form does. Only true orphans (commit
        # losers whose GC was interrupted) are reclaimed.
        live_segs = self._referenced_segments()
        segs_root = os.path.join(self.path, _LAKE_DIR, _SEG_DIR)
        if os.path.isdir(segs_root):
            for name in os.listdir(segs_root):
                rel = f"{_LAKE_DIR}/{_SEG_DIR}/{name}"
                ap = os.path.join(self.path, rel)
                if rel not in live_segs and not _young(ap):
                    _SEG_CACHE.pop(ap, None)
                    os.remove(ap)
                    removed += 1
        return removed

    # ---- snapshot tags (≡ Iceberg tags: named, retention-exempt refs) ----
    #
    # A tag pins a snapshot under a stable name — "the exact corpus
    # train-run-7 saw" — and exempts it from expire_snapshots/vacuum, so
    # reproducibility survives routine retention. Refs live OUTSIDE the
    # snapshot chain (_lake/refs.json, atomic tmp+rename): rollback must
    # not silently drop tags created after the restore point, and the
    # expired-version ledger kept here is what lets fsck tell a legal
    # retention gap from genuine chain corruption.

    def _refs_path(self) -> str:
        return os.path.join(self.path, _LAKE_DIR, "refs.json")

    def _refs(self) -> dict:
        try:
            with open(self._refs_path()) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {"tags": {}, "expired": []}

    def _write_refs(self, refs: dict) -> None:
        tmp = self._refs_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(refs, fh)
        os.replace(tmp, self._refs_path())

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin `version` (default: current) under a stable name. Tagged
        snapshots are exempt from expire_snapshots and from vacuum's file
        cleanup until the tag is dropped."""
        v = version if version is not None else self.current_version()
        if v is None:  # empty table: nothing committed yet, nothing to pin
            raise FileNotFoundError("no snapshot to tag: table has no commits")
        if not os.path.exists(self._manifest_path(v)):
            raise FileNotFoundError(f"no snapshot v{v} to tag")
        refs = self._refs()
        refs["tags"][name] = v
        self._write_refs(refs)
        return v

    def drop_tag(self, name: str) -> None:
        refs = self._refs()
        refs["tags"].pop(name, None)
        self._write_refs(refs)

    def tags(self) -> dict[str, int]:
        return dict(self._refs()["tags"])

    def _resolve_version(self, version: "int | str | None") -> int | None:
        if isinstance(version, str):
            tags = self._refs()["tags"]
            if version not in tags:
                raise KeyError(f"no tag {version!r}")
            return tags[version]
        return version

    @staticmethod
    def _in_intervals(v: int, intervals: list) -> bool:
        return any(lo <= v <= hi for lo, hi in intervals)

    @staticmethod
    def _add_interval(intervals: list, v: int) -> list:
        merged = sorted([list(x) for x in intervals] + [[v, v]])
        out: list = []
        for lo, hi in merged:
            if out and lo <= out[-1][1] + 1:
                out[-1][1] = max(out[-1][1], hi)
            else:
                out.append([lo, hi])
        return out

    def expire_snapshots(self, retain_last: int = 10) -> int:
        """Delete manifest heads older than the newest `retain_last`
        versions (≡ Iceberg expire_snapshots / Delta log retention): under
        per-checkpoint commit cadence a CDC sink mints 10^5+ snapshots,
        and nothing bounds the metadata directory without an expiry hook.

        What changes: time travel / rollback below the floor is gone, and
        lineage_df() attributes the oldest retained snapshot's files to
        that version (its true history predates the floor). What does NOT
        change: current reads, the committed-set exactly-once guard (it
        rides the head), branches (each chain expires via its own handle),
        TAGGED snapshots (retention-exempt until drop_tag), and data files
        (vacuum owns those; segment files only expired manifests
        referenced become vacuum candidates). The current version is
        always retained. Expired versions are ledgered in _lake/refs.json
        as intervals so fsck can tell this legal gap from corruption.
        Returns manifests removed."""
        versions = self._versions()
        refs = self._refs()
        tagged = set(refs["tags"].values())
        victims = [v for v in versions[: -max(1, retain_last)] if v not in tagged]
        expired = refs.get("expired", [])
        for v in victims:
            os.remove(self._manifest_path(v))
            expired = self._add_interval(expired, v)
        if victims:
            refs["expired"] = expired
            self._write_refs(refs)
        return len(victims)

    def _chains(self) -> "list[LakeTable]":
        """Handles on every manifest chain of the table: main + branches."""
        main = LakeTable(self.spark, self.path)
        return [main, *(main.branch(b) for b in main.branches())]

    def _referenced_segments(self) -> set[str]:
        """Segments any retained manifest (main or branch chain) references."""
        refs: set[str] = set()
        for t in self._chains():
            for v in t._versions():
                with open(t._manifest_path(v)) as fh:
                    refs |= {path for path, _sec in _segment_refs(json.load(fh))}
        return refs

    def fsck(self) -> list[dict]:
        """Metadata/data consistency audit (≡ the checks Iceberg's
        maintenance procedures + `remove_orphan_files` dry-run perform;
        the reference's equivalent is the destination acceptance contract
        re-reading what it wrote). Driver-side only — manifests, footers
        and directory listings; no Spark job, no data read.

        Issue kinds:
          missing-file     live manifest entry whose data file is gone
          size-mismatch    on-disk size != manifest bytes (torn/overwritten)
          missing-bloom    stats advertise a Bloom sidecar that is absent
          bad-stats        per-file min > max for some column
          bad-schema-ref   file written under a schema id the manifest lost
          broken-chain     a parent link points at a missing manifest version
          orphan-file      data file on disk no snapshot references (vacuum
                           candidate — informational, never corruption)
          missing-segment  a retained manifest references a segment file
                           that is gone (metadata corruption: part of the
                           file list or committed set is unrecoverable);
                           `version` is set unless it is the head, `branch`
                           when the manifest is on a branch chain
          orphan-segment   segment file no retained manifest references
                           (vacuum candidate — informational)
        """
        issues: list[dict] = []
        expired = self._refs().get("expired", [])
        referenced: set[str] = set()  # paths a retained snapshot keeps alive
        live_segs: set[str] = set()
        refs_incomplete = False
        m: dict = {}
        # one pass over every retained manifest. This handle's chain: each
        # version's segments must exist (a vanished one is corruption for
        # time travel, and leniently skipping it would drop its file paths
        # from `referenced` — misclassifying live files as orphans), each
        # parent must exist unless expire_snapshots() legally removed it
        # (below the oldest retained version, or inside the refs.json
        # expired ledger — tagged snapshots leave retained islands), and
        # each version's live paths count as referenced. Branch chains add
        # their segment refs and their HEAD's live paths.
        for t in self._chains():
            own = t._branch == self._branch
            versions = t._versions()
            retained = set(versions)
            for v in versions:
                with open(t._manifest_path(v)) as fh:
                    raw = json.load(fh)
                head = v == versions[-1]
                for path, sec in _segment_refs(raw):
                    live_segs.add(path)
                    if not os.path.exists(os.path.join(self.path, path)):
                        refs_incomplete = True
                        issue = {"kind": "missing-segment", "path": path, "section": sec}
                        if not (own and head):
                            issue["version"] = v
                        if not own:
                            issue["branch"] = t._branch
                        issues.append(issue)
                parent = raw.get("parent")
                if (
                    own
                    and parent
                    and parent >= versions[0]
                    and not self._in_intervals(parent, expired)
                    and parent not in retained
                ):
                    issues.append({"kind": "broken-chain", "version": v, "parent": parent})
                if own or head:
                    mv = self._hydrate(raw, lenient=True)
                    referenced |= _live_paths(mv)
                    if own and head:
                        m = mv
        entries = [FileEntry.from_json(d) for d in m["files"]]
        schemas = set(m["schemas"].keys())
        for e in entries:
            p = os.path.join(self.path, e.path)
            if not os.path.exists(p):
                issues.append({"kind": "missing-file", "path": e.path})
                continue
            if os.path.getsize(p) != e.bytes:
                issues.append(
                    {"kind": "size-mismatch", "path": e.path,
                     "manifest_bytes": e.bytes, "disk_bytes": os.path.getsize(p)}
                )
            if str(e.schema_id) not in schemas:
                issues.append(
                    {"kind": "bad-schema-ref", "path": e.path, "schema_id": e.schema_id}
                )
            for col, st in e.stats.items():
                if "bloom" in (st or {}) and not os.path.exists(p + ".bloom"):
                    issues.append({"kind": "missing-bloom", "path": e.path, "col": col})
                try:
                    if "min" in st and st["min"] > st["max"]:
                        issues.append(
                            {"kind": "bad-stats", "path": e.path, "col": col}
                        )
                except TypeError:
                    pass
        # live delete sidecars (positional + equality) must exist on disk —
        # a missing one silently resurrects deleted rows
        for d in m.get("delete_files", []) + m.get("eq_delete_files", []):
            if not os.path.exists(os.path.join(self.path, d["path"])):
                issues.append({"kind": "missing-file", "path": d["path"]})
        data_root = os.path.join(self.path, _DATA_DIR)
        # a vanished segment means `referenced` is incomplete — flagging
        # orphans off a partial set would mark live files as vacuum
        # candidates, so the (informational) orphan survey is suppressed
        if not refs_incomplete:
            for root, _dirs, names in os.walk(data_root):
                for name in names:
                    if not name.endswith(".parquet"):
                        continue
                    rel = os.path.relpath(os.path.join(root, name), self.path)
                    if rel not in referenced:
                        issues.append({"kind": "orphan-file", "path": rel})
        segs_root = os.path.join(self.path, _LAKE_DIR, _SEG_DIR)
        if os.path.isdir(segs_root):
            for name in sorted(os.listdir(segs_root)):
                rel = f"{_LAKE_DIR}/{_SEG_DIR}/{name}"
                if rel not in live_segs:
                    issues.append({"kind": "orphan-segment", "path": rel})
        return issues

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def _live_paths(m: dict) -> set[str]:
    """Paths a hydrated manifest keeps alive: data files plus position and
    equality delete sidecars."""
    return {f["path"] for f in m["files"]} | {
        d["path"] for d in m.get("delete_files", []) + m.get("eq_delete_files", [])
    }


def _segment_refs(raw: dict) -> list[tuple[str, str]]:
    """(segment path, section) for every segment a storage-form manifest
    references."""
    return [
        (r["path"], sec)
        for sec in ("file_segments", "committed_segments")
        for r in raw.get(sec) or []
    ]


def _align_by_id(
    df: DataFrame,
    target: StructType,
    written_ids: dict[str, int],
    target_ids: dict[str, int],
    extra: tuple[str, ...] = (),
    defaults: "dict | None" = None,
) -> DataFrame:
    """Project df (one file generation) onto target by FIELD ID: for each
    target field, read the written column carrying the same id (whatever it
    was named then), cast if widened, and fill ids the file predates with
    the field's initial default (add_column) or NULL. `extra` columns
    (e.g. row-position helpers) pass through untouched."""
    by_id = {v: k for k, v in written_ids.items()}
    have = {f.name: f for f in df.schema.fields}
    cols = []
    for f in target.fields:
        src = by_id.get(target_ids.get(f.name))
        if src is None or src not in have:
            fill = (defaults or {}).get(f.name)
            cols.append(F.lit(fill).cast(f.dataType).alias(f.name))
        elif have[src].dataType != f.dataType:
            cols.append(F.col(src).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.col(src).alias(f.name))
    return df.select(*cols, *[F.col(c) for c in extra])


def _align(
    df: DataFrame,
    target: StructType,
    extra: tuple[str, ...] = (),
    defaults: "dict | None" = None,
) -> DataFrame:
    """Project df onto target schema: missing columns → initial default or
    NULL, widened → cast. `extra` columns pass through untouched."""
    have = {f.name: f for f in df.schema.fields}
    cols = []
    for f in target.fields:
        if f.name not in have:
            fill = (defaults or {}).get(f.name)
            cols.append(F.lit(fill).cast(f.dataType).alias(f.name))
        elif have[f.name].dataType != f.dataType:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols, *[F.col(c) for c in extra])


# Spark lists a read's root paths in a distributed job (one task per path)
# once there are more of them than this threshold. Manifest reads name
# local leaf files the driver stats in ~0.25 ms each, so that job is pure
# overhead (measured on a 4-core host: ~1 s at 96 files, ~20 s at 4,000).
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_LISTING_LOCK = threading.Lock()


def scan_files(
    spark: SparkSession, paths: "list[str]", schema: "StructType | str | None" = None
) -> DataFrame:
    """Parquet relation over known leaf files (≡ an Iceberg scan planned
    from its manifest, never from a storage listing). Spark lists eagerly,
    while the relation is built, so the listing threshold is raised to
    cover `paths` for this one call and restored after it; the lock keeps
    concurrent readers from restoring each other's raised value."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    with _LISTING_LOCK:
        prev = spark.conf.get(_LISTING_THRESHOLD, None)
        spark.conf.set(_LISTING_THRESHOLD, str(max(len(paths), int(prev or 0))))
        try:
            return reader.parquet(*paths)
        finally:
            if prev is None:
                spark.conf.unset(_LISTING_THRESHOLD)
            else:
                spark.conf.set(_LISTING_THRESHOLD, prev)


def empty_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """Zero rows of `schema` as a JVM-side relation: typed NULL columns
    over `range(1).limit(0)`, which the optimizer folds to an empty local
    relation (a union drops it outright), so no Python RDD and no Python
    task is built."""
    return spark.range(1).limit(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def _zvalue_expr(df: DataFrame, cols: list[str], bits: int) -> "F.Column":
    """Interleaved-bit z-value over per-column quantile buckets.

    One distributed approxQuantile pass (GK sketch, driver gets ≤2^bits
    boundaries per column) fixes bucket edges; the bucket id per row is a
    pure when-chain (whole-stage codegen), and the z-value interleaves the
    ids' bits so lexicographic order on it is Morton order. Everything
    after the sketch is a scan-fused column expression — the clustering
    shuffle itself is the only data movement.
    """
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    all_bounds = df.approxQuantile(cols, probs, 0.001)
    bucket_ids = []
    for col, bounds in zip(cols, all_bounds):
        c = F.col(col)
        bid = F.lit(0)
        # strictly-increasing boundary subset (duplicate quantiles collapse)
        uniq = sorted(set(bounds))
        for i, b in enumerate(uniq):
            bid = F.when(c > F.lit(b), F.lit(i + 1)).otherwise(bid)
        bucket_ids.append(F.when(c.isNull(), F.lit(0)).otherwise(bid).cast("long"))
    z = F.lit(0).cast("long")
    for j in range(bits):
        for i, bid in enumerate(bucket_ids):
            bit = F.shiftright(bid, j).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, j * len(bucket_ids) + i)
    return z
