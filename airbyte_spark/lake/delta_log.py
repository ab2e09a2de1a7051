"""DeltaLogTable — a SECOND concrete TableFormat binding, Delta-style.

The seam claim in `lake/table_format.py` is that merge/pipeline code is
format-agnostic; the strongest proof is a second implementation whose
METADATA layer shares nothing with the default JSON-manifest lake. This
adapter keeps table state as a Delta-Lake-shaped transaction log
(`_delta_log/%020d.json`, one JSON ACTION per line — protocol /
metaData / add / remove / commitInfo), reconstructs state by log replay,
and commits by atomically creating the next numbered log file (O_EXCL =
the "put-if-absent on the next version" every Delta implementation
rests on). Public semantics the engine needs — atomic visibility,
idempotent checkpoint keys, schema evolution without rewrites, snapshot
reads, pruning stats — all hold; the representation is entirely
different.

Shared on purpose (the seam's interchange surface, re-exported by
table_format.py): FileEntry / PartitionSpec records, parquet footer
stat collection, schema evolve/align rules. Data files are plain
parquet either way — Delta and Iceberg share data formats in the real
world too; only the metadata layer differs, and that is what this
module re-implements.

Deliberate scope bounds (each raises, never silently degrades):
position/equality delete sidecars (MoR deletes) and WAP branches are
default-format features the protocol marks optional; `load_bloom`
returns None (the merge treats Bloom sidecars as an optional index and
falls back to min/max pruning — `merge.py:122-127`).
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from airbyte_spark.lake.format import (
    FileEntry,
    PartitionSpec,
    _align,
    _collect_parquet_stats,
    empty_frame,
    scan_files,
)
from airbyte_spark.schema import evolve

_LOG_DIR = "_delta_log"
_DATA_DIR = "data"


class DeltaLogTable:
    """Action-log table (see module docstring). Factory: create/load/
    exists — same classmethod surface as the default format, so it drops
    into `CdcPipeline.create_target(table_format=DeltaLogTable)`."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._state_cache: dict[int, dict] = {}

    # ---- factory -----------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: StructType,
        partition_spec: "PartitionSpec | None" = None,
        properties: "dict[str, str] | None" = None,
    ) -> "DeltaLogTable":
        os.makedirs(os.path.join(path, _LOG_DIR), exist_ok=True)
        t = cls(spark, path)
        actions = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": uuid.uuid4().hex,
                    "schema_id": 0,
                    "schemas": {"0": json.loads(schema.json())},
                    "partition_spec": (partition_spec or PartitionSpec()).to_json(),
                    "properties": dict(properties or {}),
                }
            },
            {"commitInfo": {"operation": "create", "keys": [], "summary": {}}},
        ]
        t._write_log(0, actions)
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "DeltaLogTable":
        if not cls.exists(path):
            raise FileNotFoundError(f"no delta log at {path}")
        return cls(spark, path)

    @classmethod
    def exists(cls, path: str) -> bool:
        d = os.path.join(path, _LOG_DIR)
        return os.path.isdir(d) and any(n.endswith(".json") for n in os.listdir(d))

    # ---- log plumbing ------------------------------------------------------

    def _log_path(self, version: int) -> str:
        return os.path.join(self.path, _LOG_DIR, f"{version:020d}.json")

    def _write_log(self, version: int, actions: list[dict]) -> None:
        """Atomic publish: O_EXCL create of the next numbered file — two
        writers racing for the same version, one wins, the loser re-reads
        and retries (the Delta commit protocol)."""
        payload = "\n".join(json.dumps(a) for a in actions) + "\n"
        fd = os.open(self._log_path(version), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            os.write(fd, payload.encode())
            os.fsync(fd)
        finally:
            os.close(fd)

    def _versions(self) -> list[int]:
        d = os.path.join(self.path, _LOG_DIR)
        return sorted(
            int(n[:-5]) for n in os.listdir(d) if n.endswith(".json")
        )

    def current_version(self) -> "int | None":
        vs = self._versions()
        return vs[-1] if vs else None

    def _state(self, version: "int | None" = None) -> dict:
        """Replay the log up to `version` (inclusive) into table state.
        Cached per version — log files are immutable once published."""
        v = version if version is not None else self.current_version()
        if v is None:
            raise ValueError("empty table log")
        if v in self._state_cache:
            return self._state_cache[v]
        files: dict[str, FileEntry] = {}
        meta: dict[str, Any] = {}
        committed: dict[str, dict] = {}
        summaries: list[dict] = []
        for lv in [x for x in self._versions() if x <= v]:
            with open(self._log_path(lv)) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    a = json.loads(line)
                    if "metaData" in a:
                        meta = a["metaData"]
                    elif "add" in a:
                        e = FileEntry.from_json(a["add"])
                        files[e.path] = e
                    elif "remove" in a:
                        files.pop(a["remove"]["path"], None)
                    elif "commitInfo" in a:
                        ci = a["commitInfo"]
                        for k in ci.get("keys") or []:
                            committed[k] = {"version": lv, **(ci.get("summary") or {})}
                        summaries.append(
                            {"version": lv, "operation": ci.get("operation"),
                             **(ci.get("summary") or {})}
                        )
        st = {
            "files": files,
            "meta": meta,
            "committed": committed,
            "summaries": summaries,
        }
        self._state_cache[v] = st
        return st

    # ---- reads -------------------------------------------------------------

    def schema(self, version: "int | None" = None) -> StructType:
        m = self._state(version)["meta"]
        return StructType.fromJson(m["schemas"][str(m["schema_id"])])

    def partition_spec(self) -> PartitionSpec:
        return PartitionSpec.from_json(self._state()["meta"]["partition_spec"])

    def properties(self) -> dict:
        return dict(self._state()["meta"].get("properties") or {})

    def committed(self) -> dict:
        return dict(self._state()["committed"])

    def files(self, version: "int | None" = None) -> list[FileEntry]:
        return list(self._state(version)["files"].values())

    def read(
        self,
        version: "int | None" = None,
        files: "list[FileEntry] | None" = None,
        with_positions: bool = False,
    ) -> DataFrame:
        if with_positions:
            raise NotImplementedError(
                "DeltaLogTable scopes out MoR delete sidecars; use the "
                "default format for position-delete workflows"
            )
        target = self.schema(version)
        entries = files if files is not None else self.files(version)
        if not entries:
            return empty_frame(self.spark, target)
        # schema generations: read each with its written schema, align up
        st = self._state(version)["meta"]
        by_sid: dict[int, list[FileEntry]] = {}
        for e in entries:
            by_sid.setdefault(int(e.schema_id), []).append(e)
        out = None
        for sid, group in sorted(by_sid.items()):
            written = StructType.fromJson(st["schemas"][str(sid)])
            df = scan_files(
                self.spark, [os.path.join(self.path, e.path) for e in group], written
            )
            part = _align(df, target)
            out = part if out is None else out.unionByName(part)
        return out

    def load_bloom(self, entry: FileEntry, col: str):
        return None  # no sidecar index in this format; min/max pruning stands

    def metrics_df(self) -> DataFrame:
        rows = [
            (s["version"], s.get("operation"), s.get("rows_in"))
            for s in self._state()["summaries"]
        ]
        return self.spark.createDataFrame(
            rows, "version long, operation string, rows_in long"
        )

    # ---- writes ------------------------------------------------------------

    def evolve_schema(self, new_schema: StructType) -> StructType:
        while True:
            st = self._state()["meta"]
            current = StructType.fromJson(st["schemas"][str(st["schema_id"])])
            merged = evolve(current, new_schema)
            if merged == current:
                return current
            v = self.current_version()
            meta = json.loads(json.dumps(st))
            new_id = int(st["schema_id"]) + 1
            meta["schema_id"] = new_id
            meta["schemas"][str(new_id)] = json.loads(merged.json())
            try:
                self._write_log(
                    (v or 0) + 1,
                    [
                        {"metaData": meta},
                        {"commitInfo": {"operation": "evolve-schema",
                                        "keys": [], "summary": {}}},
                    ],
                )
                return merged
            except FileExistsError:
                continue  # lost the race — re-read and retry

    def _stage_write(
        self,
        df: DataFrame,
        stat_cols: list[str],
        one_file_per_partition: bool,
        spec: "PartitionSpec | None" = None,
    ) -> list[FileEntry]:
        spec = spec if spec is not None else self.partition_spec()
        rel_dir = f"{_DATA_DIR}/{uuid.uuid4().hex[:12]}"
        out_dir = os.path.join(self.path, rel_dir)
        w = df
        for f in spec.fields:
            w = w.withColumn(f.name, f.expr())
        pnames = spec.names()
        if pnames:
            if one_file_per_partition:
                w = w.repartition(*[F.col(n) for n in pnames])
            w.write.partitionBy(*pnames).mode("overwrite").parquet(out_dir)
        else:
            w.write.mode("overwrite").parquet(out_dir)
        sid = int(self._state()["meta"]["schema_id"])
        entries: list[FileEntry] = []
        for root, _dirs, names in os.walk(out_dir):
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                abs_path = os.path.join(root, name)
                partition: dict[str, Any] = {}
                for seg in os.path.relpath(root, out_dir).split(os.sep):
                    if "=" in seg:
                        k, val = seg.split("=", 1)
                        partition[k] = int(val) if val.lstrip("-").isdigit() else val
                rows, size, stats = _collect_parquet_stats(abs_path, stat_cols)
                if not rows:
                    os.remove(abs_path)
                    continue
                entries.append(
                    FileEntry(
                        os.path.relpath(abs_path, self.path),
                        rows, size, sid, partition, stats,
                    )
                )
        return entries

    def commit(
        self,
        added: list[FileEntry],
        removed_paths: "set[str] | None" = None,
        operation: str = "append",
        checkpoint_key: "str | list[str] | None" = None,
        summary: "dict | None" = None,
        delete_files_added: "list[dict] | None" = None,
        eq_deletes_added: "list[dict] | None" = None,
        read_version: "int | None" = None,
    ) -> int:
        if delete_files_added or eq_deletes_added:
            raise NotImplementedError("DeltaLogTable scopes out MoR sidecars")
        keys = (
            [checkpoint_key] if isinstance(checkpoint_key, str)
            else list(checkpoint_key or [])
        )
        while True:
            cur = self.current_version()
            st = self._state(cur)
            if keys and all(k in st["committed"] for k in keys):
                return cur  # idempotent re-commit
            if read_version is not None and removed_paths and cur != read_version:
                # a concurrent commit landed between our read and this
                # rewrite — the removed files may be stale. Surface it
                # (the default format revalidates; this adapter's scope is
                # single-writer-per-table pipelines).
                raise RuntimeError(
                    f"concurrent commit: read v{read_version}, now v{cur}"
                )
            for e in added:
                e.seq = (cur or 0) + 1
            actions = (
                [{"remove": {"path": p}} for p in sorted(removed_paths or ())]
                + [{"add": e.to_json()} for e in added]
                + [{"commitInfo": {"operation": operation, "keys": keys,
                                   "summary": dict(summary or {})}}]
            )
            try:
                self._write_log((cur or 0) + 1, actions)
                return (cur or 0) + 1
            except FileExistsError:
                continue  # CAS retry

    # ---- maintenance -------------------------------------------------------

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024, **_kw) -> int:
        live = self.files()
        small = [e for e in live if e.bytes < target_file_bytes]
        if len(small) < 2:
            return self.current_version() or 0
        read_v = self.current_version()
        df = self.read(files=small)
        entries = self._stage_write(df, [], one_file_per_partition=True)
        return self.commit(
            entries,
            removed_paths={e.path for e in small},
            operation="compact",
            read_version=read_v,
        )

    def vacuum(self, retain_last: int = 1, grace_s: float = 0.0) -> int:
        """Remove data files referenced by NO retained log version (orphans
        from failed stages or expired history).

        `grace_s` skips unreferenced files younger than this many seconds
        (same contract as LakeTable.vacuum): a writer stages data files
        BEFORE its O_EXCL log publish, so a vacuum racing an in-flight
        commit would otherwise delete the winner's staged files and
        corrupt the new snapshot. Any scheduled vacuum that can overlap a
        writer must set grace_s above the longest commit duration; the 0
        default is for quiesced/maintenance contexts."""
        import time as _time

        vs = self._versions()
        keep_versions = vs[-max(1, retain_last):]
        referenced: set[str] = set()
        for v in keep_versions:
            referenced |= set(self._state(v)["files"].keys())
        now = _time.time()
        removed = 0
        data_root = os.path.join(self.path, _DATA_DIR)
        for root, _dirs, names in os.walk(data_root):
            for name in names:
                abs_path = os.path.join(root, name)
                rel = os.path.relpath(abs_path, self.path)
                if rel in referenced:
                    continue
                if grace_s:
                    try:
                        if now - os.path.getmtime(abs_path) < grace_s:
                            continue
                    except OSError:
                        continue  # concurrently published/removed: leave it
                os.remove(abs_path)
                removed += 1
        return removed

    def expire_snapshots(self, retain_last: int = 10) -> int:
        """Drop log files older than the retained window, after folding
        their net state into a rewritten base version (Delta's checkpoint
        compaction, minimally)."""
        vs = self._versions()
        if len(vs) <= retain_last:
            return 0
        cut = vs[-retain_last]
        base = self._state(cut)
        # rewrite the cut version as a self-contained checkpoint
        actions = (
            [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}]
            + [{"metaData": base["meta"]}]
            + [{"add": e.to_json()} for e in base["files"].values()]
            + [
                {"commitInfo": {"operation": "checkpoint",
                                "keys": sorted(base["committed"]),
                                "summary": {}}}
            ]
        )
        tmp = self._log_path(cut) + ".ckpt"
        with open(tmp, "w") as fh:
            fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
        os.replace(tmp, self._log_path(cut))
        n = 0
        for v in vs:
            if v < cut:
                os.remove(self._log_path(v))
                n += 1
        self._state_cache.clear()
        return n
