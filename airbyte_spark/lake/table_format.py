"""TableFormat — the table-format seam the engine is written against.

The merge path (lake/merge.py) and the CDC pipeline (streaming/
pipeline.py) reference ONLY this protocol, never the JSON-manifest
implementation directly, so a deployment can swap a real Iceberg-backed
adapter in without touching merge or pipeline code. The from-scratch
`LakeTable` (lake/format.py) is the default binding — this sandbox has no
Iceberg runtime jars, which is why the format is implemented from scratch
with Iceberg-shaped semantics rather than imported.

Every protocol member maps 1:1 onto an Iceberg table operation, so an
adapter over pyiceberg / Spark's Iceberg catalog is a mechanical shim
(see docs/ICEBERG_MAPPING.md for the full feature table):

  read(version, files)        table scan / time travel (snapshot-id read)
                              + file-level scan pruning
  files() / current_version() snapshot manifest entries / current snapshot
  schema() / evolve_schema()  schema / UpdateSchema (union-by-name merge)
  partition_spec()            PartitionSpec (bucket/identity transforms)
  stage_write()               WriteBuilder: write data files, defer
                              visibility to the commit
  commit()                    AppendFiles/RewriteFiles + snapshot summary
                              (checkpoint keys ≡ summary properties — the
                              idempotent-commit guard)
  committed()                 snapshot summary lookup for replay skipping
  load_bloom()                per-file secondary index (puffin-style)
  metrics_df()                snapshot summary metrics as a DataFrame
  compact()                   rewrite_data_files
  vacuum() / expire_snapshots() remove_orphan_files / expire_snapshots

The staging/commit split is the load-bearing contract: `stage_write`
makes bytes durable WITHOUT visibility, `commit` publishes them
atomically (CAS on the metadata pointer) with idempotency keys — both
exactly Iceberg's write model, which is what makes the swap safe.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# The interchange records of the seam (file entries, partition specs) and
# the shared read helpers are defined next to the default implementation
# and re-exported here: callers of the PROTOCOL import them from this module.
from airbyte_spark.lake.format import (  # noqa: F401  (re-exports)
    FileEntry,
    LakeTable,
    PartitionSpec,
    empty_frame,
    scan_files,
)
from airbyte_spark.lake.format import _align as align_to_schema  # noqa: F401

if TYPE_CHECKING:
    pass


@runtime_checkable
class TableFormat(Protocol):
    """The table surface merge/pipeline require (structural: any object
    with these members works — isinstance checks verify presence only)."""

    spark: SparkSession
    path: str

    # -- reads ----------------------------------------------------------------
    def read(
        self,
        version: int | None = None,
        files: "list[FileEntry] | None" = None,
        with_positions: bool = False,
    ) -> DataFrame: ...

    def files(self, version: int | None = None) -> "list[FileEntry]": ...

    def current_version(self) -> "int | None": ...

    def schema(self, version: int | None = None) -> StructType: ...

    def partition_spec(self) -> "PartitionSpec": ...

    def committed(self) -> "dict[str, dict]": ...

    def load_bloom(self, entry: "FileEntry", col: str) -> "object | None": ...

    def metrics_df(self) -> DataFrame: ...

    # -- writes ---------------------------------------------------------------
    def evolve_schema(self, new_schema: StructType) -> StructType: ...

    def _stage_write(
        self,
        df: DataFrame,
        stat_cols: "list[str]",
        one_file_per_partition: bool,
        spec: "PartitionSpec | None" = None,
    ) -> "list[FileEntry]": ...

    def commit(
        self,
        added: "list[FileEntry]",
        removed_paths: "set[str] | None" = None,
        operation: str = "append",
        checkpoint_key: "str | list[str] | None" = None,
        summary: "dict | None" = None,
        delete_files_added: "list[dict] | None" = None,
        eq_deletes_added: "list[dict] | None" = None,
        read_version: "int | None" = None,
    ) -> int: ...

    # -- maintenance ----------------------------------------------------------
    def compact(self, *args, **kwargs) -> int: ...

    def vacuum(self, retain_last: int = 1, grace_s: float = 0.0) -> int: ...

    def expire_snapshots(self, retain_last: int = 10) -> int: ...


class TableFormatFactory(Protocol):
    """Constructor surface (≡ Iceberg catalog operations: createTable /
    loadTable / tableExists)."""

    def create(
        self,
        spark: SparkSession,
        path: str,
        schema: StructType,
        partition_spec: "PartitionSpec | None" = None,
        properties: "dict[str, str] | None" = None,
    ) -> TableFormat: ...

    def load(self, spark: SparkSession, path: str) -> TableFormat: ...

    def exists(self, path: str) -> bool: ...


# Default binding: the from-scratch JSON-manifest lake. A deployment with
# Iceberg jars replaces this (or passes its adapter class to
# CdcPipeline.create_target / load) — nothing else changes. The claim is
# proven by a second, independently-implemented binding:
# lake/delta_log.py (Delta-style action log) runs the unchanged
# merge/pipeline to the identical final state (tests/test_delta_log.py).
DEFAULT_FORMAT: "type[LakeTable]" = LakeTable
