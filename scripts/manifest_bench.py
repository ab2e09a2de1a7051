"""Metadata-commit cost: inline vs segmented manifests.

Isolates the DRIVER-side cost of one commit against a table that already
holds N live file entries (no Spark job, no data I/O — commit() only
touches manifest JSON): the inline form re-serializes all N entries plus
the whole committed-key set per commit; the segmented form writes one
small head + a delta segment. This is the per-commit floor a
high-frequency CDC sink pays at a 100 TB / ~200k-file table, where the
streaming cadence multiplies it by every checkpoint.

Prints one JSON line:
  {"n_files": N, "inline_ms_per_commit": ..., "segmented_ms_per_commit": ...,
   "speedup": ..., "inline_head_bytes": ..., "segmented_head_bytes": ...}

Usage: python scripts/manifest_bench.py [n_files] [n_commits]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.types import LongType, StringType, StructField, StructType

from airbyte_spark.lake import format as fmt
from airbyte_spark.lake.format import FileEntry, LakeTable, PartitionSpec


def _entry(i: int) -> FileEntry:
    # realistic per-file metadata: bucket partition value + url min/max stats
    return FileEntry(
        path=f"data/seed/{i:06d}.parquet",
        rows=100_000,
        bytes=512 << 20,
        schema_id=0,
        partition={"p_bucket": i % 64},
        stats={
            "url": {
                "min": f"https://site-{i:06d}.example.com/a",
                "max": f"https://site-{i:06d}.example.com/z",
                "nulls": 0,
            }
        },
    )


def run(spark, n_files: int, n_commits: int, segmented: bool) -> tuple[float, int]:
    base = tempfile.mkdtemp(prefix="manifest_bench_")
    schema = StructType(
        [StructField("url", StringType()), StructField("n", LongType())]
    )
    # the storage form follows size alone: the segmented arm segments from
    # the first file, the inline arm gets thresholds no table can reach
    saved = fmt._AUTO_SEGMENT_FILES, fmt._COMMITTED_TAIL
    if segmented:
        fmt._AUTO_SEGMENT_FILES = 0
    else:
        fmt._AUTO_SEGMENT_FILES = fmt._COMMITTED_TAIL = sys.maxsize
    try:
        t = LakeTable.create(spark, f"{base}/t", schema, PartitionSpec())
        t.commit(
            [_entry(i) for i in range(n_files)], operation="seed", checkpoint_key="seed"
        )
        t0 = time.time()
        for c in range(n_commits):
            t.commit([_entry(n_files + c)], operation="append", checkpoint_key=f"ck-{c}")
        per_commit_ms = (time.time() - t0) / n_commits * 1000
    finally:
        fmt._AUTO_SEGMENT_FILES, fmt._COMMITTED_TAIL = saved
    head_bytes = os.path.getsize(
        os.path.join(t.path, "_lake", f"v{t.current_version():09d}.json")
    )
    assert len(t.files()) == n_files + n_commits
    assert set(t.committed()) >= {f"ck-{c}" for c in range(n_commits)}
    shutil.rmtree(base, ignore_errors=True)
    return per_commit_ms, head_bytes


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    n_commits = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    # commit() never runs a Spark job here (no constraints, no staged reads)
    # but LakeTable carries a session handle; a tiny local one suffices.
    from airbyte_spark.session import get_spark

    spark = get_spark("manifest-bench", master="local[2]", shuffle_partitions=2)
    inline_ms, inline_head = run(spark, n_files, n_commits, segmented=False)
    seg_ms, seg_head = run(spark, n_files, n_commits, segmented=True)
    print(
        json.dumps(
            {
                "n_files": n_files,
                "n_commits": n_commits,
                "inline_ms_per_commit": round(inline_ms, 2),
                "segmented_ms_per_commit": round(seg_ms, 2),
                "speedup": round(inline_ms / seg_ms, 1) if seg_ms else None,
                "inline_head_bytes": inline_head,
                "segmented_head_bytes": seg_head,
            }
        )
    )


if __name__ == "__main__":
    main()
