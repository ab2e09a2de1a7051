"""Segmented manifests: metadata commits O(delta), not O(live files).

The inline-JSON manifest rewrites the full file list and committed-key set
on every commit — O(table) driver work per commit, the documented swap
point for Iceberg's manifest tree (format.py module docstring). The
segmented form stores both lists in immutable side files ("segments",
≡ Iceberg manifest files referenced from a manifest list): a commit writes
one small head + only the segments its delta touches.

Everything here must be observationally identical to the inline form —
same reads, time travel, rollback, vacuum, fsck, branch publish, lineage —
because hydration happens inside LakeTable.manifest().
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from airbyte_spark.lake import format as fmt
from airbyte_spark.lake.format import LakeTable, PartitionSpec

# the storage form follows size alone; these module thresholds make a small
# test table segment from its first file and seal committed keys past 4
SEGMENTED = {"_AUTO_SEGMENT_FILES": 0, "_COMMITTED_TAIL": 4}


def _segmented(monkeypatch, **extra):
    for name, value in {**SEGMENTED, **extra}.items():
        monkeypatch.setattr(fmt, name, value)


def _events(spark, sf_dir, n=200):
    return (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "event_type", "value")
        .limit(n)
    )


def _mk(spark, tmp_path, monkeypatch, name="t", spec=None, **consts):
    _segmented(monkeypatch, **consts)
    return LakeTable.create(
        spark, str(tmp_path / name), _SCHEMA_CACHE[0], spec or PartitionSpec()
    )


_SCHEMA_CACHE: list = [None]


def _seg_files(t: LakeTable) -> list[str]:
    d = os.path.join(t.path, "_lake", "segs")
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


def _raw_manifest(t: LakeTable, version=None) -> dict:
    v = version if version is not None else t.current_version()
    with open(os.path.join(t.path, "_lake", f"v{v:09d}.json")) as fh:
        return json.load(fh)


def setup_module():
    pass


def test_segmented_append_read_equivalence(spark, sf_dir, tmp_path, monkeypatch):
    src = _events(spark, sf_dir)
    _SCHEMA_CACHE[0] = src.schema
    t = _mk(spark, tmp_path, monkeypatch)
    for i in range(3):
        t.append(
            src.filter(F.col("event_id") % 3 == i),
            checkpoint_key=f"ck-{i}",
            stat_cols=["event_id"],
        )
    # head manifest holds NO inline file list, only segment refs
    raw = _raw_manifest(t)
    assert raw["files"] == []
    assert raw["file_segments"], "expected segment refs"
    assert sum(r["n"] for r in raw["file_segments"]) == len(t.files())
    # hydrated view is complete and reads match the source
    assert t.read().count() == src.count()
    assert (
        t.read().agg(F.sum("event_id")).first()[0]
        == src.agg(F.sum("event_id")).first()[0]
    )
    # committed keys survive hydration (idempotent replay guard intact)
    assert {f"ck-{i}" for i in range(3)} <= set(t.committed())
    v = t.current_version()
    assert t.append(src.limit(5), checkpoint_key="ck-1") == v  # no-op redelivery


def test_append_only_commit_keeps_old_segments(spark, sf_dir, tmp_path, monkeypatch):
    """The O(delta) property: an append must not rewrite prior segments."""
    src = _events(spark, sf_dir)
    _SCHEMA_CACHE[0] = src.schema
    t = _mk(spark, tmp_path, monkeypatch)
    t.append(src.filter(F.col("event_id") % 2 == 0), stat_cols=["event_id"])
    segs_before = set(_seg_files(t))
    refs_before = {r["path"] for r in _raw_manifest(t)["file_segments"]}
    t.append(src.filter(F.col("event_id") % 2 == 1), stat_cols=["event_id"])
    refs_after = {r["path"] for r in _raw_manifest(t)["file_segments"]}
    # every old segment ref is carried forward untouched; exactly the new
    # files landed in new segment(s)
    assert refs_before <= refs_after
    assert segs_before <= set(_seg_files(t))


def test_removal_rewrites_only_touched_segments(spark, sf_dir, tmp_path, monkeypatch):
    src = _events(spark, sf_dir)
    _SCHEMA_CACHE[0] = src.schema
    t = _mk(spark, tmp_path, monkeypatch)
    t.append(src.filter(F.col("event_id") % 2 == 0), stat_cols=["event_id"])
    keep_ref = _raw_manifest(t)["file_segments"][0]["path"]
    t.append(src.filter(F.col("event_id") % 2 == 1), stat_cols=["event_id"])
    victim = [e.path for e in t.files()][-1:]  # a file from the 2nd segment
    total = t.read().count()
    removed_rows = sum(e.rows for e in t.files() if e.path in set(victim))
    t.commit([], removed_paths=set(victim), operation="delete")
    refs = {r["path"] for r in _raw_manifest(t)["file_segments"]}
    assert keep_ref in refs  # untouched segment survives by reference
    assert t.read().count() == total - removed_rows


def test_time_travel_and_rollback_across_segments(spark, sf_dir, tmp_path, monkeypatch):
    src = _events(spark, sf_dir)
    _SCHEMA_CACHE[0] = src.schema
    t = _mk(spark, tmp_path, monkeypatch)
    t.append(src.filter(F.col("event_id") % 2 == 0), checkpoint_key="a")
    v1 = t.current_version()
    n1 = t.read().count()
    t.append(src.filter(F.col("event_id") % 2 == 1), checkpoint_key="b")
    assert t.read(v1).count() == n1  # time travel hydrates old segment list
    t.rollback(v1)
    assert t.read().count() == n1
    assert "b" not in t.committed()  # checkpoint set reverted with the data
    assert "a" in t.committed()


def test_committed_tail_seals_into_segments(spark, sf_dir, tmp_path, monkeypatch):
    """Past the tail cap, committed keys seal into immutable segments and
    the head carries only the recent tail — yet the hydrated set is full
    and redelivery of ANY old key stays a no-op."""
    src = _events(spark, sf_dir, n=40)
    _SCHEMA_CACHE[0] = src.schema
    t = _mk(spark, tmp_path, monkeypatch)
    for i in range(10):  # tail cap is 4 → several seals
        t.append(src.limit(2), checkpoint_key=f"ck-{i:02d}")
    raw = _raw_manifest(t)
    assert raw.get("committed_segments"), "expected sealed committed segments"
    assert len(raw["committed"]) <= 4
    assert set(t.committed()) == {f"ck-{i:02d}" for i in range(10)}
    v = t.current_version()
    assert t.append(src.limit(2), checkpoint_key="ck-00") == v  # sealed key skips


def test_auto_upgrade_at_threshold(spark, sf_dir, tmp_path, monkeypatch):
    """A table auto-segments once its inline file list crosses the
    threshold (and stays inline below it)."""
    src = _events(spark, sf_dir, n=60)
    _SCHEMA_CACHE[0] = src.schema
    monkeypatch.setattr(fmt, "_AUTO_SEGMENT_FILES", 6)
    t = LakeTable.create(spark, str(tmp_path / "auto"), src.schema, PartitionSpec())
    t.append(src.limit(10).repartition(3))
    assert "file_segments" not in _raw_manifest(t)  # 3 files: inline
    t.append(src.limit(20).repartition(5))
    raw = _raw_manifest(t)
    assert raw.get("file_segments")  # 8 files > 6: upgraded
    assert raw["files"] == []
    assert t.read().count() == 30


def test_vacuum_gc_orphan_segments_keeps_referenced(spark, sf_dir, tmp_path, monkeypatch):
    src = _events(spark, sf_dir)
    _SCHEMA_CACHE[0] = src.schema
    t = _mk(spark, tmp_path, monkeypatch)
    t.append(src.filter(F.col("event_id") % 2 == 0), stat_cols=["event_id"])
    t.append(src.filter(F.col("event_id") % 2 == 1), stat_cols=["event_id"])
    t.compact(target_file_bytes=1 << 30)  # drops all old segment refs at head
    referenced = set()
    for v in range(1, t.current_version() + 1):
        referenced |= {
            os.path.basename(r["path"])
            for r in _raw_manifest(t, v).get("file_segments", [])
        }
    # plant an orphan segment (≡ a conflict loser that failed to GC)
    orphan = os.path.join(t.path, "_lake", "segs", "seg-orphan.json")
    with open(orphan, "w") as fh:
        json.dump({"entries": []}, fh)
    t.vacuum()
    left = set(_seg_files(t))
    assert "seg-orphan.json" not in left
    # segments referenced by ANY retained manifest survive (history/lineage
    # remain readable after vacuum, matching inline-manifest behavior)
    assert referenced <= left
    assert [r["version"] for r in t.history()]  # hydrates every retained version
    assert t.lineage_df().count() > 0


def test_fsck_missing_segment_detected(spark, sf_dir, tmp_path, monkeypatch):
    src = _events(spark, sf_dir)
    _SCHEMA_CACHE[0] = src.schema
    t = _mk(spark, tmp_path, monkeypatch)
    t.append(src.limit(20))
    ref = _raw_manifest(t)["file_segments"][0]["path"]
    os.rename(os.path.join(t.path, ref), os.path.join(t.path, ref) + ".bak")
    kinds = {i["kind"] for i in t.fsck()}
    assert "missing-segment" in kinds
    os.rename(os.path.join(t.path, ref) + ".bak", os.path.join(t.path, ref))
    assert "missing-segment" not in {i["kind"] for i in t.fsck()}


def test_branch_publish_with_segments(spark, sf_dir, tmp_path, monkeypatch):
    src = _events(spark, sf_dir)
    _SCHEMA_CACHE[0] = src.schema
    t = _mk(spark, tmp_path, monkeypatch)
    t.append(src.filter(F.col("event_id") % 2 == 0))
    b = t.create_branch("wap")
    b.append(src.filter(F.col("event_id") % 2 == 1))
    assert t.read().count() < src.count()  # main blind to branch segments
    t.publish_branch("wap")
    assert t.read().count() == src.count()


def test_segment_compaction_bounds_segment_count(spark, sf_dir, tmp_path, monkeypatch):
    """Many tiny commits must not accumulate unbounded segment refs: past
    max_segments the smallest segments merge (LSM-style), keeping the
    per-commit segment-list walk bounded."""
    src = _events(spark, sf_dir, n=64)
    _SCHEMA_CACHE[0] = src.schema
    t = _mk(spark, tmp_path, monkeypatch, _MAX_SEGMENTS=5)
    for i in range(12):
        t.append(src.filter(F.col("event_id") % 12 == i))
    raw = _raw_manifest(t)
    assert len(raw["file_segments"]) <= 5
    assert sum(r["n"] for r in raw["file_segments"]) == len(t.files())
    assert t.read().count() == src.count()


def test_segmented_merge_pipeline_equals_inline(spark, sf_dir, tmp_path, monkeypatch):
    """End-to-end: a CDC replay into a segmented table produces the exact
    same final state as into an inline-manifest table."""
    from airbyte_spark.sources.changelog import derive_changelog
    from airbyte_spark.streaming.pipeline import CdcPipeline

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    changelog = derive_changelog(events, batch_span=400)

    pin = CdcPipeline.create_target(spark, str(tmp_path / "inline"), n_buckets=4)
    pin.replay(changelog)
    _segmented(monkeypatch)
    pseg = CdcPipeline.create_target(spark, str(tmp_path / "seg"), n_buckets=4)
    pseg.replay(changelog)

    assert _raw_manifest(pseg.table).get("file_segments")
    a = pin.final_state().orderBy("url").collect()
    b = pseg.final_state().orderBy("url").collect()
    assert a == b
    # redelivery stays exactly-once through sealed committed segments
    v = pseg.table.current_version()
    pseg.replay(changelog)
    assert pseg.table.current_version() == v
