"""Snapshot expiry (≡ Iceberg expire_snapshots / Delta log retention).

A per-checkpoint CDC sink mints one manifest per commit — 10^5+ snapshots
at production cadence — so the metadata directory needs a retention hook.
Expiry must bound the chain without touching current state: reads, the
committed-set exactly-once guard, and branches are unaffected; time
travel below the floor is the only thing given up.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from airbyte_spark.lake import format as fmt
from airbyte_spark.lake.format import LakeTable, PartitionSpec


def _src(spark, sf_dir, n=120):
    return (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "event_type", "value")
        .limit(n)
    )


def _versions_on_disk(t: LakeTable) -> list[int]:
    d = os.path.join(t.path, "_lake")
    return sorted(
        int(f[1:-5])
        for f in os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    )


def test_expire_bounds_chain_keeps_current_state(spark, sf_dir, tmp_path):
    src = _src(spark, sf_dir)
    t = LakeTable.create(spark, str(tmp_path / "t"), src.schema, PartitionSpec())
    for i in range(8):
        t.append(src.filter(F.col("event_id") % 8 == i), checkpoint_key=f"ck-{i}")
    total = t.read().count()
    head = t.current_version()
    removed = t.expire_snapshots(retain_last=3)
    assert removed == len(range(1, head + 1)) - 3
    assert _versions_on_disk(t) == [head - 2, head - 1, head]
    # current state and the exactly-once guard are untouched
    assert t.read().count() == total
    assert set(t.committed()) == {f"ck-{i}" for i in range(8)}
    assert t.append(src.limit(5), checkpoint_key="ck-2") == head  # no-op
    # history walks only retained versions, fsck sees a legal prefix gap
    assert [r["version"] for r in t.history()] == [head - 2, head - 1, head]
    assert [i for i in t.fsck() if i["kind"] == "broken-chain"] == []


def test_expire_always_retains_current(spark, sf_dir, tmp_path):
    src = _src(spark, sf_dir)
    t = LakeTable.create(spark, str(tmp_path / "t1"), src.schema, PartitionSpec())
    t.append(src)
    head = t.current_version()
    t.expire_snapshots(retain_last=1)
    assert _versions_on_disk(t) == [head]
    assert t.read().count() == src.count()


def test_rollback_below_floor_raises(spark, sf_dir, tmp_path):
    src = _src(spark, sf_dir)
    t = LakeTable.create(spark, str(tmp_path / "t2"), src.schema, PartitionSpec())
    for i in range(4):
        t.append(src.filter(F.col("event_id") % 4 == i))
    t.expire_snapshots(retain_last=2)
    with pytest.raises(FileNotFoundError):
        t.rollback(1)


def test_middle_gap_still_flagged_as_broken_chain(spark, sf_dir, tmp_path):
    src = _src(spark, sf_dir)
    t = LakeTable.create(spark, str(tmp_path / "t3"), src.schema, PartitionSpec())
    for i in range(4):
        t.append(src.filter(F.col("event_id") % 4 == i))
    head = t.current_version()
    # corruption, not expiry: a version vanishes from the MIDDLE
    os.remove(os.path.join(t.path, "_lake", f"v{head - 1:09d}.json"))
    kinds = [i for i in t.fsck() if i["kind"] == "broken-chain"]
    assert kinds and kinds[0]["version"] == head


def test_expiry_plus_vacuum_reclaims_stale_segments(spark, sf_dir, tmp_path, monkeypatch):
    """Segments only expired manifests referenced become vacuum candidates;
    segments any retained manifest still references survive."""
    src = _src(spark, sf_dir)
    monkeypatch.setattr(fmt, "_AUTO_SEGMENT_FILES", 0)  # segment from file one
    t = LakeTable.create(spark, str(tmp_path / "t4"), src.schema, PartitionSpec())
    for i in range(4):
        t.append(src.filter(F.col("event_id") % 4 == i), stat_cols=["event_id"])
    t.compact(target_file_bytes=1 << 30)  # head now references ONE new segment
    segs_dir = os.path.join(t.path, "_lake", "segs")
    n_before = len(os.listdir(segs_dir))
    # without expiry, vacuum keeps everything (old manifests still reference)
    t.vacuum()
    assert len(os.listdir(segs_dir)) == n_before
    t.expire_snapshots(retain_last=1)
    t.vacuum()
    left = os.listdir(segs_dir)
    assert len(left) < n_before
    # what the head references is exactly what survived
    with open(os.path.join(t.path, "_lake", f"v{t.current_version():09d}.json")) as fh:
        raw = json.load(fh)
    needed = {
        os.path.basename(r["path"])
        for sec in ("file_segments", "committed_segments")
        for r in raw.get(sec) or []
    }
    assert needed <= set(left)
    assert t.read().count() == src.count()


def test_vacuum_retention_window(spark, sf_dir, tmp_path):
    """vacuum(retain_last=N) keeps files the newest N snapshots reference,
    so a rollback inside the window still works after cleanup."""
    src = _src(spark, sf_dir)
    t = LakeTable.create(spark, str(tmp_path / "t5"), src.schema, PartitionSpec())
    t.append(src.filter("event_id % 2 = 0"))
    v1 = t.current_version()
    t.overwrite(src.filter("event_id % 2 = 1"))  # v1's files now unreferenced
    n1 = src.filter("event_id % 2 = 0").count()
    assert t.vacuum(retain_last=2) == 0  # window covers v1 → nothing removed
    assert t.read(v1).count() == n1
    t.rollback(v1)  # still possible inside the window
    t.rollback(t.current_version() - 1)  # forward again (files retained)
    assert t.vacuum(retain_last=1) > 0  # aggressive: v1-only files go
    assert t.read().count() == src.filter("event_id % 2 = 1").count()


def test_properties_cli_roundtrip(spark, sf_dir, tmp_path):
    from airbyte_spark import cli

    src = _src(spark, sf_dir)
    t = LakeTable.create(spark, str(tmp_path / "t6"), src.schema, PartitionSpec())
    args = cli._parser().parse_args(
        ["properties", "--target", t.path, "--set", "bloom.key=event_id"]
    )
    out = cli.run(spark, args)
    assert out["properties"]["bloom.key"] == "event_id"
    t.append(src.limit(20))
    assert all("bloom" in e.stats["event_id"] for e in t.files())  # property took effect
    args = cli._parser().parse_args(
        ["properties", "--target", t.path, "--unset", "bloom.key"]
    )
    assert "bloom.key" not in cli.run(spark, args)["properties"]


def test_pipeline_auto_expire_bounds_metadata(spark, sf_dir, tmp_path):
    """A long-running ingest with auto_expire_keep bounds its own manifest
    chain while preserving final state, exactly-once resume, and the
    committed-key guard."""
    from airbyte_spark.sources.changelog import derive_changelog
    from airbyte_spark.streaming.pipeline import CdcPipeline

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = events.count()
    changelog = derive_changelog(events, batch_span=max(1, (n + 9) // 10)).cache()

    ref = CdcPipeline.create_target(spark, str(tmp_path / "ref"), n_buckets=4)
    ref.replay(changelog)

    pipe = CdcPipeline.create_target(spark, str(tmp_path / "auto"), n_buckets=4)
    pipe.auto_expire_keep = 3
    # one commit per checkpoint so the chain would grow ~10 deep without expiry
    pipe.replay(changelog, group_size=1)
    assert len(_versions_on_disk(pipe.table)) <= 2 * 3 + 1
    a = pipe.final_state().orderBy("url").collect()
    b = ref.final_state().orderBy("url").collect()
    assert a == b
    # exactly-once survives expiry: the committed set rides the head
    v = pipe.table.current_version()
    pipe2 = CdcPipeline.create_target(spark, str(tmp_path / "auto"), n_buckets=4)
    pipe2.replay(changelog, group_size=1)
    assert pipe2.table.current_version() == v


def test_vacuum_grace_period_protects_young_files(spark, sf_dir, tmp_path, monkeypatch):
    """grace_s shields just-written (possibly mid-commit) files from the
    orphan sweep — the window between a writer staging files/segments and
    its head publish."""
    src = _src(spark, sf_dir)
    monkeypatch.setattr(fmt, "_AUTO_SEGMENT_FILES", 0)  # segment from file one
    t = LakeTable.create(spark, str(tmp_path / "t7"), src.schema, PartitionSpec())
    t.append(src)
    # plant fresh debris shaped like an in-flight commit: an unreferenced
    # data file and an unreferenced segment
    import shutil

    seg = os.path.join(t.path, "_lake", "segs", "seg-inflight.json")
    with open(seg, "w") as fh:
        json.dump({"entries": []}, fh)
    data = next(
        os.path.join(r, n)
        for r, _, ns in os.walk(os.path.join(t.path, "data"))
        for n in ns
        if n.endswith(".parquet")
    )
    orphan = os.path.join(os.path.dirname(data), "inflight.parquet")
    shutil.copyfile(data, orphan)
    assert t.vacuum(grace_s=3600) == 0  # young debris survives
    assert os.path.exists(seg) and os.path.exists(orphan)
    assert t.vacuum(grace_s=0) >= 2  # quiesced sweep reclaims it
    assert not os.path.exists(seg) and not os.path.exists(orphan)
    assert t.read().count() == src.count()
