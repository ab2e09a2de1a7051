"""Lake consistency audit (LakeTable.fsck)."""

import json
import os

from airbyte_spark.lake.format import LakeTable, PartitionSpec


def _t(spark, tmp_path, props=None):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    t = LakeTable.create(
        spark, str(tmp_path / "t"), df.schema, PartitionSpec(), properties=props or {}
    )
    t.append(df, checkpoint_key="c1", stat_cols=["id"])
    return t


def test_healthy_table_has_no_issues(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.append(
        spark.createDataFrame([(3, "c")], "id bigint, v string"),
        checkpoint_key="c2",
        stat_cols=["id"],
    )
    assert t.fsck() == []


def test_missing_and_torn_files_detected(spark, tmp_path):
    t = _t(spark, tmp_path)
    files = t.files()
    victim = os.path.join(t.path, files[0].path)
    os.truncate(victim, 10)
    kinds = {i["kind"] for i in t.fsck()}
    assert "size-mismatch" in kinds
    os.remove(victim)
    kinds = {i["kind"] for i in t.fsck()}
    assert "missing-file" in kinds


def test_orphan_files_reported_not_fatal(spark, tmp_path):
    t = _t(spark, tmp_path)
    stray = os.path.join(t.path, "data", "stray.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"not really parquet")
    issues = t.fsck()
    assert [i["kind"] for i in issues] == ["orphan-file"]
    # vacuum reclaims it and fsck goes clean
    t.vacuum()
    assert t.fsck() == []


def test_old_snapshot_files_are_not_orphans(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.overwrite(spark.createDataFrame([(9, "z")], "id bigint, v string"))
    # the replaced files are still referenced by the retained v1 manifest
    assert t.fsck() == []


def test_bad_stats_and_missing_bloom_detected(spark, tmp_path):
    t = _t(spark, tmp_path, props={"bloom.key": "id"})
    # blooms written: removing the sidecar must be flagged
    e = t.files()[0]
    side = os.path.join(t.path, e.path) + ".bloom"
    assert os.path.exists(side)
    os.remove(side)
    kinds = {i["kind"] for i in t.fsck()}
    assert "missing-bloom" in kinds
    # corrupt a min/max pair in the manifest directly
    mp = t._manifest_path(t.current_version())
    with open(mp) as fh:
        m = json.load(fh)
    col_stats = m["files"][0]["stats"]["id"]
    col_stats["min"], col_stats["max"] = 99, 1
    with open(mp, "w") as fh:
        json.dump(m, fh)
    kinds = {i["kind"] for i in t.fsck()}
    assert "bad-stats" in kinds


def test_missing_segment_in_retained_nonhead_manifest_detected(
    spark, tmp_path, monkeypatch
):
    """A vanished segment referenced only by an OLDER retained manifest is
    metadata corruption for time travel — fsck must surface it (not skip
    leniently), and must suppress the orphan-file survey while the
    referenced set is incomplete (live files would read as orphans)."""
    from airbyte_spark.lake import format as fmt

    monkeypatch.setattr(fmt, "_AUTO_SEGMENT_FILES", 0)  # segment from file one
    t = _t(spark, tmp_path)
    for i in range(3):
        t.append(
            spark.createDataFrame([(10 + i, "x")], "id bigint, v string"),
            checkpoint_key=f"seg-{i}",
        )
    # rewrite everything so the head stops referencing the early segments
    t.overwrite(spark.createDataFrame([(99, "z")], "id bigint, v string"))
    head_raw_path = t._manifest_path(t.current_version())
    with open(head_raw_path) as fh:
        head_raw = json.load(fh)
    head_segs = {r["path"] for r in head_raw.get("file_segments") or []}
    old_only = None
    for v in range(1, t.current_version()):
        mp = t._manifest_path(v)
        if not os.path.exists(mp):
            continue
        with open(mp) as fh:
            raw = json.load(fh)
        for r in raw.get("file_segments") or []:
            if r["path"] not in head_segs:
                old_only = (v, r["path"])
    assert old_only, "fixture must produce a segment referenced only by history"
    v_ref, seg = old_only
    os.remove(os.path.join(t.path, seg))
    issues = t.fsck()
    missing = [i for i in issues if i["kind"] == "missing-segment"]
    assert any(i["path"] == seg and i.get("version") == v_ref for i in missing)
    # live data files must NOT be misclassified as orphans off the
    # incomplete referenced set
    assert all(i["kind"] != "orphan-file" for i in issues)


def test_tag_on_empty_table_raises_cleanly(spark, tmp_path):
    import pytest

    from airbyte_spark.lake.format import LakeTable

    # a table handle over a path with no committed manifest at all
    # (current_version() is None) must raise cleanly, not TypeError
    t = LakeTable(spark, str(tmp_path / "never_created"))
    with pytest.raises(FileNotFoundError, match="no snapshot to tag"):
        t.tag("release")
