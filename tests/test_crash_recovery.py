"""Crash-shaped failure tests: staged-but-uncommitted files are invisible
and vacuumable; checkpoint regrouping during catch-up converges; a merge
racing a concurrent commit does not corrupt the manifest chain."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from airbyte_spark.sources.changelog import read_changelog
from airbyte_spark.streaming.pipeline import CdcPipeline

BATCH_SPAN = 200


def final_tuples(pipe):
    return sorted(
        (r["url"], r["warc_ts"], r["_ab_cdc_lsn"])
        for r in pipe.final_state().select("url", "warc_ts", "_ab_cdc_lsn").collect()
    )


def test_staged_without_commit_is_invisible_and_vacuumed(spark, sf_dir, tmp_path):
    """Simulate a crash between data-file write and manifest commit: the
    orphaned files must not be readable (snapshot isolation) and vacuum
    must remove them."""
    pipe = CdcPipeline.create_target(spark, str(tmp_path / "t"), n_buckets=4)
    ch = read_changelog(spark, sf_dir, batch_span=BATCH_SPAN)
    pipe.apply_batch(ch.filter(F.col("checkpoint_id") == 0), "ckpt-0")
    before = final_tuples(pipe)
    v = pipe.table.current_version()

    # stage (crash before commit)
    staged = pipe.table._stage_write(
        ch.filter(F.col("checkpoint_id") == 1).limit(50), stat_cols=["url"], one_file_per_partition=False
    )
    assert staged
    assert pipe.table.current_version() == v
    assert final_tuples(pipe) == before  # snapshot unchanged

    removed = pipe.table.vacuum()
    assert removed >= len(staged)
    for e in staged:
        assert not os.path.exists(os.path.join(pipe.table.path, e.path))
    # live data intact after vacuum
    assert final_tuples(pipe) == before


def test_catchup_grouping_converges(spark, sf_dir, tmp_path):
    """Replay per-checkpoint vs grouped-by-3 vs partially-committed-then-
    regrouped: identical final state (redelivery convergence)."""
    ch = read_changelog(spark, sf_dir, batch_span=BATCH_SPAN)

    a = CdcPipeline.create_target(spark, str(tmp_path / "a"), n_buckets=4)
    a.replay(ch)

    b = CdcPipeline.create_target(spark, str(tmp_path / "b"), n_buckets=4)
    b.replay(ch, group_size=3)

    # crash after the first two per-checkpoint commits, then catch up grouped:
    # group keys differ from committed keys → segments 0-1 are re-applied
    # inside the first group; convergence must absorb that.
    c = CdcPipeline.create_target(spark, str(tmp_path / "c"), n_buckets=4)
    for cid in (0, 1):
        c.apply_batch(ch.filter(F.col("checkpoint_id") == cid), f"ckpt-{cid}")
    c.replay(ch, group_size=4)

    fa, fb, fc = final_tuples(a), final_tuples(b), final_tuples(c)
    assert fa == fb == fc and len(fa) > 0


def test_concurrent_commit_conflict_resolves(spark, sf_dir, tmp_path):
    """Two writers committing concurrently: O_EXCL manifest creation forces
    one to re-version on top of the other; both commits land, no data lost
    (optimistic concurrency)."""
    pipe = CdcPipeline.create_target(spark, str(tmp_path / "t"), n_buckets=4)
    ch = read_changelog(spark, sf_dir, batch_span=BATCH_SPAN)
    pipe.apply_batch(ch.filter(F.col("checkpoint_id") == 0), "ckpt-0")

    t = pipe.table
    e1 = t._stage_write(
        ch.filter(F.col("checkpoint_id") == 1), stat_cols=["url"], one_file_per_partition=False
    )
    e2 = t._stage_write(
        ch.filter(F.col("checkpoint_id") == 2), stat_cols=["url"], one_file_per_partition=False
    )
    # interleave: both built against version v; commit 1 wins v+1, commit 2
    # retries on top and lands v+2 with both file sets visible
    v = t.current_version()
    t.commit(e1, operation="append", checkpoint_key="cc-1")
    t.commit(e2, operation="append", checkpoint_key="cc-2")
    assert t.current_version() == v + 2
    paths = {f.path for f in t.files()}
    assert {e.path for e in e1} <= paths and {e.path for e in e2} <= paths
    assert set(t.committed()) >= {"cc-1", "cc-2"}


def test_torn_manifest_publish_leaves_previous_version(spark, tmp_path, monkeypatch):
    """A crash partway through writing a manifest (json.dump dies after
    half the document) must leave the table at its previous version: the
    torn version never lists, so the committed set, reads and fsck keep
    working, and no temp file is left behind."""
    import json

    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    t = LakeTable.create(spark, str(tmp_path / "t"), df.schema, PartitionSpec())
    t.append(df, checkpoint_key="c1")
    v = t.current_version()
    staged = t._stage_write(
        spark.createDataFrame([(3, "c")], df.schema), [], one_file_per_partition=False
    )

    def torn_dump(obj, fh, *args, **kwargs):
        text = json.dumps(obj)
        fh.write(text[: len(text) // 2])
        fh.flush()
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        t.commit(staged, checkpoint_key="c2")
    monkeypatch.undo()

    assert t.current_version() == v
    assert not os.path.exists(t._manifest_path(v + 1))
    assert not [f for f in os.listdir(t._meta_dir()) if not f.startswith("v")]
    assert set(t.committed()) == {"c1"}
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2]
    # the staged file of the failed commit is the only debris
    assert [i["kind"] for i in t.fsck()] == ["orphan-file"]
