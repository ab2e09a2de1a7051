"""Manifest optimistic-concurrency: the true lost-update interleaving.

Both writers read the manifest BEFORE either writes (the dangerous schedule
the per-writer-sequential test can't produce). The loser's retry must
re-read the winner's manifest and re-apply only its own delta — rewriting
its stale snapshot would silently drop the winner's files/committed keys.
Also pins: CommitConflict on overlapping file removal (a concurrent commit
rewrote this merge's input files → metadata retry is NOT safe), and
regrouped replay after tombstone expiry must not resurrect deleted keys.
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from airbyte_spark.lake.format import CommitConflict, LakeTable, PartitionSpec

SCHEMA = StructType(
    [StructField("k", StringType(), False), StructField("v", LongType(), True)]
)


def _stage(t, spark, rows):
    return t._stage_write(
        spark.createDataFrame(rows, SCHEMA), stat_cols=["k"], one_file_per_partition=False
    )


def _rows(t):
    return {r["k"]: r for r in t.read().collect()}


# operation under test -> (run it on the loser's handle, check its effect on
# the final table). Each runs against a table holding ("z", 0) under key
# "base"; the loser's first publish attempt loses to the racer's commit.
CASES = {
    "commit": (
        lambda t, spark: t.commit(
            _stage(t, spark, [("a", 1)]), operation="append", checkpoint_key="w1"
        ),
        lambda t: "w1" in t.committed() and _rows(t)["a"]["v"] == 1,
    ),
    "rollback": (
        lambda t, spark: t.rollback(1),
        lambda t: t.files() == [] and t.committed() == {},
    ),
    "add_constraint": (
        lambda t, spark: t.add_constraint("pos", "v >= 0"),
        lambda t: t.constraints() == {"pos": "v >= 0"},
    ),
    "evolve_schema": (
        lambda t, spark: t.evolve_schema(
            StructType([*SCHEMA.fields, StructField("extra", LongType(), True)])
        ),
        lambda t: t.schema().fieldNames() == ["k", "v", "extra"],
    ),
    "add_column": (
        lambda t, spark: t.add_column("extra", "bigint", default=7),
        lambda t: {r["extra"] for r in _rows(t).values()} == {7},
    ),
    "rename_column": (
        lambda t, spark: t.rename_column("v", "score"),
        lambda t: {k: r["score"] for k, r in _rows(t).items()} == {"z": 0, "b": 2},
    ),
    "drop_column": (
        lambda t, spark: t.drop_column("v"),
        lambda t: t.schema().fieldNames() == ["k"],
    ),
    "cluster": (
        lambda t, spark: t.cluster(["k"]),
        lambda t: t.properties().get("sort.order") == "k",
    ),
}


@pytest.mark.parametrize("op", list(CASES))
def test_lost_update_interleaving(spark, tmp_path, monkeypatch, op):
    """writer1 and writer2 both read version v; writer2 publishes v+1 while
    writer1 is mid-commit; writer1's retry must re-read and re-apply only
    its own change, preserving writer2's files AND committed key (red on
    the old stale-rewrite retry path). Every caller of the one publish
    loop is covered; cluster races a metadata-only commit, since a data
    commit would (rightly) make its full rewrite conflict. A rollback
    reverts the racer's changes by design, so for it the racer's commit
    must survive as the restored head's parent, readable by time travel."""
    run, effect = CASES[op]
    t1 = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, PartitionSpec())
    t1.commit(_stage(t1, spark, [("z", 0)]), operation="append", checkpoint_key="base")
    t2 = LakeTable(spark, str(tmp_path / "t"))
    e2 = [] if op == "cluster" else _stage(t2, spark, [("b", 2)])
    v0 = t1.current_version()

    orig = LakeTable._write_manifest
    state = {"injected": False}

    def racy(self, manifest):
        # first publish attempt of writer1: writer2 sneaks in a full
        # read-modify-write cycle first → writer1's target version is taken
        if not state["injected"]:
            state["injected"] = True
            t2.commit(e2, operation="append", checkpoint_key="w2")
        return orig(self, manifest)

    monkeypatch.setattr(LakeTable, "_write_manifest", racy)
    run(t1, spark)
    monkeypatch.setattr(LakeTable, "_write_manifest", orig)

    assert state["injected"]
    m = t1.manifest()
    assert m["version"] == v0 + 2  # racer took v0+1, the loser retried onto v0+2
    assert m["parent"] == v0 + 1
    assert effect(t1), "loser's own change missing"
    racer_m = t1.manifest(v0 + 1) if op == "rollback" else m
    assert "w2" in racer_m["committed"], "winner's committed key dropped"
    assert {e.path for e in e2} <= {f["path"] for f in racer_m["files"]}, (
        "winner's files dropped (lost update)"
    )


def test_conflicting_file_removal_raises(spark, tmp_path):
    """Two commits that both remove (rewrite) the same data file: the loser
    merged against a snapshot that no longer exists — it must fail loudly
    (≡ Iceberg validation on concurrently-deleted data files), not retry."""
    t1 = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, PartitionSpec())
    t1.commit(_stage(t1, spark, [("a", 1)]), operation="append")
    victim = {f.path for f in t1.files()}
    t2 = LakeTable(spark, str(tmp_path / "t"))

    r1 = _stage(t1, spark, [("a", 2)])
    r2 = _stage(t2, spark, [("a", 3)])
    t1.commit(r1, removed_paths=victim, operation="merge")
    with pytest.raises(CommitConflict):
        t2.commit(r2, removed_paths=victim, operation="merge")


def test_regrouped_replay_cannot_resurrect_expired_tombstone(spark, sf_dir, tmp_path):
    """Per-segment committed keys: after expire_tombstones, a re-run with a
    different group size must skip the already-applied segments instead of
    re-applying them under a new group label (which would re-insert keys
    whose tombstones were just GC'd)."""
    from airbyte_spark.sources.changelog import read_changelog
    from airbyte_spark.streaming.pipeline import CdcPipeline

    ch = read_changelog(spark, sf_dir, batch_span=200)
    pipe = CdcPipeline.create_target(spark, str(tmp_path / "t"), n_buckets=4)
    pipe.replay(ch, group_size=1)
    deleted_urls = {
        r["url"]
        for r in pipe.raw_state().filter(F.col("_ab_cdc_deleted_at").isNotNull()).collect()
    }
    assert deleted_urls, "fixture must contain tombstoned keys"
    before = sorted(r["url"] for r in pipe.final_state().select("url").collect())

    pipe.expire_tombstones(dt.datetime(2100, 1, 1))  # GC every tombstone
    # catch-up re-run with a different grouping: everything already committed
    results = pipe.replay(ch, group_size=4)
    assert all(r.skipped for r in results)
    after = sorted(r["url"] for r in pipe.final_state().select("url").collect())
    assert after == before
    assert not deleted_urls & set(after)
