"""The winner planner (lake/merge.plan_batch) and its grouped-commit rule.

A replay plans its whole backlog once, per (segment, key), and
BatchPlan.combine turns any chunk of segments into the plan of one grouped
commit without a Spark job. These tests pin that the combined plan equals
plan_batch over the union of the chunk's segments (bounds, winner keys,
rows_in, max_lsn and the winners themselves; the winner count may only be
an upper bound), including a NULL-key bucket and a Bloom key-cap overflow,
and that text extraction runs once per slimmed batch row."""

from __future__ import annotations

import datetime as dt
import random
from collections import Counter

import pandas as pd
import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import StringType, StructField, StructType

import airbyte_spark.lake.merge as merge
from airbyte_spark.lake.format import LakeTable, PartitionSpec
from airbyte_spark.lake.merge import merge_upsert, plan_batch
from airbyte_spark.schema import CHANGE_SCHEMA
from airbyte_spark.streaming.pipeline import CdcPipeline, default_target_schema

T = dt.datetime(2024, 1, 1)
# the change schema with a nullable key, to carry NULL-key events
NULLABLE = StructType([StructField(f.name, f.dataType, True) for f in CHANGE_SCHEMA])


def ev(url, lsn, ckpt, deleted=False, minute=None):
    ts = T + dt.timedelta(minutes=lsn if minute is None else minute)
    html = None if deleted else f"<p>{url} v{lsn}</p>".encode()
    return (url, ts, html, None, "en", ts, ts if deleted else None, lsn, ts, ckpt)


def seeded_segments(seed: int, n_segs: int = 4, per_seg: int = 30, n_urls: int = 25):
    """Events over a small url set, with cursor ties, late events and
    tombstones, so winners differ from the last event per key."""
    rng = random.Random(seed)
    rows, lsn = [], 0
    for seg in range(n_segs):
        for _ in range(per_seg):
            lsn += 1
            rows.append(
                ev(
                    f"u://k{rng.randrange(n_urls)}",
                    lsn,
                    seg,
                    deleted=rng.random() < 0.15,
                    minute=rng.randrange(40),
                )
            )
    return rows


def key_sets(plan):
    if plan.winner_keys is None:
        return None
    return {b: None if v is None else set(v) for b, v in plan.winner_keys.items()}


def assert_equals_union(plan, chunk, table, changelog, cfg):
    combined = plan.combine(chunk, cfg)
    union = plan_batch(table, changelog.filter(F.col("checkpoint_id").isin(chunk)), cfg)
    try:
        assert combined.bounds == union.bounds
        assert key_sets(combined) == key_sets(union)
        assert (combined.rows_in, combined.max_lsn) == (union.rows_in, union.max_lsn)
        assert combined.n_winners >= union.n_winners
        cols = [*cfg.primary_key, cfg.order_tiebreakers[-1]]
        assert Counter(combined.winners.collect()) == Counter(
            union.winners.select(*cols).collect()
        )
    finally:
        union.winners.unpersist()
    return combined


def bloomed_pipe(spark, path, n_buckets):
    """A CoW target that already carries key Bloom sidecars, so plans
    collect winner keys."""
    pipe = CdcPipeline.create_target(spark, path, n_buckets=n_buckets)
    base = [ev(f"u://k{i}", -100 + i, -1, minute=0) for i in range(25)]
    pipe.apply_batch(spark.createDataFrame(base, CHANGE_SCHEMA), "base")
    return pipe


def test_combined_plan_equals_union_plan(spark, tmp_path):
    pipe = bloomed_pipe(spark, str(tmp_path / "t"), n_buckets=4)
    changelog = spark.createDataFrame(seeded_segments(11), CHANGE_SCHEMA)
    plan = plan_batch(pipe.table, changelog, pipe.cfg, segment_col="checkpoint_id")
    try:
        assert sorted(plan.segments) == [0, 1, 2, 3]
        assert plan.rows_in == 120
        for chunk in ([2], [0, 1], [1, 2, 3], [0, 1, 2, 3]):
            combined = assert_equals_union(plan, chunk, pipe.table, changelog, pipe.cfg)
            assert combined.winner_keys is not None  # bloom'd table, under the cap
    finally:
        plan.winners.unpersist()


def test_null_key_in_one_segment_opens_the_bucket(spark, tmp_path):
    # one bucket: the NULL key and the concrete keys share it
    pipe = bloomed_pipe(spark, str(tmp_path / "t"), n_buckets=1)
    rows = [ev(None, 1, 0), ev("u://k3", 2, 0)] + [ev(f"u://k{i}", 10 + i, 1) for i in range(4)]
    changelog = spark.createDataFrame(rows, NULLABLE)
    plan = plan_batch(pipe.table, changelog, pipe.cfg, segment_col="checkpoint_id")
    try:
        concrete = assert_equals_union(plan, [1], pipe.table, changelog, pipe.cfg)
        assert concrete.bounds == {0: ("u://k0", "u://k3")}
        assert key_sets(concrete) == {0: {f"u://k{i}" for i in range(4)}}
        both = assert_equals_union(plan, [0, 1], pipe.table, changelog, pipe.cfg)
        assert both.bounds == {0: (None, None)}  # open: no range pruning
        assert both.winner_keys == {0: None}  # unprunable: no Bloom probe
    finally:
        plan.winners.unpersist()


def test_key_cap_overflow_disables_bloom_keys_not_correctness(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(merge, "BLOOM_PRUNE_KEY_MAX", 3)
    rows = seeded_segments(5, n_segs=4, per_seg=3, n_urls=25)
    changelog = spark.createDataFrame(rows, CHANGE_SCHEMA)

    pipe = bloomed_pipe(spark, str(tmp_path / "bloom"), n_buckets=2)
    plan = plan_batch(pipe.table, changelog, pipe.cfg, segment_col="checkpoint_id")
    try:
        assert key_sets(plan) is None  # 12 events, more than 3 distinct keys
        one = assert_equals_union(plan, [0], pipe.table, changelog, pipe.cfg)
        assert one.winner_keys is not None  # ≤ 3 keys: still prunable
        assert assert_equals_union(plan, [0, 1, 2], pipe.table, changelog, pipe.cfg).winner_keys is None
    finally:
        plan.winners.unpersist()

    # the same base and backlog on a table with no Bloom sidecars
    bare = LakeTable.create(
        spark, str(tmp_path / "bare"), default_target_schema(), PartitionSpec.bucket("url", 2)
    )
    unpruned = CdcPipeline(table=bare, cfg=pipe.cfg)
    base = [ev(f"u://k{i}", -100 + i, -1, minute=0) for i in range(25)]
    unpruned.apply_batch(spark.createDataFrame(base, CHANGE_SCHEMA), "base")

    for p in (pipe, unpruned):
        p.replay(changelog, group_size=2)
    got = sorted(map(tuple, pipe.final_state().collect()))
    want = sorted(map(tuple, unpruned.final_state().collect()))
    assert got == want and got


def test_extraction_runs_once_per_slimmed_batch_row(spark, tmp_path):
    """A CoW merge rewrites the carried-over rows of every candidate file;
    the extraction UDF must see only the slimmed batch (one row per key's
    winning event), not candidate rows plus batch rows."""
    from pyspark.sql.functions import pandas_udf

    from airbyte_spark.functions.extract import _extract_one

    pipe = CdcPipeline.create_target(spark, str(tmp_path / "t"), n_buckets=1)
    base = [ev(f"u://k{i}", i, 0) for i in range(20)]
    pipe.apply_batch(spark.createDataFrame(base, CHANGE_SCHEMA), "c0")

    seen = spark.sparkContext.accumulator(0)

    @pandas_udf(StringType())
    def counted_extract(html: pd.Series) -> pd.Series:
        seen.add(len(html))
        return html.map(_extract_one)

    def finalize(df):
        live = F.col("html").isNotNull() & F.col("_ab_cdc_deleted_at").isNull()
        return df.withColumn(
            "text", F.when(live, counted_extract(F.col("html"))).otherwise(F.col("text"))
        )

    # 5 events over 4 keys: two updates of k1, an update of k2, a tombstone
    # of k3 and a late event of k4 that loses to the stored row
    batch_rows = [
        ev("u://k1", 100, 1),
        ev("u://k1", 101, 1),
        ev("u://k2", 102, 1),
        ev("u://k3", 103, 1, deleted=True),
        ev("u://k4", 104, 1, minute=-5),
    ]
    batch = spark.createDataFrame(batch_rows, CHANGE_SCHEMA)
    stats = merge_upsert(pipe.table, batch, pipe.cfg, checkpoint_key="c1", finalize=finalize)
    assert stats.candidate_files == 1 and stats.rows_in == 5

    assert seen.value == 4  # k1, k2, k3, k4 winners — not 20 stored + 4
    text = {r["url"]: r["text"] for r in pipe.final_state().collect()}
    assert text["u://k1"] == "u://k1 v101" and text["u://k2"] == "u://k2 v102"
    assert text["u://k4"] == "u://k4 v4"  # the late event lost: stored text kept
    assert "u://k3" not in text and len(text) == 19


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_replay_plans_once_and_commits_each_chunk(spark, tmp_path, write_mode):
    """replay's one planning pass drives every grouped commit: metrics per
    commit come from the combined plan and the state matches a per-segment
    apply of the same events."""
    rows = seeded_segments(3)
    changelog = spark.createDataFrame(rows, CHANGE_SCHEMA)
    grouped = CdcPipeline.create_target(spark, str(tmp_path / "g"), write_mode=write_mode)
    results = grouped.replay(changelog, group_size=3)
    assert [r.checkpoint_key for r in results] == ["ckpt-0..ckpt-2", "ckpt-3"]
    assert [r.rows_in for r in results] == [90, 30]
    assert [r.max_lsn for r in results] == [90, 120]

    single = CdcPipeline.create_target(spark, str(tmp_path / "s"), write_mode=write_mode)
    for seg in range(4):
        single.apply_batch(changelog.filter(F.col("checkpoint_id") == seg), f"ckpt-{seg}")
    assert sorted(map(tuple, grouped.final_state().collect())) == sorted(
        map(tuple, single.final_state().collect())
    )
