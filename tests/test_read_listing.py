"""Manifest reads build their relations without Spark jobs.

The manifest already names every live file, so a read hands Spark known
leaf files (lake/format.scan_files): Spark lists them on the driver
instead of in a distributed job with one task per path, and the session's
listing threshold is back at its old value after every read. A merge-on-
read resolve and an empty-file read build no Python RDD either."""

from __future__ import annotations

import ast
import datetime as dt
import os
import sys
import threading
import uuid
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from airbyte_spark.lake.merge import resolve_stored
from airbyte_spark.lake.table_format import scan_files
from airbyte_spark.streaming.pipeline import CdcPipeline

from tests.test_mor import FINAL_COLS, T, batch, ev

LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
N_URLS = 160
N_BUCKETS = 16


def _events(k: int) -> list:
    """Append k rewrites every url; the last one deletes every tenth."""
    rows = []
    for i in range(N_URLS):
        lsn = k * 1000 + i
        deleted = T if k == 2 and i % 10 == 0 else None
        rows.append(ev(f"u://{i}", lsn, k, text=f"v{k}-{i}", deleted=deleted))
    return rows


@pytest.fixture(scope="module")
def mor_pipe(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("listing") / "pages")
    pipe = CdcPipeline.create_target(spark, path, n_buckets=N_BUCKETS, write_mode="mor")
    for k in range(3):
        pipe.apply_batch(batch(spark, _events(k)), f"c{k}")
    return pipe


def _jobs_while(spark, build):
    """(result of build(), ids of the Spark jobs it launched)."""
    sc = spark.sparkContext
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty
    drain()
    group = f"listing-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    drain()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_mor_read_and_resolve_launch_no_jobs(mor_pipe, spark):
    t, cfg = mor_pipe.table, mor_pipe.cfg
    files = t.files()
    assert len(files) >= 3 * N_BUCKETS
    (stored, resolved), jobs = _jobs_while(
        spark, lambda: (t.read(), resolve_stored(t, cfg))
    )
    assert jobs == [], f"building the reads launched Spark jobs {jobs}"

    # stored rows: exactly the live files' rows, as a multiset
    want = Counter()
    for e in files:
        tbl = pq.read_table(os.path.join(t.path, e.path), columns=FINAL_COLS)
        want.update(zip(*(tbl[c].to_pylist() for c in FINAL_COLS)))
    assert Counter(tuple(r) for r in stored.select(*FINAL_COLS).collect()) == want

    # resolved rows: the last rewrite per url, tombstones kept as soft deletes
    got = {r["url"]: r for r in resolved.collect()}
    assert len(got) == N_URLS
    for i in range(N_URLS):
        r = got[f"u://{i}"]
        assert (r["_ab_cdc_lsn"], r["text"]) == (2000 + i, f"v2-{i}")
        assert (r["_ab_cdc_deleted_at"] is not None) == (i % 10 == 0)
    active = mor_pipe.final_state().select(*FINAL_COLS).collect()
    assert sorted(tuple(r) for r in active) == sorted(
        (f"u://{i}", T + dt.timedelta(minutes=2000 + i), f"v2-{i}", "en", 2000 + i)
        for i in range(N_URLS)
        if i % 10
    )


def test_listing_threshold_restored_after_reads(mor_pipe, spark, tmp_path):
    conf = spark.conf
    assert conf.get(LISTING_THRESHOLD, None) is None
    mor_pipe.table.read()
    assert conf.get(LISTING_THRESHOLD, None) is None
    conf.set(LISTING_THRESHOLD, "7")
    try:
        mor_pipe.table.read()
        assert conf.get(LISTING_THRESHOLD, None) == "7"
    finally:
        conf.unset(LISTING_THRESHOLD)

    # a read that fails while Spark lists its files restores it too
    pipe = CdcPipeline.create_target(spark, str(tmp_path / "p"), n_buckets=4, write_mode="mor")
    pipe.apply_batch(batch(spark, _events(0)), "c0")
    os.remove(os.path.join(pipe.table.path, pipe.table.files()[0].path))
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        pipe.table.read()
    assert conf.get(LISTING_THRESHOLD, None) is None


def test_concurrent_reads_leave_listing_threshold_unset(mor_pipe, spark):
    """Readers on more threads than cores, with a short switch interval: a
    reader restoring the value another reader raised would leave the
    session at a raised threshold."""
    t = mor_pipe.table
    paths = [os.path.join(t.path, e.path) for e in t.files()]
    errors: list = []

    def reader(k: int) -> None:
        try:
            for j in range(4):
                scan_files(spark, paths[: 33 + 3 * k + j])
        except Exception as e:  # noqa: BLE001 (reported after join)
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(k,)) for k in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert spark.conf.get(LISTING_THRESHOLD, None) is None


def test_resolve_and_empty_read_scan_no_python_rdd(mor_pipe):
    t = mor_pipe.table
    assert "ExistingRDD" not in _plan(resolve_stored(t, mor_pipe.cfg))
    for with_positions in (False, True):
        empty = t.read(files=[], with_positions=with_positions)
        assert empty.count() == 0
        assert "ExistingRDD" not in _plan(empty)
        want = t.schema().fieldNames() + (["_dv_file", "_dv_pos"] if with_positions else [])
        assert empty.columns == want


def _parquet_reads_outside_helper() -> list[str]:
    """`file:line` of every `.parquet(...)` call under
    airbyte_spark/lake/ that is not a write and not inside scan_files."""
    lake = Path(__file__).resolve().parent.parent / "airbyte_spark" / "lake"
    hits = []
    for path in sorted(lake.glob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed: set[int] = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "scan_files":
                allowed |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
            ):
                continue
            chain, cur = set(), node.func.value
            while isinstance(cur, (ast.Attribute, ast.Call)):
                if isinstance(cur, ast.Attribute):
                    chain.add(cur.attr)
                    cur = cur.value
                else:
                    cur = cur.func
            if isinstance(cur, ast.Name):
                chain.add(cur.id)
            if not chain & {"write", "writeStream"} and id(node) not in allowed:
                hits.append(f"{path.relative_to(lake.parent.parent)}:{node.lineno}")
    return hits


def test_lake_parquet_reads_go_through_scan_files():
    hits = _parquet_reads_outside_helper()
    assert hits == [], (
        "parquet reads outside lake/format.scan_files bring back "
        f"Spark's distributed file listing: {hits}"
    )
