"""SQL-database source (sources/sql.py, ≡ AbstractJdbcSource): discover
from information_schema, partition-parallel full refresh, and
cursor/checkpoint predicates pushed into the database query."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F
import pytest

from airbyte_spark.sources.sql import (
    discover_sql_schema,
    read_sql_table,
    sql_source,
)


@pytest.fixture()
def db(sf_dir, tmp_path):
    path = str(tmp_path / "src.duckdb")
    con = duckdb.connect(path)
    con.execute(
        f"CREATE TABLE events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    con.execute("CREATE TABLE tiny (k INTEGER, v VARCHAR)")
    con.execute("INSERT INTO tiny VALUES (1, 'a'), (2, 'b'), (NULL, 'n')")
    con.close()
    return path


def test_discover_maps_information_schema_to_spark_types(db, sf_dir, spark):
    got = discover_sql_schema(db, "events")
    want = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    assert [f.name for f in got.fields] == [f.name for f in want.fields]
    # parquet-side types survive the SQL round trip (timestamps as NTZ)
    assert {f.name: f.dataType.simpleString() for f in got.fields} == {
        f.name: f.dataType.simpleString() for f in want.fields
    }
    with pytest.raises(ValueError, match="not found"):
        discover_sql_schema(db, "nope")


def test_partitioned_read_equals_source_table(db, sf_dir, spark):
    full = spark.read.parquet(f"{sf_dir}/events.parquet")
    log: list = []
    got = read_sql_table(
        spark, db, "events", partition_column="event_id", num_partitions=4,
        query_log=log,
    )
    assert len(log) == 4 and all("WHERE" in q for q in log)
    assert got.exceptAll(full).count() == 0
    assert full.exceptAll(got).count() == 0
    assert got.rdd.getNumPartitions() == 4


def test_single_partition_and_null_partition_keys(db, spark):
    # no partition column: one task; NULL keys land in the first range
    one = read_sql_table(spark, db, "tiny")
    part = read_sql_table(spark, db, "tiny", partition_column="k", num_partitions=2)
    rows = sorted((r["k"], r["v"]) for r in part.collect() if r["k"] is not None)
    assert rows == [(1, "a"), (2, "b")]
    assert part.filter(F.col("k").isNull()).count() == 1
    assert one.count() == 3 and part.count() == 3


def test_predicates_are_pushed_into_every_query(db, spark):
    log: list = []
    got = read_sql_table(
        spark, db, "events", partition_column="event_id", num_partitions=3,
        predicates=[('"event_id" > ?', 100)], query_log=log,
    )
    assert all('"event_id" > ?' in q for q in log)
    assert got.agg(F.min("event_id")).first()[0] > 100


def test_discover_picks_up_added_column_between_syncs(db, spark):
    """Schema evolution at the source database (≡ the reference's
    per-sync discover: AbstractDbSource re-discovers the catalog each
    sync): a column ALTERed in between syncs appears in the next read's
    schema and rows, NULL-backfilled for pre-existing rows."""
    before = read_sql_table(spark, db, "tiny")
    assert "note" not in before.columns
    con = duckdb.connect(db)
    con.execute("ALTER TABLE tiny ADD COLUMN note VARCHAR")
    con.execute("UPDATE tiny SET note = 'new' WHERE k = 2")
    con.close()
    after = read_sql_table(spark, db, "tiny")
    assert "note" in after.columns
    got = {r["k"]: r["note"] for r in after.collect()}
    assert got[2] == "new" and got[1] is None


def test_sql_source_incremental_ships_only_post_cursor_rows(db, sf_dir, spark):
    """The VERDICT criterion for the SQL source: phase 2 reads ONLY
    post-cursor rows — pinned on the actual SQL issued (the cursor
    predicate lands in the database WHERE) and on the values."""
    log: list = []
    src = sql_source(
        db, "events",
        column_map={
            "url": "concat('https://e/', cast(event_id as string))",
            "warc_ts": "ts",
            "_ab_cdc_lsn": "event_id",
        },
        cursor_field="ts", lsn_field="event_id",
        partition_column="event_id", num_partitions=4, batch_span=500,
        query_log=log,
    )
    full = src(spark, {})
    assert not any("?" in q for q in log)  # no state → no pushed predicate
    lo, hi = full.agg(F.min("checkpoint_id"), F.max("checkpoint_id")).first()
    mid = (lo + hi) // 2 + 1

    log.clear()
    resumed = src(spark, {"from_checkpoint": int(mid)})
    want = full.filter(F.col("checkpoint_id") >= mid)
    assert resumed.exceptAll(want).count() == 0
    assert want.exceptAll(resumed).count() == 0
    assert all('"event_id" >= ?' in q for q in log), log

    # strict cursor_value pushdown (AbstractJdbcSource's `cursor > ?`)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cut = ev.orderBy("ts").limit(ev.count() // 2).agg(F.max("ts")).first()[0]
    log.clear()
    inc = src(spark, {"cursor_value": cut})
    assert all('"ts" > ?' in q for q in log), log
    assert inc.agg(F.min("warc_ts")).first()[0] > cut
    n_all = full.count()
    assert 0 < inc.count() < n_all


def test_each_partition_task_runs_exactly_one_query(spark, tmp_path):
    """The stride queries are laid out one per Spark partition. Every
    stride below holds rows, so n non-empty partitions out of n queries
    means no task ran two queries while another ran none."""
    path = str(tmp_path / "ids.duckdb")
    con = duckdb.connect(path)
    con.execute("CREATE TABLE ids AS SELECT range::INTEGER AS id FROM range(80)")
    con.close()
    for n in range(2, 9):
        log: list = []
        got = read_sql_table(
            spark, path, "ids", partition_column="id", num_partitions=n, query_log=log
        )
        assert len(log) == n
        sizes = got.rdd.glom().map(len).collect()
        assert len(sizes) == n and all(s > 0 for s in sizes), (n, sizes)
        assert sum(sizes) == 80


def test_discover_reads_only_the_current_schema(tmp_path):
    """A same-named table in another database schema does not mix its
    columns into the discovered schema: discover sees the table an
    unqualified `FROM t` reads."""
    path = str(tmp_path / "schemas.duckdb")
    con = duckdb.connect(path)
    con.execute("CREATE TABLE t (x BIGINT)")
    con.execute("CREATE SCHEMA other")
    con.execute("CREATE TABLE other.t (a VARCHAR, b INTEGER)")
    con.execute("CREATE TABLE other.only_there (y INTEGER)")
    con.close()
    assert discover_sql_schema(path, "t").fieldNames() == ["x"]
    with pytest.raises(ValueError, match="not found"):
        discover_sql_schema(path, "only_there")
