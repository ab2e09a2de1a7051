"""SQL-database source: discover + full-refresh + cursor-incremental
reads from a live relational database (DuckDB binding).

The reference's flagship source family is AbstractJdbcSource — discover
the schema from the database's information_schema, full-refresh
`SELECT <columns> FROM <table>`, and incremental `WHERE cursor > ?`
COMPILED INTO the database query so the DB skips pre-cursor rows
(source-jdbc/.../AbstractJdbcSource.java:215-245, the cursor predicate
at 229-232; stream orchestration in
source-relational-db/.../AbstractDbSource.java:78-125). This module
restates that contract Spark-first over the one SQL engine in the
sandbox, DuckDB:

  - `discover_sql_schema` reads information_schema.columns and maps SQL
    types to Spark types (≡ the discover step's JsonSchema mapping).
  - `read_sql_table` is a DISTRIBUTED partitioned read, the same shape
    as Spark's JDBC source: the driver runs one min/max metadata query
    to compute stride bounds over a numeric partition column, then each
    executor task opens its OWN read-only connection and pulls exactly
    its range via Arrow (`mapInPandas`) — rows never funnel through the
    driver, so the read scales with executors like any JDBC
    partitionColumn/numPartitions read. Pushed-down predicates (cursor,
    checkpoint) are compiled into every partition's WHERE clause.
  - `sql_source` registers the (spark, state) -> DataFrame plug-in:
    column_map + envelope completion like the other generic connectors,
    with `state['cursor_value']` → `WHERE cursor > ?` and
    `state['from_checkpoint']` → `WHERE lsn >= checkpoint·span` both
    pushed into the database query.

At 100 TB-source scale the constraint is the database, not Spark: reads
stay partition-parallel with one connection per task (bounded by
num_partitions, the JDBC connection-budget knob), and incremental syncs
ship only post-cursor rows over the wire.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from airbyte_spark.sources.registry import _apply_state, _complete_envelope, register_source

__all__ = ["discover_sql_schema", "read_sql_table", "sql_source"]

_SQL_TO_SPARK = {
    "BIGINT": LongType(),
    "INTEGER": IntegerType(),
    "SMALLINT": ShortType(),
    "TINYINT": ByteType(),
    "DOUBLE": DoubleType(),
    "FLOAT": FloatType(),
    "REAL": FloatType(),
    "VARCHAR": StringType(),
    "BOOLEAN": BooleanType(),
    "DATE": DateType(),
    # naive SQL timestamps are wall-clock values: NTZ, the engine-wide rule
    "TIMESTAMP": TimestampNTZType(),
    "TIMESTAMP WITH TIME ZONE": TimestampType(),
    "BLOB": BinaryType(),
}


def _spark_type(sql_type: str):
    t = sql_type.strip().upper()
    if t in _SQL_TO_SPARK:
        return _SQL_TO_SPARK[t]
    if t.startswith("DECIMAL") or t.startswith("NUMERIC"):
        inner = t[t.index("(") + 1 : t.index(")")] if "(" in t else "18,3"
        p, s = (int(x) for x in inner.split(","))
        return DecimalType(p, s)
    raise ValueError(f"unmapped SQL type {sql_type!r} — extend _SQL_TO_SPARK")


def _q(ident: str) -> str:
    """Double-quote a SQL identifier (reject embedded quotes outright —
    identifiers come from config, not data, but stay strict)."""
    if '"' in ident:
        raise ValueError(f"invalid identifier {ident!r}")
    return f'"{ident}"'


def discover_sql_schema(db_path: str, table: str) -> StructType:
    """The discover step (≡ AbstractJdbcSource.discoverInternal): column
    names + types from information_schema, in ordinal order, for the table
    in the connection's current schema — the one an unqualified
    `FROM table` reads, so a same-named table in another schema never
    mixes in its columns."""
    import duckdb

    con = duckdb.connect(db_path, read_only=True)
    try:
        rows = con.execute(
            "SELECT column_name, data_type, is_nullable "
            "FROM information_schema.columns "
            "WHERE table_name = ? AND table_schema = current_schema() "
            "ORDER BY ordinal_position",
            [table],
        ).fetchall()
    finally:
        con.close()
    if not rows:
        raise ValueError(f"table {table!r} not found in {db_path}")
    return StructType(
        [
            StructField(name, _spark_type(t), nullable != "NO")
            for name, t, nullable in rows
        ]
    )


def read_sql_table(
    spark: SparkSession,
    db_path: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    predicates: list[tuple[str, object]] | None = None,
    columns: list[str] | None = None,
    query_log: list | None = None,
) -> DataFrame:
    """Partition-parallel read of one table (the JDBC
    partitionColumn/lowerBound/upperBound/numPartitions pattern):

    - driver: one `SELECT min(pc), max(pc)` metadata query computes
      stride bounds (plus the discover query for the schema);
    - executors: `num_partitions` tasks, each opening its own read-only
      connection and fetching `[lo_i, hi_i)` via Arrow.

    `predicates` are (sql_with_one_?, value) pairs ANDed into EVERY
    query this read issues — bounds discovery included, so the stride
    covers only qualifying rows. Without `partition_column` the read is
    a single task (small dimension tables). `query_log`, when given,
    receives the exact per-partition SQL issued — tests pin pushdown on
    it."""
    import duckdb

    schema = discover_sql_schema(db_path, table)
    if columns:
        by_name = {f.name: f for f in schema.fields}
        schema = StructType([by_name[c] for c in columns])
    col_sql = ", ".join(_q(f.name) for f in schema.fields)
    preds = list(predicates or [])
    where_sql = " AND ".join(f"({p})" for p, _ in preds) or "TRUE"
    params = [v for _, v in preds]

    base = f"SELECT {col_sql} FROM {_q(table)} WHERE {where_sql}"  # noqa: S608
    if partition_column is None:
        part_filters: list[str] = ["TRUE"]
    else:
        pc = _q(partition_column)
        con = duckdb.connect(db_path, read_only=True)
        try:
            lo, hi = con.execute(
                f"SELECT min({pc}), max({pc}) FROM {_q(table)} "  # noqa: S608
                f"WHERE {where_sql}",
                params,
            ).fetchone()
        finally:
            con.close()
        if lo is None:
            part_filters = ["FALSE"]  # no qualifying rows
        else:
            n = max(1, int(num_partitions))
            stride = max(1, (int(hi) - int(lo) + n) // n)
            cuts = [int(lo) + i * stride for i in range(1, n)]
            edges = [None] + cuts + [None]
            part_filters = []
            for i in range(len(edges) - 1):
                a, b = edges[i], edges[i + 1]
                f_parts = []
                if a is not None:
                    f_parts.append(f"{pc} >= {int(a)}")
                if b is not None:
                    f_parts.append(f"{pc} < {int(b)}")
                if a is None:
                    # first partition also owns NULL partition keys
                    inner = " AND ".join(f_parts) or "TRUE"
                    part_filters.append(f"({inner}) OR {pc} IS NULL")
                else:
                    part_filters.append(" AND ".join(f_parts) or "TRUE")

    queries = [f"{base} AND ({pf})" for pf in part_filters]
    if query_log is not None:
        query_log.extend(queries)

    # one query per task: range(n) over n slices puts row i alone in
    # partition i, where a hash repartition can give one task two queries
    n_q = len(queries)
    parts = spark.range(0, n_q, 1, n_q).select(
        F.element_at(F.array(*map(F.lit, queries)), F.col("id").cast("int") + 1).alias("q")
    )
    names = [f.name for f in schema.fields]

    def fetch(batches):
        import duckdb as _dd
        import pandas as pd

        for pdf in batches:
            for q in pdf["q"]:
                c = _dd.connect(db_path, read_only=True)
                try:
                    tbl = c.execute(q, params).fetch_arrow_table()
                finally:
                    c.close()
                out = tbl.to_pandas()
                out.columns = names
                yield out

    return parts.mapInPandas(fetch, schema)


@register_source("sql")
def sql_source(
    db_path: str,
    table: str,
    column_map: dict[str, str] | None = None,
    cursor_field: str | None = None,
    lsn_field: str | None = None,
    cursor: str = "warc_ts",
    batch_span: int = 1_000,
    partition_column: str | None = None,
    num_partitions: int = 8,
    query_log: list | None = None,
):
    """Registry plug-in: a live SQL database table as a (spark, state)
    source (≡ AbstractJdbcSource full-refresh + incremental).

    `column_map` is Spark-side ({engine column -> Spark SQL expr over
    the table's columns}), like mapped_parquet. The two incremental
    state keys are pushed into the DATABASE query, not filtered after
    the fact:

      state['cursor_value']    → `WHERE {cursor_field} > ?` (strictly
                                 greater: the reference's re-sync rule,
                                 AbstractJdbcSource.java:229-232)
      state['from_checkpoint'] → `WHERE {lsn_field} >= ckpt·batch_span`
                                 (valid because engine LSNs are
                                 non-negative, so lsn DIV span ≥ ckpt ⟺
                                 lsn ≥ ckpt·span)

    `lsn_field`/`cursor_field` name PHYSICAL columns (they feed the DB's
    WHERE); `column_map` may still rename or derive the engine-side
    view of them. A checkpoint-resumed read therefore ships only
    post-cursor rows over the wire — the whole point of a database
    source."""

    def read(spark: SparkSession, state: dict) -> DataFrame:
        st = state or {}
        preds: list[tuple[str, object]] = []
        if st.get("cursor_value") is not None and cursor_field:
            preds.append((f"{_q(cursor_field)} > ?", st["cursor_value"]))
        if st.get("from_checkpoint") is not None and lsn_field:
            preds.append(
                (
                    f"{_q(lsn_field)} >= ?",
                    int(st["from_checkpoint"]) * batch_span,
                )
            )
        raw = read_sql_table(
            spark,
            db_path,
            table,
            partition_column=partition_column,
            num_partitions=num_partitions,
            predicates=preds,
            query_log=query_log,
        )
        df = (
            raw.select(*[F.expr(e).alias(n) for n, e in column_map.items()])
            if column_map
            else raw
        )
        # the envelope filter still applies post-map (exact semantics);
        # the pushdown above is what keeps the wire traffic post-cursor
        return _apply_state(_complete_envelope(df, cursor, batch_span, "sql"), state)

    return read
