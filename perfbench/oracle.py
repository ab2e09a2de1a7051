"""DuckDB oracle for the benchmark's outputs.

The expected state is ``oracle_sql()["cdc_replay_final_state"]`` from
``__spark_entry__.py``, run by DuckDB over the generated ``events`` rows
that the engine has committed at that point (an LSN set, given as a SQL
predicate on ``event_id``). Rows compare as
``(url, warc_ts, lang, _ab_cdc_lsn, md5(text))`` so a state of large pages
never has to be shipped whole, and both sides are multisets of those rows
(``Counter``), so a row the engine stores twice does not compare equal.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import duckdb


def engine_rows(df) -> Counter:
    """The comparable rows of an engine final-state DataFrame."""
    import pyspark.sql.functions as F

    return Counter(
        tuple(r)
        for r in df.select(
            "url", "warc_ts", "lang", "_ab_cdc_lsn", F.md5(F.col("text"))
        ).collect()
    )


def point_rows(rows) -> Counter:
    """The comparable rows of collected engine rows (a point read)."""
    return Counter(
        (r["url"], r["warc_ts"], r["lang"], r["_ab_cdc_lsn"],
         None if r["text"] is None else hashlib.md5(r["text"].encode()).hexdigest())
        for r in rows
    )


class Oracle:
    def __init__(self, events_path: str, temp_dir: str) -> None:
        from __spark_entry__ import oracle_sql
        from airbyte_spark.sources.changelog import changelog_oracle_cte

        self.final_sql = oracle_sql()["cdc_replay_final_state"]
        self.changelog_sql = changelog_oracle_cte()
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute("SET temp_directory = '%s'" % temp_dir.replace("'", "''"))
        self.con.execute(
            "CREATE TABLE ev AS SELECT * FROM read_parquet(?)", [events_path]
        )

    def _events(self, where: str) -> None:
        self.con.execute(f"CREATE OR REPLACE TEMP VIEW events AS SELECT * FROM ev WHERE {where}")

    def state(self, where: str, urls: list[str] | None = None) -> Counter:
        """Expected active rows after committing the events matching
        ``where``; restricted to ``urls`` when given."""
        self._events(where)
        sql = f"SELECT url, warc_ts, lang, _ab_cdc_lsn, md5(text) FROM ({self.final_sql}) o"
        if urls is None:
            return Counter(self.con.execute(sql).fetchall())
        return Counter(
            self.con.execute(sql + " WHERE url IN (SELECT unnest(?))", [urls]).fetchall()
        )

    def urls(self, where: str) -> list[str]:
        """Sorted distinct page urls of the change events matching ``where``."""
        self._events(where)
        return [
            r[0]
            for r in self.con.execute(
                f"SELECT DISTINCT url FROM ({self.changelog_sql}) c ORDER BY url"
            ).fetchall()
        ]

    def close(self) -> None:
        self.con.close()
