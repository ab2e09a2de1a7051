"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: full CDC replay through the engine at sf0.001.
queries()     — one entry per implemented operator (SURVEY.md §2).
oracle_sql()  — DuckDB-equivalent SQL per query (correctness gate).

The CDC queries run over a deterministic changelog derived from the
`events` table (airbyte_spark/sources/changelog.py) so the DuckDB oracle
can reconstruct the identical stream in SQL.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints of the
# fixture-generator UDFs below (PEP 563 hints resolve in module globals)
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from airbyte_spark.sources.changelog import changelog_oracle_cte, read_changelog

_CH = changelog_oracle_cte()

# cursor value used by the incremental-scan query (mid-January)
_CURSOR = "2024-01-20 00:00:00"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: replay the sf0.001 change stream through the engine
    (dedup → vectorized extract → LWW MERGE into the lake table) and
    return the final pages table."""
    return _replayed_final_state(spark, "/root/testdata/sf0.001")


# --- engine-backed final state (cached per sf_dir within a session) -------------

_replay_cache: dict[str, object] = {}


def _replayed_pipe(spark: SparkSession, sf_dir: str):
    """One engine replay per (session, sf_dir): later queries reuse the
    table — including its VERSION HISTORY (time travel), which is how the
    matview query obtains a mid-replay snapshot without a second replay."""
    key = f"{id(spark)}:{sf_dir}"
    if key not in _replay_cache:
        from airbyte_spark.streaming.pipeline import CdcPipeline

        path = tempfile.mkdtemp(prefix="airbyte_spark_lake_") + "/pages"
        pipe = CdcPipeline.create_target(spark, path, n_buckets=8)
        pipe.replay(read_changelog(spark, sf_dir))
        _replay_cache[key] = pipe
    return _replay_cache[key]


def _replayed_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _replayed_pipe(spark, sf_dir).final_state().select(
        "url", "warc_ts", "text", "lang", "_ab_cdc_lsn"
    )


# --- individual operator queries -------------------------------------------------


def q_cdc_replay_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _replayed_final_state(spark, sf_dir)


def q_cdc_mor_replay_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read replay (lake/merge.py append_winners): per-checkpoint
    winners are appended — no existing file is ever read or rewritten, so
    commit cost is O(batch) at any table size — then LWW resolves at read
    time (resolve_stored). The table is compacted to one version per key
    mid-query (compact_versions), proving compaction changes no state.
    Must equal the copy-on-write replay's final state exactly."""
    from airbyte_spark.lake.merge import compact_versions
    from airbyte_spark.streaming.pipeline import CdcPipeline

    path = tempfile.mkdtemp(prefix="airbyte_spark_mor_") + "/pages"
    pipe = CdcPipeline.create_target(spark, path, n_buckets=8, write_mode="mor")
    pipe.replay(read_changelog(spark, sf_dir))
    compact_versions(pipe.table, pipe.cfg)
    return pipe.final_state().select("url", "warc_ts", "text", "lang", "_ab_cdc_lsn")


def q_sync_delta_log_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-format seam, driver-gated: the full changelog replay through
    the SECOND TableFormat binding (lake/delta_log.py — Delta-style
    action-log metadata, nothing shared with the default JSON-manifest
    lake beyond the seam's interchange records) must reach the exact
    final state the oracle derives — the unchanged merge/pipeline code
    over a different table format (tests/test_delta_log.py holds the
    restart/evolution/maintenance legs)."""
    from airbyte_spark.lake.delta_log import DeltaLogTable
    from airbyte_spark.streaming.pipeline import CdcPipeline

    path = tempfile.mkdtemp(prefix="airbyte_spark_dlog_") + "/pages"
    pipe = CdcPipeline.create_target(
        spark, path, n_buckets=8, table_format=DeltaLogTable
    )
    pipe.replay(read_changelog(spark, sf_dir))
    return pipe.final_state().select("url", "warc_ts", "text", "lang", "_ab_cdc_lsn")


def q_src_debezium_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External CDC tail e2e (sources/debezium_tail.py ≡
    AirbyteDebeziumHandler.java:45-112 bounded-drain semantics): the
    change stream is serialized as Debezium-envelope JSONL segment files,
    the stop position is captured FIRST (max source.lsn via a
    metadata-light scan), then a "concurrent writer" appends higher-lsn
    poison updates that would win LWW for their keys if the bound leaked —
    and the streaming drain (parse_debezium → CdcPipeline.apply_batch,
    exactly-once per segment) must reproduce exactly the changelog
    replay's final state, poison excluded. Oracle: the same final-state
    SQL as cdc_replay_final_state (the tail IS the changelog, modulo the
    wire round trip)."""
    from airbyte_spark.sources.debezium_tail import (
        capture_target_position,
        run_debezium_tail,
        write_debezium_tail,
    )
    from airbyte_spark.streaming.pipeline import CdcPipeline

    ch = read_changelog(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="airbyte_spark_dbztail_")
    tail_dir = base + "/tail"
    write_debezium_tail(ch, tail_dir)
    target = capture_target_position(spark, tail_dir)
    post = (
        ch.filter(F.col("_ab_cdc_lsn") % 7 == 0)
        .withColumn("_ab_cdc_lsn", F.col("_ab_cdc_lsn") + 100_000_000)
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 400 DAYS"))
        .withColumn("checkpoint_id", F.col("checkpoint_id") + 100_000)
    )
    write_debezium_tail(post, tail_dir)
    pipe = CdcPipeline.create_target(spark, base + "/pages", n_buckets=8)
    run_debezium_tail(pipe, tail_dir, base + "/ck", target_lsn=target)
    return pipe.final_state().select("url", "warc_ts", "text", "lang", "_ab_cdc_lsn")


def q_src_airbyte_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AirbyteMessage wire-protocol round-trip (the reference's stdout
    contract, airbyte_protocol.yaml): events → RECORD JSONL envelopes +
    trailing STATE → distributed parse back to typed rows. The read drops
    LOG/foreign-stream lines and recovers the checkpoint; the query
    asserts state recovery in-line and returns the typed records
    (sources/airbyte_messages.py)."""
    from pyspark.sql.types import StructType

    from airbyte_spark.sources.airbyte_messages import (
        read_airbyte_messages,
        write_airbyte_messages,
    )

    src = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "event_type", "value", "ts")
    )
    out = tempfile.mkdtemp(prefix="airbyte_msgs_") + "/stream"
    write_airbyte_messages(
        src, out, "events", state={"cursor_value": "ck-final"},
        emitted_at_col="ts",
    )
    records, state = read_airbyte_messages(
        spark, out,
        StructType.fromDDL("event_id bigint, event_type string, value double"),
        stream="events",
    )
    assert state == {"cursor_value": "ck-final"}, state
    return records.select("event_id", "event_type", "value")


def q_cdc_schema_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-driven type normalization (≡ the cdk TypeTransformer's
    DefaultSchemaNormalization, sources/utils/transform.py:85-120): raw
    string properties cast tolerantly to their declared jsonschema types —
    strtobool word sets for booleans, numeric try_cast for integer/number;
    failures → NULL (typed-column analogue of keep-original). Pure column
    expressions fused into the scan (functions/jsonschema.py)."""
    from airbyte_spark.functions.jsonschema import normalize_to_schema

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b_words = ["yes", "off", "TRUE", "0", "maybe", "t"]
    raw = ev.select(
        F.col("event_id").alias("id"),
        F.when(F.col("event_id") % 7 == 0, F.lit("x"))
        .otherwise(F.col("user_id").cast("string"))
        .alias("i"),
        F.concat(
            (F.col("user_id") % 100).cast("string"),
            F.lit("."),
            (F.col("event_id") % 10).cast("string"),
        ).alias("n"),
        F.element_at(
            F.array(*[F.lit(w) for w in b_words]),
            (F.col("event_id") % 6 + 1).cast("int"),
        ).alias("b"),
    )
    schema = {
        "properties": {
            "i": {"type": ["integer", "null"]},
            "n": {"type": "number"},
            "b": {"type": "boolean"},
        }
    }
    return normalize_to_schema(raw, schema)


def q_cdc_mor_resolve_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MoR resolve-at-read on UNCOMPACTED state (the bench's
    mor_resolve_read line as a correctness row): replay appends one winner
    set per checkpoint — multiple versions of a key across files — and the
    read itself performs the LWW resolution (lake/merge.py resolve_stored:
    salted lag-head window over the appended versions). No compaction runs,
    so this gates exactly the read path a 100 TB MoR table serves between
    compactions. Must equal the copy-on-write final state."""
    from airbyte_spark.streaming.pipeline import CdcPipeline

    path = tempfile.mkdtemp(prefix="airbyte_spark_morr_") + "/pages"
    pipe = CdcPipeline.create_target(spark, path, n_buckets=8, write_mode="mor")
    pipe.replay(read_changelog(spark, sf_dir))
    return pipe.final_state().select("url", "warc_ts", "text", "lang", "_ab_cdc_lsn")


def q_cdc_matview_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance from the row-level change
    feed (lake/changes.py row_changes + operators/matview.py): build the
    per-lang aggregate view at a mid-history version (a time-travel read
    of the session's replayed table), then advance it ONLY with the signed
    deltas of row_changes(v_mid → head) — the table is never
    re-aggregated. The result must equal a full group-by over the final
    state (the oracle), which is exactly the O(changes)-not-O(table)
    refresh contract a 100 TB downstream aggregate needs."""
    from airbyte_spark.lake.changes import row_changes
    from airbyte_spark.operators.matview import apply_agg_delta, build_agg

    # reuse the session's one replayed table; the mid-replay base state is a
    # TIME-TRAVEL read of a mid-history version — no second replay
    pipe = _replayed_pipe(spark, sf_dir)
    v_mid = max(1, pipe.table.current_version() // 2)

    def visible(df: DataFrame) -> DataFrame:
        return df.filter(F.col("_ab_cdc_deleted_at").isNull())

    measures = {"n_pages": None, "n_chars": F.length(F.col("text"))}
    state = build_agg(visible(pipe.table.read(v_mid)), ["lang"], measures)
    feed = visible(row_changes(pipe.table, v_mid))
    return apply_agg_delta(state, feed, ["lang"], measures).select(
        "lang",
        F.col("n_pages").cast("bigint").alias("n_pages"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


def q_cdc_final_state_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as the engine, expressed as one window query —
    the SCD active-row rule (stream_processor.py:695-768)."""
    ch = read_changelog(spark, sf_dir)
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc_nulls_last(), F.col("_ab_cdc_lsn").desc_nulls_last()
    )
    return (
        ch.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & F.col("_ab_cdc_deleted_at").isNull())
        .select("url", "warc_ts", "lang", "_ab_cdc_lsn")
    )


def q_cdc_incremental_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBLog-style chunked incremental snapshot (sources/snapshot.py):
    8 key-hash chunks read at staggered log watermarks, interleaved with
    the live stream from the snapshot base — must converge to the same
    final state as a from-LSN-0 replay (the oracle)."""
    from airbyte_spark.protocol import StreamConfig
    from airbyte_spark.schema import CHANGE_SCHEMA
    from airbyte_spark.sources.snapshot import interleaved_state, snapshot_chunks

    ch = read_changelog(spark, sf_dir)
    max_lsn = ch.agg(F.max("_ab_cdc_lsn")).collect()[0][0]  # metadata collect
    base = (max_lsn * 2) // 5
    step = max(1, max_lsn // 20)
    cfg = StreamConfig(name="pages", schema=CHANGE_SCHEMA)
    snap = snapshot_chunks(ch, cfg, base, step, n_chunks=8, keep_tombstones=True)
    stream = ch.filter(F.col("_ab_cdc_lsn") > base)
    out = interleaved_state(snap, stream, cfg)
    return out.select("url", "warc_ts", "lang", "_ab_cdc_lsn")


def q_cdc_tx_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-atomic apply (sources/transactions.py): events carry
    Debezium-style (tx_id, tx_total) metadata; the log is truncated at 90%
    of the head, so transactions cut by the truncation — and the final
    under-filled one — must be withheld entirely. Result = LWW final state
    over COMPLETE transactions only."""
    from airbyte_spark.sources.transactions import split_transactions

    ch = (
        read_changelog(spark, sf_dir)
        .withColumn("tx_id", (F.col("_ab_cdc_lsn") / 4).cast("long"))
        .withColumn("tx_total", F.lit(4))
    )
    max_lsn = ch.agg(F.max("_ab_cdc_lsn")).collect()[0][0]  # metadata collect
    cutoff = (max_lsn * 9) // 10
    ready, _deferred = split_transactions(ch.filter(F.col("_ab_cdc_lsn") <= cutoff))
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc_nulls_last(), F.col("_ab_cdc_lsn").desc_nulls_last()
    )
    return (
        ready.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & F.col("_ab_cdc_deleted_at").isNull())
        .select("url", "warc_ts", "lang", "_ab_cdc_lsn")
    )


def q_cdc_audit_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay-consistency audit (lake/audit.py): diff a table state frozen
    at 2/3 of the log against the full log's expected winners — every key
    the tail touched must surface with the right verdict (missing / extra
    / stale / zombie), nothing else. The oracle recomputes both sides and
    the verdict matrix in SQL."""
    from airbyte_spark.lake.audit import audit_replay, expected_state
    from airbyte_spark.protocol import StreamConfig
    from airbyte_spark.schema import CHANGE_SCHEMA

    ch = read_changelog(spark, sf_dir)
    max_lsn = ch.agg(F.max("_ab_cdc_lsn")).collect()[0][0]  # metadata collect
    cutoff = (max_lsn * 2) // 3
    cfg = StreamConfig(name="pages", schema=CHANGE_SCHEMA)
    frozen = expected_state(ch.filter(F.col("_ab_cdc_lsn") <= cutoff), cfg)
    return audit_replay(frozen, ch, cfg).select(
        "url", "verdict", "table_lsn", "expected_lsn"
    )


def q_cdc_partial_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patch-stream merge (operators/patch.py): events carry only the
    columns they changed (lsn%3 picks text / lang / both — the Mongo
    update_description shape), and the final row takes each column from
    the LATEST event that set it. One map-side-combinable aggregate, no
    window — per-column LWW that a row-level merge would get wrong."""
    from airbyte_spark.operators.patch import apply_patches

    ch = read_changelog(spark, sf_dir)
    mode = F.col("_ab_cdc_lsn") % 3
    p = ch.select(
        "url",
        "_ab_cdc_lsn",
        "_ab_cdc_deleted_at",
        F.when(
            mode.isin(0, 2),
            F.concat(F.lit("rev-"), F.col("_ab_cdc_lsn").cast("string")),
        ).alias("text"),
        F.when(mode.isin(1, 2), F.col("lang")).alias("lang"),
    )
    out = apply_patches(p, ["text", "lang"])
    return out.select("url", "text", "lang", "_ab_cdc_lsn")


def q_cdc_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch window dedup: latest event per url per checkpoint,
    tombstones included (they must win within a batch to delete)."""
    ch = read_changelog(spark, sf_dir)
    w = Window.partitionBy("checkpoint_id", "url").orderBy(
        F.col("warc_ts").desc_nulls_last(), F.col("_ab_cdc_lsn").desc_nulls_last()
    )
    return (
        ch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "checkpoint_id",
            "url",
            "warc_ts",
            "_ab_cdc_lsn",
            F.col("_ab_cdc_deleted_at").isNotNull().alias("is_delete"),
        )
    )


def q_cdc_dedup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted dedup (hot-key skew path) — must equal the plain
    window dedup over the whole stream (tombstones included)."""
    from airbyte_spark.operators.dedup import presalted_dedup
    from airbyte_spark.protocol import StreamConfig
    from airbyte_spark.schema import CHANGE_SCHEMA

    ch = read_changelog(spark, sf_dir)
    out = presalted_dedup(ch, StreamConfig(name="pages", schema=CHANGE_SCHEMA), 8)
    return out.select(
        "url",
        "warc_ts",
        "_ab_cdc_lsn",
        F.col("_ab_cdc_deleted_at").isNotNull().alias("is_delete"),
    )


def q_cdc_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized HTML→text extraction over every change event —
    the byte-identical-text invariant, checked for all rows."""
    from airbyte_spark.functions.extract import extract_text

    ch = read_changelog(spark, sf_dir)
    return ch.select(
        F.col("_ab_cdc_lsn").alias("lsn"),
        "url",
        extract_text(F.col("html")).alias("text"),
    )


def q_cdc_scd_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 history: start/end validity via lag over the dedup window
    (≡ _airbyte_start_at/_end_at/_active_row, stream_processor.py:635-813)."""
    ch = read_changelog(spark, sf_dir)
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc_nulls_last(), F.col("_ab_cdc_lsn").desc_nulls_last()
    )
    return ch.select(
        "url",
        F.col("warc_ts").alias("start_at"),
        F.lag("warc_ts").over(w).alias("end_at"),
        F.col("_ab_cdc_lsn").alias("lsn"),
        (
            (F.row_number().over(w) == 1) & F.col("_ab_cdc_deleted_at").isNull()
        ).alias("active_row"),
    )


def q_cdc_incremental_cursor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cursor-based incremental scan: strictly-greater filter on the cursor
    (≡ AbstractJdbcSource.queryTableIncremental, `WHERE cursor > ?`)."""
    ch = read_changelog(spark, sf_dir)
    return ch.filter(F.col("warc_ts") > F.lit(_CURSOR).cast("timestamp_ntz")).select(
        "url", "warc_ts", "_ab_cdc_lsn"
    )


def q_cdc_checkpoint_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-checkpoint metrics: rows, deletes, cursor high-water mark
    (≡ StateDecoratingIterator max-cursor + MessageTracker counts)."""
    ch = read_changelog(spark, sf_dir)
    return ch.groupBy("checkpoint_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("_ab_cdc_deleted_at").isNotNull().cast("long")).alias("n_deletes"),
        F.max("_ab_cdc_lsn").alias("max_lsn"),
        F.max("warc_ts").alias("max_cursor"),
        F.count_distinct(F.col("url")).alias("n_urls"),
    )


def q_cdc_stream_window_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed stream metrics (watermarked in streaming mode;
    identical plan here in batch mode so the oracle can check it) —
    the Spark-native upgrade of the reference's per-state-message counters
    (BufferedStreamConsumer.java:166-174) to event-time accounting."""
    from airbyte_spark.streaming.windows import windowed_event_metrics

    return windowed_event_metrics(read_changelog(spark, sf_dir), "1 hour")


def q_cdc_composite_pk_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-PK CDC replay through the ENGINE (merge_upsert with
    primary_key=[url, section]): per-subkey LWW independence — ≡ the
    reference's list-valued source_defined_primary_key
    (airbyte_protocol.yaml:150) and the acceptance contract's
    per-composite-PK expected state (DestinationAcceptanceTest.java:612-637)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from airbyte_spark.lake.format import LakeTable, PartitionSpec
    from airbyte_spark.protocol import StreamConfig
    from airbyte_spark.streaming.pipeline import CdcPipeline, default_target_schema

    base = default_target_schema()
    schema = StructType([*base.fields, StructField("section", LongType(), True)])
    cfg = StreamConfig(name="pages_sections", schema=schema, primary_key=["url", "section"])
    ch = read_changelog(spark, sf_dir).withColumn(
        "section", F.pmod(F.col("_ab_cdc_lsn"), F.lit(3))
    )
    path = tempfile.mkdtemp(prefix="airbyte_spark_cpk_") + "/pages_sections"
    table = LakeTable.create(spark, path, schema, PartitionSpec.bucket("url", 8))
    pipe = CdcPipeline(table=table, cfg=cfg)
    pipe.replay(ch)
    return pipe.final_state().select("url", "section", "warc_ts", "text", "_ab_cdc_lsn")


def q_cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution mid-stream through the ENGINE: later binlog
    segments carry an added column; the lake table evolves (NULL-fill for
    old rows, no rewrite) and the merged final state reflects per-winner
    provenance — ≡ the reference's catalog_schema_change golden scenario
    (test_normalization.py:126-137) re-expressed as Iceberg-style schema
    merge."""
    from airbyte_spark.lake.format import LakeTable, PartitionSpec
    from airbyte_spark.protocol import StreamConfig
    from airbyte_spark.streaming.pipeline import CdcPipeline, default_target_schema

    ch = read_changelog(spark, sf_dir)
    early = ch.filter(F.col("checkpoint_id") < 5)
    late = ch.filter(F.col("checkpoint_id") >= 5).withColumn(
        "domain", F.regexp_extract(F.col("url"), "https://([^/]+)/", 1)
    )
    path = tempfile.mkdtemp(prefix="airbyte_spark_evo_") + "/pages_evo"
    table = LakeTable.create(
        spark, path, default_target_schema(), PartitionSpec.bucket("url", 8)
    )
    pipe = CdcPipeline(
        table=table, cfg=StreamConfig(name="pages", schema=default_target_schema())
    )
    pipe.apply_batch(early, "evo-0")
    pipe.apply_batch(late, "evo-1")
    return pipe.final_state().select("url", "warc_ts", "_ab_cdc_lsn", "domain")


def q_cdc_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-widening schema evolution mid-stream through the ENGINE: early
    binlog segments carry `score` as BIGINT, later segments emit DOUBLE;
    the lake promotes bigint→double per the widening lattice (boolean <
    integer < number < string, ≡ stream_processor.py:492) and old files
    cast on read — no rewrite (≡ the catalog_schema_change.json retyping
    leg of the reference's golden scenario, test_normalization.py:126-137,
    which re-casts `USD` number→integer by regenerating the models)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from airbyte_spark.lake.format import LakeTable, PartitionSpec
    from airbyte_spark.protocol import StreamConfig
    from airbyte_spark.streaming.pipeline import CdcPipeline, default_target_schema

    ch = read_changelog(spark, sf_dir)
    early = ch.filter(F.col("checkpoint_id") < 5).withColumn(
        "score", F.col("_ab_cdc_lsn") % 100
    )
    late = ch.filter(F.col("checkpoint_id") >= 5).withColumn(
        "score", (F.col("_ab_cdc_lsn") % 100) + F.lit(0.5)
    )
    base = default_target_schema()
    schema0 = StructType([*base.fields, StructField("score", LongType(), True)])
    path = tempfile.mkdtemp(prefix="airbyte_spark_wid_") + "/pages_widen"
    table = LakeTable.create(spark, path, schema0, PartitionSpec.bucket("url", 8))
    pipe = CdcPipeline(table=table, cfg=StreamConfig(name="pages", schema=schema0))
    pipe.apply_batch(early, "wid-0")
    pipe.apply_batch(late, "wid-1")
    return pipe.final_state().select("url", "warc_ts", "_ab_cdc_lsn", "score")


def q_cdc_unnest_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested/array normalization: JSON field extraction + unnest into a
    child table with parent hashid and null-safety filter (≡ reference
    child-table explode, stream_processor.py:1113-1125 + surrogate_key)."""
    from airbyte_spark.operators.unnest import unnest_child

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    arr = F.when(
        F.col("event_type") != "signup",
        F.array(
            F.col("event_type"),
            F.get_json_object(F.col("props"), "$.k"),
            F.concat(F.lit("p"), (F.col("user_id") % 3).cast("string")),
        ),
    )
    df = ev.select("event_id", arr.alias("vals"))
    return unnest_child(df, "vals", ["event_id"], value_alias="val")


def q_cdc_unnest_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive nested-stream normalization (children-of-children): a
    two-level descent with chained parent hashids, per the reference's
    child-processor recursion (stream_processor.py:332-366 and the
    test_nested_streams fixture). Null inner arrays produce no
    grandchildren; both levels are shuffle-free narrow explodes."""
    from airbyte_spark.operators.unnest import unnest_child_recursive

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    item1 = F.struct(
        F.col("event_type").alias("tag"),
        F.array(
            F.concat(F.lit("a-"), (F.col("user_id") % 5).cast("string")),
            F.concat(F.lit("b-"), (F.col("event_id") % 7).cast("string")),
        ).alias("subs"),
    )
    item2 = F.struct(
        F.get_json_object(F.col("props"), "$.k").alias("tag"),
        F.when(
            F.col("user_id") % 4 != 0,
            F.array(F.concat(F.lit("c-"), (F.col("user_id") % 3).cast("string"))),
        ).alias("subs"),
    )
    arr = F.when(F.col("event_type") != "signup", F.array(item1, item2))
    df = ev.select("event_id", arr.alias("vals"))
    return unnest_child_recursive(
        df, [("vals", "item"), ("item.subs", "val")], ["event_id"]
    )


def q_cdc_timestamp_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerant multi-format timestamp parsing + empty-string→NULL guard
    (≡ stream_processor.py:533-569 dialect dispatch; 505-524 guard):
    6 deterministic serializations of ts round-trip through one coalesce
    chain of try_to_timestamp."""
    from airbyte_spark.functions.timestamps import parse_timestamp_tolerant

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = F.col("event_id") % 6
    iso = F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss")
    sqlf = F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss")
    raw = (
        F.when(v == 0, iso)
        .when(v == 1, F.concat(iso, F.lit("Z")))
        .when(v == 2, F.concat(iso, F.lit("+00:00")))
        .when(v == 3, F.concat(iso, F.lit("+0000")))
        .when(v == 4, sqlf)
        .otherwise(F.lit(""))
    )
    return ev.select(
        F.col("event_id").alias("id"),
        raw.alias("raw"),
        parse_timestamp_tolerant(raw).alias("parsed"),
    )


def q_cdc_debezium_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium envelope → change-record flatten (≡ DebeziumEventUtils.
    toAirbyteMessage, bases/debezium/.../DebeziumEventUtils.java:22-65):
    raw JSON envelopes are built deterministically from `events` (deletes
    carry a before-image, inserts/updates an after-image, source block
    holds tx time + lsn; ~0.1% malformed), parsed JVM-side with from_json,
    flattened per op semantics; malformed envelopes route to the
    dead-letter split instead of surfacing. The oracle derives the same
    records straight from `events` — the JSON round trip must be exact."""
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    from airbyte_spark.sources.debezium import parse_debezium, split_dead_letters

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp")).cast("string")
    payload = F.concat(
        F.lit('{"id":'),
        F.col("user_id").cast("string"),
        F.lit(',"etype":"'),
        F.col("event_type"),
        F.lit('","val":'),
        F.col("value").cast("string"),
        F.lit("}"),
    )
    is_del = F.col("event_type") == "error"
    op = F.when(is_del, "d").when(F.col("event_id") % 3 == 0, "c").otherwise("u")
    envelope = F.concat(
        F.lit('{"before":'),
        F.when(is_del, payload).otherwise(F.lit("null")),
        F.lit(',"after":'),
        F.when(is_del, F.lit("null")).otherwise(payload),
        F.lit(',"op":"'),
        op,
        F.lit('","ts_ms":'),
        ts_ms,
        F.lit(',"source":{"ts_ms":'),
        ts_ms,
        F.lit(',"lsn":'),
        F.col("event_id").cast("string"),
        F.lit("}}"),
    )
    raw = ev.select(
        F.when(F.col("event_id") % 997 == 0, F.lit('{"oops"'))
        .otherwise(envelope)
        .alias("value")
    )
    schema = StructType(
        [
            StructField("id", LongType(), True),
            StructField("etype", StringType(), True),
            StructField("val", DoubleType(), True),
        ]
    )
    good, _dead = split_dead_letters(parse_debezium(raw, schema))
    return good


def q_cdc_json_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-schema record validation + dead-letter stamping (≡ the
    reference's AirbyteProtocolPredicate/JsonSchemaValidator filtering
    invalid messages before the sink, BufferedStreamConsumer counting the
    drops). Envelopes are built deterministically from events with
    injected defects (unparseable / missing-required / wrong type); the
    validator is pure column expressions (functions/jsonschema.py) — one
    scan-fused map stage at any scale."""
    from airbyte_spark.functions.jsonschema import validate_json_records

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    m = F.col("event_id") % 11
    eid = F.col("event_id").cast("string")
    uid = F.col("user_id").cast("string")
    good = F.concat(
        F.lit('{"event_id": '), eid,
        F.lit(', "user_id": '), uid,
        F.lit(', "event_type": "'), F.col("event_type"), F.lit('"}'),
    )
    doc = (
        F.when(m == 0, F.lit("garbage"))
        .when(m == 1, F.concat(F.lit('{"event_id": '), eid, F.lit("}")))
        .when(
            m == 2,
            F.concat(
                F.lit('{"event_id": "x'), eid,
                F.lit('", "user_id": '), uid,
                F.lit(', "event_type": "'), F.col("event_type"), F.lit('"}'),
            ),
        )
        .otherwise(good)
    )
    schema = {
        "required": ["event_id", "user_id"],
        "properties": {
            "event_id": {"type": "integer"},
            "user_id": {"type": "integer"},
            "event_type": {"type": "string"},
        },
    }
    out = validate_json_records(ev.withColumn("doc", doc), "doc", schema)
    return out.select(
        "event_id",
        "is_valid",
        F.array_join("violations", "; ").alias("violations"),
    )


def q_cdc_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal as-of join (operators/temporal.py): for each click event,
    the page version in force at click time — latest warc_ts ≤ event_ts
    per url, ties inclusive. One union+window pass (|L|+|R| sort-shuffle,
    no range join); oracle is DuckDB's native ASOF LEFT JOIN."""
    from airbyte_spark.operators.temporal import asof_join
    from airbyte_spark.sources.changelog import page_url_expr

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    probes = ev.filter(F.col("event_type") == "click").select(
        "event_id", page_url_expr().alias("url"), F.col("ts").alias("event_ts")
    )
    ch = read_changelog(spark, sf_dir)
    w = Window.partitionBy("url", "warc_ts").orderBy(F.col("_ab_cdc_lsn").desc())
    versions = (
        ch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)  # unique (url, warc_ts): as-of answer well-defined
        .select("url", "warc_ts", F.col("_ab_cdc_lsn").alias("page_lsn"))
        .withColumn("page_ts", F.col("warc_ts"))
    )
    return asof_join(
        probes,
        versions,
        on=["url"],
        left_time="event_ts",
        right_time="warc_ts",
        right_payload=["page_lsn", "page_ts"],
    ).select("event_id", "url", "event_ts", "page_ts", "page_lsn")


def q_evt_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min silence splits a session) + per-
    session rollup — the batch restatement of Structured Streaming's
    session_window, one lag+running-sum window pass (operators/temporal.py)."""
    from airbyte_spark.operators.temporal import session_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return session_stats(ev, "user_id", "ts", 1800, order_tiebreak="event_id")


def q_sync_identifier_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identifier normalization for arbitrary JSON keys → SQL-safe names
    (≡ destination_name_transformer.py:19-110: specials→'_', reserved-word
    escape, length cap)."""
    from airbyte_spark.functions.names import normalize_identifier_col

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw = F.when(F.col("user_id") % 7 == 0, F.lit("Group")).otherwise(
        F.concat(
            F.col("event_type"),
            F.lit("-"),
            (F.col("user_id") % 5).cast("string"),
            F.lit(" Col"),
        )
    )
    return ev.select(
        F.col("event_id").alias("id"),
        raw.alias("raw"),
        normalize_identifier_col(raw).alias("ident"),
    )


def q_sync_catalog_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream catalog diff — the typed change actions the engine's
    schema evolution applies (≡ the reference's discovered-vs-configured
    catalog comparison feeding per-stream schema updates; rules from the
    catalog_schema_change golden scenario, test_normalization.py:126-137):
    column only in new → add_column; widened along boolean<bigint<double<
    string → promote_type; dropped columns ignored (history preserved);
    anything else → incompatible. Pure driver-side metadata — no Spark job
    reads data; the same rules run inside LakeTable.evolve_schema."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from airbyte_spark.schema import AddColumn, PromoteType, diff_schemas

    old = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    evolved = StructType(
        [
            *[f for f in old.fields if f.name not in ("n_chars", "source")],
            StructField("n_chars", DoubleType(), True),  # widened bigint→double
            StructField("quality", DoubleType(), True),  # added
        ]
    )
    rows = []
    for a in diff_schemas(old, evolved):
        if isinstance(a, AddColumn):
            rows.append((a.name, "add_column", None, a.dtype.simpleString()))
        elif isinstance(a, PromoteType):
            rows.append((a.name, "promote_type", a.old.simpleString(), a.new.simpleString()))
        else:
            rows.append((a.name, "incompatible", a.old.simpleString(), a.new.simpleString()))
    return spark.createDataFrame(
        sorted(rows), "field string, change string, old_type string, new_type string"
    )


# --- sync-mode queries (full refresh / append / reset through the lake) ---------


def q_sync_multistream(spark: SparkSession, sf_dir: str, atomic: bool = False) -> DataFrame:
    """Multi-stream catalog sync — the reference's actual unit of work
    (ConfiguredAirbyteCatalog, airbyte_protocol.yaml:160-198; per-stream
    routing BufferedStreamConsumer.java:166-174): one SyncCatalog carrying
    two streams with different PKs and destination modes, synced in one
    call. Stream 1 = pages append_dedup (checkpointed CDC replay); stream
    2 = the SAME source keyed by composite (url, lang) as full-refresh
    OVERWRITE. Returns the union of both synced tables' key/cursor rows —
    one gated result proving per-stream targets, modes and state.

    `atomic=True` (query sync_multistream_atomic) runs the SAME catalog
    through the all-or-nothing path: every stream staged on a txn WAP
    branch, one catalog-transaction decision publishing both — each main
    table advances exactly ONE version despite the replay's many
    checkpointed commits (asserted in-query), and the result must be
    byte-identical to the per-stream path, which is what sharing the
    oracle states."""
    from airbyte_spark.catalog import ConfiguredStream, SyncCatalog, sync
    from airbyte_spark.protocol import DestinationSyncMode, StreamConfig, SyncMode
    from airbyte_spark.sources.registry import synthetic_changelog_source
    from airbyte_spark.streaming.pipeline import CdcPipeline, default_target_schema

    tmp = tempfile.mkdtemp(prefix="airbyte_spark_cat_")
    pages = ConfiguredStream(
        cfg=StreamConfig(name="pages", schema=default_target_schema()),
        source=synthetic_changelog_source(sf_dir),
        target_path=f"{tmp}/pages",
        n_buckets=8,
    )
    by_lang = ConfiguredStream(
        cfg=StreamConfig(
            name="pages_by_lang",
            schema=default_target_schema(),
            sync_mode=SyncMode.FULL_REFRESH,
            destination_sync_mode=DestinationSyncMode.OVERWRITE,
            primary_key=["url", "lang"],
        ),
        source=synthetic_changelog_source(sf_dir),
        target_path=f"{tmp}/by_lang",
        n_buckets=8,
        extract=False,
    )
    from airbyte_spark.lake.format import LakeTable

    sync(
        spark,
        SyncCatalog([pages, by_lang]),
        atomic=atomic,
        txn_log_dir=f"{tmp}/_txn" if atomic else None,
    )
    if atomic:
        for path in (pages.target_path, by_lang.target_path):
            t = LakeTable.load(spark, path)
            assert t.current_version() == 2, "atomic publish must be ONE commit"
            assert t.branches() == [], "txn branch must be cleaned up"
    a = (
        CdcPipeline.create_target(spark, pages.target_path)
        .final_state()
        .select(
            F.lit("pages").alias("stream"), "url", "lang", "warc_ts", "_ab_cdc_lsn"
        )
    )
    b = LakeTable.load(spark, by_lang.target_path).read().select(
        F.lit("pages_by_lang").alias("stream"), "url", "lang", "warc_ts", "_ab_cdc_lsn"
    )
    return a.unionByName(b)


def q_sync_multistream_atomic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q_sync_multistream(spark, sf_dir, atomic=True)


def q_sync_full_refresh_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DestinationSyncMode.OVERWRITE: full-refresh snapshot atomically
    replaces the table (≡ reference transactional TRUNCATE+INSERT swap,
    JdbcBufferedConsumerFactory.java:169-179). Runs through LakeTable
    overwrite and reads the committed snapshot back."""
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    ch = read_changelog(spark, sf_dir)
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc_nulls_last(), F.col("_ab_cdc_lsn").desc_nulls_last()
    )
    snapshot = (
        ch.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & F.col("_ab_cdc_deleted_at").isNull())
        .select("url", "warc_ts", "lang", "_ab_cdc_lsn")
    )
    path = tempfile.mkdtemp(prefix="airbyte_spark_fr_") + "/pages_fr"
    t = LakeTable.create(spark, path, snapshot.schema, PartitionSpec.bucket("url", 8))
    t.overwrite(snapshot, stat_cols=["url"])
    return t.read()


def q_sync_append_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DestinationSyncMode.APPEND: raw-table semantics — every event lands
    with a deterministic record id (≡ _airbyte_raw_<stream> with
    _airbyte_ab_id/_airbyte_emitted_at, JdbcSqlOperations.java:44-51;
    deterministic md5 id instead of uuid for replay-stable output)."""
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    ch = read_changelog(spark, sf_dir)
    raw = ch.select(
        F.md5(F.concat_ws(":", F.col("url"), F.col("_ab_cdc_lsn"))).alias("_ab_id"),
        "url",
        "warc_ts",
        "lang",
        F.col("_emitted_at"),
        "checkpoint_id",
    )
    path = tempfile.mkdtemp(prefix="airbyte_spark_ap_") + "/pages_raw"
    t = LakeTable.create(spark, path, raw.schema, PartitionSpec())
    t.append(raw, checkpoint_key="raw-0")
    return t.read()


def q_sync_reset_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reset semantics (≡ EmptyAirbyteSource + truncate,
    airbyte-workers EmptyAirbyteSource.java:36-60): populate then truncate;
    the committed snapshot must be empty with the schema intact."""
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    ch = read_changelog(spark, sf_dir).select("url", "warc_ts", "lang")
    path = tempfile.mkdtemp(prefix="airbyte_spark_rs_") + "/pages_rs"
    t = LakeTable.create(spark, path, ch.schema, PartitionSpec())
    t.append(ch.limit(100))
    t.truncate()
    return t.read()


def q_sync_copy_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-via-object-store sink (≡ StreamCopier.java:14-66
    prepareStagingFile → write → copy): staged parquet objects are
    registered into the lake table by one metadata commit — no record is
    rewritten — and the committed table must equal the staged batch."""
    from airbyte_spark.lake.copy_into import copy_into, stage_objects
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = tempfile.mkdtemp(prefix="airbyte_spark_cp_")
    t = LakeTable.create(spark, base + "/events_copy", src.schema, PartitionSpec())
    stage_objects(src, base + "/staging")
    copy_into(t, base + "/staging", checkpoint_key="copy-0")
    return t.read()


# --- source adapters (HTTP API stream, Singer tap) --------------------------------


def q_sync_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (≡ Iceberg rewriteDataFiles; the maintenance
    op behind the reference's periodic raw-table cleanup): many small
    checkpoint commits are bin-packed into target-size files in ONE
    metadata commit, and the table contents must be byte-identical before
    and after — compaction is pure physical reorganization."""
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = tempfile.mkdtemp(prefix="airbyte_spark_compact_")
    t = LakeTable.create(spark, base + "/events_cp", src.schema, PartitionSpec())
    # five small append commits → five+ small files, the CDC-sink pathology
    for i in range(5):
        t.append(src.filter(F.col("event_id") % 5 == i), checkpoint_key=f"seg-{i}")
    n_before = len(t.files())
    t.compact(target_file_bytes=512 * 1024 * 1024, min_input_files=2)
    assert len(t.files()) < n_before, "compact must shrink the file count"
    return t.read().select("event_id", "ts", "user_id", "event_type", "value", "props")


def q_sync_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation / time travel (≡ Iceberg VERSION AS OF; what
    makes the reference's raw-table 'atomic swap' auditable): after an
    overwrite replaces the table contents, reading the pre-overwrite
    version must return exactly the first batch — old snapshots stay
    readable until vacuum()."""
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_tt_")
    t = LakeTable.create(spark, base + "/events_tt", src.schema, PartitionSpec())
    t.append(src.filter(F.col("event_id") % 2 == 0), checkpoint_key="tt-0")
    v_even = t.current_version()
    t.overwrite(src.filter(F.col("event_id") % 2 == 1))
    return t.read(version=v_even)


def q_sync_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-based read-path file pruning (≡ Iceberg TableScan.filter over
    footer min/max; the scan-planning half of what merge already does for
    writes): commits carry per-file event_id stats, so a cursor-range read
    plans only the overlapping files from manifest JSON — zero data I/O at
    planning time — then applies the exact residual predicate. The query
    asserts files were actually skipped, and the result must equal the
    plain SQL range filter."""
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_prune_")
    t = LakeTable.create(spark, base + "/events_pr", src.schema, PartitionSpec())
    # five commits over contiguous event_id ranges → disjoint per-file stats
    # (the shape a cursor-ordered CDC ingest produces naturally)
    span = (src.agg(F.max("event_id")).first()[0] + 1 + 4) // 5
    for i in range(5):
        t.append(
            src.filter(F.col("event_id").between(i * span, (i + 1) * span - 1)),
            checkpoint_key=f"rng-{i}",
            stat_cols=["event_id"],
        )
    ranges = {"event_id": (2500, 4999)}
    pruned = t.prune(ranges)
    assert len(pruned) < len(t.files()), "range read must skip non-overlapping files"
    return t.read_where(ranges)


def q_sync_clustered_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-order rewrite (LakeTable.cluster ≡ Iceberg rewriteDataFiles
    with a sort strategy): ingest arrives id-striped so EVERY file spans
    the whole event_id range and a range read can prune nothing; after
    cluster(["event_id"]) the same manifest stats skip most files. The
    query asserts the before/after pruning counts and returns the
    post-cluster range read — which must equal the plain SQL filter
    (layout changes, data never does)."""
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_cluster_")
    t = LakeTable.create(spark, base + "/events_cl", src.schema, PartitionSpec())
    # id-striped commits: the worst case for range pruning
    for i in range(5):
        t.append(
            src.filter(F.col("event_id") % 5 == i),
            checkpoint_key=f"stripe-{i}",
            stat_cols=["event_id"],
        )
    ranges = {"event_id": (2500, 4999)}
    assert len(t.prune(ranges)) == len(t.files()), "striped layout: nothing prunable"
    t.cluster(["event_id"], target_file_bytes=64 * 1024)
    assert len(t.prune(ranges)) < len(t.files()), "clustered layout must prune"
    return t.read_where(ranges)


def q_sync_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column Z-ORDER rewrite (LakeTable.cluster(zorder=True) ≡ Delta
    OPTIMIZE ... ZORDER BY / Iceberg z-order rewrite): lexicographic sort
    makes stats pruning selective on the FIRST sort column only; Morton
    interleaving of per-column quantile buckets (one approxQuantile sketch
    pass, then pure column expressions) makes every file a narrow
    hyper-rectangle so range reads prune on EITHER column. The query
    asserts a second-column range read actually skips files post-rewrite,
    then returns it — which must equal the plain SQL filter."""
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_zorder_")
    t = LakeTable.create(spark, base + "/events_z", src.schema, PartitionSpec())
    for i in range(5):  # id-striped ingest: worst case for any pruning
        t.append(
            src.filter(F.col("event_id") % 5 == i),
            checkpoint_key=f"stripe-{i}",
            stat_cols=["event_id", "user_id"],
        )
    u_hi = int(src.agg(F.floor(F.max("user_id") / 8)).collect()[0][0])
    ranges = {"user_id": (0, u_hi)}
    t.cluster(["event_id", "user_id"], target_file_bytes=64 * 1024, zorder=True)
    assert len(t.prune(ranges)) < len(t.files()), "z-order must prune dim 2"
    return t.read_where(ranges)


def q_sync_respec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution (≡ Iceberg REPLACE PARTITION FIELD +
    rewriteDataFiles): grow the bucket count 2→8 in one atomic commit —
    the operational move when a table outgrows its layout. Contents must
    be byte-identical before and after; the query asserts the spec
    actually flipped and every live file is clustered under it."""
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_respec_")
    t = LakeTable.create(
        spark, base + "/events_rs", src.schema, PartitionSpec.bucket("event_id", 2)
    )
    t.append(src, checkpoint_key="rs-0", stat_cols=["event_id"])
    t.rewrite_partition_spec(PartitionSpec.bucket("event_id", 8))
    assert t.partition_spec().fields[0].n == 8
    assert all(int(e.partition["p_bucket"]) < 8 for e in t.files())
    return t.read().select("event_id", "ts", "user_id", "event_type", "value", "props")


def q_sync_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write row-level DELETE (≡ Iceberg CoW DELETE / Delta DELETE
    — the GDPR-erasure / bad-batch-purge op the reference's append-only
    raw tables lack): stats-pruned planning finds candidate files, one
    column-pruned pass finds files actually containing matches, only those
    are rewritten (survivors), one atomic manifest commit swaps them. Cost
    scales with the files the predicate touches, not with table size."""
    from airbyte_spark.lake.dml import delete_where
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_dml_")
    t = LakeTable.create(spark, base + "/events_del", src.schema, PartitionSpec())
    for i in range(4):
        t.append(
            src.filter(F.col("event_id") % 4 == i),
            checkpoint_key=f"seg-{i}",
            stat_cols=["event_id"],
        )
    n_files = len(t.files())
    res = delete_where(t, "event_type = 'error' OR user_id % 100 = 7")
    assert 1 <= res["files_rewritten"] <= n_files
    return t.read().select("event_id", "ts", "user_id", "event_type", "value", "props")


def q_sync_segmented_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented manifests (≡ Iceberg's manifest-list → manifest-file tree,
    JSON flavor; format.py _dehydrate/_hydrate): the file list and the
    committed-checkpoint set live in immutable segment files, so a commit
    writes one small head + only its DELTA — O(batch) metadata per commit
    instead of O(live files), the property that keeps per-commit driver
    work flat at a 100 TB / ~200k-file table. A table takes that form by
    size alone, so for its duration the query lowers the format module's
    size thresholds (files: any, committed tail: 2 keys) and restores them
    after. It drives appends (old segments must carry forward BY
    REFERENCE), a row-level DELETE (only the touched segment rewrites), and
    committed-tail sealing, then returns the table — results must be
    byte-identical to the inline form, which is what the oracle states in
    plain SQL."""
    import json as _json

    from airbyte_spark.lake import format as _fmt
    from airbyte_spark.lake.dml import delete_where
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_segm_")
    saved = _fmt._AUTO_SEGMENT_FILES, _fmt._COMMITTED_TAIL
    _fmt._AUTO_SEGMENT_FILES, _fmt._COMMITTED_TAIL = 0, 2
    try:
        t = LakeTable.create(spark, base + "/events_segm", src.schema, PartitionSpec())
        for i in range(4):
            t.append(
                src.filter(F.col("event_id") % 4 == i),
                checkpoint_key=f"seg-{i}",
                stat_cols=["event_id"],
            )

        def _raw(v):
            with open(f"{t.path}/_lake/v{v:09d}.json") as fh:
                return _json.load(fh)

        head = _raw(t.current_version())
        assert head["files"] == [] and head["file_segments"], "head must hold refs only"
        assert head.get("committed_segments"), "committed tail must have sealed"
        # O(delta) evidence: every segment ref of the pre-append head survives
        # the last append untouched (carried by reference, not rewritten)
        prev_refs = {r["path"] for r in _raw(t.current_version() - 1)["file_segments"]}
        assert prev_refs <= {r["path"] for r in head["file_segments"]}
        delete_where(t, "event_type = 'error'")
        # exactly-once guard must see sealed keys: redelivery is a no-op
        v = t.current_version()
        t.append(src.limit(7), checkpoint_key="seg-1")
        assert t.current_version() == v
        assert set(t.committed()) >= {f"seg-{i}" for i in range(4)}
    finally:
        _fmt._AUTO_SEGMENT_FILES, _fmt._COMMITTED_TAIL = saved
    return t.read().select("event_id", "ts", "user_id", "event_type", "value", "props")


def q_sync_delete_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality-delete files (≡ Iceberg v2 equality deletes; lake/dml.py
    delete_equality): 'purge these keys' lands as an O(|keys|) METADATA
    commit — no data file read or rewritten, the only delete shape that
    stays affordable when 10k urls must vanish from a 100 TB table NOW.
    Reads anti-join the key sidecar against data files whose data
    sequence number predates the delete, so rows re-inserted AFTER the
    delete survive (Iceberg's strictly-lower-seq rule) — which the query
    proves by re-appending half the deleted users' rows and asserting
    both directions in the oracle."""
    from airbyte_spark.lake.dml import delete_equality
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_eqdel_")
    t = LakeTable.create(spark, base + "/events_eq", src.schema, PartitionSpec())
    for i in range(3):
        t.append(
            src.filter(F.col("event_id") % 3 == i),
            checkpoint_key=f"seg-{i}",
            stat_cols=["event_id"],
        )
    files_before = {e.path for e in t.files()}
    delete_equality(
        t, src.filter("user_id % 10 = 3").select("user_id"), checkpoint_key="purge-3"
    )
    assert {e.path for e in t.files()} == files_before, "must be metadata-only"
    assert len(t.eq_delete_files()) == 1
    # strictly-lower-seq rule: re-inserts after the delete are visible
    t.append(
        src.filter("user_id % 10 = 3 AND event_id % 2 = 0"),
        checkpoint_key="reinsert",
    )
    # idempotent redelivery of the delete is a no-op
    v = t.current_version()
    delete_equality(t, src.limit(3).select("user_id"), checkpoint_key="purge-3")
    assert t.current_version() == v
    return t.read().select("event_id", "ts", "user_id", "event_type", "value", "props")


def q_sync_add_column_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD COLUMN with an initial DEFAULT (≡ Iceberg v3 initial-default /
    SQL ADD COLUMN ... DEFAULT; format.py add_column): a metadata-only
    commit backfills a constant onto every pre-existing row — zero
    rewrites, keyed on the new field id, so at 100 TB the backfill costs
    one manifest write. Rows appended after the add carry their own
    values; the oracle states both generations in plain SQL."""
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_defcol_")
    t = LakeTable.create(spark, base + "/events_def", src.schema, PartitionSpec())
    t.append(src, checkpoint_key="bulk")
    files_before = {e.path for e in t.files()}
    t.add_column("source", "string", default="backfill")
    assert {e.path for e in t.files()} == files_before, "must be metadata-only"
    t.append(
        src.filter("event_id % 5 = 0").withColumn("source", F.lit("live")),
        checkpoint_key="live-batch",
    )
    return t.read().select(
        "event_id", "ts", "user_id", "event_type", "value", "props", "source"
    )


def q_sync_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write row-level UPDATE (lake/dml.py update_where — completes
    the DML triad): matching rows get SET value = value * 2, props =
    upper(props) with standard self-referencing UPDATE semantics; only
    files containing matches are rewritten, non-matching rows pass through
    byte-identically. Oracle is the SELECT-with-CASE restatement."""
    from airbyte_spark.lake.dml import update_where
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_dml_")
    t = LakeTable.create(spark, base + "/events_upd", src.schema, PartitionSpec())
    for i in range(4):
        t.append(
            src.filter(F.col("event_id") % 4 == i),
            checkpoint_key=f"seg-{i}",
            stat_cols=["event_id"],
        )
    res = update_where(
        t,
        "event_type = 'purchase' AND user_id % 10 = 3",
        {"value": "value * 2", "props": "upper(props)"},
    )
    assert res["rows_updated"] > 0
    return t.read().select("event_id", "ts", "user_id", "event_type", "value", "props")


def q_sync_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General MERGE INTO (lake/dml.py merge_into — SQL:2003 tri-clause,
    ≡ Delta/Iceberg MERGE): a source of corrections updates matched
    'purchase' rows (summing both sides), deletes matched 'error' rows,
    and inserts unseen events — one atomic commit. Oracle restates the
    clauses as a FULL-OUTER CASE join."""
    from airbyte_spark.lake.dml import merge_into
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src_cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(*src_cols)
    base = tempfile.mkdtemp(prefix="airbyte_spark_dml_")
    t = LakeTable.create(spark, base + "/events_mi", ev.schema, PartitionSpec())
    for i in range(4):
        t.append(
            ev.filter(F.col("event_id") % 4 == i),
            checkpoint_key=f"seg-{i}",
            stat_cols=["event_id"],
        )
    # deterministic correction feed: every 7th event gets touched
    source = ev.filter(F.col("event_id") % 7 == 0).select(
        "event_id", "ts", "user_id", "event_type",
        (F.col("value") + 1000).alias("value"),
        F.upper(F.col("props")).alias("props"),
    )
    inserts = ev.filter(F.col("event_id") % 1000 == 1).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        "ts", "user_id", F.lit("backfill").alias("event_type"),
        "value", "props",
    )
    merge_into(
        t,
        source.unionByName(inserts),
        on=["event_id"],
        when_matched_update={"value": "src.value", "props": "src.props"},
        when_matched_delete="event_type = 'error'",
    )
    return t.read().select(*src_cols)


def q_sync_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic predicate backfill (≡ Delta replaceWhere / Iceberg
    overwrite-by-filter): the 'purchase' region is deleted and re-inserted
    with recomputed values in ONE snapshot — readers see the old region or
    the new one, never a mix. Replacement rows outside the predicate are
    rejected before staging."""
    from airbyte_spark.lake.dml import replace_where
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_dml_")
    t = LakeTable.create(spark, base + "/events_rw", src.schema, PartitionSpec())
    for i in range(3):
        t.append(src.filter(F.col("event_id") % 3 == i), checkpoint_key=f"seg-{i}")
    replacement = src.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.col("user_id").cast("double")
    )
    res = replace_where(t, replacement, "event_type = 'purchase'")
    assert res["rows_inserted"] == res["rows_deleted"]  # 1:1 backfill here
    return t.read().select("event_id", "ts", "user_id", "event_type", "value", "props")


def q_sync_wap_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (≡ Iceberg branches + the WAP pattern; ≡ the
    reference's tmp-table-then-atomic-swap finalize generalized to multi
    -commit staging): a risky ingest lands on an isolated branch, the
    audit DELETEs bad rows there, publish fast-forwards main in one CAS
    manifest write. Main's reads are asserted unchanged while the branch
    holds staged work; the final state must equal the oracle's view of
    'both batches, minus audited-out rows'."""
    from airbyte_spark.lake.dml import delete_where
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_wap_")
    t = LakeTable.create(spark, base + "/events_wap", src.schema, PartitionSpec())
    t.append(src.filter(F.col("event_id") % 3 == 0), checkpoint_key="main-0")
    main_version = t.current_version()
    br = t.create_branch("audit")
    br.append(src.filter(F.col("event_id") % 3 == 1), checkpoint_key="wap-1")
    # audit ON THE BRANCH: purge rows that must never reach main readers
    delete_where(br, "event_type = 'error'")
    assert t.current_version() == main_version  # main saw none of it
    t.publish_branch("audit")
    return t.read().select("event_id", "ts", "user_id", "event_type", "value", "props")


def q_sync_catalog_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table catalog transaction (≡ Iceberg REST-catalog multi-table
    commit; fixes the reference's per-stream-flush visibility gap): an
    events table and its per-user rollup are appended on txn branches and
    published by ONE logged decision — readers see neither or both. The
    query asserts the torn state is never visible, commits, and returns
    the rollup, which must equal the oracle's direct aggregate (proof the
    two tables were written consistently)."""
    from airbyte_spark.lake.format import LakeTable, PartitionSpec
    from airbyte_spark.lake.transaction import CatalogTransaction

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    rollup = src.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_txn_")
    ta = LakeTable.create(spark, base + "/events_txn", src.schema, PartitionSpec())
    tb = LakeTable.create(spark, base + "/rollup_txn", rollup.schema, PartitionSpec())
    txn = CatalogTransaction.begin(
        spark, base + "/_txn_log",
        {"events": base + "/events_txn", "rollup": base + "/rollup_txn"},
    )
    txn.table("events").append(src, checkpoint_key="txn-ev")
    txn.table("rollup").append(rollup, checkpoint_key="txn-ru")
    assert ta.read().count() == 0 and tb.read().count() == 0  # staged = invisible
    txn.commit()
    return (
        LakeTable.load(spark, base + "/rollup_txn")
        .read()
        .select("user_id", "n_events", "sum_value")
    )


def q_sync_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot rollback (LakeTable.rollback ≡ Iceberg rollback_to_snapshot
    / Delta RESTORE — bad-batch recovery): a corrupt batch lands and is
    committed, rollback publishes a NEW commit restoring the prior
    snapshot's files AND its committed-checkpoint set (table state and
    exactly-once state move together), history stays time-travel readable,
    and the fixed batch re-applies under its original checkpoint key. The
    final read must equal the oracle's clean view."""
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_rollback_")
    t = LakeTable.create(spark, base + "/events_rb", src.schema, PartitionSpec())
    t.append(src.filter(F.col("event_id") % 2 == 0), checkpoint_key="seg-0")
    v_good = t.current_version()
    corrupt = src.filter(F.col("event_id") % 2 == 1).withColumn(
        "event_type", F.lit("CORRUPT")
    )
    t.append(corrupt, checkpoint_key="seg-1")
    t.rollback(v_good)
    assert "seg-1" not in t.committed(), "rollback must un-commit the bad segment"
    assert t.read(version=v_good + 1).count() > t.read().count()  # history kept
    t.append(src.filter(F.col("event_id") % 2 == 1), checkpoint_key="seg-1")
    return t.read().select("event_id", "ts", "user_id", "event_type", "value", "props")


def q_sync_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only column rename via field ids (≡ Iceberg ALTER TABLE ...
    RENAME COLUMN; ≡ the reference's catalog-diff handling of a renamed
    source field, which must NOT degrade to drop+add and lose history):
    half the rows are written under the OLD name, the column is renamed
    touching zero data files, the other half lands under the NEW name —
    the read projects both generations onto the current name by field id."""
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_rename_")
    t = LakeTable.create(spark, base + "/events_rn", src.schema, PartitionSpec())
    t.append(src.filter(F.col("event_id") % 2 == 0), checkpoint_key="old-name")
    files_before = {e.path for e in t.files()}
    t.rename_column("value", "score")
    assert {e.path for e in t.files()} == files_before  # no data rewrite
    t.append(
        src.filter(F.col("event_id") % 2 == 1).withColumnRenamed("value", "score"),
        checkpoint_key="new-name",
    )
    return t.read().select("event_id", "ts", "user_id", "event_type", "score", "props")


def q_sync_distinct_urls_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-incremental cardinality (DataSketches HLL, hll_sketch_agg /
    hll_union_agg): one mergeable sketch per checkpoint segment, unioned
    into a whole-stream distinct-url estimate with NO rescan. The gate is
    an accuracy contract: the query returns the EXACT distinct count plus
    a flag that the union-of-segment-sketches estimate lands within 1% of
    it (lgK=14 ⇒ ~0.8% rse); a drifting estimate flips the flag and fails
    the hash."""
    from airbyte_spark.operators.sketches import (
        segment_key_sketches,
        union_distinct_estimate,
    )

    log = read_changelog(spark, sf_dir)
    est = union_distinct_estimate(segment_key_sketches(log, "url"))
    exact = log.agg(
        F.countDistinct("url").alias("n_distinct_urls"),
        F.count("*").alias("n_rows"),
    )
    return exact.crossJoin(est.select("n_distinct_est")).select(
        "n_rows",
        "n_distinct_urls",
        (
            F.abs(F.col("n_distinct_est") - F.col("n_distinct_urls"))
            <= 0.01 * F.col("n_distinct_urls")
        ).alias("est_within_1pct"),
    )


def q_sync_hot_domain_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-domain detection for skew salting (Misra-Gries candidates →
    exact broadcast recount, operators/sketches.py): every domain holding
    > 1/25 of the change stream, with its exact event count — bounded
    O(k) memory per task and no shuffle of the key column beyond the
    candidate subset. Output is exact, so the oracle is a plain
    GROUP BY ... HAVING."""
    from airbyte_spark.functions.urls import url_domain
    from airbyte_spark.operators.sketches import heavy_hitters

    log = read_changelog(spark, sf_dir)
    return heavy_hitters(log, url_domain(F.col("url")), k=25).select(
        F.col("key").alias("domain"), F.col("n").alias("n_events")
    )


def q_sync_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only COUNT/MIN/MAX (≡ Iceberg snapshot-summary fast path):
    the answer is folded from per-file parquet-footer stats recorded in the
    manifest at write time — no Spark job, no data file opened. The oracle
    computes the same aggregates by scanning, proving the footer fold is
    exact, not approximate."""
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_stats_")
    t = LakeTable.create(spark, base + "/events_st", src.schema, PartitionSpec())
    for i in range(3):
        t.append(
            src.filter(F.col("event_id") % 3 == i),
            checkpoint_key=f"seg-{i}",
            stat_cols=["event_id", "user_id", "value"],
        )
    s = t.stats_summary()
    c = s["columns"]
    row = [
        (
            int(s["rows"]),
            int(c["event_id"]["min"]),
            int(c["event_id"]["max"]),
            int(c["user_id"]["min"]),
            int(c["user_id"]["max"]),
            float(c["value"]["min"]),
            float(c["value"]["max"]),
        )
    ]
    return spark.createDataFrame(
        row,
        "n_rows bigint, min_event_id bigint, max_event_id bigint, "
        "min_user_id bigint, max_user_id bigint, min_value double, max_value double",
    )


def q_sync_incremental_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot-diff consumption (≡ Iceberg incremental append
    scan; the lake table acting as a CDC *source* for downstream readers):
    a consumer that saw version v resumes by reading exactly the files
    committed after v — planned from manifest set-difference, zero rescan
    of already-consumed data."""
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_inc_")
    t = LakeTable.create(spark, base + "/events_inc", src.schema, PartitionSpec())
    t.append(src.filter(F.col("event_id") % 3 == 0), checkpoint_key="inc-0")
    v_seen = t.current_version()
    t.append(src.filter(F.col("event_id") % 3 == 1), checkpoint_key="inc-1")
    t.append(src.filter(F.col("event_id") % 3 == 2), checkpoint_key="inc-2")
    return t.changes_between(v_seen)


def q_src_http_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP API stream via distributed offset pagination (≡ airbyte-cdk
    HttpStream page walk, http.py:25-361, with the page as the unit of
    parallelism): the paginated read of the REST facade must equal the
    table it fronts."""
    from airbyte_spark.sources.http import (
        HttpStreamConfig,
        events_rest_transport,
        read_http_stream,
    )

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    cfg = HttpStreamConfig(
        name="events", path="events", schema=schema, page_size=1000
    )
    return read_http_stream(spark, cfg, events_rest_transport(sf_dir))


def q_src_http_substream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parent-child substream (≡ airbyte-cdk HttpSubStream, http.py:363-386:
    read the parent stream, spawn one child read per parent record): the
    parents here are a user_id slice, each fanning out to its
    users/{parent}/events child endpoint — parents are the unit of
    parallelism, pagination stays sequential per parent (token chains are
    per-parent). Every child row is stamped with its parent key; the
    result must equal the parent⋈child join DuckDB computes directly,
    which is exactly what a substream IS relationally."""
    from airbyte_spark.sources.http import (
        HttpStreamConfig,
        events_rest_transport,
        read_http_substream,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    parents = ev.select("user_id").distinct().filter(F.col("user_id") % 5 == 2)
    cfg = HttpStreamConfig(
        name="user_events",
        path="users/{parent}/events",
        schema=ev.schema,
        page_size=500,
    )
    return read_http_substream(
        spark, parents, "user_id", cfg, events_rest_transport(sf_dir),
        child_parent_col="parent_user_id",
    )


def q_src_sql_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-database source over a live DuckDB file (sources/sql.py ≡
    AbstractJdbcSource.java:215-245 + AbstractDbSource.java:78-125):
    discover from information_schema, partition-parallel reads with one
    read-only connection per executor task, and the cursor predicate
    COMPILED INTO the database query. Two-phase sync: phase 1 full-syncs
    the table as initially loaded (event_id ≤ mid); new rows then land
    in the database and phase 2 resumes with `cursor > ?` pushed down,
    so only post-cursor rows ever leave the database. The tagged union
    of both phases must equal DuckDB's direct read of the same rows."""
    import duckdb

    import airbyte_spark.sources.sql  # noqa: F401 — registers "sql"
    from airbyte_spark.sources.registry import source_factory

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).first()
    mid = (int(lo) + int(hi)) // 2
    db = tempfile.mkdtemp(prefix="airbyte_spark_sqlsrc_") + "/src.duckdb"
    con = duckdb.connect(db)
    con.execute(
        f"CREATE TABLE events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet') WHERE event_id <= {mid}"
    )
    con.close()
    src = source_factory("sql")(
        db,
        "events",
        column_map={
            "url": "concat('https://e/', cast(event_id as string))",
            "warc_ts": "ts",
            "_ab_cdc_lsn": "event_id",
        },
        cursor_field="event_id",
        lsn_field="event_id",
        partition_column="event_id",
        num_partitions=8,
        batch_span=1_000,
    )
    cols = ["url", "warc_ts", F.col("_ab_cdc_lsn").alias("lsn")]
    # materialize phase 1 BEFORE the database grows: the partitioned read
    # is lazy (each task queries the db at execution time), and a sync's
    # output is its read-time snapshot
    p1 = (
        src(spark, {}).select(*cols).withColumn("phase", F.lit("p1"))
        .localCheckpoint(eager=True)
    )
    con = duckdb.connect(db)
    con.execute(
        f"INSERT INTO events SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet') WHERE event_id > {mid}"
    )
    con.close()
    p2 = (
        src(spark, {"cursor_value": int(mid)})
        .select(*cols)
        .withColumn("phase", F.lit("p2"))
    )
    return p1.unionByName(p2)


def q_src_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC container round-trip (ISO 28500, Common Crawl's page format):
    serialize documents as member-per-record gzip WARC shards with
    `applyInPandas` (one file per task), re-read them with
    binaryFile+`mapInPandas` (one file per task), and recover the exact
    (url, warc_ts, text, n_bytes) rows — the byte-identity invariant the
    north rule demands, applied to the container format itself."""
    from airbyte_spark.sources.warc import read_warc, write_warc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.select(
        F.concat(
            F.lit("https://example.com/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.col("doc_id") * 60).cast("timestamp_ntz").alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
    )
    out = tempfile.mkdtemp(prefix="airbyte_spark_warc_") + "/segment"
    write_warc(pages, out, n_shards=8)
    back = read_warc(spark, out + "/*.warc.gz")
    return back.select(
        "url",
        "warc_ts",
        F.decode("html", "UTF-8").alias("text"),
        F.length("html").cast("long").alias("n_bytes"),
    )


def q_src_warc_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX-indexed random access (≡ Common Crawl's cdx-index + HTTP range
    GET): write documents as indexed WARC shards, then fetch ONLY the
    doc_id%7==0 subset through (warc_file, offset, length) seek-reads —
    kilobytes touched per page regardless of corpus size. Recovered rows
    must equal the oracle's direct selection."""
    from airbyte_spark.sources.warc import read_warc_indexed, write_warc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.select(
        F.concat(
            F.lit("https://example.com/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.col("doc_id") * 60).cast("timestamp_ntz").alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
    )
    out = tempfile.mkdtemp(prefix="airbyte_spark_cdx_") + "/segment"
    write_warc(pages, out, n_shards=4, index=True)
    wanted = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.concat(
            F.lit("https://example.com/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    back = read_warc_indexed(spark, out, urls=wanted)
    return back.select(
        "url", "warc_ts", F.decode("html", "UTF-8").alias("text")
    )


def q_src_warc_cdc_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: two WARC crawl segments (full crawl at t, recrawl of
    doc_id%3==0 pages a day later with revised bodies) ingested through
    the registry `warc` source into the LWW merge — final table state must
    be 'latest fetch per url', i.e. revised text for recrawled pages and
    the original elsewhere. Exercises the whole chain the north rule
    names: container read → CDC envelope → key-partitioned merge."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    from airbyte_spark.lake.format import LakeTable, PartitionSpec
    from airbyte_spark.lake.merge import merge_upsert
    from airbyte_spark.protocol import StreamConfig
    from airbyte_spark.sources.registry import source_factory
    from airbyte_spark.sources.warc import write_warc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url = F.concat(
        F.lit("https://example.com/"),
        F.col("source"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
    )
    seg0 = docs.select(
        url.alias("url"),
        F.timestamp_seconds(F.col("doc_id") * 60).cast("timestamp_ntz").alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
    )
    seg1 = docs.filter(F.col("doc_id") % 3 == 0).select(
        url.alias("url"),
        F.timestamp_seconds(F.col("doc_id") * 60 + 86400)
        .cast("timestamp_ntz")
        .alias("warc_ts"),
        F.encode(F.concat(F.col("text"), F.lit(" rev2")), "UTF-8").alias("html"),
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_warc_e2e_")
    write_warc(seg0, base + "/seg0", n_shards=4)
    write_warc(seg1, base + "/seg1", n_shards=2)

    target = StructType(
        [
            StructField("url", StringType(), False),
            StructField("warc_ts", TimestampNTZType(), True),
            StructField("html", BinaryType(), True),
            StructField("_ab_cdc_lsn", LongType(), True),
            StructField("_ab_cdc_deleted_at", TimestampNTZType(), True),
        ]
    )
    cfg = StreamConfig(name="crawl", schema=target, primary_key=["url"])
    t = LakeTable.create(
        spark, base + "/crawl", target, PartitionSpec.bucket("url", 4)
    )
    for i, seg in enumerate(("seg0", "seg1")):
        batch = source_factory("warc")(f"{base}/{seg}/*.warc.gz")(spark, {})
        merge_upsert(t, batch.select(*target.fieldNames()), cfg,
                     checkpoint_key=f"crawl-{i}")
    return t.read().select(
        "url", "warc_ts", F.decode("html", "UTF-8").alias("text")
    )


def q_src_warc_revisit_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-crawl storage dedup via WARC revisit records (ISO 28500
    §6.7.2 identical-payload-digest — what real web archives do): the
    second crawl stores bodies only for changed pages (doc_id%3==0);
    unchanged pages become digest-only revisit records resolved back to
    bytes from the first crawl's store. The recovered second crawl must
    equal the oracle's closed form, with is_revisit marking exactly the
    unchanged pages."""
    from airbyte_spark.sources.warc import (
        read_warc,
        resolve_revisits,
        write_warc,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url = F.concat(
        F.lit("https://example.com/"),
        F.col("source"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
    )
    crawl0 = docs.select(
        url.alias("url"),
        F.timestamp_seconds(F.col("doc_id") * 60).cast("timestamp_ntz").alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
    )
    crawl1 = docs.select(
        url.alias("url"),
        F.timestamp_seconds(F.col("doc_id") * 60 + 86400)
        .cast("timestamp_ntz")
        .alias("warc_ts"),
        F.encode(
            F.when(
                F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" rev2"))
            ).otherwise(F.col("text")),
            "UTF-8",
        ).alias("html"),
    )
    base = tempfile.mkdtemp(prefix="airbyte_spark_rv_")
    write_warc(crawl0, base + "/c0", n_shards=4)
    pages0 = read_warc(spark, base + "/c0/*.warc.gz")
    write_warc(
        crawl1, base + "/c1", n_shards=4,
        revisit_digests=pages0.select("payload_digest"),
    )
    resolved = resolve_revisits(read_warc(spark, base + "/c1/*.warc.gz"), pages0)
    return resolved.select(
        "url",
        "warc_ts",
        F.decode("html", "UTF-8").alias("text"),
        "is_revisit",
    )


def q_src_singer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Singer-tap adapter round-trip (≡ singer_helpers.py:162-219 message
    bridge): emit events as SCHEMA/RECORD/STATE JSONL, then re-parse the
    RECORD lines distributed and typed — must equal the source table."""
    from airbyte_spark.sources.singer import (
        read_singer_records,
        singer_glob,
        write_singer,
    )

    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = tempfile.mkdtemp(prefix="airbyte_spark_tap_") + "/tap_out"
    write_singer(src, out, "events", key_properties=["event_id"])
    return read_singer_records(spark, singer_glob(out), "events")


# --- training-data operators: documents ------------------------------------------


def q_doc_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-rules compliance verdict (RFC 9309 longest-prefix-match,
    operators/robots.py): sites 0-4 disallow /p/ but re-allow /p/1* (the
    longer rule wins), sites 5-9 publish no rules (default allow). The
    broadcast rules join + per-url max_by must reproduce the closed-form
    oracle on every distinct page url."""
    from airbyte_spark.operators.robots import apply_robots_rules

    log = read_changelog(spark, sf_dir)
    pages = log.select("url").distinct()
    rules = spark.createDataFrame(
        [(f"site-{k}.example.com", "/p/", False) for k in range(5)]
        + [(f"site-{k}.example.com", "/p/1", True) for k in range(5)],
        ["domain", "path_prefix", "allow"],
    )
    return apply_robots_rules(pages, rules).select("url", "robots_allowed")


def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbyte_spark.operators.dedup_text import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup(docs).select("doc_id", "fingerprint")


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbyte_spark.operators.textops import with_quality

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_quality(docs).select(
        "doc_id",
        "n_words",
        "n_tokens",
        "mean_word_len",
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
    )


def q_doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbyte_spark.operators.textops import language_id

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", language_id(F.col("text")).alias("lang_pred"))


def q_doc_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates → exact-Jaccard verify (the sub-quadratic scale path;
    the all-pairs jaccard_pairs form remains the recall oracle in tests)."""
    from airbyte_spark.operators.dedup_text import lsh_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lsh_jaccard_pairs(docs, threshold=0.5)


def q_doc_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbyte_spark.operators.dedup_text import lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lsh_pairs(docs)


def q_doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terminal dedup step: connected components over the LSH candidate
    graph → per-doc cluster_id (min reachable doc_id) + canonical keep
    flag. Iterative min-label propagation, rounds = component diameter
    (oracle: DuckDB recursive CTE over the same md5-deterministic pairs)."""
    from airbyte_spark.operators.dedup_text import near_dup_clusters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return near_dup_clusters(docs)


def q_doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup against a persistent fingerprint registry: three
    arriving batches are each admitted against everything registered so
    far (cost ∝ batch, never ∝ corpus), exactly-once per checkpoint key.
    Union of admissions must equal one-shot exact dedup of the corpus."""
    from airbyte_spark.operators.dedup_incremental import create_registry, ingest_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = tempfile.mkdtemp(prefix="airbyte_spark_reg_")
    reg = create_registry(spark, base + "/registry", n_buckets=8)
    hi = docs.agg(F.max("doc_id")).first()[0]
    span = (hi + 1 + 2) // 3
    parts = []
    for i in range(3):
        batch = docs.filter(F.col("doc_id").between(i * span, (i + 1) * span - 1))
        parts.append(
            ingest_dedup(reg, batch, f"seg-{i}").select("doc_id", "fingerprint")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_doc_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full corpus-curation verdict per document (what a training-data
    pipeline actually ships): quality score + language ID fused into the
    scan, near-dup canonical flag from the LSH/connected-components
    branch, one equi-join to assemble — retained = canonical ∧ quality."""
    from airbyte_spark.operators.curate import curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return curate_corpus(docs)


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (top word/2-gram fraction, duplicate
    3-gram fraction) + rejection flag — the repetition-removal filter of a
    training-data pipeline (operators/repetition.py)."""
    from airbyte_spark.operators.repetition import repetition_signals

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_signals(docs)


def q_doc_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-window min-hash) document fingerprints — the
    MOSS local fingerprinting scheme (Schleimer et al., SIGMOD'03): md5
    every word 4-gram, keep the min hash of each window of 5 consecutive
    k-gram hashes, emit distinct selections. Guarantees a shared
    fingerprint for any shared run of >= w+k-1 tokens at ~2/(w+1) density.
    Pure column expressions fused into the scan — zero shuffles."""
    from airbyte_spark.operators.dedup_text import winnow_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return winnow_fingerprints(docs, k=4, w=5)


def q_doc_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment/partial-overlap candidate pairs over the winnowing
    fingerprints: pairs sharing >= 2 fingerprints, boilerplate
    fingerprints (document frequency > 50) dropped. Detects a small doc
    quoted inside a large one, where Jaccard-LSH misses (set sizes differ
    wildly). Join keyed on the fingerprint — cost ∝ Σ_fp bucket², never a
    corpus cross-product."""
    from airbyte_spark.operators.dedup_text import winnow_overlap_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return winnow_overlap_pairs(docs, k=4, w=5, min_shared=2, max_df=50)


def q_doc_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-200 words by occurrence count with document
    frequency — the vocabulary/stopword-discovery primitive of tokenizer
    training. One groupBy shuffle with map-side combine; the global top-k
    runs over the aggregated vocabulary, never over raw tokens."""
    from airbyte_spark.operators.textops import vocab_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_topk(docs, top=200)


def q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / IPv4 / phone numbers → typed placeholders)
    with per-kind audit counts, all vectorized regexp chains fused into the
    scan. Deterministic PII is injected per doc_id so the oracle exercises
    every rule on every row."""
    from airbyte_spark.operators.textops import pii_counts, scrub_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    injected = F.concat_ws(
        " ",
        F.col("text"),
        F.lit("reach"),
        F.concat(
            F.lit("user"),
            did.cast("string"),
            F.lit("@mail"),
            (did % 7).cast("string"),
            F.lit(".example.com"),
        ),
        F.lit("from"),
        F.concat(F.lit("10."), (did % 200).cast("string"), F.lit(".0.1")),
        F.lit("tel"),
        F.concat(F.lit("+1-555-"), F.lpad((did % 9999).cast("string"), 4, "0")),
    )
    return docs.select(
        "doc_id", *pii_counts(injected), scrub_pii(injected).alias("scrubbed")
    )


def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbyte_spark.operators.dedup_text import simhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash(docs)


def q_doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-adjacent banded simhash join: recall 1.0 for hamming ≤ 3
    by pigeonhole over 4 bands, cost ∝ Σ bucket²."""
    from airbyte_spark.operators.dedup_text import simhash_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_pairs(docs)


# --- training-data operators: embeddings -----------------------------------------


def q_emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbyte_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk(emb.filter(F.col("vec_id") < 5), emb, k=10)


def q_emb_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-IVF-cell candidate restriction (cost N²/C, shuffle keyed on the
    cell id) — the exact all-pairs embedding_near_dups form remains the
    recall oracle in tests."""
    from airbyte_spark.operators.similarity import embedding_near_dups_bucketed

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_near_dups_bucketed(emb, threshold=0.4, num_centroids=16)


def q_emb_srp_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH near-dups — the hyperplane-sketch
    alternative to same-IVF-cell restriction: banded bit-slice self-join
    (cost ∝ Σ bucket²) → exact cosine verify. Hyperplanes are md5-derived
    ±1 constants, so the oracle reproduces the sketch bit-for-bit."""
    from airbyte_spark.operators.similarity import srp_near_dups

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return srp_near_dups(emb, threshold=0.4, bits=60, bands=6)


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from airbyte_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_topk(emb.filter(F.col("vec_id") < 5), emb, k=10, num_centroids=16, nprobe=4)


def q_emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.py): encode every
    vector to 8 one-byte codes (8 subspaces × 16 centroids), then answer
    top-10 per query with asymmetric-distance table lookups over the codes
    column only — the 100 TB memory path (m bytes/vector vs 4·D). The
    oracle recomputes encode + ADC from the unnested elements in SQL."""
    from airbyte_spark.operators.similarity import pq_codebook, pq_encode, pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = pq_codebook(emb, m=8, ksub=16)
    codes = pq_encode(emb, cb, m=8)
    queries = emb.filter(F.col("vec_id") < 5)
    out = pq_topk(queries, codes, cb, k=10, m=8)
    return out.select(
        "q_id", "n_id", "rank", F.round("adist", 8).alias("adist")
    )


def q_emb_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell assignment under k-means-trained centroids (k=8, two Lloyd
    iterations, lowest-id seeding) — the data-adaptive upgrade over the
    lowest-id placeholder cells: init c0 = vectors 0..7, then twice
    {assign-to-nearest-by-cosine, per-cell per-dimension mean}, then a
    final assignment under the trained centroids. Every step is a
    broadcast-join + map-side-combinable aggregate (shuffle moves k×D
    doubles per partition, never vectors); the DuckDB oracle unrolls the
    two iterations as chained CTEs over the long-form (vec_id, i, v)
    relation (same pattern as web_pagerank's unrolled power iteration)."""
    from airbyte_spark.operators.similarity import ivf_assign, kmeans_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_centroids(emb, k=8, iters=2)
    return (
        ivf_assign(emb, 0, centroids=cents)
        .select("vec_id", F.col("cell").cast("bigint").alias("cell"))
        .orderBy("vec_id")
    )


def q_doc_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line-level exact dedup (CCNet/RefinedWeb style): a
    segment survives only at its first (doc_id, position) occurrence and
    documents are reassembled from survivors. One aggregate keyed on the
    segment hash + one keyed on the doc id — no window over duplicate-heavy
    keys, no driver state (operators/corpus.py)."""
    from airbyte_spark.operators.corpus import segment_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return segment_dedup(docs, words_per_segment=10)


def q_doc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking partial-overlap profile: boundaries depend
    only on local word content (md5 prefix), so insertions/deletions
    reshape one chunk and leave every other chunk hash intact — the
    storage-dedup primitive fixed-width segments cannot be. Per doc:
    n_chunks and how many chunk hashes recur in >= 2 documents
    (operators/corpus.py content_defined_chunks / chunk_dedup_stats)."""
    from airbyte_spark.operators.corpus import chunk_dedup_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_dedup_stats(docs)


def q_doc_chunk_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup at content-defined chunk granularity (the
    shift-robust sibling of doc_segment_dedup): a chunk survives only at
    its first (doc, position) occurrence corpus-wide and documents are
    reassembled from survivors (operators/corpus.py chunk_dedup)."""
    from airbyte_spark.operators.corpus import chunk_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_dedup(docs)


def q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word 5-gram
    with the held-out eval slice (doc_id % 97 == 0) are flagged. Eval
    n-gram set is broadcast-sized by construction; train side is one
    map stage + a per-doc count (operators/corpus.py)."""
    from airbyte_spark.operators.corpus import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(tr, ev, n=5)


def q_doc_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by md5(doc_id) hex range —
    stable under resharding/replay, zero shuffles (operators/corpus.py)."""
    from airbyte_spark.operators.corpus import train_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return train_split(docs.select("doc_id")).select("doc_id", "split")


def q_doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy concat-then-chunk sequence packing for training-shard export:
    docs are md5-sharded, laid back-to-back on a per-shard token tape, and
    each doc gets the (seq_id, offset) where it starts. One shuffle (hash
    by shard for the cumulative-sum window); token counting is a vectorized
    regex fused into the scan (operators/corpus.py pack_sequences)."""
    from airbyte_spark.operators.corpus import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences(docs, max_tokens=2048, n_shards=16)


def q_doc_quota_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus quota (mix balancing before training): the exact
    top-50 docs per lang by (n_chars desc, doc_id). Salted two-phase top-k —
    local rank within (lang, input slice) prunes to ≤ quota×slices rows,
    the true rank sorts only the survivors, so a hot language never becomes
    one straggler task (operators/corpus.py quota_by_group)."""
    from airbyte_spark.operators.corpus import quota_by_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quota_by_group(
        docs, group_col="lang", quota=50, order_col="n_chars"
    ).select("doc_id", "lang", "n_chars", "rank")


_MIX_TARGETS = {"en": 0.4, "de": 0.2, "fr": 0.2, "es": 0.1, "it": 0.1}
_MIX_BUDGET = 50_000


def q_doc_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture planning (operators/corpus.py plan_mixture): per-lang
    token inventories → sampling rate / upsampling epochs hitting a fixed
    token budget under the target mix. One map-side-combinable aggregate +
    column math; rates round(8) both sides."""
    from airbyte_spark.operators.corpus import plan_mixture
    from airbyte_spark.operators.textops import token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")
    )
    out = plan_mixture(docs, _MIX_TARGETS, _MIX_BUDGET)
    return out.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        "tokens_have",
        F.round("target_frac", 8).alias("target_frac"),
        F.round("tokens_target", 8).alias("tokens_target"),
        F.round("rate", 8).alias("rate"),
        "epochs",
    )


def q_doc_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level stats a shard-export step reports: doc count, total
    chars, and exact discrete length percentiles (smallest value with
    cume_dist ≥ q). Exact percentile_disc is the oracle-checkable form;
    at 100 TB the same line swaps to approx_percentile (sort-free sketch)
    with identical output schema."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
        .cast("bigint")
        .alias("p50_chars"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY n_chars)")
        .cast("bigint")
        .alias("p90_chars"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY n_chars)")
        .cast("bigint")
        .alias("p99_chars"),
    )


def q_doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 keywords per document by tf-idf (operators/textops.py
    tfidf_topk). Rational idf (N/df, not log) keeps every score an exact
    IEEE product of integer counts — bit-identical in the DuckDB oracle;
    within a document the ranking is a monotone transform of standard
    tf-idf. Two map-side-combinable aggregates + one per-doc top-k window."""
    from airbyte_spark.operators.textops import tfidf_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_topk(docs, k=5)


def q_doc_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language Bernoulli mix sampling (corpus
    reweighting before training: downsample the dominant language, keep
    all of the low-resource ones). md5 hex-threshold per row — pure
    scan-fused expression, zero shuffles, replay/reshard-stable
    (operators/corpus.py sample_mix)."""
    from airbyte_spark.operators.corpus import sample_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"en": 0.25, "de": 1.0, "fr": 1.0, "es": 0.5, "zh": 0.5}
    return sample_mix(docs, rates, group_col="lang").select(
        "doc_id", "lang"
    )


def q_doc_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-site boilerplate removal (CCNet/RefinedWeb post-extraction step:
    nav/footer segments repeat across most pages of ONE site — global dedup
    misses them or nukes legitimate cross-site quotes). A segment whose
    within-group document frequency exceeds 50% is stripped everywhere in
    that group; docs reassemble from survivors (operators/corpus.py
    strip_boilerplate; words_per_segment=1 because the synthetic corpus has
    no newlines — real web text feeds line segments to the same logic)."""
    from airbyte_spark.operators.corpus import strip_boilerplate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return strip_boilerplate(
        docs, words_per_segment=1, max_df_ratio=0.5
    ).select("doc_id", "clean_text", "n_segments", "n_kept")


def q_doc_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM quality score (operators/textops.py
    lm_surprisal): train the LM on the corpus in one aggregate, score each
    doc by cross-entropy under it. Surprisal is quantized to whole bits via
    integer bit-length (bin() is exact on BIGINT in Spark and DuckDB), so
    the statistic is bit-identical cross-engine with no ln()/log2() ulp
    risk; bits_per_token is an exact IEEE quotient of two integers."""
    from airbyte_spark.operators.textops import lm_surprisal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lm_surprisal(docs)


def q_doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training + tokenization (operators/bpe.py): learn a
    merge table from the corpus (ONE distributed pass — word-type counting,
    the Sennrich trick that makes 100 TB training tractable — then a
    driver-side merge loop over the capped, aggregated type table), then
    tokenize every doc with an Arrow-batched pandas UDF (ranks broadcast in
    the closure, per-word memoization per batch; fuses into the scan).

    Value-hash oracle: the iterative trainer IS DuckDB-expressible once
    unrolled — _bpe_merge_ctes() emits one materialized CTE pair per merge
    (pair count+argmax, then greedy left-to-right application via
    delimiter-doubled string replace), and encoding is a recursive CTE
    applying the lowest-(rank, position) merge one step at a time over the
    DISTINCT word set (the GPT-2 min-rank loop, verbatim). tests/
    test_bpe.py additionally pins exact equivalence to naive corpus-level
    BPE."""
    from airbyte_spark.operators.bpe import train_bpe, with_bpe_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = train_bpe(docs, num_merges=_BPE_MERGES, max_word_types=_BPE_MAX_TYPES)
    return with_bpe_tokens(docs, merges).select(
        "doc_id", "n_bpe_tokens"
    )


def q_doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table itself as a gated artifact (rank →
    symbol pair): pins the TRAINER — word-type counting (distributed),
    argmax-by-(count, pair) with lexicographic tie-break, greedy merge
    application — independently of the encoder that q_doc_bpe_tokens
    exercises on top of it. Fewer than _BPE_MERGES rows means the corpus
    ran dry (no adjacent pair repeats), mirroring the trainer's early
    stop."""
    from airbyte_spark.operators.bpe import train_bpe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = train_bpe(docs, num_merges=_BPE_MERGES, max_word_types=_BPE_MAX_TYPES)
    return spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "merge_rank int, lhs string, rhs string",
    )


def _ppm_fixture_udf():
    """Deterministic P6-PPM generator for the multimodal dedup gate: class
    → seeded low-frequency random field (rich spectrum — pHash's DCT
    median-threshold needs one; pure gratings leave 63 near-zero
    coefficients and the hash degenerates to noise), variant 2 → one
    coarse cell nudged (+80, clipped). Measured over all 15 classes:
    in-class base↔perturbed hamming ≤ 6, cross-class ≥ 24 (any variant
    pair) — so with max_hamming=7 the near-dup components are EXACTLY the
    classes, which is what lets a pure-SQL oracle predict admission."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType

    @F.pandas_udf(BinaryType())
    def gen(cls: pd.Series, v: pd.Series) -> pd.Series:
        def one(c, vv):
            rng = np.random.default_rng(977 + int(c))
            coarse = rng.integers(0, 256, (8, 8)).astype(np.float64)
            if int(vv) == 2:
                coarse[3, 3] = min(255.0, coarse[3, 3] + 80.0)
            img = np.kron(coarse, np.ones((8, 8))).astype(np.uint8)
            rgb = np.repeat(img[:, :, None], 3, axis=2)
            return b"P6\n64 64\n255\n" + rgb.tobytes()

        return pd.Series([one(c, vv) for c, vv in zip(cls, v)])

    return gen


def q_img_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated query for the multimodal dedup leg: ingest-time incremental
    IMAGE near-dup admission (operators/dedup_incremental.py
    ingest_image_dedup — real pHash over real P6 decode, banded registry,
    cost ∝ batch). Two batches arrive against one registry: batch 'a'
    admits one canonical (min doc_id) per image class; batch 'b' re-sends
    every class (all its members within hamming ≤ 6 of registered sigs →
    clusters rejected whole) plus three classes only it carries (cross ≥
    24 from everything registered → admitted). The fixture's distance
    structure (see _ppm_fixture_udf) makes admission a pure function of
    the class arithmetic, which the DuckDB oracle replays exactly."""
    from airbyte_spark.operators.dedup_incremental import (
        create_image_registry,
        ingest_image_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    hi = docs.agg(F.max("doc_id")).first()[0]
    h = (hi + 1) // 2
    imgs = docs.select(
        "doc_id",
        F.when(
            (F.col("doc_id") >= h) & (F.col("doc_id") % 5 == 0),
            12 + F.col("doc_id") % 3,
        )
        .otherwise(F.col("doc_id") % 12)
        .cast("int")
        .alias("cls"),
        F.expr("CAST((doc_id DIV 12) % 3 AS INT)").alias("v"),
    ).select("doc_id", _ppm_fixture_udf()(F.col("cls"), F.col("v")).alias("data"))
    # materialize the synthetic rasters once: the admission flow references
    # its batch several times (fingerprint pass, admitted semi-join, final
    # read) and would re-run the generator UDF on each — a real ingest
    # reads bytes from storage, so pinning them models that and keeps the
    # UDF out of the re-evaluation path
    imgs = imgs.localCheckpoint(eager=True)
    base = tempfile.mkdtemp(prefix="airbyte_spark_imgreg_")
    reg = create_image_registry(spark, base + "/registry", n_buckets=8)
    a = ingest_image_dedup(reg, imgs.filter(F.col("doc_id") < h), "img-a")
    b = ingest_image_dedup(reg, imgs.filter(F.col("doc_id") >= h), "img-b")
    return a.select("doc_id", F.lit("a").alias("batch")).unionByName(
        b.select("doc_id", F.lit("b").alias("batch"))
    )


# Expected log-mel rows per audio class: computed once from the
# deterministic fixture through the exact make_audio_mel_udf math (numpy
# FFT + HTK filterbank) and quantized to integer millibels-of-log10 via
# floor(x*1000 + 0.5). The oracle carries them as stored expected values —
# it pins determinism and regression (the absolute math is pinned by
# tests/test_multimodal.py); both engines compare the identical doubles so
# the quantization is exact.
_AUDIO_MEL_EXPECTED = {
    0: [-4036, -1648, 3377, 2956, -3338, -4942, -5883, -6440,
        -6726, -6631, -6936, -6641, -6673, -6172, -6102, -6696],
    1: [-6311, -5672, -4560, -1770, 3409, 2860, -3930, -5419,
        -6183, -6435, -6634, -6476, -6990, -6111, -6535, -6941],
    2: [-7767, -7306, -6642, -5773, -4207, 2772, 3431, -1564,
        -5013, -6213, -7026, -7690, -5437, -5833, -9127, -9506],
    3: [-8215, -7815, -7060, -6781, -6438, -5272, -1945, 3437,
        2746, -4611, -6002, -6368, -6412, -6180, -6330, -6124],
    4: [-7500, -7999, -6896, -7253, -7337, -6973, -5838, -3472,
        3315, 3087, -4335, -5837, -6722, -6641, -6266, -6626],
    5: [-7916, -7062, -6358, -7263, -7344, -7243, -7182, -6020,
        -4094, 3278, 3144, -4537, -5935, -6689, -6608, -6536],
}


def _wav_fixture_udf():
    """Deterministic PCM16 WAV generator: class → 4096-sample sine at
    300 + 250·cls Hz, 8 kHz mono, amplitude 12000 (samples rounded the
    numpy way so regeneration is bit-identical). doc_id % 97 == 0 rows get
    non-WAV bytes to exercise the undecodable → no-feature-row path."""
    import struct

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType

    @F.pandas_udf(BinaryType())
    def gen(cls: pd.Series, bad: pd.Series) -> pd.Series:
        def one(c, is_bad):
            if bool(is_bad):
                return b"not audio"
            rate, n = 8000, 4096
            f = 300.0 + 250.0 * int(c)
            i = np.arange(n)
            s = np.round(12000.0 * np.sin(2 * np.pi * f * i / rate)).astype("<i2")
            pcm = s.tobytes()
            fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
            chunks = (
                b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(pcm)) + pcm
            )
            return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

        return pd.Series([one(c, b_) for c, b_ in zip(cls, bad)])

    return gen


def q_audio_mel_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated query for the multimodal audio leg: REAL log-mel features
    (functions/extract.py make_audio_mel_udf — numpy FFT + HTK mel
    filterbank, Arrow-batched inside the scan) over deterministic WAV
    fixtures, exploded to (doc_id, mel_idx, mel_q) with the integer
    quantization documented at _AUDIO_MEL_EXPECTED. Undecodable rows
    (doc_id % 97 == 0) produce no feature rows."""
    from airbyte_spark.functions.extract import make_audio_mel_udf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    wavs = docs.select(
        "doc_id",
        _wav_fixture_udf()(
            (F.col("doc_id") % 6).cast("int"), (F.col("doc_id") % 97 == 0)
        ).alias("data"),
    )
    mel = wavs.select(
        "doc_id", make_audio_mel_udf()(F.col("data")).alias("mel")
    ).filter(F.col("mel").isNotNull())
    ex = mel.select("doc_id", F.posexplode("mel").alias("mel_idx", "mel_v"))
    return ex.select(
        "doc_id",
        "mel_idx",
        F.floor(F.col("mel_v") * 1000.0 + 0.5).cast("int").alias("mel_q"),
    )


def _wav_melody_fixture_udf():
    """Deterministic 4-note square-wave melody WAV generator for the
    audio-dedup gate: class = (base exponent 0-4) × (melody pattern
    ascending/descending/alternating), notes at 160·1.5^(e+d) Hz, 8 kHz
    PCM16, 8192 samples. Square waves fill every mel band with real
    harmonic energy, so the sign-of-band-descent fingerprint
    (extract._audio_fp_one) is measured in-class ≤ 1 (variants differ
    only in amplitude 12000→7000 and phase 0→0.6 — volume/phase
    invariance by construction) and cross-class ≥ 15 — margins pinned in
    tests/test_multimodal.py so admission reduces to class arithmetic."""
    import struct

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType

    @F.pandas_udf(BinaryType())
    def gen(cls: pd.Series, v: pd.Series) -> pd.Series:
        rate, n = 8000, 8192
        patterns = [[0, 1, 2, 3], [3, 2, 1, 0], [0, 3, 0, 3]]

        def one(c, vv):
            e, pat = int(c) % 5, patterns[int(c) // 5]
            amp = 7000.0 if int(vv) == 2 else 12000.0
            ph = 0.6 if int(vv) == 2 else 0.0
            seg = n // 4
            i = np.arange(seg)
            pcm = np.concatenate(
                [
                    np.round(
                        amp
                        * np.sign(
                            np.sin(2 * np.pi * 160.0 * (1.5 ** (e + d)) * i / rate + ph)
                        )
                    ).astype("<i2")
                    for d in pat
                ]
            )
            data = pcm.tobytes()
            fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
            chunks = (
                b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data
            )
            return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

        return pd.Series([one(c, vv) for c, vv in zip(cls, v)])

    return gen


def q_audio_fp_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated query for the audio dedup leg — the third modality over the
    shared banded-registry core (operators/dedup_incremental.py
    ingest_audio_dedup: real WAV parse + FFT log-mel →
    sign-of-band-descent 64-bit fingerprint, 4×16-bit banding with
    probe-side hamming-1 balls). Same two-batch class arithmetic as
    img_phash_dedup: batch 'a' admits one canonical per melody class;
    batch 'b' re-sends every class (rejected against the registry) plus
    three classes only it carries (admitted). The fixture's distance
    structure (see _wav_melody_fixture_udf) makes admission a pure
    function of the class arithmetic, which the DuckDB oracle replays."""
    from airbyte_spark.operators.dedup_incremental import (
        create_audio_registry,
        ingest_audio_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    hi = docs.agg(F.max("doc_id")).first()[0]
    h = (hi + 1) // 2
    # every 7th doc: the gate needs the class arithmetic, not fixture
    # bulk (7 is coprime with 12, so all 12 base classes and — via
    # doc%35==0 — all 3 b-only classes still appear)
    docs = docs.filter(F.col("doc_id") % 7 == 0)
    clips = docs.select(
        "doc_id",
        F.when(
            (F.col("doc_id") >= h) & (F.col("doc_id") % 5 == 0),
            12 + F.col("doc_id") % 3,
        )
        .otherwise(F.col("doc_id") % 12)
        .cast("int")
        .alias("cls"),
        F.expr("CAST((doc_id DIV 12) % 3 AS INT)").alias("v"),
    ).select("doc_id", _wav_melody_fixture_udf()(F.col("cls"), F.col("v")).alias("data"))
    clips = clips.localCheckpoint(eager=True)  # pin the synthetic WAVs, as imgs
    base = tempfile.mkdtemp(prefix="airbyte_spark_audreg_")
    reg = create_audio_registry(spark, base + "/registry", n_buckets=8)
    a = ingest_audio_dedup(reg, clips.filter(F.col("doc_id") < h), "aud-a")
    b = ingest_audio_dedup(reg, clips.filter(F.col("doc_id") >= h), "aud-b")
    return a.select("doc_id", F.lit("a").alias("batch")).unionByName(
        b.select("doc_id", F.lit("b").alias("batch"))
    )


def _ppm_video_fixture_udf():
    """Deterministic concatenated-P6 'video' generator for the video
    dedup gate: class c → 4 frames of image classes [2c, 2c+1, 2c, 2c+1]
    (the img_phash_dedup raster family, whose pHash margins hold over 30
    classes: in-class ≤ 6, cross ≥ 20 — pinned in test_multimodal.py),
    variant v=2 perturbs every frame within the in-class budget. Frame
    containment vs a registered class video is therefore exactly 1.0
    in-class and 0.0 cross-class, reducing admission to class
    arithmetic."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType

    @F.pandas_udf(BinaryType())
    def gen(cls: pd.Series, v: pd.Series) -> pd.Series:
        def frame(c, vv):
            rng = np.random.default_rng(977 + c)
            coarse = rng.integers(0, 256, (8, 8)).astype(np.float64)
            if vv == 2:
                coarse[3, 3] = min(255.0, coarse[3, 3] + 80.0)
            img = np.kron(coarse, np.ones((8, 8))).astype(np.uint8)
            return b"P6\n64 64\n255\n" + np.repeat(img[:, :, None], 3, axis=2).tobytes()

        def one(c, vv):
            c, vv = int(c), int(vv)
            return b"".join(
                frame(fc, vv) for fc in (2 * c, 2 * c + 1, 2 * c, 2 * c + 1)
            )

        return pd.Series([one(c, vv) for c, vv in zip(cls, v)])

    return gen


def q_video_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated query for the video dedup leg — frame-containment admission
    over the banded registry (operators/dedup_incremental.py
    ingest_video_dedup: real concatenated-P6 header walk + per-frame
    pHash; a video is rejected when ≥ θ of its frames hamming-match ONE
    registered video's frames). Same two-batch class arithmetic as the
    image and audio gates; the mashup-below-θ and truncated-stream
    behaviors are value-pinned in pytest."""
    from airbyte_spark.operators.dedup_incremental import (
        create_video_registry,
        ingest_video_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    hi = docs.agg(F.max("doc_id")).first()[0]
    h = (hi + 1) // 2
    # every 7th doc (coprime with 12: all classes appear) — frame volume
    # scales 4× per doc, so the gate samples rather than bulk-decodes
    docs = docs.filter(F.col("doc_id") % 7 == 0)
    vids = docs.select(
        "doc_id",
        F.when(
            (F.col("doc_id") >= h) & (F.col("doc_id") % 5 == 0),
            12 + F.col("doc_id") % 3,
        )
        .otherwise(F.col("doc_id") % 12)
        .cast("int")
        .alias("cls"),
        F.expr("CAST((doc_id DIV 12) % 3 AS INT)").alias("v"),
    ).select("doc_id", _ppm_video_fixture_udf()(F.col("cls"), F.col("v")).alias("data"))
    vids = vids.localCheckpoint(eager=True)  # pin the synthetic streams
    base = tempfile.mkdtemp(prefix="airbyte_spark_vidreg_")
    reg = create_video_registry(spark, base + "/registry", n_buckets=8)
    a = ingest_video_dedup(reg, vids.filter(F.col("doc_id") < h), "vid-a")
    b = ingest_video_dedup(reg, vids.filter(F.col("doc_id") >= h), "vid-b")
    return a.select("doc_id", F.lit("a").alias("batch")).unionByName(
        b.select("doc_id", F.lit("b").alias("batch"))
    )


def _synthetic_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture HTML carries no hrefs, so the link graph is synthesized
    deterministically from the url space itself: each page links to the
    next two pages of its domain plus the domain's first page — a chain +
    hub shape (extract_links() is the real-HTML path, pinned in
    tests/test_graph.py). The oracle reproduces this rule in SQL."""
    from pyspark.sql import Window

    urls = (
        read_changelog(spark, sf_dir)
        .select("url")
        .distinct()
        .withColumn("domain", F.regexp_extract("url", r"https://([^/]+)/", 1))
        .withColumn("page_no", F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long"))
    )
    w = Window.partitionBy("domain").orderBy("page_no")
    wd = Window.partitionBy("domain")
    return (
        urls.select(
            F.col("url").alias("src"),
            F.lead("url", 1).over(w).alias("n1"),
            F.lead("url", 2).over(w).alias("n2"),
            F.first("url").over(wd.orderBy("page_no")).alias("root"),
        )
        .select(
            "src", F.explode(F.array("n1", "n2", "root")).alias("dst")
        )
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
    )


def q_web_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph PageRank (operators/graph.py): power iteration as
    join/agg rounds over the edge list — the Common-Crawl host-rank
    computation, a first-class quality signal for corpus curation.
    Full value oracle: the fixed iteration count unrolls into chained
    DuckDB CTEs; values also pinned against numpy in tests."""
    from airbyte_spark.operators.graph import pagerank

    return pagerank(_synthetic_edges(spark, sf_dir), iterations=8).select(
        "url", F.round("rank", 10).alias("rank")
    )


def q_web_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (operators/graph.py) over the same synthetic
    link graph as web_pagerank — the complementary query-dependent link
    signal (domain roots become authorities, chain pages hubs). L1
    normalization keeps the unrolled CTE oracle sqrt-free; round(10)
    absorbs summation-order ulp."""
    from airbyte_spark.operators.graph import hits

    return hits(_synthetic_edges(spark, sf_dir), iterations=8).select(
        "url",
        F.round("hub", 10).alias("hub"),
        F.round("authority", 10).alias("authority"),
    )


def q_web_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text corpus (operators/graph.py): extract <a href>text</a>
    pairs from page bytes with a scan-fused regex, aggregate per TARGET
    url (in-links, distinct sources, most frequent anchor). The fixture
    HTML carries no anchors, so each page gets a deterministic footer —
    a link to the next page of its domain and one (with a #fragment to
    strip) to the domain root. The oracle reconstructs the expected
    profile from the link rule in closed form — it never runs the regex,
    so the extraction path is independently checked."""
    from airbyte_spark.operators.graph import anchor_text_profile, extract_anchors

    urls = (
        read_changelog(spark, sf_dir)
        .select("url")
        .distinct()
        .withColumn("u", F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long"))
    )
    site = F.concat(F.lit("https://site-"), (F.col("u") % 10).cast("string"),
                    F.lit(".example.com/p/"))
    pages = urls.select(
        "url",
        F.encode(
            F.concat(
                F.lit('<html><body><h1>d</h1><a name="x">no href</a><a class="n" href="'),
                site, (F.col("u") + 10).cast("string"),
                F.lit('">More  doc '), (F.col("u") + 10).cast("string"),
                F.lit('</a> <a href="'), site, (F.col("u") % 10).cast("string"),
                F.lit('#top">site '), (F.col("u") % 10).cast("string"),
                F.lit(" home</a></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    )
    prof = anchor_text_profile(extract_anchors(pages))
    return prof.select(
        "dst",
        F.col("n_links").cast("long").alias("n_links"),
        F.col("n_srcs").cast("long").alias("n_srcs"),
        "top_anchor",
        F.col("top_anchor_n").cast("long").alias("top_anchor_n"),
    )


def q_cdc_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain stream stats (events, distinct pages, deletes, cursor
    high-water mark) — the hot-domain skew-detection input the north_star
    names ("url-hash salting plus AQE handles hot-domain skew"). Exact
    distinct via two-level aggregate (functions/urls.py)."""
    from airbyte_spark.functions.urls import domain_stats

    return domain_stats(read_changelog(spark, sf_dir))


def q_cdc_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over a deliberately-messy variant stream:
    uppercase host + default port, trailing slash, fragments, tracking
    params (utm_*/fbclid) mixed with real ones. The oracle derives the
    expected canonical form INDEPENDENTLY from the generating columns —
    it never runs the regex chain — so this checks the rules, not the
    implementation against itself (functions/urls.py)."""
    from airbyte_spark.functions.urls import canonicalize_url
    from airbyte_spark.sources.changelog import page_url_expr

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = page_url_expr()
    v = F.col("event_id") % 5
    messy = (
        F.when(
            v == 0,
            F.concat(
                F.lit("HTTPS://SITE-"),
                (F.col("user_id") % 10).cast("string"),
                F.lit(".EXAMPLE.COM:443/p/"),
                F.col("user_id").cast("string"),
            ),
        )
        .when(v == 1, F.concat(base, F.lit("/?utm_source=feed")))
        .when(v == 2, F.concat(base, F.lit("?a=1&utm_campaign=y&b=2")))
        .when(v == 3, F.concat(base, F.lit("#sec-"), F.col("event_id").cast("string")))
        .otherwise(
            F.concat(
                base,
                F.lit("?fbclid="),
                F.col("event_id").cast("string"),
                F.lit("&page=2"),
            )
        )
    )
    return ev.select(
        "event_id",
        messy.alias("url"),
        canonicalize_url(messy).alias("canon_url"),
    )


_BM25_TERMS = ["spark", "merge", "window"]


def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators/retrieval.py): top-20 documents for
    a 3-term keyword query. Rational Robertson idf + exactly-representable
    k1/b keep each per-term score a deterministic IEEE chain; floor-scaling
    to integers makes the per-doc sum associative — full value oracle.
    Plan: one tf shuffle (map-side combined), broadcast df of the 3 query
    terms, integer sum, one top-k window."""
    from airbyte_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_topk(docs, _BM25_TERMS, k=20)


def q_web_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier scheduling from the change stream
    (operators/crawl.py): per-url change-rate estimate (Cho & Garcia-Molina
    refresh policy) × staleness since last observation = expected missed
    changes; tombstoned urls (LWW-last event deleted) are dropped. Pure
    integer math → exact oracle. One map-side-combinable groupBy(url)."""
    from airbyte_spark.operators.crawl import recrawl_schedule

    return recrawl_schedule(read_changelog(spark, sf_dir), top=100)


def q_cdc_segment_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable per-segment histogram sketch → corpus length quantiles
    (operators/sketches.py segment_histograms/merged_quantiles): each
    checkpoint segment contributes a fixed-width histogram of its
    extracted-text lengths (rides the ingest scan); histograms merge by
    bucket-sum — order/partitioning-independent — and p50/p90/p99 read off
    the merged cumulative counts. Doubles as one more end-to-end check of
    the byte-identical extraction invariant (the oracle measures the
    *expected* text, Spark measures what the UDF actually extracted)."""
    from airbyte_spark.functions.extract import extract_text
    from airbyte_spark.operators.sketches import merged_quantiles, segment_histograms

    ch = read_changelog(spark, sf_dir).withColumn(
        "text_len", F.length(extract_text(F.col("html")))
    )
    h = segment_histograms(ch, "text_len", segment="checkpoint_id", bucket_width=16)
    return merged_quantiles(h, [0.5, 0.9, 0.99], bucket_width=16)


def q_cdc_postings_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained inverted index (operators/retrieval.py
    build_postings/apply_postings_delta): the (term, url, tf) postings view
    is built at a mid-replay version of the session's table, then advanced
    ONLY with exploded signed deltas from the row-level change feed —
    unchanged documents are never re-tokenized. Must equal a full postings
    rebuild over the final state (the oracle): the O(changes) index-
    maintenance contract a 100 TB retrieval corpus needs."""
    from airbyte_spark.lake.changes import row_changes
    from airbyte_spark.operators.retrieval import apply_postings_delta, build_postings

    pipe = _replayed_pipe(spark, sf_dir)
    v_mid = max(1, pipe.table.current_version() // 2)

    def visible(df: DataFrame) -> DataFrame:
        return df.filter(F.col("_ab_cdc_deleted_at").isNull())

    postings = build_postings(visible(pipe.table.read(v_mid)))
    feed = visible(row_changes(pipe.table, v_mid))
    return apply_postings_delta(postings, feed).select(
        "term", "url", F.col("tf").cast("bigint").alias("tf")
    )


def q_web_fetch_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain fetch-budget apportionment over the recrawl frontier
    (operators/crawl.py allocate_fetch_budget): 40 fetch slots split
    across domains by largest-remainder apportionment of priority mass,
    slots going to each domain's highest-priority urls. Integer-exact
    Hamilton method → full value oracle."""
    from airbyte_spark.operators.crawl import allocate_fetch_budget, recrawl_schedule

    sched = recrawl_schedule(read_changelog(spark, sf_dir), top=100)
    return allocate_fetch_budget(sched, budget=40)


def q_web_sitemap_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery → frontier seeding (operators/crawl.py
    parse_sitemaps + frontier_from_sitemap): per-domain sitemap XML is
    synthesized deterministically from the generating rule (each known
    url announced at its max stream revision — bumped for user_id%7==0
    pages to exercise the 'updated' branch — plus one never-ingested
    phantom page per domain), parsed with scan-fused regexes, and diffed
    against the session's replayed table. Entries seed the frontier iff
    unknown ('new' — includes tombstoned-but-still-announced pages) or
    announced newer than the stored winner's lsn ('updated'). The oracle
    derives the expected frontier in closed form from events and NEVER
    runs the XML regex — the parse path is independently checked."""
    from airbyte_spark.operators.crawl import frontier_from_sitemap, parse_sitemaps
    from airbyte_spark.sources.changelog import page_url_expr

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    domain = F.concat(
        F.lit("site-"), (F.col("user_id") % 10).cast("string"), F.lit(".example.com")
    )
    per = (
        ev.groupBy("user_id")
        .agg(F.max("event_id").alias("rev"))
        .select(
            domain.alias("domain"),
            page_url_expr().alias("url"),
            (F.col("rev") + (F.col("user_id") % 7 == 0).cast("bigint")).alias("srev"),
        )
    )
    phantom = per.select("domain").distinct().select(
        "domain",
        F.concat(F.lit("https://"), F.col("domain"), F.lit("/p/new")).alias("url"),
        F.lit(1).cast("bigint").alias("srev"),
    )
    entries = per.unionByName(phantom)
    xml = entries.groupBy("domain").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("url", "srev"))),
                lambda s: F.concat(
                    F.lit("<url><loc>"),
                    s["url"],
                    F.lit("</loc><rev>"),
                    s["srev"].cast("string"),
                    F.lit("</rev></url>"),
                ),
            ),
        ).alias("sitemap_xml")
    )
    parsed = parse_sitemaps(xml)
    state = _replayed_pipe(spark, sf_dir).final_state()
    return frontier_from_sitemap(parsed, state)


def q_cdc_url_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-quality gate (functions/urls.py url_quality — the C4-style
    pre-fetch curation rule: blocklisted word / crawler-trap depth /
    session-id query / auto-generated numeric slug) over a fixture stream
    with one deliberate violation class per event_id%6 branch. The oracle
    assigns verdicts and features from the BRANCH NUMBER in closed form —
    it never runs the rules — so the heuristics are checked against their
    intent, not against themselves."""
    from airbyte_spark.functions.urls import url_quality, url_quality_features
    from airbyte_spark.sources.changelog import page_url_expr

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = page_url_expr()
    v = F.col("event_id") % 6
    fixture = (
        F.when(v == 0, base)
        .when(v == 1, F.concat(base, F.lit("/casino-bonus")))
        .when(v == 2, F.concat(base, F.lit("/a/b/c/d/e/f")))
        .when(v == 3, F.concat(base, F.lit("?q="), F.lit("a" * 80)))
        .when(v == 4, F.concat(base, F.lit("000000000000")))
        .otherwise(F.concat(base, F.lit("?page=2")))
    )
    return ev.select(
        "event_id",
        fixture.alias("url"),
        url_quality(fixture).alias("verdict"),
        *url_quality_features(fixture),
    )


def q_doc_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window passage chunking for retrieval/RAG export
    (operators/corpus.py passage_chunks): 32-token windows, stride 24
    (8-token overlap keeps boundary-straddling sentences retrievable).
    Deterministic (doc, passage_idx) ids; zero shuffles — the chunk rule
    is pure scan-fused column math, mirrored exactly by the list-slicing
    oracle."""
    from airbyte_spark.operators.corpus import passage_chunks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return passage_chunks(docs, window=32, stride=24)


def q_sync_sql_over_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-first access path (LakeTable.register_view): the replayed lake
    table is registered as a Spark SQL temp view and an analytic query —
    per-language active-page stats — runs through spark.sql, exercising
    the same schema-aligned snapshot read underneath Catalyst's SQL
    front-end. The oracle runs the equivalent SQL over the closed-form
    final state."""
    pipe = _replayed_pipe(spark, sf_dir)
    pipe.table.register_view("pages_lake")
    return spark.sql(
        """
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_pages,
               CAST(sum(length(text)) AS BIGINT) AS total_chars,
               CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
               CAST(max(_ab_cdc_lsn) AS BIGINT) AS max_lsn
        FROM pages_lake
        WHERE _ab_cdc_deleted_at IS NULL
        GROUP BY lang
        """
    )


def q_sync_constraint_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK-constraint enforcement (lake/format.py add_constraint ≡ Delta
    ALTER TABLE ADD CONSTRAINT): a conforming batch commits, a violating
    batch is rejected ATOMICALLY (staged files reclaimed, version
    unchanged), and the surviving table state is exactly the conforming
    rows — which is what the oracle derives directly from events. Commit-
    time enforcement scans the STAGED files only: O(commit), not
    O(table)."""
    import tempfile as _tf

    from airbyte_spark.lake.format import (
        ConstraintViolation,
        LakeTable,
        PartitionSpec,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "value")
    t = LakeTable.create(
        spark,
        _tf.mkdtemp(prefix="airbyte_spark_constraint_") + "/t",
        ev.schema,
        PartitionSpec(),
    )
    t.add_constraint("value_nonneg", "value >= 0")
    good = ev.filter(F.col("event_id") % 5 != 0)
    bad = ev.filter(F.col("event_id") % 5 == 0).withColumn(
        "value", -F.col("value") - F.lit(1.0)
    )
    t.append(good, checkpoint_key="good-1")
    try:
        t.append(bad, checkpoint_key="bad-1")
        raise AssertionError("violating batch must be rejected")
    except ConstraintViolation:
        pass
    return t.read().select("event_id", "value")


def q_sync_delete_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-delete files (lake/dml.py delete_positions ≡ Iceberg v2
    positional deletes): rows matching the predicate vanish from reads via
    a committed (file, row-position) sidecar — NO data file is rewritten
    (the gated state is read straight through the anti-join path). The
    scattered-delete case (GDPR erasure across thousands of files) where
    copy-on-write rewriting is unaffordable at 100 TB."""
    import tempfile as _tf

    from airbyte_spark.lake.dml import delete_positions
    from airbyte_spark.lake.format import LakeTable, PartitionSpec

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    t = LakeTable.create(
        spark,
        _tf.mkdtemp(prefix="airbyte_spark_dv_") + "/t",
        ev.schema,
        PartitionSpec(),
    )
    t.append(ev, checkpoint_key="load-1")
    files_before = {e.path for e in t.files()}
    delete_positions(t, "event_type = 'error'", checkpoint_key="gdpr-1")
    assert {e.path for e in t.files()} == files_before  # no rewrite happened
    return t.read().select("event_id", "value")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Query registry.

    Ordering matters: the driver's correctness gate samples the FIRST 50
    entries in registry order per round. Rounds 1-2 gated the CDC/sync
    core; round 3 rotated the doc_/emb_/web_/src_ families in; round 4
    cleared the last rotation debt (CORRECTNESS_r01-r04: all 120 then-
    registered queries hold a green driver row; 50/50 in the r4 window).

    Round 5 runs the steady-state rotation rule for the first time:
      1-4   the four round-5 additions (src_sql_incremental — the
            DuckDB-backed SQL source, ≡ AbstractJdbcSource;
            src_http_substream — parent-child fan-out; audio_fp_dedup
            and video_frame_dedup — the audio and video legs completing
            the banded-registry dedup family);
      5-6   the two whose implementation changed since their last green
            row (img_phash_dedup: 16-bit band keys + probe-side
            hamming-balls; src_debezium_tail: single-parse micro-batch);
      7-13  the seven queries whose last green row is ROUND 1 — the
            stalest lines in the registry (doc_exact_dedup … emb_ivf_topk);
      14-50 thirty-seven of the forty-eight whose last green row is
            round 2 (the cdc_/sync_ core). The eleven r2 lines deferred
            to the next window each share their implementation path with
            a line that IS in the window: cdc_checkpoint_metrics (rides
            the merge bounds pass every window replay runs),
            evt_sessionize (the batch sessionizer is the executed oracle
            of the streaming-sessionization pytest), cdc_dedup_salted
            (≡ cdc_dedup_batch's operator), cdc_mor_replay_final_state
            (MoR leg re-checked r4 via cdc_mor_resolve_read),
            sync_multistream_atomic (≡ sync_multistream + the WAP path
            sync_wap_branch covers), sync_clustered_prune /
            sync_zorder_prune (≡ sync_pruned_read stats pruning),
            sync_compact_roundtrip / sync_time_travel (manifest
            maintenance ≡ sync_segmented_manifest + sync_rollback),
            sync_respec_roundtrip (spec evolution ≡ the add/rename-column
            lines), sync_catalog_txn (catalog two-phase ≡ sync_wap_branch
            + sync_catalog_diff).
    Everything past position 50 holds a green driver row from r3/r4 (or
    is one of those eleven r2 deferrals) and stays covered by
    scripts/check_oracle.py + pytest. Next window: the eleven deferrals,
    then whatever is stalest. Keep tests/test_registry_guard.py's window
    assertion in sync.
    """
    return {
        # --- driver window (positions 1-50) -------------------------------
        # new this round
        "src_sql_incremental": q_src_sql_incremental,
        "src_http_substream": q_src_http_substream,
        "audio_fp_dedup": q_audio_fp_dedup,
        "video_frame_dedup": q_video_frame_dedup,
        # implementation changed since last green row
        "img_phash_dedup": q_img_phash_dedup,
        "src_debezium_tail": q_src_debezium_tail,
        # stalest: last green row r1
        "doc_exact_dedup": q_doc_exact_dedup,
        "doc_quality": q_doc_quality,
        "doc_language_id": q_doc_language_id,
        "doc_minhash_lsh": q_doc_minhash_lsh,
        "doc_simhash": q_doc_simhash,
        "emb_cosine_topk": q_emb_cosine_topk,
        "emb_ivf_topk": q_emb_ivf_topk,
        # stalest: last green row r2 (39 of 48; deferrals documented above)
        "cdc_final_state_window": q_cdc_final_state_window,
        "cdc_incremental_snapshot": q_cdc_incremental_snapshot,
        "cdc_tx_boundaries": q_cdc_tx_boundaries,
        "cdc_partial_updates": q_cdc_partial_updates,
        "cdc_audit_divergence": q_cdc_audit_divergence,
        "cdc_dedup_batch": q_cdc_dedup_batch,
        "cdc_extract_text": q_cdc_extract_text,
        "cdc_scd_history": q_cdc_scd_history,
        "cdc_incremental_cursor": q_cdc_incremental_cursor,
        "cdc_stream_window_metrics": q_cdc_stream_window_metrics,
        "cdc_composite_pk_final_state": q_cdc_composite_pk_final_state,
        "cdc_schema_evolution": q_cdc_schema_evolution,
        "cdc_type_widening": q_cdc_type_widening,
        "cdc_unnest_children": q_cdc_unnest_children,
        "cdc_timestamp_parse": q_cdc_timestamp_parse,
        "cdc_debezium_parse": q_cdc_debezium_parse,
        "cdc_json_validate": q_cdc_json_validate,
        "cdc_asof_join": q_cdc_asof_join,
        "sync_identifier_normalize": q_sync_identifier_normalize,
        "sync_catalog_diff": q_sync_catalog_diff,
        "sync_multistream": q_sync_multistream,
        "sync_full_refresh_overwrite": q_sync_full_refresh_overwrite,
        "sync_append_raw": q_sync_append_raw,
        "sync_reset_empty": q_sync_reset_empty,
        "sync_copy_into": q_sync_copy_into,
        "sync_pruned_read": q_sync_pruned_read,
        "sync_incremental_changes": q_sync_incremental_changes,
        "sync_delete_where": q_sync_delete_where,
        "sync_segmented_manifest": q_sync_segmented_manifest,
        "sync_delete_equality": q_sync_delete_equality,
        "sync_add_column_default": q_sync_add_column_default,
        "sync_update_where": q_sync_update_where,
        "sync_merge_into": q_sync_merge_into,
        "sync_replace_where": q_sync_replace_where,
        "sync_wap_branch": q_sync_wap_branch,
        "sync_rollback": q_sync_rollback,
        "sync_rename_column": q_sync_rename_column,
        # --- past the window ----------------------------------------------
        # the eleven r2 deferrals (next window's head)
        "cdc_checkpoint_metrics": q_cdc_checkpoint_metrics,
        "evt_sessionize": q_evt_sessionize,
        "cdc_dedup_salted": q_cdc_dedup_salted,
        "cdc_mor_replay_final_state": q_cdc_mor_replay_final_state,
        "sync_multistream_atomic": q_sync_multistream_atomic,
        "sync_clustered_prune": q_sync_clustered_prune,
        "sync_zorder_prune": q_sync_zorder_prune,
        "sync_compact_roundtrip": q_sync_compact_roundtrip,
        "sync_time_travel": q_sync_time_travel,
        "sync_respec_roundtrip": q_sync_respec_roundtrip,
        "sync_catalog_txn": q_sync_catalog_txn,
        # green r4 (the round-4 window), unchanged since
        "doc_corpus_stats": q_doc_corpus_stats,
        "doc_sample_mix": q_doc_sample_mix,
        "cdc_url_domains": q_cdc_url_domains,
        "cdc_url_canonical": q_cdc_url_canonical,
        "doc_chunk_dedup": q_doc_chunk_dedup,
        "doc_chunk_trim": q_doc_chunk_trim,
        "cdc_schema_normalize": q_cdc_schema_normalize,
        "src_airbyte_messages": q_src_airbyte_messages,
        "doc_bpe_merges": q_doc_bpe_merges,
        "audio_mel_features": q_audio_mel_features,
        "sync_delta_log_replay": q_sync_delta_log_replay,
        "doc_bpe_tokens": q_doc_bpe_tokens,
        "cdc_matview_incremental": q_cdc_matview_incremental,
        "sync_constraint_gate": q_sync_constraint_gate,
        "sync_delete_positions": q_sync_delete_positions,
        "sync_metadata_stats": q_sync_metadata_stats,
        "sync_distinct_urls_sketch": q_sync_distinct_urls_sketch,
        "sync_hot_domain_hitters": q_sync_hot_domain_hitters,
        "src_http_offset": q_src_http_offset,
        "src_singer_roundtrip": q_src_singer_roundtrip,
        "src_warc_roundtrip": q_src_warc_roundtrip,
        "src_warc_point_lookup": q_src_warc_point_lookup,
        "src_warc_revisit_dedup": q_src_warc_revisit_dedup,
        "src_warc_cdc_e2e": q_src_warc_cdc_e2e,
        "doc_robots_filter": q_doc_robots_filter,
        "doc_boilerplate_strip": q_doc_boilerplate_strip,
        "doc_segment_dedup": q_doc_segment_dedup,
        "doc_tfidf_topk": q_doc_tfidf_topk,
        "doc_bm25_topk": q_doc_bm25_topk,
        "doc_winnow_fingerprint": q_doc_winnow_fingerprint,
        "doc_winnow_pairs": q_doc_winnow_pairs,
        "doc_simhash_pairs": q_doc_simhash_pairs,
        "doc_jaccard_pairs": q_doc_jaccard_pairs,
        "doc_incremental_dedup": q_doc_incremental_dedup,
        "doc_dedup_clusters": q_doc_dedup_clusters,
        "doc_curate": q_doc_curate,
        "emb_srp_near_dups": q_emb_srp_near_dups,
        "emb_near_dups": q_emb_near_dups,
        "emb_kmeans_cells": q_emb_kmeans_cells,
        "emb_pq_topk": q_emb_pq_topk,
        "web_pagerank": q_web_pagerank,
        "web_hits": q_web_hits,
        "web_anchor_text": q_web_anchor_text,
        "web_recrawl_schedule": q_web_recrawl_schedule,
        "web_fetch_budget": q_web_fetch_budget,
        "cdc_unnest_nested": q_cdc_unnest_nested,
        "cdc_mor_resolve_read": q_cdc_mor_resolve_read,
        "cdc_replay_final_state": q_cdc_replay_final_state,
        # green r3, unchanged since
        "web_sitemap_frontier": q_web_sitemap_frontier,
        "doc_train_split": q_doc_train_split,
        "doc_pack_sequences": q_doc_pack_sequences,
        "doc_decontaminate": q_doc_decontaminate,
        "doc_mix_plan": q_doc_mix_plan,
        "doc_quota_by_lang": q_doc_quota_by_lang,
        "doc_pii_scrub": q_doc_pii_scrub,
        "doc_repetition": q_doc_repetition,
        "doc_vocab_topk": q_doc_vocab_topk,
        "doc_lm_surprisal": q_doc_lm_surprisal,
        "doc_passages": q_doc_passages,
        "cdc_url_quality": q_cdc_url_quality,
        "cdc_segment_quantiles": q_cdc_segment_quantiles,
        "cdc_postings_incremental": q_cdc_postings_incremental,
        "sync_sql_over_lake": q_sync_sql_over_lake,
    }


# --- oracle SQL helpers (DuckDB) -------------------------------------------------

_WORDS_CTE = """
w AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws
  FROM documents
)"""

_SHINGLES_CTE = """
shd AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   FOR i IN range(1, greatest(len(ws) - 1, 1))]) AS s
    FROM w
  )
)"""

_TOKEN_PAT = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
_STOP_PAT = r"\b(the|a|an|of|and|to|in|is|that|it)\b"

# BPE gate parameters — shared by q_doc_bpe_tokens/q_doc_bpe_merges and
# their generated oracles so both sides train the identical tokenizer.
_BPE_MERGES = 128
_BPE_MAX_TYPES = 50_000


def _bpe_merge_ctes(k: int = _BPE_MERGES, max_types: int = _BPE_MAX_TYPES):
    """DuckDB CTE chain deriving the BPE merge table by unrolling the
    trainer k levels (≡ operators/bpe.py learn_merges, full-recount form —
    the incremental bookkeeping there is bit-identical by construction).

    Word types are represented as delimiter-doubled strings (' a  b  ▁ '):
    each symbol wrapped in single spaces, so plain left-to-right
    non-overlapping replace(' a  b ' → ' ab ') IS the greedy merge
    application — consecutive occurrences don't share a delimiter, and a
    symbol-suffix can never false-match because every real boundary
    carries two spaces. MATERIALIZED is load-bearing: each level
    references the previous twice, and un-materialized CTE inlining would
    re-plan the chain 2^k times. Returns (cte_sql, merge_union_sql)."""
    parts = [
        f"""
    wt AS MATERIALIZED (
      SELECT word, COUNT(*)::BIGINT AS n FROM (
        SELECT unnest(regexp_extract_all(lower(text), '{_TOKEN_PAT}')) AS word
        FROM documents
      ) GROUP BY word ORDER BY n DESC, word ASC LIMIT {max_types}
    ),
    t0 AS MATERIALIZED (
      SELECT ' ' || array_to_string(
               list_append(regexp_extract_all(word, '.'), '▁'), '  ') || ' ' AS s,
             n
      FROM wt
    )"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f"""
    b{i} AS MATERIALIZED (
      SELECT ws[j] AS a, ws[j+1] AS b
      FROM (SELECT list_filter(string_split(s, ' '), x -> x <> '') AS ws, n
            FROM t{i - 1}),
           UNNEST(range(1, len(ws))) u(j)
      GROUP BY 1, 2 HAVING SUM(n) >= 2
      ORDER BY SUM(n) DESC, a DESC, b DESC LIMIT 1
    ),
    t{i} AS MATERIALIZED (
      SELECT CASE WHEN b.a IS NOT NULL
                  THEN replace(t.s, ' ' || b.a || '  ' || b.b || ' ',
                               ' ' || b.a || b.b || ' ')
                  ELSE t.s END AS s, t.n
      FROM t{i - 1} t LEFT JOIN b{i} b ON TRUE
    )"""
        )
    union = " UNION ALL ".join(
        f"SELECT {i} AS merge_rank, a AS lhs, b AS rhs FROM b{i}"
        for i in range(1, k + 1)
    )
    return ",".join(parts), union


def _bpe_merges_oracle() -> str:
    ctes, union = _bpe_merge_ctes()
    return f"WITH {ctes} SELECT merge_rank, lhs, rhs FROM ({union}) ORDER BY 1"


def _bpe_tokens_oracle() -> str:
    """Per-doc BPE token counts: the merge CTEs above, then a recursive
    CTE encoding each DISTINCT word by repeatedly applying the
    lowest-(rank, position) applicable merge — exactly encode_word's
    GPT-2 min-rank loop, one merge per recursion step. The merge-rank map
    rides each state row (map_from_entries over the learned table) so the
    lambda can rank pairs without a correlated lookup; the terminal state
    per word is the max-iteration row of its linear chain."""
    ctes, union = _bpe_merge_ctes()
    return f"""
    WITH RECURSIVE {ctes},
    mmap AS MATERIALIZED (
      SELECT map_from_entries(list((lhs || ' ' || rhs, merge_rank))) AS mm
      FROM ({union})
    ),
    docw AS MATERIALIZED (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{_TOKEN_PAT}')) AS word
      FROM documents
    ),
    enc AS (
      SELECT word, list_append(regexp_extract_all(word, '.'), '▁') AS ws, 0 AS it
      FROM (SELECT DISTINCT word FROM docw)
      UNION ALL
      SELECT word,
             list_concat(list_concat(ws[1:best.j-1],
                                     [ws[best.j] || ws[best.j+1]]),
                         ws[best.j+2:len(ws)]) AS ws,
             it + 1
      FROM (
        SELECT word, ws, it,
               list_sort(list_filter(list_transform(range(1, len(ws)),
                 j -> {{'r': mm[ws[j] || ' ' || ws[j+1]][1], 'j': j}}),
                 x -> x.r IS NOT NULL))[1] AS best
        FROM enc, mmap
      ) WHERE best IS NOT NULL
    ),
    wlen AS MATERIALIZED (
      SELECT word, len(ws) AS wn FROM enc
      QUALIFY row_number() OVER (PARTITION BY word ORDER BY it DESC) = 1
    )
    SELECT d.doc_id, COALESCE(SUM(w.wn), 0)::INT AS n_bpe_tokens
    FROM documents d
    LEFT JOIN docw dw ON d.doc_id = dw.doc_id
    LEFT JOIN wlen w ON dw.word = w.word
    GROUP BY d.doc_id
    """


def _pii_pats() -> tuple[str, str, str]:
    from airbyte_spark.operators.textops import (
        EMAIL_PATTERN,
        IPV4_PATTERN,
        PHONE_PATTERN,
    )

    return EMAIL_PATTERN, IPV4_PATTERN, PHONE_PATTERN


_EMAIL_PAT, _IPV4_PAT, _PHONE_PAT = _pii_pats()


def _reserved_sql() -> str:
    from airbyte_spark.functions.names import RESERVED

    return ", ".join(f"'{w}'" for w in sorted(RESERVED))


_RESERVED_SQL = _reserved_sql()

_LANG_MARKERS_SQL = [
    ("en", r"\b(the|a|of|and|to)\b"),
    ("de", r"\b(der|die|und|ist|das)\b"),
    ("fr", r"\b(le|la|et|les|des)\b"),
    ("es", r"\b(el|los|y|que|en)\b"),
    ("it", r"\b(il|di|che|per|con)\b"),
]


def _minhash_cte(num_hashes: int = 8, bands: int = 4) -> str:
    rows = num_hashes // bands
    mins = ",\n         ".join(
        f"min(md5('{i}:' || s)) AS mh{i}" for i in range(num_hashes)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({key}) AS key FROM mh".format(
            b=bi,
            key=" || '|' || ".join(f"mh{bi * rows + j}" for j in range(rows)),
        )
        for bi in range(bands)
    )
    return f"""
mh AS (
  SELECT doc_id,
         {mins}
  FROM shd GROUP BY doc_id
),
bk AS (
{band_selects}
)"""


def _simhash_sql(bits: int = 32) -> str:
    votes = []
    for j in range(bits):
        nib = f"(strpos('0123456789abcdef', substr(h, {j // 4 + 1}, 1)) - 1)"
        bit = f"(CAST(floor({nib} / {2 ** (j % 4)}) AS BIGINT) % 2)"
        votes.append(f"SUM({bit} * 2 - 1) AS v{j}")
    vote_list = ",\n         ".join(votes)
    sh = " + ".join(
        f"CASE WHEN v{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END" for j in range(bits)
    )
    return f"""
    WITH wx AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS word
      FROM documents
    ),
    hw AS (SELECT doc_id, md5(word) AS h FROM wx),
    v AS (
      SELECT doc_id,
         {vote_list}
      FROM hw GROUP BY doc_id
    )
    SELECT doc_id, {sh} AS simhash FROM v
    """


_EMB_BASE_CTE = """
e AS (
  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
norms AS (
  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nr
  FROM e GROUP BY vec_id
)"""


def _kmeans_oracle_sql(k: int = 8, iters: int = 2) -> str:
    """Lloyd's algorithm unrolled into chained CTEs over the long-form
    (vec_id, i, v) embedding relation — init = lowest-id vectors, each
    iteration = cosine argmax assignment (row_number, ties on c_id) +
    per-(cell, dimension) AVG — mirroring kmeans_centroids/ivf_assign
    arithmetic exactly (double math, norm-divided cosine)."""
    parts = [
        "e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,"
        " generate_subscripts(embedding, 1) AS i FROM embeddings)",
        "nv AS (SELECT vec_id, sqrt(SUM(v * v)) AS nr FROM e GROUP BY vec_id)",
        f"c0 AS (SELECT vec_id AS c_id, i, v AS cv FROM e WHERE vec_id < {k})",
    ]
    for t in range(iters + 1):
        parts.append(
            f"n{t} AS (SELECT c_id, sqrt(SUM(cv * cv)) AS nr FROM c{t} GROUP BY c_id)"
        )
        parts.append(
            f"""a{t} AS (
              SELECT vec_id, c_id AS cell FROM (
                SELECT d.vec_id, d.c_id, row_number() OVER (
                  PARTITION BY d.vec_id
                  ORDER BY d.dp / (v.nr * c.nr) DESC, d.c_id ASC) AS rn
                FROM (SELECT e.vec_id, c.c_id, SUM(e.v * c.cv) AS dp
                      FROM e JOIN c{t} c ON c.i = e.i GROUP BY 1, 2) d
                JOIN nv v ON v.vec_id = d.vec_id
                JOIN n{t} c ON c.c_id = d.c_id
              ) WHERE rn = 1)"""
        )
        if t < iters:
            parts.append(
                f"c{t + 1} AS (SELECT a.cell AS c_id, e.i, AVG(e.v) AS cv"
                f" FROM a{t} a JOIN e ON e.vec_id = a.vec_id GROUP BY 1, 2)"
            )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT vec_id, CAST(cell AS BIGINT) AS cell FROM a{iters} ORDER BY vec_id"
    )


def _pagerank_oracle_sql(iterations: int = 8, damping: float = 0.85) -> str:
    """Fixed-iteration PageRank unrolled into chained CTEs — power iteration
    is SQL-expressible when the iteration count is static, so this query
    gets a FULL value oracle. Arithmetic mirrors operators/graph.py term by
    term ((1-d)/n + d*(c + dm/n), rational doubles only); the final
    round(rank, 10) on both sides absorbs float summation-order ulp noise
    (all-positive sums, error << 1e-12)."""
    edges_cte = f"""
    WITH ch AS ({_CH}),
    urls AS (SELECT DISTINCT url FROM ch),
    u AS (SELECT url,
            regexp_extract(url, 'https://([^/]+)/', 1) AS domain,
            CAST(regexp_extract(url, '/p/(\\d+)$', 1) AS BIGINT) AS page_no
          FROM urls),
    e0 AS (SELECT url AS src,
             lead(url, 1) OVER w AS n1,
             lead(url, 2) OVER w AS n2,
             first_value(url) OVER w AS root
           FROM u WINDOW w AS (PARTITION BY domain ORDER BY page_no)),
    edges AS MATERIALIZED (SELECT src, dst FROM (
                SELECT src, unnest([n1, n2, root]) AS dst FROM e0)
              WHERE dst IS NOT NULL AND dst <> src),
    nodes AS MATERIALIZED (SELECT DISTINCT url FROM (
                SELECT src AS url FROM edges
                UNION ALL SELECT dst FROM edges)),
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS MATERIALIZED (SELECT src AS u, count(*) AS out_deg FROM edges GROUP BY src),
    r0 AS MATERIALIZED (SELECT url, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    iters = []
    for i in range(1, iterations + 1):
        p = i - 1
        iters.append(f"""
    c{i} AS (SELECT e.dst AS url, sum(r.rank / d.out_deg) AS c
             FROM edges e JOIN r{p} r ON e.src = r.url
                          JOIN deg d ON e.src = d.u
             GROUP BY e.dst),
    dm{i} AS (SELECT coalesce(sum(r.rank), 0.0) AS dm
              FROM r{p} r LEFT JOIN deg d ON r.url = d.u
              WHERE d.u IS NULL),
    r{i} AS MATERIALIZED (SELECT n.url,
               (1.0 - {damping}) / (SELECT n FROM nn)
                 + {damping} * (coalesce(c.c, 0.0)
                                + (SELECT dm FROM dm{i}) / (SELECT n FROM nn))
               AS rank
             FROM nodes n LEFT JOIN c{i} c ON n.url = c.url)""")
    return (
        edges_cte + "," + ",".join(iters)
        + f"\n    SELECT url, round(rank, 10) AS rank FROM r{iterations}"
    )


def _hits_oracle_sql(iterations: int = 8) -> str:
    """Fixed-iteration HITS unrolled into chained CTEs (same edge rule as
    the pagerank oracle). L1-normalized half-steps exactly mirror
    operators/graph.py hits(); round(10) absorbs sum-order ulp."""
    edges_cte = f"""
    WITH ch AS ({_CH}),
    urls AS (SELECT DISTINCT url FROM ch),
    u AS (SELECT url,
            regexp_extract(url, 'https://([^/]+)/', 1) AS domain,
            CAST(regexp_extract(url, '/p/(\\d+)$', 1) AS BIGINT) AS page_no
          FROM urls),
    e0 AS (SELECT url AS src,
             lead(url, 1) OVER w AS n1,
             lead(url, 2) OVER w AS n2,
             first_value(url) OVER w AS root
           FROM u WINDOW w AS (PARTITION BY domain ORDER BY page_no)),
    edges AS MATERIALIZED (SELECT src, dst FROM (
                SELECT src, unnest([n1, n2, root]) AS dst FROM e0)
              WHERE dst IS NOT NULL AND dst <> src),
    nodes AS MATERIALIZED (SELECT DISTINCT url FROM (
                SELECT src AS url FROM edges
                UNION ALL SELECT dst FROM edges)),
    nn AS (SELECT count(*) AS n FROM nodes),
    h0 AS MATERIALIZED (SELECT url, 1.0 / (SELECT n FROM nn) AS s FROM nodes)"""
    iters = []
    for i in range(1, iterations + 1):
        p = i - 1
        iters.append(f"""
    ar{i} AS (SELECT e.dst AS url, sum(h.s) AS x
              FROM edges e JOIN h{p} h ON e.src = h.url GROUP BY e.dst),
    as{i} AS (SELECT sum(x) AS t FROM ar{i}),
    a{i} AS MATERIALIZED (SELECT n.url,
               coalesce(r.x, 0.0) / (SELECT t FROM as{i}) AS s
             FROM nodes n LEFT JOIN ar{i} r ON n.url = r.url),
    hr{i} AS (SELECT e.src AS url, sum(a.s) AS x
              FROM edges e JOIN a{i} a ON e.dst = a.url GROUP BY e.src),
    hs{i} AS (SELECT sum(x) AS t FROM hr{i}),
    h{i} AS MATERIALIZED (SELECT n.url,
               coalesce(r.x, 0.0) / (SELECT t FROM hs{i}) AS s
             FROM nodes n LEFT JOIN hr{i} r ON n.url = r.url)""")
    return (
        edges_cte + "," + ",".join(iters)
        + f"""
    SELECT h.url, round(h.s, 10) AS hub, round(a.s, 10) AS authority
    FROM h{iterations} h JOIN a{iterations} a ON h.url = a.url"""
    )


def oracle_sql() -> dict[str, str]:
    final_state = f"""
    WITH ch AS ({_CH}),
    r AS (SELECT *, row_number() OVER (
            PARTITION BY url ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
          FROM ch)
    SELECT url, warc_ts, text, lang, _ab_cdc_lsn
    FROM r WHERE rn = 1 AND _ab_cdc_deleted_at IS NULL
    """
    return {
        "cdc_replay_final_state": final_state,
        "cdc_mor_replay_final_state": final_state,
        "cdc_mor_resolve_read": final_state,
        "src_debezium_tail": final_state,
        "sync_delta_log_replay": final_state,
        "src_airbyte_messages": """
            SELECT event_id, event_type, value FROM events
        """,
        "cdc_schema_normalize": """
            WITH raw AS (
              SELECT event_id AS id,
                     CASE WHEN event_id % 7 = 0 THEN 'x'
                          ELSE CAST(user_id AS VARCHAR) END AS i,
                     CAST(user_id % 100 AS VARCHAR) || '.' ||
                       CAST(event_id % 10 AS VARCHAR) AS n,
                     (['yes','off','TRUE','0','maybe','t'])[CAST(event_id % 6 AS INT) + 1] AS b
              FROM events)
            SELECT id,
                   TRY_CAST(i AS BIGINT) AS i,
                   TRY_CAST(n AS DOUBLE) AS n,
                   CASE WHEN lower(trim(b)) IN ('y','yes','t','true','on','1') THEN true
                        WHEN lower(trim(b)) IN ('n','no','f','false','off','0') THEN false
                        END AS b
            FROM raw
        """,
        "cdc_matview_incremental": f"""
            WITH ch AS ({_CH}),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY url ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                  FROM ch)
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_pages,
                   CAST(sum(length(text)) AS BIGINT) AS n_chars
            FROM r WHERE rn = 1 AND _ab_cdc_deleted_at IS NULL
            GROUP BY lang
        """,
        "cdc_final_state_window": f"""
            WITH ch AS ({_CH}),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY url ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                  FROM ch)
            SELECT url, warc_ts, lang, _ab_cdc_lsn
            FROM r WHERE rn = 1 AND _ab_cdc_deleted_at IS NULL
        """,
        # chunked-snapshot bootstrap must converge to the plain full-replay
        # state — the oracle is deliberately the from-LSN-0 definition
        "cdc_incremental_snapshot": f"""
            WITH ch AS ({_CH}),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY url ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                  FROM ch)
            SELECT url, warc_ts, lang, _ab_cdc_lsn
            FROM r WHERE rn = 1 AND _ab_cdc_deleted_at IS NULL
        """,
        "cdc_tx_boundaries": f"""
            WITH ch AS ({_CH}),
            s AS (SELECT *, CAST(_ab_cdc_lsn // 4 AS BIGINT) AS tx_id FROM ch
                  WHERE _ab_cdc_lsn <= (SELECT CAST(max(_ab_cdc_lsn) * 9 // 10 AS BIGINT)
                                        FROM ch)),
            done AS (SELECT tx_id FROM s GROUP BY tx_id HAVING count(*) = 4),
            r AS (SELECT s.*, row_number() OVER (
                    PARTITION BY url ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                  FROM s JOIN done USING (tx_id))
            SELECT url, warc_ts, lang, _ab_cdc_lsn
            FROM r WHERE rn = 1 AND _ab_cdc_deleted_at IS NULL
        """,
        "cdc_audit_divergence": f"""
            WITH ch AS ({_CH}),
            exp AS (SELECT url, _ab_cdc_lsn AS elsn,
                           _ab_cdc_deleted_at IS NOT NULL AS edel
                    FROM (SELECT *, row_number() OVER (
                            PARTITION BY url ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                          FROM ch) WHERE rn = 1),
            got AS (SELECT url, _ab_cdc_lsn AS glsn,
                           _ab_cdc_deleted_at IS NOT NULL AS gdel
                    FROM (SELECT *, row_number() OVER (
                            PARTITION BY url ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                          FROM ch
                          WHERE _ab_cdc_lsn <= (SELECT CAST(max(_ab_cdc_lsn) * 2 // 3 AS BIGINT)
                                                FROM ch)) WHERE rn = 1),
            j AS (SELECT coalesce(e.url, g.url) AS url, elsn, edel, glsn, gdel
                  FROM exp e FULL OUTER JOIN got g ON e.url = g.url),
            v AS (SELECT url,
                    CASE
                      WHEN elsn IS NULL AND NOT gdel THEN 'extra'
                      WHEN (glsn IS NULL OR gdel) AND elsn IS NOT NULL
                           AND NOT edel THEN 'missing'
                      WHEN elsn IS NOT NULL AND glsn IS NOT NULL
                           AND edel AND NOT gdel THEN 'zombie'
                      WHEN elsn IS NOT NULL AND glsn IS NOT NULL
                           AND NOT edel AND NOT gdel AND elsn <> glsn THEN 'stale'
                    END AS verdict,
                    glsn AS table_lsn, elsn AS expected_lsn
                  FROM j)
            SELECT url, verdict, table_lsn, expected_lsn
            FROM v WHERE verdict IS NOT NULL
        """,
        "cdc_partial_updates": f"""
            WITH ch AS ({_CH}),
            p AS (SELECT url, _ab_cdc_lsn AS lsn, _ab_cdc_deleted_at AS del,
                    CASE WHEN _ab_cdc_lsn % 3 IN (0, 2)
                         THEN 'rev-' || CAST(_ab_cdc_lsn AS VARCHAR) END AS text_p,
                    CASE WHEN _ab_cdc_lsn % 3 IN (1, 2) THEN lang END AS lang_p
                  FROM ch),
            agg AS (
              SELECT url,
                arg_max(text_p, lsn) FILTER (WHERE text_p IS NOT NULL) AS text,
                arg_max(lang_p, lsn) FILTER (WHERE lang_p IS NOT NULL) AS lang,
                arg_max(del IS NOT NULL, lsn) AS is_del,
                max(lsn) AS _ab_cdc_lsn
              FROM p GROUP BY url)
            SELECT url, text, lang, _ab_cdc_lsn FROM agg WHERE NOT is_del
        """,
        "cdc_dedup_batch": f"""
            WITH ch AS ({_CH}),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY checkpoint_id, url
                    ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                  FROM ch)
            SELECT checkpoint_id, url, warc_ts, _ab_cdc_lsn,
                   _ab_cdc_deleted_at IS NOT NULL AS is_delete
            FROM r WHERE rn = 1
        """,
        "cdc_dedup_salted": f"""
            WITH ch AS ({_CH}),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY url
                    ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                  FROM ch)
            SELECT url, warc_ts, _ab_cdc_lsn,
                   _ab_cdc_deleted_at IS NOT NULL AS is_delete
            FROM r WHERE rn = 1
        """,
        "cdc_extract_text": f"""
            WITH ch AS ({_CH})
            SELECT _ab_cdc_lsn AS lsn, url, text FROM ch
        """,
        "cdc_scd_history": f"""
            WITH ch AS ({_CH})
            SELECT url,
                   warc_ts AS start_at,
                   lag(warc_ts) OVER w AS end_at,
                   _ab_cdc_lsn AS lsn,
                   (row_number() OVER w = 1 AND _ab_cdc_deleted_at IS NULL) AS active_row
            FROM ch
            WINDOW w AS (PARTITION BY url ORDER BY warc_ts DESC, _ab_cdc_lsn DESC)
        """,
        "cdc_incremental_cursor": f"""
            WITH ch AS ({_CH})
            SELECT url, warc_ts, _ab_cdc_lsn
            FROM ch WHERE warc_ts > TIMESTAMP '{_CURSOR}'
        """,
        "cdc_checkpoint_metrics": f"""
            WITH ch AS ({_CH})
            SELECT checkpoint_id,
                   count(*) AS n_events,
                   -- DuckDB sum() yields HUGEINT (int128); the driver's
                   -- value-hash is type-sensitive, so pin BIGINT ≡ Spark
                   CAST(sum(CASE WHEN _ab_cdc_deleted_at IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
                   max(_ab_cdc_lsn) AS max_lsn,
                   max(warc_ts) AS max_cursor,
                   count(DISTINCT url) AS n_urls
            FROM ch GROUP BY checkpoint_id
        """,
        "cdc_stream_window_metrics": f"""
            WITH ch AS ({_CH})
            SELECT time_bucket(INTERVAL '1 hour', warc_ts) AS window_start,
                   count(*) AS n_events,
                   CAST(sum(CASE WHEN _ab_cdc_deleted_at IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
                   count(DISTINCT url) AS n_urls,
                   max(_ab_cdc_lsn) AS max_lsn
            FROM ch GROUP BY 1
        """,
        "cdc_composite_pk_final_state": f"""
            WITH ch AS ({_CH}),
            s AS (SELECT *, _ab_cdc_lsn % 3 AS section FROM ch),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY url, section
                    ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                  FROM s)
            SELECT url, section, warc_ts, text, _ab_cdc_lsn
            FROM r WHERE rn = 1 AND _ab_cdc_deleted_at IS NULL
        """,
        "cdc_schema_evolution": f"""
            WITH ch AS ({_CH}),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY url ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                  FROM ch)
            SELECT url, warc_ts, _ab_cdc_lsn,
                   CASE WHEN checkpoint_id >= 5
                        THEN regexp_extract(url, 'https://([^/]+)/', 1) END AS domain
            FROM r WHERE rn = 1 AND _ab_cdc_deleted_at IS NULL
        """,
        "cdc_type_widening": f"""
            WITH ch AS ({_CH}),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY url ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                  FROM ch)
            SELECT url, warc_ts, _ab_cdc_lsn,
                   CASE WHEN checkpoint_id >= 5
                        THEN (_ab_cdc_lsn % 100) + 0.5
                        ELSE CAST(_ab_cdc_lsn % 100 AS DOUBLE) END AS score
            FROM r WHERE rn = 1 AND _ab_cdc_deleted_at IS NULL
        """,
        "cdc_unnest_children": """
            WITH src AS (
              SELECT event_id,
                     CASE WHEN event_type <> 'signup' THEN
                       [event_type,
                        json_extract_string(props, '$.k'),
                        'p' || CAST(user_id % 3 AS VARCHAR)]
                     END AS vals
              FROM events)
            SELECT md5(CAST(event_id AS VARCHAR)) AS _parent_hashid,
                   event_id,
                   generate_subscripts(vals, 1) AS _idx,
                   unnest(vals) AS val
            FROM src WHERE vals IS NOT NULL
        """,
        "cdc_unnest_nested": """
            WITH src AS (
              SELECT event_id,
                     CASE WHEN event_type <> 'signup' THEN
                       [struct_pack(tag := event_type,
                                    subs := ['a-' || CAST(user_id % 5 AS VARCHAR),
                                             'b-' || CAST(event_id % 7 AS VARCHAR)]),
                        struct_pack(tag := json_extract_string(props, '$.k'),
                                    subs := CASE WHEN user_id % 4 <> 0
                                            THEN ['c-' || CAST(user_id % 3 AS VARCHAR)]
                                            END)]
                     END AS vals
              FROM events),
            lvl1 AS (
              SELECT md5(CAST(event_id AS VARCHAR)) AS ph1,
                     event_id,
                     generate_subscripts(vals, 1) AS idx1,
                     unnest(vals) AS item
              FROM src WHERE vals IS NOT NULL)
            SELECT md5(ph1 || '-' || CAST(idx1 AS VARCHAR)) AS _parent_hashid,
                   event_id,
                   idx1 AS _idx_l1,
                   generate_subscripts(item.subs, 1) AS _idx,
                   unnest(item.subs) AS val
            FROM lvl1 WHERE item.subs IS NOT NULL
        """,
        "cdc_timestamp_parse": """
            WITH v AS (
              SELECT event_id AS id,
                     CAST(event_id % 6 AS INT) AS var,
                     strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso,
                     strftime(ts, '%Y-%m-%d %H:%M:%S') AS sqlf,
                     date_trunc('second', ts) AS tsec
              FROM events)
            SELECT id,
                   CASE var WHEN 0 THEN iso WHEN 1 THEN iso || 'Z'
                            WHEN 2 THEN iso || '+00:00' WHEN 3 THEN iso || '+0000'
                            WHEN 4 THEN sqlf ELSE '' END AS raw,
                   CASE WHEN var = 5 THEN NULL ELSE tsec END AS parsed
            FROM v
        """,
        "cdc_debezium_parse": """
            SELECT user_id AS id,
                   event_type AS etype,
                   value AS val,
                   epoch_ms(ts) AS _ab_cdc_updated_at_ms,
                   CASE WHEN event_type = 'error' THEN epoch_ms(ts) END
                     AS _ab_cdc_deleted_at_ms,
                   event_id AS _ab_cdc_lsn
            FROM events
            WHERE event_id % 997 <> 0  -- malformed envelopes → dead letters
        """,
        "cdc_json_validate": r"""
            WITH d AS (
              SELECT event_id,
                CASE WHEN event_id % 11 = 0 THEN 'garbage'
                     WHEN event_id % 11 = 1
                       THEN '{"event_id": ' || CAST(event_id AS VARCHAR) || '}'
                     WHEN event_id % 11 = 2
                       THEN '{"event_id": "x' || CAST(event_id AS VARCHAR)
                            || '", "user_id": ' || CAST(user_id AS VARCHAR)
                            || ', "event_type": "' || event_type || '"}'
                     ELSE '{"event_id": ' || CAST(event_id AS VARCHAR)
                          || ', "user_id": ' || CAST(user_id AS VARCHAR)
                          || ', "event_type": "' || event_type || '"}'
                END AS doc
              FROM events),
            v AS (
              SELECT event_id, doc,
                (doc IS NULL OR NOT json_valid(doc)) AS malformed,
                CASE WHEN json_valid(doc)
                     THEN json_extract_string(doc, '$.event_id') END AS r_id,
                CASE WHEN json_valid(doc)
                     THEN json_extract_string(doc, '$.user_id') END AS r_uid,
                CASE WHEN json_valid(doc)
                     THEN json_extract_string(doc, '$.event_type') END AS r_et
              FROM d),
            lab AS (
              SELECT event_id, list_sort(list_filter([
                  CASE WHEN malformed THEN 'malformed json' END,
                  CASE WHEN NOT malformed AND r_id IS NULL
                       THEN 'missing required: event_id' END,
                  CASE WHEN NOT malformed AND r_uid IS NULL
                       THEN 'missing required: user_id' END,
                  CASE WHEN NOT malformed AND r_id IS NOT NULL
                            AND NOT regexp_matches(r_id, '^-?\d+$')
                       THEN 'type: event_id' END,
                  CASE WHEN NOT malformed AND r_uid IS NOT NULL
                            AND NOT regexp_matches(r_uid, '^-?\d+$')
                       THEN 'type: user_id' END,
                  CASE WHEN NOT malformed AND r_et IS NOT NULL
                            AND NOT regexp_matches(doc, '"event_type"\s*:\s*"')
                       THEN 'type: event_type' END
                ], x -> x IS NOT NULL)) AS vio
              FROM v)
            SELECT event_id, len(vio) = 0 AS is_valid,
                   coalesce(array_to_string(vio, '; '), '') AS violations
            FROM lab
        """,
        "cdc_asof_join": f"""
            WITH ch AS ({_CH}),
            v AS (SELECT url, warc_ts, _ab_cdc_lsn AS page_lsn,
                         row_number() OVER (
                           PARTITION BY url, warc_ts
                           ORDER BY _ab_cdc_lsn DESC) AS rn
                  FROM ch),
            vr AS (SELECT url, warc_ts, page_lsn, warc_ts AS page_ts
                   FROM v WHERE rn = 1),
            probes AS (
              SELECT event_id,
                     'https://site-' || CAST(user_id % 10 AS VARCHAR)
                       || '.example.com/p/' || CAST(user_id AS VARCHAR) AS url,
                     ts AS event_ts
              FROM events WHERE event_type = 'click')
            SELECT p.event_id, p.url, p.event_ts, vr.page_ts, vr.page_lsn
            FROM probes p
            ASOF LEFT JOIN vr ON p.url = vr.url AND p.event_ts >= vr.warc_ts
        """,
        "evt_sessionize": """
            WITH o AS (
              SELECT user_id, ts, event_id,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events),
            m AS (
              SELECT user_id, ts,
                     sum(CASE WHEN prev IS NULL
                              OR date_diff('second', prev, ts) > 1800
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM o)
            SELECT user_id,
                   CAST(session_seq AS BIGINT) AS session_seq,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   count(*) AS n_events
            FROM m GROUP BY user_id, session_seq
        """,
        "sync_identifier_normalize": """
            WITH r AS (
              SELECT event_id AS id,
                     CASE WHEN user_id % 7 = 0 THEN 'Group'
                          ELSE event_type || '-' || CAST(user_id % 5 AS VARCHAR) || ' Col'
                     END AS raw
              FROM events),
            n1 AS (SELECT id, raw,
                          regexp_replace(lower(raw), '[^a-z0-9_]', '_', 'g') AS n
                   FROM r),
            n2 AS (SELECT id, raw,
                          CASE WHEN regexp_matches(n, '^[0-9]') THEN '_' || n ELSE n END AS n
                   FROM n1)
            SELECT id, raw,
                   substr(CASE WHEN n IN ({reserved}) THEN n || '_' ELSE n END, 1, 63) AS ident
            FROM n2
        """.format(reserved=_RESERVED_SQL),
        "sync_catalog_diff": """
            WITH old AS (
              SELECT column_name AS f,
                     CASE WHEN lower(column_type) = 'varchar' THEN 'string'
                          ELSE lower(column_type) END AS t
              FROM (DESCRIBE SELECT * FROM documents)
            ),
            new AS (
              SELECT * FROM (VALUES ('doc_id','bigint'),('text','string'),
                                    ('lang','string'),('n_chars','double'),
                                    ('quality','double')) AS v(f, t)
            ),
            widen AS (
              SELECT * FROM (VALUES ('boolean',0),('bigint',1),
                                    ('double',2),('string',3)) AS w(t, r)
            )
            SELECT n.f AS field,
                   CASE WHEN o.f IS NULL THEN 'add_column'
                        WHEN ow.r IS NOT NULL AND nw.r IS NOT NULL AND ow.r < nw.r
                             THEN 'promote_type'
                        ELSE 'incompatible' END AS change,
                   o.t AS old_type,
                   n.t AS new_type
            FROM new n
            LEFT JOIN old o ON o.f = n.f
            LEFT JOIN widen ow ON ow.t = o.t
            LEFT JOIN widen nw ON nw.t = n.t
            WHERE o.f IS NULL OR o.t <> n.t
            ORDER BY field
        """,
        "sync_multistream": f"""
            WITH ch AS ({_CH}),
            p AS (SELECT *, row_number() OVER (
                    PARTITION BY url ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                  FROM ch),
            l AS (SELECT *, row_number() OVER (
                    PARTITION BY url, lang ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                  FROM ch)
            SELECT 'pages' AS stream, url, lang, warc_ts, _ab_cdc_lsn
            FROM p WHERE rn = 1 AND _ab_cdc_deleted_at IS NULL
            UNION ALL
            SELECT 'pages_by_lang' AS stream, url, lang, warc_ts, _ab_cdc_lsn
            FROM l WHERE rn = 1 AND _ab_cdc_deleted_at IS NULL
        """,
        "sync_multistream_atomic": f"""
            WITH ch AS ({_CH}),
            p AS (SELECT *, row_number() OVER (
                    PARTITION BY url ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                  FROM ch),
            l AS (SELECT *, row_number() OVER (
                    PARTITION BY url, lang ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                  FROM ch)
            SELECT 'pages' AS stream, url, lang, warc_ts, _ab_cdc_lsn
            FROM p WHERE rn = 1 AND _ab_cdc_deleted_at IS NULL
            UNION ALL
            SELECT 'pages_by_lang' AS stream, url, lang, warc_ts, _ab_cdc_lsn
            FROM l WHERE rn = 1 AND _ab_cdc_deleted_at IS NULL
        """,
        "sync_full_refresh_overwrite": f"""
            WITH ch AS ({_CH}),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY url ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                  FROM ch)
            SELECT url, warc_ts, lang, _ab_cdc_lsn
            FROM r WHERE rn = 1 AND _ab_cdc_deleted_at IS NULL
        """,
        "sync_append_raw": f"""
            WITH ch AS ({_CH})
            SELECT md5(url || ':' || CAST(_ab_cdc_lsn AS VARCHAR)) AS _ab_id,
                   url, warc_ts, lang, _emitted_at, checkpoint_id
            FROM ch
        """,
        "sync_reset_empty": f"""
            WITH ch AS ({_CH})
            SELECT url, warc_ts, lang FROM ch WHERE 1 = 0
        """,
        "sync_copy_into": """
            SELECT event_id, ts, user_id, event_type, value, props FROM events
        """,
        "sync_compact_roundtrip": """
            SELECT event_id, ts, user_id, event_type, value, props FROM events
        """,
        "sync_time_travel": """
            SELECT event_id, ts, user_id, event_type, value, props FROM events
            WHERE event_id % 2 = 0
        """,
        "sync_pruned_read": """
            SELECT event_id, ts, user_id, event_type, value, props FROM events
            WHERE event_id BETWEEN 2500 AND 4999
        """,
        "sync_clustered_prune": """
            SELECT event_id, ts, user_id, event_type, value, props FROM events
            WHERE event_id BETWEEN 2500 AND 4999
        """,
        "sync_zorder_prune": """
            SELECT event_id, ts, user_id, event_type, value, props FROM events
            WHERE user_id >= 0
              AND user_id <= (SELECT CAST(floor(max(user_id) / 8.0) AS BIGINT)
                              FROM events)
        """,
        "sync_incremental_changes": """
            SELECT event_id, ts, user_id, event_type, value, props FROM events
            WHERE event_id % 3 IN (1, 2)
        """,
        "sync_respec_roundtrip": """
            SELECT event_id, ts, user_id, event_type, value, props FROM events
        """,
        "sync_merge_into": """
            WITH up AS (SELECT event_id, value + 1000 AS value, upper(props) AS props
                        FROM events WHERE event_id % 7 = 0),
            t AS (
              SELECT e.event_id, e.ts, e.user_id, e.event_type,
                     CASE WHEN u.event_id IS NOT NULL THEN u.value ELSE e.value END AS value,
                     CASE WHEN u.event_id IS NOT NULL THEN u.props ELSE e.props END AS props
              FROM events e LEFT JOIN up u USING (event_id)
              WHERE NOT (u.event_id IS NOT NULL AND e.event_type = 'error')
            ),
            ins AS (SELECT event_id + 10000000 AS event_id, ts, user_id,
                           'backfill' AS event_type, value, props
                    FROM events WHERE event_id % 1000 = 1)
            SELECT * FROM t UNION ALL SELECT * FROM ins
        """,
        "sync_update_where": """
            SELECT event_id, ts, user_id, event_type,
                   CASE WHEN event_type = 'purchase' AND user_id % 10 = 3
                        THEN value * 2 ELSE value END AS value,
                   CASE WHEN event_type = 'purchase' AND user_id % 10 = 3
                        THEN upper(props) ELSE props END AS props
            FROM events
        """,
        "sync_delete_where": """
            SELECT event_id, ts, user_id, event_type, value, props FROM events
            WHERE COALESCE(event_type = 'error' OR user_id % 100 = 7, FALSE) = FALSE
        """,
        "sync_segmented_manifest": """
            SELECT event_id, ts, user_id, event_type, value, props FROM events
            WHERE COALESCE(event_type = 'error', FALSE) = FALSE
        """,
        "sync_delete_equality": """
            SELECT event_id, ts, user_id, event_type, value, props FROM events
            WHERE user_id % 10 <> 3
            UNION ALL
            SELECT event_id, ts, user_id, event_type, value, props FROM events
            WHERE user_id % 10 = 3 AND event_id % 2 = 0
        """,
        "sync_add_column_default": """
            SELECT event_id, ts, user_id, event_type, value, props,
                   'backfill' AS source
            FROM events
            UNION ALL
            SELECT event_id, ts, user_id, event_type, value, props,
                   'live' AS source
            FROM events WHERE event_id % 5 = 0
        """,
        "sync_replace_where": """
            SELECT event_id, ts, user_id, event_type, value, props FROM events
            WHERE event_type <> 'purchase'
            UNION ALL
            SELECT event_id, ts, user_id, event_type,
                   CAST(user_id AS DOUBLE) AS value, props
            FROM events WHERE event_type = 'purchase'
        """,
        "sync_wap_branch": """
            SELECT event_id, ts, user_id, event_type, value, props FROM events
            WHERE event_id % 3 IN (0, 1) AND event_type <> 'error'
        """,
        "sync_catalog_txn": """
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                   SUM(value) AS sum_value
            FROM events GROUP BY user_id
        """,
        "sync_rollback": """
            SELECT event_id, ts, user_id, event_type, value, props FROM events
        """,
        "sync_rename_column": """
            SELECT event_id, ts, user_id, event_type, value AS score, props
            FROM events
        """,
        "sync_metadata_stats": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id,
                   MIN(user_id) AS min_user_id, MAX(user_id) AS max_user_id,
                   MIN(value) AS min_value, MAX(value) AS max_value
            FROM events
        """,
        "src_http_offset": """
            SELECT event_id, ts, user_id, event_type, value, props FROM events
        """,
        "src_http_substream": """
            SELECT event_id, ts, user_id, event_type, value, props,
                   user_id AS parent_user_id
            FROM events WHERE user_id % 5 = 2
        """,
        "src_sql_incremental": """
            WITH b AS (
              SELECT (CAST(min(event_id) AS BIGINT)
                      + CAST(max(event_id) AS BIGINT)) // 2 AS mid
              FROM events
            )
            SELECT concat('https://e/', CAST(event_id AS VARCHAR)) AS url,
                   ts AS warc_ts,
                   event_id AS lsn,
                   CASE WHEN event_id <= (SELECT mid FROM b)
                        THEN 'p1' ELSE 'p2' END AS phase
            FROM events
        """,
        "src_singer_roundtrip": """
            SELECT event_id, ts, user_id, event_type, value, props FROM events
        """,
        "sync_distinct_urls_sketch": """
            WITH ch AS ({CH})
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT url) AS BIGINT) AS n_distinct_urls,
                   TRUE AS est_within_1pct
            FROM ch
        """.replace("{CH}", changelog_oracle_cte()),
        "sync_hot_domain_hitters": """
            WITH ch AS ({CH}),
            d AS (SELECT 'site-' || CAST(CAST(regexp_extract(url, 'site-(\\d+)', 1) AS BIGINT) AS VARCHAR)
                         || '.example.com' AS domain FROM ch)
            SELECT domain, CAST(count(*) AS BIGINT) AS n_events
            FROM d GROUP BY domain
            HAVING count(*) * 25 > (SELECT count(*) FROM ch)
        """.replace("{CH}", changelog_oracle_cte()),
        "src_warc_point_lookup": """
            SELECT concat('https://example.com/', source, '/', CAST(doc_id AS VARCHAR)) AS url,
                   make_timestamp(doc_id * 60 * 1000000) AS warc_ts,
                   text
            FROM documents WHERE doc_id % 7 = 0
        """,
        "src_warc_revisit_dedup": """
            SELECT concat('https://example.com/', source, '/', CAST(doc_id AS VARCHAR)) AS url,
                   make_timestamp((doc_id * 60 + 86400) * 1000000) AS warc_ts,
                   CASE WHEN doc_id % 3 = 0 THEN text || ' rev2' ELSE text END AS text,
                   doc_id % 3 <> 0 AS is_revisit
            FROM documents
        """,
        "src_warc_cdc_e2e": """
            SELECT concat('https://example.com/', source, '/', CAST(doc_id AS VARCHAR)) AS url,
                   CASE WHEN doc_id % 3 = 0
                        THEN make_timestamp((doc_id * 60 + 86400) * 1000000)
                        ELSE make_timestamp(doc_id * 60 * 1000000) END AS warc_ts,
                   CASE WHEN doc_id % 3 = 0 THEN text || ' rev2' ELSE text END AS text
            FROM documents
        """,
        "src_warc_roundtrip": """
            SELECT concat('https://example.com/', source, '/', CAST(doc_id AS VARCHAR)) AS url,
                   make_timestamp(doc_id * 60 * 1000000) AS warc_ts,
                   text,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
            FROM documents
        """,
        "doc_robots_filter": """
            SELECT DISTINCT
              'https://site-' || CAST(user_id % 10 AS VARCHAR)
                || '.example.com/p/' || CAST(user_id AS VARCHAR) AS url,
              (user_id % 10 >= 5) OR (CAST(user_id AS VARCHAR) LIKE '1%')
                AS robots_allowed
            FROM events
        """,
        "doc_exact_dedup": """
            WITH f AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
                     row_number() OVER (
                       PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
                       ORDER BY doc_id ASC) AS rn
              FROM documents)
            SELECT doc_id, fingerprint FROM f WHERE rn = 1
        """,
        "doc_quality": f"""
            WITH q AS (
              SELECT doc_id,
                     length(text) AS nc,
                     len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_words,
                     len(regexp_extract_all(text, '{_TOKEN_PAT}')) AS n_tokens,
                     len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
                     len(regexp_extract_all(lower(text), '{_STOP_PAT}')) AS n_stop
              FROM documents),
            m AS (
              SELECT doc_id, n_words, n_tokens,
                     CASE WHEN n_words > 0 THEN CAST(nc AS DOUBLE) / n_words END AS mean_word_len,
                     CASE WHEN nc > 0 THEN CAST(n_punct AS DOUBLE) / nc ELSE 0.0 END AS punct_ratio,
                     CASE WHEN n_words > 0 THEN CAST(n_stop AS DOUBLE) / n_words ELSE 0.0 END AS stopword_ratio
              FROM q)
            SELECT doc_id, n_words, n_tokens, mean_word_len, punct_ratio, stopword_ratio,
                   CAST(CASE WHEN n_words BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END
                    + CASE WHEN mean_word_len BETWEEN 2 AND 12 THEN 0.2 ELSE 0.0 END
                    + CASE WHEN punct_ratio <= 0.2 THEN 0.2 ELSE 0.0 END
                    + CASE WHEN stopword_ratio >= 0.05 THEN 0.2 ELSE 0.0 END AS DOUBLE) AS quality_score
            FROM m
        """,
        "doc_language_id": """
            WITH s AS (
              SELECT doc_id,
                     {scores}
              FROM documents),
            b AS (SELECT *, greatest({names}) AS best FROM s)
            SELECT doc_id,
                   CASE {cases}
                        ELSE 'und' END AS lang_pred
            FROM b
        """.format(
            scores=",\n                     ".join(
                f"len(regexp_extract_all(lower(text), '{pat}')) AS s_{lang}"
                for lang, pat in _LANG_MARKERS_SQL
            ),
            names=", ".join(f"s_{lang}" for lang, _ in _LANG_MARKERS_SQL),
            cases=" ".join(
                f"WHEN best > 0 AND s_{lang} = best THEN '{lang}'"
                for lang, _ in _LANG_MARKERS_SQL
            ),
        ),
        "doc_jaccard_pairs": f"""
            WITH {_WORDS_CTE},
            {_SHINGLES_CTE},
            {_minhash_cte()},
            cand AS (
              SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
              FROM bk a JOIN bk b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
            sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
            pairs AS (
              SELECT c.a_id, c.b_id, count(*) AS common
              FROM cand c
              JOIN shd a ON a.doc_id = c.a_id
              JOIN shd b ON b.doc_id = c.b_id AND b.s = a.s
              GROUP BY 1, 2)
            SELECT a_id, b_id,
                   CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
            FROM pairs p
            JOIN sizes sa ON sa.doc_id = p.a_id
            JOIN sizes sb ON sb.doc_id = p.b_id
            WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.5
        """,
        "doc_minhash_lsh": f"""
            WITH {_WORDS_CTE},
            {_SHINGLES_CTE},
            {_minhash_cte()}
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bk a JOIN bk b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        """,
        "doc_dedup_clusters": f"""
            WITH RECURSIVE {_WORDS_CTE},
            {_SHINGLES_CTE},
            {_minhash_cte()},
            cand AS (
              SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
              FROM bk a JOIN bk b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
            edges AS (
              SELECT a_id AS u, b_id AS v FROM cand
              UNION ALL
              SELECT b_id, a_id FROM cand),
            reach(u, lbl) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v)
            SELECT u AS doc_id,
                   MIN(lbl) AS cluster_id,
                   (u = MIN(lbl)) AS keep
            FROM reach GROUP BY u
        """,
        "doc_incremental_dedup": """
            WITH f AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
                     row_number() OVER (
                       PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
                       ORDER BY doc_id ASC) AS rn
              FROM documents)
            SELECT doc_id, fingerprint FROM f WHERE rn = 1
        """,
        "doc_curate": """
            WITH RECURSIVE {words},
            {shingles},
            {minhash},
            cand AS (
              SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
              FROM bk a JOIN bk b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
            edges AS (
              SELECT a_id AS u, b_id AS v FROM cand
              UNION ALL
              SELECT b_id, a_id FROM cand),
            reach(u, lbl) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v),
            clusters AS (
              SELECT u AS doc_id, MIN(lbl) AS cluster_id, (u = MIN(lbl)) AS keep
              FROM reach GROUP BY u),
            q AS (
              SELECT doc_id,
                     length(text) AS nc,
                     len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_words,
                     len(regexp_extract_all(text, '{token_pat}')) AS n_tokens,
                     len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
                     len(regexp_extract_all(lower(text), '{stop_pat}')) AS n_stop
              FROM documents),
            m AS (
              SELECT doc_id, n_words, n_tokens,
                     CASE WHEN n_words > 0 THEN CAST(nc AS DOUBLE) / n_words END AS mean_word_len,
                     CASE WHEN nc > 0 THEN CAST(n_punct AS DOUBLE) / nc ELSE 0.0 END AS punct_ratio,
                     CASE WHEN n_words > 0 THEN CAST(n_stop AS DOUBLE) / n_words ELSE 0.0 END AS stopword_ratio
              FROM q),
            qual AS (
              SELECT doc_id, n_tokens,
                     CAST(CASE WHEN n_words BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END
                      + CASE WHEN mean_word_len BETWEEN 2 AND 12 THEN 0.2 ELSE 0.0 END
                      + CASE WHEN punct_ratio <= 0.2 THEN 0.2 ELSE 0.0 END
                      + CASE WHEN stopword_ratio >= 0.05 THEN 0.2 ELSE 0.0 END AS DOUBLE) AS quality_score
              FROM m),
            ls AS (
              SELECT doc_id,
                     {lang_scores}
              FROM documents),
            lb AS (SELECT *, greatest({lang_names}) AS best FROM ls),
            lp AS (
              SELECT doc_id,
                     CASE {lang_cases}
                          ELSE 'und' END AS lang_pred
              FROM lb)
            SELECT c.doc_id, lang_pred, n_tokens, quality_score, cluster_id,
                   (keep AND quality_score >= 0.75) AS retained
            FROM clusters c
            JOIN qual USING (doc_id)
            JOIN lp USING (doc_id)
        """.format(
            words=_WORDS_CTE,
            shingles=_SHINGLES_CTE,
            minhash=_minhash_cte(),
            token_pat=_TOKEN_PAT,
            stop_pat=_STOP_PAT,
            lang_scores=",\n                     ".join(
                f"len(regexp_extract_all(lower(text), '{pat}')) AS s_{lang}"
                for lang, pat in _LANG_MARKERS_SQL
            ),
            lang_names=", ".join(f"s_{lang}" for lang, _ in _LANG_MARKERS_SQL),
            lang_cases=" ".join(
                f"WHEN best > 0 AND s_{lang} = best THEN '{lang}'"
                for lang, _ in _LANG_MARKERS_SQL
            ),
        ),
        "doc_winnow_fingerprint": f"""
            WITH {_WORDS_CTE},
            kg AS (
              SELECT doc_id,
                     [md5(array_to_string(ws[i:i+3], ' '))
                      FOR i IN range(1, greatest(len(ws) - 3, 0) + 1)] AS hs
              FROM w
            ),
            sel AS (
              SELECT doc_id,
                     list_sort(list_distinct(
                       [list_min(hs[j:j+4])
                        FOR j IN range(1, greatest(len(hs) - 4, least(len(hs), 1)) + 1)]
                     )) AS fps
              FROM kg
            )
            SELECT doc_id, unnest(fps) AS fp FROM sel
        """,
        "doc_winnow_pairs": """
            WITH {words},
            kg AS (
              SELECT doc_id,
                     [md5(array_to_string(ws[i:i+3], ' '))
                      FOR i IN range(1, greatest(len(ws) - 3, 0) + 1)] AS hs
              FROM w
            ),
            sel AS (
              SELECT doc_id,
                     list_distinct(
                       [list_min(hs[j:j+4])
                        FOR j IN range(1, greatest(len(hs) - 4, least(len(hs), 1)) + 1)]
                     ) AS fps
              FROM kg
            ),
            fpx AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
            keep AS (SELECT fp FROM fpx GROUP BY fp HAVING count(*) <= 50),
            f2 AS (SELECT fpx.doc_id, fpx.fp FROM fpx JOIN keep USING (fp))
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
            FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2
        """.format(words=_WORDS_CTE),
        "doc_bpe_merges": _bpe_merges_oracle(),
        "doc_bpe_tokens": _bpe_tokens_oracle(),
        # The image fixture's measured distance structure (in-class ≤ 6,
        # cross-class ≥ 24; see _ppm_fixture_udf) reduces pHash-banded
        # admission to class arithmetic: batch a admits min(doc_id) per
        # class, batch b's repeated classes are rejected whole and only
        # its three exclusive classes (12-14) admit.
        "img_phash_dedup": """
            WITH bound AS (SELECT (MAX(doc_id) + 1) // 2 AS h FROM documents),
            p AS (
              SELECT doc_id,
                     CASE WHEN doc_id >= h AND doc_id % 5 = 0
                          THEN 12 + doc_id % 3
                          ELSE doc_id % 12 END AS cls,
                     CASE WHEN doc_id < h THEN 'a' ELSE 'b' END AS batch
              FROM documents, bound
            )
            SELECT MIN(doc_id) AS doc_id, 'a' AS batch
            FROM p WHERE batch = 'a' GROUP BY cls
            UNION ALL
            SELECT MIN(doc_id) AS doc_id, 'b' AS batch
            FROM p WHERE batch = 'b' AND cls >= 12 GROUP BY cls
        """,
        "audio_fp_dedup": """
            WITH bound AS (SELECT (MAX(doc_id) + 1) // 2 AS h FROM documents),
            p AS (
              SELECT doc_id,
                     CASE WHEN doc_id >= h AND doc_id % 5 = 0
                          THEN 12 + doc_id % 3
                          ELSE doc_id % 12 END AS cls,
                     CASE WHEN doc_id < h THEN 'a' ELSE 'b' END AS batch
              FROM documents, bound
              WHERE doc_id % 7 = 0
            )
            SELECT MIN(doc_id) AS doc_id, 'a' AS batch
            FROM p WHERE batch = 'a' GROUP BY cls
            UNION ALL
            SELECT MIN(doc_id) AS doc_id, 'b' AS batch
            FROM p WHERE batch = 'b' AND cls >= 12 GROUP BY cls
        """,
        "video_frame_dedup": """
            WITH bound AS (SELECT (MAX(doc_id) + 1) // 2 AS h FROM documents),
            p AS (
              SELECT doc_id,
                     CASE WHEN doc_id >= h AND doc_id % 5 = 0
                          THEN 12 + doc_id % 3
                          ELSE doc_id % 12 END AS cls,
                     CASE WHEN doc_id < h THEN 'a' ELSE 'b' END AS batch
              FROM documents, bound
              WHERE doc_id % 7 = 0
            )
            SELECT MIN(doc_id) AS doc_id, 'a' AS batch
            FROM p WHERE batch = 'a' GROUP BY cls
            UNION ALL
            SELECT MIN(doc_id) AS doc_id, 'b' AS batch
            FROM p WHERE batch = 'b' AND cls >= 12 GROUP BY cls
        """,
        "audio_mel_features": (
            "WITH expected(cls, mel_idx, mel_q) AS (VALUES "
            + ", ".join(
                f"({c}, {i}, {q})"
                for c, qs in _AUDIO_MEL_EXPECTED.items()
                for i, q in enumerate(qs)
            )
            + """)
            SELECT d.doc_id, e.mel_idx, e.mel_q
            FROM documents d JOIN expected e ON e.cls = d.doc_id % 6
            WHERE d.doc_id % 97 <> 0
        """
        ),
        "doc_vocab_topk": """
            WITH {words},
            wx AS (SELECT doc_id, unnest(ws) AS word FROM w),
            agg AS (SELECT word,
                           count(*) AS n_occurrences,
                           count(DISTINCT doc_id) AS n_docs
                    FROM wx GROUP BY word)
            SELECT word, n_occurrences, n_docs,
                   row_number() OVER (ORDER BY n_occurrences DESC, word ASC) AS rank
            FROM agg QUALIFY rank <= 200
        """.format(words=_WORDS_CTE),
        "doc_repetition": f"""
            WITH {_WORDS_CTE},
            g AS (
              SELECT doc_id, 1 AS n, unnest(ws) AS g FROM w
              UNION ALL
              SELECT doc_id, 2 AS n,
                     unnest([ws[i] || ' ' || ws[i+1]
                             FOR i IN range(1, greatest(len(ws), 1))]) AS g
              FROM w
              UNION ALL
              SELECT doc_id, 3 AS n,
                     unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                             FOR i IN range(1, greatest(len(ws) - 1, 1))]) AS g
              FROM w),
            c AS (SELECT doc_id, n, g, count(*) AS c FROM g GROUP BY doc_id, n, g),
            p AS (SELECT doc_id, n, max(c) AS top, sum(c) AS tot, count(*) AS nd
                  FROM c GROUP BY doc_id, n),
            s AS (
              SELECT doc_id,
                     max(CASE WHEN n = 1 THEN CAST(top AS DOUBLE) / CAST(tot AS DOUBLE) END) AS top_word_frac,
                     max(CASE WHEN n = 2 THEN CAST(top AS DOUBLE) / CAST(tot AS DOUBLE) END) AS top_bigram_frac,
                     max(CASE WHEN n = 3 THEN 1.0 - CAST(nd AS DOUBLE) / CAST(tot AS DOUBLE) END) AS dup_trigram_frac
              FROM p GROUP BY doc_id)
            SELECT d.doc_id, top_word_frac, top_bigram_frac, dup_trigram_frac,
                   (coalesce(top_word_frac > 0.20, false)
                    OR coalesce(top_bigram_frac > 0.18, false)
                    OR coalesce(dup_trigram_frac > 0.30, false)) AS repetitive
            FROM documents d LEFT JOIN s USING (doc_id)
        """,
        "doc_pii_scrub": """
            WITH inj AS (
              SELECT doc_id,
                     text || ' reach user' || CAST(doc_id AS VARCHAR)
                          || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
                          || ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.1'
                          || ' tel +1-555-' || lpad(CAST(doc_id % 9999 AS VARCHAR), 4, '0') AS t
              FROM documents),
            s1 AS (SELECT doc_id,
                          len(regexp_extract_all(t, '@EMAIL@')) AS n_emails,
                          regexp_replace(t, '@EMAIL@', '<EMAIL>', 'g') AS t
                   FROM inj),
            s2 AS (SELECT doc_id, n_emails,
                          len(regexp_extract_all(t, '@IP@')) AS n_ips,
                          regexp_replace(t, '@IP@', '<IP>', 'g') AS t
                   FROM s1),
            s3 AS (SELECT doc_id, n_emails, n_ips,
                          len(regexp_extract_all(t, '@PHONE@')) AS n_phones,
                          regexp_replace(t, '@PHONE@', '<PHONE>', 'g') AS t
                   FROM s2)
            SELECT doc_id, n_emails, n_ips, n_phones, t AS scrubbed FROM s3
        """.replace("@EMAIL@", _EMAIL_PAT).replace("@IP@", _IPV4_PAT).replace("@PHONE@", _PHONE_PAT),
        "doc_simhash": _simhash_sql(),
        "doc_simhash_pairs": f"""
            WITH sim AS ({_simhash_sql()}),
            bands AS (
              SELECT doc_id, simhash, 0 AS band, (simhash // 1) % 256 AS key FROM sim
              UNION ALL
              SELECT doc_id, simhash, 1, (simhash // 256) % 256 FROM sim
              UNION ALL
              SELECT doc_id, simhash, 2, (simhash // 65536) % 256 FROM sim
              UNION ALL
              SELECT doc_id, simhash, 3, (simhash // 16777216) % 256 FROM sim)
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        "emb_cosine_topk": f"""
            WITH {_EMB_BASE_CTE},
            dots AS (
              SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                     SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dp
              FROM e a JOIN e b ON a.i = b.i AND a.vec_id < 5 AND b.vec_id <> a.vec_id
              GROUP BY 1, 2),
            scored AS (
              SELECT q_id, n_id, dp / (nq.nr * nn.nr) AS cos
              FROM dots JOIN norms nq ON nq.vec_id = dots.q_id
                        JOIN norms nn ON nn.vec_id = dots.n_id),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS "rank"
                  FROM scored)
            SELECT q_id, n_id, "rank", cos FROM r WHERE "rank" <= 10
        """,
        # PQ: encode (argmin over per-subspace L2) + ADC scoring recomputed
        # from unnested elements; codes are c_id labels here because the
        # deterministic codebook's c_ids are dense 0..15 (engine uses dense
        # positions, identical in that case)
        "emb_pq_topk": """
            WITH es AS (
              SELECT vec_id, CAST((i-1) // 8 AS INT) AS sub,
                     CAST((i-1) % 8 AS INT) AS j, CAST(v AS DOUBLE) AS v
              FROM (SELECT vec_id, unnest(embedding) AS v,
                           generate_subscripts(embedding, 1) AS i
                    FROM embeddings)
            ),
            cb AS (SELECT vec_id AS c_id, sub, j, v FROM es WHERE vec_id < 16),
            enc_d AS (
              SELECT a.vec_id, a.sub, b.c_id,
                     SUM((a.v - b.v) * (a.v - b.v)) AS d2
              FROM es a JOIN cb b ON a.sub = b.sub AND a.j = b.j
              GROUP BY 1, 2, 3
            ),
            codes AS (
              SELECT vec_id, sub, c_id AS code FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY vec_id, sub ORDER BY d2 ASC, c_id ASC) AS rn
                FROM enc_d) WHERE rn = 1
            ),
            dt AS (SELECT vec_id AS q_id, sub, c_id, d2 FROM enc_d WHERE vec_id < 5),
            sc AS (
              SELECT dt.q_id, c.vec_id AS n_id, SUM(dt.d2) AS adist
              FROM codes c JOIN dt ON dt.sub = c.sub AND dt.c_id = c.code
              WHERE dt.q_id <> c.vec_id
              GROUP BY 1, 2
            ),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS "rank"
                  FROM sc)
            SELECT q_id, n_id, "rank", round(adist, 8) AS adist
            FROM r WHERE "rank" <= 10
        """,
        "emb_near_dups": f"""
            WITH {_EMB_BASE_CTE},
            dc AS (
              SELECT a.vec_id, b.vec_id AS c_id,
                     SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dp
              FROM e a JOIN e b ON a.i = b.i AND b.vec_id < 16
              GROUP BY 1, 2),
            dcs AS (
              SELECT dc.vec_id AS vec_id, dc.c_id AS c_id, dp / (nv.nr * nc.nr) AS cos
              FROM dc JOIN norms nv ON nv.vec_id = dc.vec_id
                      JOIN norms nc ON nc.vec_id = dc.c_id),
            assign AS (
              SELECT vec_id, c_id AS cell FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY vec_id ORDER BY cos DESC, c_id ASC) AS rn
                FROM dcs) WHERE rn = 1),
            dots AS (
              SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                     SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dp
              FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
              GROUP BY 1, 2)
            SELECT d.a_id, d.b_id, dp / (na.nr * nb.nr) AS cos
            FROM dots d
            JOIN assign ca ON ca.vec_id = d.a_id
            JOIN assign cb ON cb.vec_id = d.b_id AND cb.cell = ca.cell
            JOIN norms na ON na.vec_id = d.a_id
            JOIN norms nb ON nb.vec_id = d.b_id
            WHERE dp / (na.nr * nb.nr) >= 0.4
        """,
        "emb_srp_near_dups": """
            WITH sig AS (
              SELECT vec_id, embedding,
                     SUM(CASE WHEN list_dot_product(
                           embedding::DOUBLE[],
                           list_transform(range(64), j ->
                             CASE WHEN strpos('01234567',
                                    md5('srp:' || i || ':' || j)[1]) > 0
                                  THEN 1.0 ELSE -1.0 END)) > 0
                          THEN 1::BIGINT << i ELSE 0 END) AS sig
              FROM embeddings CROSS JOIN (SELECT unnest(range(60)) AS i) h
              GROUP BY vec_id, embedding),
            bk AS (
              SELECT vec_id, embedding, band,
                     (sig >> (band * 10)) & 1023 AS key
              FROM sig CROSS JOIN (SELECT unnest(range(6)) AS band) b),
            cand AS (
              SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
              FROM bk a JOIN bk b
                ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
            scored AS (
              SELECT c.a_id, c.b_id,
                     list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))) AS cos
              FROM cand c
              JOIN embeddings ea ON ea.vec_id = c.a_id
              JOIN embeddings eb ON eb.vec_id = c.b_id)
            SELECT a_id, b_id, cos FROM scored WHERE cos >= 0.4
        """,
        "emb_ivf_topk": f"""
            WITH {_EMB_BASE_CTE},
            dc AS (
              SELECT a.vec_id, b.vec_id AS c_id,
                     SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dp
              FROM e a JOIN e b ON a.i = b.i AND b.vec_id < 16
              GROUP BY 1, 2),
            dcs AS (
              SELECT dc.vec_id AS vec_id, dc.c_id AS c_id, dp / (nv.nr * nc.nr) AS cos
              FROM dc JOIN norms nv ON nv.vec_id = dc.vec_id
                      JOIN norms nc ON nc.vec_id = dc.c_id),
            assign AS (
              SELECT vec_id AS n_id, c_id AS cell FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY vec_id ORDER BY cos DESC, c_id ASC) AS rn
                FROM dcs) WHERE rn = 1),
            qcells AS (
              SELECT vec_id AS q_id, c_id AS cell FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY vec_id ORDER BY cos DESC, c_id ASC) AS rn
                FROM dcs WHERE vec_id < 5) WHERE rn <= 4),
            cand AS (
              SELECT DISTINCT q_id, n_id
              FROM qcells JOIN assign USING (cell)
              WHERE q_id <> n_id),
            dots AS (
              SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                     SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dp
              FROM e a JOIN e b ON a.i = b.i AND a.vec_id < 5 AND b.vec_id <> a.vec_id
              GROUP BY 1, 2),
            scored AS (
              SELECT c.q_id, c.n_id, dp / (nq.nr * nn.nr) AS cos
              FROM cand c JOIN dots d ON d.q_id = c.q_id AND d.n_id = c.n_id
                          JOIN norms nq ON nq.vec_id = c.q_id
                          JOIN norms nn ON nn.vec_id = c.n_id),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS "rank"
                  FROM scored)
            SELECT q_id, n_id, "rank", cos FROM r WHERE "rank" <= 10
        """,
        "emb_kmeans_cells": _kmeans_oracle_sql(),
        "doc_chunk_dedup": """
            WITH sp AS (
              SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            tok AS (
              SELECT doc_id,
                     unnest(ws) AS w,
                     generate_subscripts(ws, 1) AS pos
              FROM sp),
            fl AS (
              SELECT doc_id, pos, w,
                     CASE WHEN substr(md5(w), 1, 1) = '0' THEN 1 ELSE 0 END AS flag
              FROM tok),
            ch AS (
              SELECT doc_id, pos, w,
                     sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
              FROM fl),
            agg AS (
              SELECT doc_id, chunk_id,
                     md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash
              FROM ch GROUP BY doc_id, chunk_id),
            cnt AS (
              SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs
              FROM agg GROUP BY chunk_hash)
            SELECT a.doc_id,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(coalesce(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS n_dup_chunks
            FROM agg a JOIN cnt c USING (chunk_hash)
            GROUP BY a.doc_id
        """,
        "doc_chunk_trim": """
            WITH sp AS (
              SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            tok AS (
              SELECT doc_id,
                     unnest(ws) AS w,
                     generate_subscripts(ws, 1) AS pos
              FROM sp),
            fl AS (
              SELECT doc_id, pos, w,
                     CASE WHEN substr(md5(w), 1, 1) = '0' THEN 1 ELSE 0 END AS flag
              FROM tok),
            ch AS (
              SELECT doc_id, pos, w,
                     sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
              FROM fl),
            agg AS (
              SELECT doc_id, chunk_id,
                     string_agg(w, ' ' ORDER BY pos) AS chunk_text
              FROM ch GROUP BY doc_id, chunk_id),
            ranked AS (
              SELECT *, row_number() OVER (
                       PARTITION BY chunk_text ORDER BY doc_id, chunk_id) AS rn
              FROM agg)
            SELECT doc_id,
                   coalesce(string_agg(chunk_text, ' ' ORDER BY chunk_id)
                            FILTER (WHERE rn = 1), '') AS dedup_text,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept
            FROM ranked GROUP BY doc_id
        """,
        "doc_segment_dedup": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            segs AS (
              SELECT doc_id,
                     unnest(range(0, (len(ws) + 9) // 10)) AS seg_idx,
                     unnest([array_to_string(ws[i*10+1 : i*10+10], ' ')
                             FOR i IN range(0, (len(ws) + 9) // 10)]) AS seg
              FROM w),
            ranked AS (
              SELECT *, row_number() OVER (
                       PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
              FROM segs)
            SELECT doc_id,
                   coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
                            FILTER (WHERE rn = 1), '') AS dedup_text,
                   CAST(count(*) AS BIGINT) AS n_segments,
                   CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept
            FROM ranked GROUP BY doc_id
        """,
        "doc_tfidf_topk": """
            WITH t AS (SELECT doc_id,
                              unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
                       FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
            dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            s AS (SELECT doc_id, term,
                         CAST(tf AS DOUBLE)
                           * CAST((SELECT count(DISTINCT doc_id) FROM documents) AS DOUBLE)
                           / CAST(df AS DOUBLE) AS tfidf
                  FROM tf JOIN dfr USING (term)),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
                  FROM s)
            SELECT doc_id, term, tfidf, CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 5
        """,
        "doc_lm_surprisal": """
            WITH t AS (SELECT doc_id,
                              unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
                       FROM documents),
            tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                   FROM t GROUP BY doc_id, term),
            c AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY term),
            n AS (SELECT CAST(length(bin(CAST(sum(c) AS BIGINT))) AS BIGINT) AS bits_n
                  FROM c),
            s AS (SELECT doc_id,
                         CAST(sum(tf) AS BIGINT) AS n_tokens,
                         CAST(sum(tf * (bits_n - length(bin(c)))) AS BIGINT)
                           AS surprisal_bits
                  FROM tf JOIN c USING (term) CROSS JOIN n
                  GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(s.n_tokens, 0) AS n_tokens,
                   coalesce(s.surprisal_bits, 0) AS surprisal_bits,
                   CASE WHEN s.n_tokens > 0
                        THEN CAST(s.surprisal_bits AS DOUBLE)
                               / CAST(s.n_tokens AS DOUBLE)
                   END AS bits_per_token
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN s USING (doc_id)
        """,
        "doc_sample_mix": """
            SELECT doc_id, lang FROM documents
            WHERE substr(md5('mix-v1' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < CASE lang WHEN 'en' THEN '40000000'
                              WHEN 'de' THEN 'g'
                              WHEN 'fr' THEN 'g'
                              WHEN 'es' THEN '80000000'
                              WHEN 'zh' THEN '80000000'
                              ELSE '00000000' END
        """,
        "doc_boilerplate_strip": """
            WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
                       FROM documents),
            segs AS (
              SELECT doc_id, source,
                     unnest(range(0, len(ws))) AS seg_idx,
                     unnest(ws) AS seg
              FROM w),
            gs AS (SELECT source, count(DISTINCT doc_id) AS n_docs
                   FROM documents GROUP BY source),
            dfc AS (SELECT source, seg, count(DISTINCT doc_id) AS n
                    FROM segs GROUP BY source, seg),
            boiler AS (SELECT dfc.source, seg
                       FROM dfc JOIN gs USING (source)
                       WHERE n > 0.5 * n_docs),
            marked AS (
              SELECT s.doc_id, s.seg_idx, s.seg, b.seg IS NULL AS kept
              FROM segs s LEFT JOIN boiler b
                ON s.source = b.source AND s.seg = b.seg)
            SELECT doc_id,
                   coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
                            FILTER (WHERE kept), '') AS clean_text,
                   CAST(count(*) AS BIGINT) AS n_segments,
                   CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept
            FROM marked GROUP BY doc_id
        """,
        "doc_decontaminate": """
            WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            ng AS (
              SELECT doc_id,
                     unnest([array_to_string(ws[i : i+4], ' ')
                             FOR i IN range(1, greatest(len(ws) - 3, 1))]) AS ng
              FROM d),
            evn AS (SELECT DISTINCT ng FROM ng WHERE doc_id % 97 = 0),
            trn AS (SELECT DISTINCT doc_id, ng FROM ng WHERE doc_id % 97 <> 0),
            hits AS (SELECT doc_id, count(*) AS n
                     FROM trn JOIN evn USING (ng) GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(h.n, 0) AS BIGINT) AS n_eval_ngram_hits,
                   coalesce(h.n, 0) > 0 AS contaminated
            FROM d LEFT JOIN hits h USING (doc_id)
            WHERE d.doc_id % 97 <> 0
        """,
        "doc_train_split": """
            SELECT doc_id,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                          THEN 'train'
                        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                          THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "doc_pack_sequences": f"""
            WITH t AS (
              SELECT doc_id,
                     ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 16 AS shard,
                     CAST(len(regexp_extract_all(text, '{_TOKEN_PAT}')) AS BIGINT)
                       AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, shard, n_tokens,
                     COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
              FROM t)
            SELECT doc_id, shard, n_tokens,
                   CAST(cum // 2048 AS BIGINT) AS seq_id,
                   CAST(cum % 2048 AS BIGINT) AS "offset"
            FROM c
        """,
        "doc_quota_by_lang": """
            WITH r AS (
              SELECT doc_id, lang, n_chars,
                     row_number() OVER (
                       PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rank
              FROM documents)
            SELECT doc_id, lang, n_chars, CAST(rank AS BIGINT) AS rank
            FROM r WHERE rank <= 50
        """,
        "doc_mix_plan": f"""
            WITH t AS (
              SELECT lang, count(*) AS n_docs,
                     CAST(sum(len(regexp_extract_all(text, '{_TOKEN_PAT}'))) AS BIGINT)
                       AS tokens_have
              FROM documents GROUP BY lang),
            tgt AS (
              SELECT lang, CAST(target_frac AS DOUBLE) AS target_frac FROM (VALUES
                ('en', 0.4), ('de', 0.2), ('fr', 0.2), ('es', 0.1), ('it', 0.1)
              ) AS v(lang, target_frac))
            SELECT t.lang, CAST(t.n_docs AS BIGINT) AS n_docs, t.tokens_have,
                   round(tgt.target_frac, 8) AS target_frac,
                   round(50000.0 * tgt.target_frac, 8) AS tokens_target,
                   round(50000.0 * tgt.target_frac / t.tokens_have, 8) AS rate,
                   CAST(ceil(50000.0 * tgt.target_frac / t.tokens_have) AS BIGINT) AS epochs
            FROM t JOIN tgt ON t.lang = tgt.lang
        """,
        "doc_corpus_stats": """
            WITH s AS (SELECT n_chars,
                              cume_dist() OVER (ORDER BY n_chars) AS cd
                       FROM documents)
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
                   (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents) AS total_chars,
                   CAST(min(n_chars) FILTER (WHERE cd >= 0.5)  AS BIGINT) AS p50_chars,
                   CAST(min(n_chars) FILTER (WHERE cd >= 0.9)  AS BIGINT) AS p90_chars,
                   CAST(min(n_chars) FILTER (WHERE cd >= 0.99) AS BIGINT) AS p99_chars
            FROM s
        """,
        "web_pagerank": _pagerank_oracle_sql(),
        "web_hits": _hits_oracle_sql(),
        # closed-form link rule — never runs the anchor regex, so the
        # engine's extraction+normalization path is independently checked
        "web_anchor_text": f"""
            WITH ch AS ({_CH}),
            urls AS (SELECT DISTINCT url,
                            CAST(regexp_extract(url, 'p/(\\d+)$', 1) AS BIGINT) AS u
                     FROM ch),
            a AS (
              SELECT url AS src,
                     'https://site-' || CAST(u % 10 AS VARCHAR)
                       || '.example.com/p/' || CAST(u + 10 AS VARCHAR) AS dst,
                     'more doc ' || CAST(u + 10 AS VARCHAR) AS anchor
              FROM urls
              UNION ALL
              SELECT url,
                     'https://site-' || CAST(u % 10 AS VARCHAR)
                       || '.example.com/p/' || CAST(u % 10 AS VARCHAR),
                     'site ' || CAST(u % 10 AS VARCHAR) || ' home'
              FROM urls
            ),
            pa AS (SELECT dst, anchor, count(*) AS n FROM a GROUP BY dst, anchor),
            top AS (SELECT dst, anchor, n, row_number() OVER (
                      PARTITION BY dst ORDER BY n DESC, anchor ASC) AS rn FROM pa),
            tot AS (SELECT dst, CAST(count(*) AS BIGINT) AS n_links,
                           CAST(count(DISTINCT src) AS BIGINT) AS n_srcs
                    FROM a GROUP BY dst)
            SELECT t.dst, t.n_links, t.n_srcs,
                   p.anchor AS top_anchor, CAST(p.n AS BIGINT) AS top_anchor_n
            FROM tot t JOIN top p ON t.dst = p.dst AND p.rn = 1
        """,
        "cdc_url_domains": f"""
            WITH ch AS ({_CH}),
            per_url AS (
              SELECT lower(regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS domain,
                     url,
                     count(*) AS n_events_url,
                     sum(CASE WHEN _ab_cdc_deleted_at IS NOT NULL
                              THEN 1 ELSE 0 END) AS n_deletes_url,
                     max(warc_ts) AS max_ts_url
              FROM ch GROUP BY 1, 2)
            SELECT domain,
                   CAST(sum(n_events_url) AS BIGINT) AS n_events,
                   CAST(count(*) AS BIGINT) AS n_pages,
                   CAST(sum(n_deletes_url) AS BIGINT) AS n_deletes,
                   max(max_ts_url) AS max_warc_ts
            FROM per_url GROUP BY domain
        """,
        # expected canonical form derived INDEPENDENTLY from the generating
        # columns (never runs the engine's regex chain)
        "cdc_url_canonical": """
            WITH b AS (
              SELECT event_id, user_id,
                     'https://site-' || CAST(user_id % 10 AS VARCHAR)
                       || '.example.com/p/' || CAST(user_id AS VARCHAR) AS base
              FROM events)
            SELECT event_id,
                   CASE CAST(event_id % 5 AS INT)
                     WHEN 0 THEN 'HTTPS://SITE-' || CAST(user_id % 10 AS VARCHAR)
                                   || '.EXAMPLE.COM:443/p/'
                                   || CAST(user_id AS VARCHAR)
                     WHEN 1 THEN base || '/?utm_source=feed'
                     WHEN 2 THEN base || '?a=1&utm_campaign=y&b=2'
                     WHEN 3 THEN base || '#sec-' || CAST(event_id AS VARCHAR)
                     ELSE base || '?fbclid=' || CAST(event_id AS VARCHAR)
                                || '&page=2'
                   END AS url,
                   CASE CAST(event_id % 5 AS INT)
                     WHEN 2 THEN base || '?a=1&b=2'
                     WHEN 4 THEN base || '?page=2'
                     ELSE base
                   END AS canon_url
            FROM b
        """,
        "doc_bm25_topk": _bm25_oracle(),
        "web_recrawl_schedule": _recrawl_oracle(),
        "web_fetch_budget": _fetch_budget_oracle(),
        "sync_constraint_gate": """
            SELECT event_id, value FROM events WHERE event_id % 5 <> 0
        """,
        "sync_delete_positions": """
            SELECT event_id, value FROM events WHERE event_type <> 'error'
        """,
        "sync_sql_over_lake": """
            WITH ch AS ({CH}),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY url
                    ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                  FROM ch),
            fs AS (SELECT * FROM r
                   WHERE rn = 1 AND _ab_cdc_deleted_at IS NULL)
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_pages,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars,
                   CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
                   CAST(max(_ab_cdc_lsn) AS BIGINT) AS max_lsn
            FROM fs GROUP BY lang
        """.replace("{CH}", _CH),
        "doc_passages": """
            WITH w AS (SELECT doc_id,
                              list_filter(string_split_regex(text, '\\s+'),
                                          x -> x <> '') AS ws
                       FROM documents),
            n AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
            k AS (SELECT doc_id, ws,
                         unnest(range(0, CAST((n + 23) // 24 AS BIGINT)))
                           AS passage_idx
                  FROM n)
            SELECT doc_id,
                   CAST(passage_idx AS BIGINT) AS passage_idx,
                   array_to_string(
                     ws[passage_idx * 24 + 1 : passage_idx * 24 + 32],
                     ' ') AS passage,
                   CAST(len(ws[passage_idx * 24 + 1 : passage_idx * 24 + 32])
                        AS INT) AS n_tokens
            FROM k
        """,
        # verdicts + features derived from the fixture branch number —
        # the url heuristics are never re-run in the oracle
        "cdc_url_quality": """
            WITH b AS (
              SELECT event_id,
                     'https://site-' || CAST(user_id % 10 AS VARCHAR)
                       || '.example.com/p/' || CAST(user_id AS VARCHAR) AS base,
                     CAST(event_id % 6 AS INT) AS v
              FROM events)
            SELECT event_id,
                   CASE v
                     WHEN 0 THEN base
                     WHEN 1 THEN base || '/casino-bonus'
                     WHEN 2 THEN base || '/a/b/c/d/e/f'
                     WHEN 3 THEN base || '?q=' || repeat('a', 80)
                     WHEN 4 THEN base || '000000000000'
                     ELSE base || '?page=2'
                   END AS url,
                   CASE v
                     WHEN 1 THEN 'blocked_word'
                     WHEN 2 THEN 'too_deep'
                     WHEN 3 THEN 'long_query'
                     WHEN 4 THEN 'numeric_slug'
                     ELSE 'ok'
                   END AS verdict,
                   CAST(CASE v WHEN 1 THEN 3 WHEN 2 THEN 8 ELSE 2 END AS INT) AS depth,
                   CAST(CASE v WHEN 3 THEN 82 WHEN 5 THEN 6 ELSE 0 END AS INT) AS query_len
            FROM b
        """,
        # closed-form frontier derivation from events — never runs the
        # engine's XML parse regexes (independent check of the parse path)
        "web_sitemap_frontier": """
            WITH ch AS ({CH}),
            fs AS (SELECT url, _ab_cdc_lsn AS stored FROM (
                     SELECT url, _ab_cdc_lsn, _ab_cdc_deleted_at,
                            row_number() OVER (PARTITION BY url
                              ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                     FROM ch)
                   WHERE rn = 1 AND _ab_cdc_deleted_at IS NULL),
            b AS (SELECT 'site-' || CAST(user_id % 10 AS VARCHAR)
                           || '.example.com' AS domain,
                         'https://site-' || CAST(user_id % 10 AS VARCHAR)
                           || '.example.com/p/' || CAST(user_id AS VARCHAR) AS url,
                         CAST(max(event_id) + CASE WHEN user_id % 7 = 0
                              THEN 1 ELSE 0 END AS BIGINT) AS sitemap_rev
                  FROM events GROUP BY user_id),
            ph AS (SELECT DISTINCT
                          'site-' || CAST(user_id % 10 AS VARCHAR)
                            || '.example.com' AS domain,
                          'https://site-' || CAST(user_id % 10 AS VARCHAR)
                            || '.example.com/p/new' AS url,
                          CAST(1 AS BIGINT) AS sitemap_rev
                   FROM events),
            e AS (SELECT * FROM b UNION ALL SELECT * FROM ph),
            j AS (SELECT e.domain, e.url, e.sitemap_rev, f.stored
                  FROM e LEFT JOIN fs f ON e.url = f.url)
            SELECT domain, url, sitemap_rev,
                   CAST(stored AS BIGINT) AS stored_lsn,
                   CASE WHEN stored IS NULL THEN 'new'
                        ELSE 'updated' END AS reason
            FROM j WHERE stored IS NULL OR sitemap_rev > stored
        """.replace("{CH}", _CH),
        # incremental index maintenance must equal a full rebuild over the
        # final replayed state (expected text from the closed-form stream)
        "cdc_postings_incremental": """
            WITH ch AS ({CH}),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY url
                    ORDER BY warc_ts DESC, _ab_cdc_lsn DESC) AS rn
                  FROM ch),
            fs AS (SELECT url, text FROM r
                   WHERE rn = 1 AND _ab_cdc_deleted_at IS NULL),
            t AS (SELECT url,
                         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
                  FROM fs)
            SELECT term, url, CAST(count(*) AS BIGINT) AS tf
            FROM t GROUP BY term, url
        """.replace("{CH}", _CH),
        # merged histogram quantiles over expected extracted-text lengths;
        # DuckDB sums promote to HUGEINT, so every count is pinned BIGINT
        "cdc_segment_quantiles": """
            WITH ch AS ({CH}),
            v AS (SELECT CAST(length(text) AS BIGINT) // 16 AS bucket FROM ch),
            m AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n
                  FROM v GROUP BY bucket),
            c AS (SELECT bucket, n,
                         CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS cum,
                         CAST(sum(n) OVER () AS BIGINT) AS total
                  FROM m),
            qs AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                                  CAST(0.99 AS DOUBLE)]) AS q),
            hit AS (SELECT q, min(bucket) AS bucket,
                           CAST(max(total) AS BIGINT) AS n_rows
                    FROM c JOIN qs
                      ON cum >= ceil(q * CAST(total AS DOUBLE))
                    GROUP BY q)
            SELECT q, CAST((bucket + 1) * 16 - 1 AS BIGINT) AS estimate, n_rows
            FROM hit ORDER BY q
        """.replace("{CH}", _CH),
    }


def _bm25_oracle() -> str:
    from airbyte_spark.operators.retrieval import bm25_oracle_sql

    return bm25_oracle_sql(_BM25_TERMS, k=20)


def _recrawl_oracle() -> str:
    from airbyte_spark.operators.crawl import recrawl_oracle_sql

    return recrawl_oracle_sql(_CH, top=100)


def _fetch_budget_oracle() -> str:
    from airbyte_spark.operators.crawl import (
        fetch_budget_oracle_sql,
        recrawl_oracle_sql,
    )

    return fetch_budget_oracle_sql(recrawl_oracle_sql(_CH, top=100), budget=40)
