"""CDC ingest pipeline: change stream → dedup → extract → MERGE, checkpointed.

This is the Spark restatement of the reference's whole replication worker
(SyncWorkflowImpl → DefaultReplicationWorker → BufferedStreamConsumer →
normalization, SURVEY §3.2): the source/mapper/destination thread-and-
process choreography collapses into one Structured Streaming query with a
foreachBatch sink, and the "state message committed after destination
flush" protocol becomes an idempotent lake commit keyed by checkpoint_id.

Delivery contract (≡ reference, SURVEY §2.9):
  - at-least-once upstream is fine: replayed batches are skipped via the
    committed-checkpoint set carried in the table manifest, and MERGE
    itself is idempotent (same batch → same final state);
  - bounded replay ("drain to target position then stop",
    DebeziumRecordIterator.java:102-125) ≡ trigger(availableNow=True);
  - resume-from-checkpoint: a new run simply skips committed batches.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from airbyte_spark.functions.extract import extract_text
from airbyte_spark.lake.table_format import (
    DEFAULT_FORMAT,
    PartitionSpec,
    TableFormat,
    TableFormatFactory,
)
from airbyte_spark.lake.merge import (
    BatchPlan,
    append_winners,
    merge_upsert,
    plan_batch,
    resolve_stored,
)
from airbyte_spark.protocol import StreamConfig
from airbyte_spark.schema import CHANGE_SCHEMA, PAGE_SCHEMA, TARGET_META_COLS


def _extract_winners(df: DataFrame) -> DataFrame:
    """Vectorized HTML→text for a slimmed batch: one row per (key, winning
    event), the only rows that reach the UDF (the merge applies this before
    its window, so carried-over rows keep their stored text). A Python UDF
    inside CASE WHEN still sees every input row, so tombstones and NULL
    pages keep their incoming text by the condition, not by skipping the
    UDF (byte-identical invariant: the rule is pinned in functions/extract.py
    and applied exactly once per winning version)."""
    fresh_live = F.col("html").isNotNull() & F.col("_ab_cdc_deleted_at").isNull()
    return df.withColumn(
        "text",
        F.when(fresh_live, extract_text(F.col("html"))).otherwise(F.col("text")),
    )


def default_target_schema():
    from pyspark.sql.types import LongType, StructField, StructType, TimestampNTZType

    return StructType(
        [
            *PAGE_SCHEMA.fields,
            StructField("_ab_cdc_lsn", LongType(), True),
            # soft-delete marker: tombstones persist (invisible to the
            # active view) until expire_tombstones() passes the watermark
            StructField("_ab_cdc_deleted_at", TimestampNTZType(), True),
        ]
    )


@dataclass
class BatchResult:
    checkpoint_key: str
    skipped: bool
    rows_in: int | None
    max_lsn: int | None
    seconds: float
    # files the merge read+rewrote (post bucket/range/Bloom pruning) —
    # the number to watch: steady-state small batches should touch few
    candidate_files: int | None = None


@dataclass
class CdcPipeline:
    table: TableFormat
    cfg: StreamConfig
    extract: bool = True
    # two-phase salted pre-dedup for pathological per-key event counts
    # (north-star url-hash salting); None = rely on the merge window alone
    salt_hot_keys: int | None = None
    # "cow": merge rewrites affected files (read-optimized, the default);
    # "mor": append per-batch winners only, resolve LWW at read time
    # (write-optimized — O(batch) commits; see merge.append_winners)
    write_mode: str = "cow"
    # opt-in steady-state maintenance: after a non-skipped commit, when the
    # table holds at least this many sub-target-size files, bin-pack them
    # (TableFormat.compact — a pure metadata+rewrite commit, state-neutral).
    # Keeps file counts bounded under per-checkpoint small-batch ingest
    # without a separate maintenance scheduler. None = never (default).
    auto_compact_files: int | None = None
    auto_compact_target_bytes: int = 128 * 1024 * 1024
    # opt-in metadata retention: once more than 2x this many snapshot heads
    # are retained, expire down to this many and vacuum with the same
    # window (tagged snapshots are exempt — format.py). A per-checkpoint
    # stream mints one snapshot per commit, so an unbounded chain is the
    # default failure mode of a long-running ingest; this keeps the
    # manifest dir O(keep) without a separate maintenance scheduler.
    # None = never (default).
    auto_expire_keep: int | None = None
    results: list[BatchResult] = field(default_factory=list)

    # ---- construction helpers ----

    @staticmethod
    def create_target(
        spark: SparkSession,
        path: str,
        n_buckets: int = 16,
        cfg: StreamConfig | None = None,
        write_mode: str = "cow",
        table_format: "TableFormatFactory | None" = None,
    ) -> "CdcPipeline":
        # the table-format seam: default is the from-scratch JSON-manifest
        # lake; a deployment passes its Iceberg adapter class here and the
        # pipeline/merge code paths are unchanged (docs/ICEBERG_MAPPING.md)
        fmt = table_format if table_format is not None else DEFAULT_FORMAT
        cfg = cfg or StreamConfig(name="pages", schema=default_target_schema())
        if fmt.exists(path):
            table = fmt.load(spark, path)
            # the table's recorded mode wins — a reader/writer must not
            # reinterpret an existing table's files under the other mode
            write_mode = table.properties().get("write.mode", "cow")
        else:
            props = (
                # key Bloom sidecars per data file: within a bucket, url
                # min/max ranges always overlap, so membership is the only
                # stat that can skip files on a small merge (lake/bloom.py).
                # MoR never prunes-to-rewrite, so it skips the sidecar cost.
                {"bloom.key": cfg.primary_key[0]}
                if write_mode != "mor"
                else {"write.mode": "mor"}
            )
            table = fmt.create(
                spark,
                path,
                default_target_schema(),
                # bucket-only layout: upserts touch any day, so day
                # partitioning would only multiply rewritten files; url-hash
                # buckets give merge pruning AND spread hot domains.
                PartitionSpec.bucket(cfg.primary_key[0], n_buckets),
                properties=props,
            )
        return CdcPipeline(table=table, cfg=cfg, write_mode=write_mode)

    # ---- core batch application ----

    def apply_batch(
        self,
        batch: DataFrame,
        checkpoint_key: "str | list[str]",
        plan: BatchPlan | None = None,
    ) -> BatchResult:
        """One fused merge pass (intra-batch dedup + LWW + tombstones live in
        the merge window; text extraction runs once per winning event, on
        the slimmed batch). `plan` is the batch's `plan_batch` pre-pass when
        the caller already has one (replay); otherwise the merge plans.
        Idempotent per checkpoint key; a list of keys commits several binlog
        segments in one merge while recording each segment id individually
        (so a later replay with a different grouping skips exactly what was
        applied — no re-apply under a new group label, no double-counted
        metrics, and no tombstone resurrection after expire+regroup)."""
        t0 = time.time()
        keys = [checkpoint_key] if isinstance(checkpoint_key, str) else list(checkpoint_key)
        label = keys[0] if len(keys) == 1 else f"{keys[0]}..{keys[-1]}"
        committed = self.table.committed()
        if all(k in committed for k in keys):
            res = BatchResult(label, True, None, None, 0.0)
            self.results.append(res)
            return res

        if self.salt_hot_keys:
            from airbyte_spark.operators.dedup import presalted_dedup

            batch = presalted_dedup(batch, self.cfg, self.salt_hot_keys)
        finalize = _extract_winners if self.extract else None
        write = append_winners if self.write_mode == "mor" else merge_upsert
        stats = write(
            self.table,
            batch,
            self.cfg,
            checkpoint_key=keys,
            finalize=finalize,
            plan=plan,
        )
        res = BatchResult(
            label, False, stats.rows_in, stats.max_lsn, time.time() - t0,
            candidate_files=stats.candidate_files,
        )
        self.results.append(res)
        self._maybe_compact()
        self._maybe_expire()
        return res

    def _maybe_compact(self) -> None:
        if not self.auto_compact_files:
            return
        small = sum(
            1 for e in self.table.files()
            if e.bytes < self.auto_compact_target_bytes
        )
        if small >= self.auto_compact_files:
            self.table.compact(target_file_bytes=self.auto_compact_target_bytes)

    def _maybe_expire(self) -> None:
        if not self.auto_expire_keep:
            return
        if getattr(self.table, "_branch", None):
            # a branch-handle pipeline (atomic catalog sync) never expires:
            # the chain is transient (dropped at publish), and vacuum from
            # a branch view would see main's files as orphans
            return
        import os

        d = self.table._meta_dir()
        n = sum(
            1 for f in os.listdir(d) if f.startswith("v") and f.endswith(".json")
        )
        # 2x hysteresis: expire in batches instead of one manifest per commit
        if n > 2 * self.auto_expire_keep:
            self.table.expire_snapshots(retain_last=self.auto_expire_keep)
            self.table.vacuum(retain_last=self.auto_expire_keep)

    # ---- bounded batch replay (binlog segments = checkpoint ids) ----

    def replay(
        self,
        changelog: DataFrame,
        from_checkpoint: int | None = None,
        group_size: int | None = None,
        max_catchup_commits: int = 4,
    ) -> list[BatchResult]:
        """Replay a changelog checkpoint-by-checkpoint (ordered). Segments
        already committed are skipped individually — so a replay after a
        crash resumes exactly where the table left off (≡ CdcSourceTest
        testRecordsProducedDuringAndAfterSync semantics) even if the
        grouping differs between runs.

        group_size=None (default) auto-sizes to the lag: when more than one
        segment is pending, consecutive segments are grouped so the whole
        backlog drains in ≤ max_catchup_commits commits — the catch-up path
        (≡ availableNow draining several binlog segments per micro-batch),
        which amortizes the per-commit serial overhead (bounds collect +
        manifest write + job scheduling) that would otherwise dominate at
        segment granularity. In steady state (one pending segment) it is
        exactly one commit per segment. Every constituent segment id is
        recorded in the committed set."""
        plan = self._plan_replay(changelog)
        ids = sorted(plan.segments)
        if from_checkpoint is not None:
            ids = [i for i in ids if i >= from_checkpoint]
        committed = self.table.committed()
        pending = [i for i in ids if f"ckpt-{i}" not in committed]
        if group_size is None:
            group_size = max(1, -(-len(pending) // max(1, max_catchup_commits)))
        out = []
        for i in ids:
            if f"ckpt-{i}" in committed:  # surfaced for sync accounting
                res = BatchResult(f"ckpt-{i}", True, None, None, 0.0)
                self.results.append(res)
                out.append(res)
        try:
            for g in range(0, len(pending), group_size):
                chunk = pending[g : g + group_size]
                sub = changelog.filter(F.col("checkpoint_id").isin(chunk))
                out.append(
                    self.apply_batch(
                        sub,
                        checkpoint_key=[f"ckpt-{c}" for c in chunk],
                        plan=plan.combine(chunk, self.cfg),
                    )
                )
        finally:
            plan.winners.unpersist()
        return out

    def _plan_replay(self, changelog: DataFrame) -> BatchPlan:
        """ONE planning pass over the whole changelog (`plan_batch` per
        (segment, key)): it DISCOVERS the segment ids and plans every
        grouped commit (`BatchPlan.combine`), so each commit runs as a
        single Spark job whose broadcast build reads winners from cache —
        no per-commit pre-pass, no separate distinct() id scan, no extra
        driver collects. Per-job scheduling latency is the serial floor of
        high-frequency micro-batching; this keeps it O(1) per catch-up
        instead of O(commits), and the changelog is scanned exactly twice
        per catch-up (planning + merge probe) however many commits drain
        it."""
        return plan_batch(self.table, changelog, self.cfg, segment_col="checkpoint_id")

    def replay_dir(self, changelog_dir: str, **kw) -> list[BatchResult]:
        """Replay from a materialized changelog directory; checkpoint_id is
        a physical partition there, so each segment read is pruned to its
        own directory (no full-scan per batch)."""
        df = self.table.spark.read.schema(CHANGE_SCHEMA).option("basePath", changelog_dir).parquet(
            changelog_dir
        )
        return self.replay(df, **kw)

    # ---- structured streaming ----

    def run_stream(
        self,
        changelog_dir: str,
        spark_checkpoint_dir: str,
        available_now: bool = True,
        max_files_per_trigger: int = 1,
    ):
        """Tail the changelog directory as a Structured Streaming file
        source; each micro-batch applies per-checkpoint merges. Exactly-once
        holds even if the Spark checkpoint dir is lost, because our own
        committed-set check is transactional with the data commit."""
        spark = self.table.spark
        stream = (
            spark.readStream.schema(CHANGE_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .option("basePath", changelog_dir)
            .parquet(changelog_dir)
        )

        def handle(df: DataFrame, epoch_id: int) -> None:
            cids = sorted(r[0] for r in df.select("checkpoint_id").distinct().collect())
            pending = [c for c in cids if f"ckpt-{c}" not in self.table.committed()]
            if not pending:
                return
            # one merge per micro-batch, all constituent segments recorded
            self.apply_batch(
                df.filter(F.col("checkpoint_id").isin([int(c) for c in pending])),
                checkpoint_key=[f"ckpt-{c}" for c in pending],
            )

        writer = stream.writeStream.foreachBatch(handle).option(
            "checkpointLocation", spark_checkpoint_dir
        )
        if available_now:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
            return q
        return writer.start()

    # ---- state / metrics surface ----

    def committed_checkpoints(self) -> list[str]:
        return sorted(self.table.committed().keys())

    def metrics(self) -> DataFrame:
        return self.table.metrics_df()

    def final_state(self) -> DataFrame:
        """Active rows — tombstones filtered (≡ _airbyte_active_row = 1)."""
        df = self.raw_state()
        if self.cfg.deleted_at_field in df.columns:
            df = df.filter(F.col(self.cfg.deleted_at_field).isNull())
        return df.drop(self.cfg.deleted_at_field)

    def raw_state(self) -> DataFrame:
        """Latest stored version per key including soft-delete tombstones
        (MoR tables resolve their retained versions at read time)."""
        if self.write_mode == "mor":
            return resolve_stored(self.table, self.cfg)
        return self.table.read()

    def expire_tombstones(self, watermark) -> int:
        """GC tombstones older than the watermark (retention contract)."""
        from airbyte_spark.lake.merge import compact_versions, expire_tombstones

        if self.write_mode == "mor":
            # collapse retained versions first: dropping a tombstone row
            # while an OLDER live version of the same key is still stored
            # would resurrect the key at the next read-time resolve
            compact_versions(self.table, self.cfg)
        return expire_tombstones(self.table, self.cfg, watermark)

    def final_pages(self) -> DataFrame:
        """Payload view (drops engine meta columns)."""
        df = self.final_state()
        return df.drop(*[c for c in TARGET_META_COLS if c in df.columns])
