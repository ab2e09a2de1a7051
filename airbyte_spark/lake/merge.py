"""MERGE INTO for any TableFormat — copy-on-write upsert with LWW + tombstones.

Written against the TableFormat protocol (lake/table_format.py), never a
concrete implementation: swapping a real Iceberg adapter in changes
nothing here.

Semantics (≡ the reference's SCD active-row rules, base-normalization
stream_processor.py:695-768, and the destination acceptance contract
"keep only the latest-emitted record per composite PK",
DestinationAcceptanceTest.java:612-637):

  WHEN MATCHED AND source newer AND source.deleted  THEN DELETE
  WHEN MATCHED AND source newer                     THEN UPDATE (payload+lsn)
  WHEN MATCHED AND source older/equal               THEN no-op (late event)
  WHEN NOT MATCHED AND NOT source.deleted           THEN INSERT

"newer" is the lexicographic order (cursor, lsn...) — a total order, so
replay is deterministic even under exact cursor ties (reference tiebreaker
chain cursor→emitted_at→cdc_updated_at→log_pos). On exact order-key ties
the batch side wins, which makes redelivery of an already-applied event a
no-op (idempotence under at-least-once upstream).

Scale shape (the part that must survive 100 TB / 1000 executors):
  1. candidate-file pruning happens at the driver from manifest metadata:
     only files in buckets the batch's keys hash to, whose [min,max] key
     range overlaps the batch, are read and rewritten — the rest of the
     table is untouched (copy-on-write with file-level skipping, the same
     plan Iceberg's MERGE executes);
  2. the whole resolve (intra-batch dedup + existing⋈batch LWW + tombstone
     drop) is ONE window pass over union(existing, batch) hash-clustered by
     the key's bucket — a single shuffle per micro-batch, and the output is
     already clustered by the table's bucket layout so the write needs no
     further exchange;
  3. per-batch metrics (rows, max lsn, per-bucket key bounds) ride one
     small groupBy-bucket collect (≤ n_buckets rows to the driver);
  4. hot-domain skew is spread by the url-hash bucketing by construction,
     and AQE splits any residual skewed partition.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from operator import and_

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from airbyte_spark.lake.table_format import (
    FileEntry,
    TableFormat,
    align_to_schema,
)
from airbyte_spark.protocol import StreamConfig
from airbyte_spark.schema import TARGET_META_COLS

# change-event columns that do NOT land in the target table; the deleted
# marker and lsn are deliberately NOT here — they are stored target metadata
# (soft-delete + total-order tiebreak), see schema.TARGET_META_COLS
_ENVELOPE = {"_ab_cdc_updated_at", "_emitted_at", "checkpoint_id"}


@dataclass
class MergeStats:
    version: int
    candidate_files: int
    skipped: bool = False
    rows_in: int | None = None
    max_lsn: int | None = None


def payload_columns(batch: DataFrame) -> list[str]:
    """Target-table columns carried by a change batch: everything except the
    CDC envelope; _ab_cdc_lsn is kept (stored in the target for total-order
    ties on replay)."""
    return [c for c in batch.columns if c not in _ENVELOPE]


def _prune_candidates(
    table: TableFormat,
    batch_bounds: dict[int, tuple[str, str]],
    key_col: str,
    winner_hashes: "dict[int, object] | None" = None,
) -> list[FileEntry]:
    """Driver-side file skipping, three gates in tightening order:
    bucket containment → key-range overlap → per-file Bloom probe on the
    batch's affected keys (winner_hashes: bucket → (n,2) uint64 hash-pair
    array from lake/bloom.py; a None value marks a bucket unprunable
    because one of its winners has a NULL key). The Bloom gate is what
    makes steady-state merges cheap: urls hash-spread uniformly, so
    min/max ranges within a bucket almost always overlap and only a
    membership filter can prove a file holds none of the touched keys."""
    import numpy as np

    bucket = _bucket_field(table, key_col)

    def pairs_for(bucket):
        if winner_hashes is None:
            return None
        if bucket is not None:
            return winner_hashes.get(bucket)
        vals = list(winner_hashes.values())
        if not vals or any(v is None for v in vals):
            return None
        return np.concatenate(vals)

    out = []
    for e in table.files():
        if bucket:
            b = e.partition.get(bucket.name)
            if b is not None and int(b) not in batch_bounds:
                continue
            b = int(b) if b is not None else None
            lo_hi = batch_bounds.get(b) if b is not None else _merge_bounds(batch_bounds)
        else:
            b = None
            lo_hi = _merge_bounds(batch_bounds)
        st = e.stats.get(key_col)
        if st is not None and "min" in st and lo_hi is not None and lo_hi[0] is not None:
            if st["max"] < lo_hi[0] or st["min"] > lo_hi[1]:
                continue
        if st is not None and "bloom" in st:
            pairs = pairs_for(b)
            if pairs is not None:
                bloom = table.load_bloom(e, key_col)
                if bloom is not None and not bloom.might_contain_any(pairs):
                    continue
        out.append(e)
    return out


def _bucket_field(table: TableFormat, key_col: str):
    """The table's bucket partition field on `key_col`, or None."""
    return next(
        (f for f in table.partition_spec().fields
         if f.transform == "bucket" and f.source == key_col),
        None,
    )


def _merge_bounds(bounds: dict[int, tuple[str, str]]) -> tuple[str, str] | None:
    vals = [v for v in bounds.values() if v and v[0] is not None]
    if not vals:
        return None
    los, his = zip(*vals)
    return min(los), max(his)


# Above this winner count the batch→winner semi-join is left to AQE's
# size-based strategy instead of a forced broadcast (a 10^10-event batch
# with a large distinct-key set would blow the broadcast limit otherwise).
BROADCAST_WINNER_MAX = 2_000_000

# Above this winner count, skip collecting key hashes for Bloom pruning:
# a catch-up batch touching millions of keys rewrites most files anyway,
# so membership pruning stops paying for its driver round-trip.
BLOOM_PRUNE_KEY_MAX = 100_000

# Above this Catalyst size estimate for the batch, don't ride the winner
# keys on the bounds aggregate at all: collect_set buffers each bucket's
# distinct winner keys in the aggregate, so a multi-GB bulk file load on a
# small-n_buckets bloom'd table could build a multi-GB per-task set only to
# overflow BLOOM_PRUNE_KEY_MAX and be discarded. File-backed batches report
# real bytes; in-memory relations report Long.MaxValue (unknown) and are
# exempt — they are driver-resident already, so their key set is bounded by
# driver memory by construction.
BLOOM_PRUNE_BATCH_BYTES_MAX = 256 << 20
_SIZE_UNKNOWN = (1 << 63) - 1


def _batch_size_estimate(batch: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate (bytes); no job is run."""
    try:
        return int(batch._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover - py4j surface drift
        return 0


def _window_sub_split(table: TableFormat, bucketed: bool, n_buckets: int) -> int:
    """Per-bucket key-hash salt count for the merge/resolve window.

    For a bucketed table the window makes one group per reducer slot
    (sub_k = shuffle/buckets): groups land on reducers by hash, so the
    assignment is balls-into-bins and a reducer can draw two whole buckets
    (measured: a 2-bucket straggler ran 3x the mean task). Over-decomposing
    (several salt groups per reducer) fixes that imbalance but was measured
    NET-NEGATIVE end-to-end: each merge task's rows then span several
    p_bucket values, which flips the parquet write from one straight
    streaming writer per task to the sort-based dynamic-partition path
    (+25-30% on the write stage at 4 executors — more than the ~10% tail it
    recovers). Unbucketed tables still salt wide — a global one-task window
    sort is never acceptable."""
    shuffle_parts = int(table.spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if not bucketed:
        return 4 * shuffle_parts
    return max(1, shuffle_parts // max(1, n_buckets))


def order_key(cfg: StreamConfig) -> Column:
    """The merge's total order as one comparable struct: the cursor, NULL
    coalesced to the floor so it loses to every real cursor (≡ the merge
    window's desc_nulls_last), then the tiebreakers. `max_by(x,
    order_key(cfg))` picks the event the merge window would keep."""
    floor_ts = F.lit("0001-01-01 00:00:00").cast("timestamp_ntz")
    return F.struct(
        F.coalesce(F.col(cfg.cursor_field), floor_ts).alias("c"),
        *[F.col(c).alias(f"t{i}") for i, c in enumerate(cfg.order_tiebreakers)],
    )


@dataclass
class BatchPlan:
    """What the winner pre-pass learned about a change batch: everything a
    commit needs before its merge job, from ONE planning collect.

    - `winners`: each key's winning (key..., lsn), cached; the semi-join's
      build side. A plan made with `segment_col` holds one winner per
      (segment, key) plus its order key `_ord` instead; `combine` reduces
      a chunk of segments to one winner per key.
    - `bounds`: bucket → (lo, hi) lead-key range of its winners. A bucket
      with a NULL-key winner gets (None, None): NULL merges null-safe, so
      none of its files may be range-pruned.
    - `winner_keys`: bucket → winner lead keys for Bloom pruning (None for
      a NULL-key bucket); None as a whole when the table has no Bloom
      sidecars, the batch is a bulk load, or the plan holds more than
      BLOOM_PRUNE_KEY_MAX keys.
    - `n_winners`: winner count for the broadcast gate (a sum over
      segments for a `segment_col` or combined plan: an upper bound).
    - `rows_in`, `max_lsn`: event count and LSN high-water mark.
    - `segments`: segment id → its per-bucket stats (`segment_col` only).
    """

    winners: DataFrame
    bounds: dict
    winner_keys: "dict | None"
    n_winners: int
    rows_in: int
    max_lsn: int | None
    segments: dict = field(default_factory=dict)

    def combine(self, segment_ids: list[int], cfg: StreamConfig) -> "BatchPlan":
        """The plan of one grouped commit over some segments of a
        `segment_col` plan, with no Spark job: bounds, winner keys, rows_in
        and max_lsn equal `plan_batch` over the union of those segments.
        The cached per-segment winners reduce to one winner per key over
        the same order key, so the merge shuffle moves one page per key
        however many segments a catch-up commit groups."""
        pk, lsn = cfg.primary_key, cfg.order_tiebreakers[-1]
        winners = self.winners.filter(F.col("_seg").isin(segment_ids))
        if len(segment_ids) > 1:
            winners = winners.groupBy(*pk).agg(F.max_by(F.col(lsn), F.col("_ord")).alias(lsn))
        stats = [s for i in segment_ids for s in self.segments[i]]
        return _fold_plan(winners.select(*pk, lsn), stats)


def _fold_plan(winners: DataFrame, stats: list[dict]) -> BatchPlan:
    """Fold per-(segment, bucket) planning stats into one plan."""
    bounds: dict = {}
    keys: "dict | None" = {} if stats and "ks" in stats[0] else None
    for s in stats:
        b = int(s["b"])
        lo, hi = (None, None) if s["knull"] else (s["lo"], s["hi"])
        if b in bounds:
            olo, ohi = bounds[b]
            lo = None if olo is None or lo is None else min(olo, lo)
            hi = None if ohi is None or hi is None else max(ohi, hi)
        bounds[b] = (lo, hi)
        if keys is None:
            continue
        if len(s["ks"]) > BLOOM_PRUNE_KEY_MAX:
            keys = None  # one element past the cap marks overflow
        elif s["knull"] or keys.get(b, ()) is None:
            keys[b] = None
        else:
            keys[b] = keys.get(b, set()) | set(s["ks"])
    if keys is not None and sum(len(v) for v in keys.values() if v) > BLOOM_PRUNE_KEY_MAX:
        keys = None
    return BatchPlan(
        winners=winners,
        bounds=bounds,
        winner_keys=None if keys is None else {
            b: None if v is None else list(v) for b, v in keys.items()
        },
        n_winners=sum(s["nw"] for s in stats),
        rows_in=sum(s["n"] for s in stats),
        max_lsn=max((s["mx"] for s in stats if s["mx"] is not None), default=None),
    )


def plan_batch(
    table: TableFormat,
    batch: DataFrame,
    cfg: StreamConfig,
    segment_col: str | None = None,
) -> BatchPlan:
    """The winner pre-pass: the one planner behind every commit path.

    LATE MATERIALIZATION, the big-payload optimization: the pre-pass reads
    only (key, order cols), so column pruning reaches the source, and picks
    each key's winning lsn with max_by over `order_key`. Partial
    aggregation collapses hot keys map-side (skew-proof), and its shuffle
    moves ~|distinct keys| tiny rows instead of |events| full pages. The
    cached winner set then feeds ONE small collect of per-bucket stats
    (≤ n_buckets rows): key bounds, winner and event counts, the LSN
    high-water mark and, when the table carries key Bloom sidecars, the
    capped winner keys, so pruning gets membership evidence with no extra
    job (a separate collect measured +8-15% on the per-commit serial floor).

    Batch metrics ride these aggregates and never an `.observe()`: a
    CollectMetrics node is a codegen fusion barrier, so the probe-side scan
    would materialize every payload column for every event before the
    winner semi-join drops most of them (~3× end-to-end on wide-payload
    batches, see BASELINE.md).

    With `segment_col` the winners and stats are per (segment, key) and
    per (segment, bucket), so one pass over a whole backlog discovers its
    segment ids and plans any grouping of them (`BatchPlan.combine`).

    The caller owns the cached `winners` and unpersists it when done.
    """
    pk = cfg.primary_key
    lead, lsn = pk[0], cfg.order_tiebreakers[-1]
    bucket = _bucket_field(table, lead)
    ordk = order_key(cfg)
    seg = [F.col(segment_col).alias("_seg")] if segment_col else []
    aggs = [
        F.max_by(F.col(lsn), ordk).alias(lsn),
        F.count(F.lit(1)).alias("_cnt"),
        F.max(lsn).alias("_mx"),
    ]
    if segment_col:
        aggs.append(F.max(ordk).alias("_ord"))  # the winner's order key
    winners = batch.groupBy(*seg, *pk).agg(*aggs).persist()

    stat_aggs = [
        F.min(lead).alias("lo"),
        F.max(lead).alias("hi"),
        F.count(F.lit(1)).alias("nw"),
        F.sum("_cnt").alias("n"),
        F.max("_mx").alias("mx"),
        F.max(F.col(lead).isNull()).alias("knull"),
    ]
    has_blooms = any("bloom" in (e.stats.get(lead) or {}) for e in table.files())
    if has_blooms and segment_col is None:
        est = _batch_size_estimate(batch)
        if est != _SIZE_UNKNOWN and est > BLOOM_PRUNE_BATCH_BYTES_MAX:
            has_blooms = False  # bulk load: bounds-only pruning
    if has_blooms:
        # capped: one element past the cap marks overflow. Aggregate
        # buffers stay bounded: a group is one (segment, bucket).
        stat_aggs.append(
            F.slice(F.collect_set(F.col(lead)), 1, BLOOM_PRUNE_KEY_MAX + 1).alias("ks")
        )
    groups = [F.col("_seg")] if segment_col else []
    bexpr = bucket.expr() if bucket else F.lit(0)
    stats = [
        r.asDict()
        for r in winners.groupBy(*groups, bexpr.alias("b")).agg(*stat_aggs).collect()
    ]
    plan = _fold_plan(winners, stats)
    if segment_col:
        for s in stats:
            plan.segments.setdefault(int(s["_seg"]), []).append(s)
    return plan


def _winning_events(batch: DataFrame, plan: BatchPlan, cfg: StreamConfig) -> DataFrame:
    """The batch slimmed to its winning events, so the merge shuffle carries
    winner payloads only: a semi-join on (key..., lsn), broadcast below
    BROADCAST_WINNER_MAX winners. Null-safe: a winner with a NULL last
    tiebreaker must survive (plain `=` drops NULLs); key columns join
    null-safe too for uniformity."""
    cols = [*cfg.primary_key, cfg.order_tiebreakers[-1]]
    wside = plan.winners.select(*cols).alias("_w")
    if plan.n_winners <= BROADCAST_WINNER_MAX:
        wside = F.broadcast(wside)
    cond = reduce(and_, [F.col(f"_b.{c}").eqNullSafe(F.col(f"_w.{c}")) for c in cols])
    return batch.alias("_b").join(wside, cond, "left_semi")


def merge_upsert(
    table: TableFormat,
    batch: DataFrame,
    cfg: StreamConfig,
    checkpoint_key: "str | list[str] | None" = None,
    finalize: "callable | None" = None,
    plan: BatchPlan | None = None,
) -> MergeStats:
    """Apply one change batch to the target table (intra-batch dedup is part
    of the merge window — raw micro-batches are fine).

    `finalize(df)` — optional projection hook (e.g. vectorized text
    extraction) applied to the slimmed batch, i.e. once per (key, winning
    event), before the merge window. Carried-over rows never reach it; a
    batch row that then loses to a stored row is dropped by the window.

    Composite primary keys are first-class (≡ the reference's list-valued
    source_defined_primary_key, airbyte_protocol.yaml:150, and the
    acceptance contract's per-composite-PK expected state,
    DestinationAcceptanceTest.java:612-637): ordering/grouping runs on the
    full key column tuple; bucketing and file pruning use the leading key
    column (all rows of one composite key share it, so key-locality holds).

    Idempotent when checkpoint_key is supplied (one key or a list of binlog
    segment keys for a grouped catch-up commit): a replayed batch whose
    keys are all in the manifest's committed set is skipped before any
    work, and every constituent segment is recorded on commit.

    `plan` is the batch's winner pre-pass (`plan_batch`); without one the
    merge plans the batch itself. Either way a commit is one planning
    collect (none with a given plan) followed by the one merge job: the
    plan's bounds and winner keys prune candidate files at the driver, its
    winners slim the batch, and its rows_in/max_lsn are the batch metrics.
    """
    keys = (
        [checkpoint_key]
        if isinstance(checkpoint_key, str)
        else list(checkpoint_key or [])
    )
    if keys:
        committed = table.committed()
        if all(k in committed for k in keys):
            return MergeStats(version=table.current_version(), candidate_files=0, skipped=True)

    lead_key = cfg.primary_key[0]  # bucketing / pruning column

    # Evolve target schema if the batch carries new/widened payload columns.
    table.evolve_schema(batch.select(*payload_columns(batch)).schema)
    target_schema = table.schema()
    bucket = _bucket_field(table, lead_key)

    read_v = table.current_version()  # rewrite-vs-delete validation anchor
    owned = plan is None
    if owned:
        plan = plan_batch(table, batch, cfg)
    winner_hashes = None
    if plan.winner_keys is not None:
        from airbyte_spark.lake.bloom import hash_pairs

        winner_hashes = {
            b: None if v is None else hash_pairs(v) for b, v in plan.winner_keys.items()
        }
    candidates = _prune_candidates(table, plan.bounds, lead_key, winner_hashes)

    slim = _winning_events(batch, plan, cfg)
    if finalize is not None:
        slim = finalize(slim)
    existing = table.read(files=candidates)

    # Sub-split each bucket's window partition by a key-hash salt: the
    # lag-head trick only needs all rows of ONE key in one partition, not
    # one partition per bucket — without this, merge parallelism is capped
    # at n_buckets no matter the cluster size.
    sub_k = _window_sub_split(table, bool(bucket), bucket.n if bucket else 1)

    merged = resolve_merge(
        existing,
        slim,
        cfg,
        target_schema.fieldNames(),
        bucket_expr=bucket.expr() if bucket else F.lit(0),
        sub_split=sub_k,
    )

    # The resolve already clustered rows by bucket hash, so the write skips
    # its repartition (pre_partitioned) — no second exchange.
    entries = table._stage_write(
        merged,
        stat_cols=[lead_key, cfg.deleted_at_field],
        one_file_per_partition=not bucket,
    )
    if owned:
        plan.winners.unpersist()
    rows_removed = sum(e.rows for e in candidates)
    version = table.commit(
        entries,
        removed_paths={e.path for e in candidates},
        operation="merge",
        checkpoint_key=keys or None,
        summary={"rows_removed": rows_removed, "candidate_files": len(candidates), "rows_in": plan.rows_in},
        read_version=read_v,
    )
    return MergeStats(
        version=version,
        candidate_files=len(candidates),
        rows_in=plan.rows_in,
        max_lsn=plan.max_lsn,
    )


def append_winners(
    table: TableFormat,
    batch: DataFrame,
    cfg: StreamConfig,
    checkpoint_key: "str | list[str] | None" = None,
    finalize: "callable | None" = None,
    plan: BatchPlan | None = None,
) -> MergeStats:
    """Merge-on-read write path (≡ Iceberg v2 MoR upserts; ≡ the reference's
    append-to-raw-then-dedup-at-normalization model — BufferedStreamConsumer
    appends raw, stream_processor.py:695-768 dedups downstream): the batch's
    per-key WINNERS (the same `plan_batch` pre-pass and semi-join slim as
    merge_upsert, so micro-batch dedup still happens at write) are APPENDED
    — existing files are never read or rewritten. Commit cost is O(batch)
    regardless of table size, which is the write-optimized end of the CDC
    trade: LWW conflict resolution moves to read time (resolve_stored) and
    compact_versions() restores the read-optimized single-version form.

    Same contract as merge_upsert: idempotent per checkpoint_key (grouped
    catch-up lists record every segment id), the same optional `plan`, and
    the same `finalize(df)` hook on the slimmed batch, so text extraction
    runs once per appended winning version — a later losing version never
    re-extracts, and the byte-identical text-per-url invariant holds
    through read-time resolution, which picks whole stored rows."""
    keys = (
        [checkpoint_key]
        if isinstance(checkpoint_key, str)
        else list(checkpoint_key or [])
    )
    if keys:
        committed = table.committed()
        if all(k in committed for k in keys):
            return MergeStats(version=table.current_version(), candidate_files=0, skipped=True)

    table.evolve_schema(batch.select(*payload_columns(batch)).schema)
    target_schema = table.schema()
    owned = plan is None
    if owned:
        plan = plan_batch(table, batch, cfg)
    slim = _winning_events(batch, plan, cfg)
    if finalize is not None:
        slim = finalize(slim)

    entries = table._stage_write(
        align_to_schema(slim, target_schema),
        stat_cols=[cfg.primary_key[0], cfg.deleted_at_field],
        one_file_per_partition=True,
    )
    if owned:
        plan.winners.unpersist()
    version = table.commit(
        entries,
        operation="append-winners",
        checkpoint_key=keys or None,
        summary={"rows_in": plan.rows_in},
    )
    return MergeStats(version=version, candidate_files=0, rows_in=plan.rows_in, max_lsn=plan.max_lsn)


def resolve_stored(table: TableFormat, cfg: StreamConfig, version: int | None = None) -> DataFrame:
    """Read-time LWW resolution for merge-on-read tables: ONE window pass
    (the same resolve the CoW merge runs at write time) picks the latest
    stored version per key across all accumulated append-winners commits.
    Tombstones survive as soft-delete rows — callers filter active rows.
    Cost grows with retained versions per key; compact_versions() resets it."""
    df = table.read(version)
    bucket = _bucket_field(table, cfg.primary_key[0])
    sub_k = _window_sub_split(table, bool(bucket), bucket.n if bucket else 1)
    return resolve_merge(
        None,
        df,
        cfg,
        df.columns,
        bucket_expr=bucket.expr() if bucket else None,
        sub_split=sub_k,
    )


def compact_versions(table: TableFormat, cfg: StreamConfig) -> int:
    """Rewrite a merge-on-read table to its resolved form — one (latest)
    version per key — in one atomic commit (≡ Iceberg rewrite_data_files
    applying accumulated deletes). Reads re-resolve, so the rewrite changes
    no observable state; it only resets read cost to O(keys).

    Concurrent append-winners commits are safe: they are not in this
    commit's removed set, stay live in the manifest, and the next read
    resolves them against the compacted base exactly as before."""
    read_v = table.current_version()
    old = table.files()
    if not old:
        return table.current_version()
    resolved = resolve_stored(table, cfg)
    entries = table._stage_write(
        resolved,
        stat_cols=[cfg.primary_key[0], cfg.deleted_at_field],
        one_file_per_partition=True,
    )
    return table.commit(
        entries,
        removed_paths={e.path for e in old},
        operation="compact-versions",
        summary={"files_compacted": len(old)},
        read_version=read_v,
    )


def resolve_merge(
    existing: DataFrame | None,
    batch: DataFrame,
    cfg: StreamConfig,
    out_cols: list[str],
    bucket_expr: Column | None = None,
    sub_split: int = 1,
) -> DataFrame:
    """Pure-DataFrame restatement of the MERGE cases as ONE window pass.

    union(existing tagged 0, batch tagged 1) — with `existing=None` only
    the batch is windowed, no union (resolve_stored) — hash-clustered by
    (key-bucket, key-hash salt), sorted (key asc, cursor desc, lsn desc,
    is_batch desc); a row wins its key group iff the previous row in that
    order has a different key (lag-based group-head detection — no second
    shuffle on the raw key; the partitioning co-locates all rows of a key
    because both components are pure functions of the key columns).
    `sub_split` > 1 salts each bucket into that many window partitions so
    merge parallelism scales past n_buckets (the lag trick only needs
    key-contiguity WITHIN a partition, which pmod(xxhash64(key), k)
    preserves); with no bucket spec the salt alone partitions the window —
    an unbucketed table must never funnel through one global sort task.
    Winning batch rows are the UPDATE/INSERT image; winning existing rows
    are untouched carry-over. Winning tombstones are KEPT as soft-delete
    rows (their _ab_cdc_deleted_at marks them dead): late out-of-order
    events in later batches then lose to the tombstone instead of
    resurrecting the key (≡ the reference retaining delete rows in SCD
    history and filtering active_row, stream_processor.py:759-768);
    expire_tombstones() GCs them past a watermark.

    ≡ reference active-row rule row_number()=1 AND _ab_cdc_deleted_at IS
    NULL over PARTITION BY pk ORDER BY cursor DESC, ...,
    stream_processor.py:695-768 — restated via lag to keep one shuffle.
    """
    pk_cols = cfg.primary_key
    order_cols = cfg.order_cols  # e.g. [warc_ts, _ab_cdc_lsn]

    both = batch.withColumn("_is_batch", F.lit(1))
    if existing is not None:
        e = existing.withColumn("_is_batch", F.lit(0))
        both = e.unionByName(both, allowMissingColumns=True)

    part = (bucket_expr if bucket_expr is not None else F.lit(0)).alias("_mb")
    both = both.withColumn("_mb", part)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in pk_cols]), F.lit(max(1, sub_split)))
    both = both.withColumn("_ms", salt)
    w = Window.partitionBy("_mb", "_ms").orderBy(
        *[F.col(c).asc() for c in pk_cols],
        *[F.col(c).desc_nulls_last() for c in order_cols],
        F.col("_is_batch").desc(),
    )
    # struct comparison gives collision-free composite-key group heads
    key_tuple = F.struct(*[F.col(c) for c in pk_cols])
    prev_key = F.lag(key_tuple).over(w)
    is_winner = prev_key.isNull() | (prev_key != key_tuple)

    kept = both.withColumn("_win", is_winner).filter(F.col("_win"))
    have = set(kept.columns)
    return kept.select(
        *[
            F.col(c) if c in have else F.lit(None).alias(c)
            for c in out_cols
        ]
    )


def expire_tombstones(
    table: TableFormat, cfg: StreamConfig, watermark, checkpoint_key: str | None = None
) -> int:
    """Garbage-collect soft-delete rows whose delete cursor is older than the
    watermark — safe once the source guarantees no event older than the
    watermark can still arrive (the retention contract of log-compacted
    systems; ≡ Kafka compaction delete.retention.ms / Delta VACUUM).

    Only files that actually contain expirable tombstones are rewritten
    (min-stat pruning on the deleted_at column would refine this further at
    scale; here file-level row filtering keeps untouched files in place).
    """
    deleted = cfg.deleted_at_field
    wm = str(watermark)

    def may_hold_expirable(e: FileEntry) -> bool:
        st = e.stats.get(deleted)
        if st is None:
            return True  # stats unknown → rewrite conservatively
        if st.get("nulls") == e.rows:
            return False  # every deleted_at is NULL → no tombstones here
        if "min" in st:
            return str(st["min"]) < wm
        return True

    # Only files that may hold an expirable tombstone are rewritten; at
    # steady state tombstones cluster in recent files, so this touches a
    # small suffix of the table.
    read_v = table.current_version()
    victims = [e for e in table.files() if may_hold_expirable(e)]
    if not victims:
        return table.current_version()
    df = table.read(files=victims)
    kept = df.filter(F.col(deleted).isNull() | (F.col(deleted) >= F.lit(watermark)))
    entries = table._stage_write(
        kept, stat_cols=[cfg.primary_key[0], deleted], one_file_per_partition=True
    )
    return table.commit(
        entries,
        removed_paths={e.path for e in victims},
        operation="expire-tombstones",
        checkpoint_key=checkpoint_key,
        read_version=read_v,
    )


def target_projection(batch: DataFrame, cfg: StreamConfig) -> DataFrame:
    """Project a change batch onto target-table columns (payload + lsn)."""
    cols = payload_columns(batch)
    ordered = [c for c in cols if c not in TARGET_META_COLS] + [
        c for c in TARGET_META_COLS if c in cols
    ]
    return batch.select(*ordered)
