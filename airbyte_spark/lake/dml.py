"""Row-level DML over LakeTable: copy-on-write DELETE and REPLACE WHERE.

Parity: the reference resets/overwrites whole streams (EmptyAirbyteSource
reset, DestinationSyncMode.OVERWRITE) and soft-deletes rows through CDC
tombstones (_ab_cdc_deleted_at, stream_processor.py dedup rules); a lake
destination additionally needs hard row-level DML — GDPR erasure, partition
backfills — which Iceberg/Delta express as copy-on-write DELETE and
`replaceWhere` overwrites. Re-expressed Spark-first here:

- plan on the manifest (stats pruning) — zero data I/O,
- ONE column-pruned pass finds the files that actually contain matches
  (`input_file_name()` + the predicate; only predicate columns are read),
- only those files are rewritten (survivor rows), everything else is
  untouched metadata,
- the swap is a single atomic manifest commit (remove matched files, add
  rewritten survivors + replacement rows), CAS-protected like every commit.

At 100 TB the cost is proportional to the files the predicate touches, not
to the table: a cursor/key-ranged delete on a clustered table rewrites a
handful of files; the find-matches pass scans only candidate files and only
the predicate's columns.

SQL three-valued logic is honored: DELETE removes rows where the predicate
is TRUE; rows where it is FALSE **or NULL** survive (a bare `~p` filter
would silently drop NULL-predicate rows).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import StructType

from airbyte_spark.lake.format import FileEntry, LakeTable


def _as_column(predicate: "str | Column") -> Column:
    return F.expr(predicate) if isinstance(predicate, str) else predicate


def _stat_cols(table: LakeTable, entries: list[FileEntry]) -> list[str]:
    """Preserve stats coverage on rewrite: whatever columns the live files
    carry min/max for, the rewritten files carry too (otherwise a delete
    would silently degrade future pruning)."""
    cols: list[str] = []
    for e in entries:
        for c in e.stats:
            if c not in cols:
                cols.append(c)
    return cols


def _matching_files(
    table: LakeTable, pred: Column, candidates: list[FileEntry]
) -> list[FileEntry]:
    """The subset of candidate files that actually contain predicate-TRUE
    rows — one column-pruned job (predicate columns + file identity only).
    The collect is ≤ |candidates| short paths, a planning-sized result."""
    if not candidates:
        return []
    # read(with_positions=True) supplies the per-row source file directly —
    # unlike input_file_name() it stays well-defined when the read plan
    # contains the position-delete anti-join (multi-source expression)
    hits = (
        table.read(files=candidates, with_positions=True)
        .filter(pred)
        .select("_dv_file")
        .distinct()
        .collect()
    )
    hit_paths = {r["_dv_file"] for r in hits}
    return [e for e in candidates if e.path in hit_paths]


def _visible_rows(table: LakeTable, entries: list[FileEntry]) -> int:
    """Visible (post-position-delete) row count of a file set. Manifest
    row counts are physical; when live sidecars target any of these files
    the exact visible count needs one count() over the anti-join read —
    paid only in that case."""
    paths = {e.path for e in entries}
    if any(t in paths for d in table.delete_files() for t in d["targets"]):
        return table.read(files=entries).count()
    return sum(e.rows for e in entries)


def delete_where(
    table: LakeTable,
    predicate: "str | Column",
    ranges: "dict[str, tuple] | None" = None,
) -> dict:
    """Copy-on-write DELETE: remove rows where `predicate` is TRUE.

    `ranges` ({col: (lo, hi)}) is an optional stats-pruning hint: files
    whose footer min/max provably miss the range are never even scanned by
    the find-matches pass. Correctness never depends on it — the exact
    predicate decides row fate; ranges only shrink the candidate set.

    Returns {"version", "files_rewritten", "rows_deleted"}; a no-match
    delete is a metadata no-op (no commit)."""
    pred = _as_column(predicate)
    read_v = table.current_version()
    candidates = table.prune(ranges) if ranges else table.files()
    to_rewrite = _matching_files(table, pred, candidates)
    if not to_rewrite:
        return {
            "version": table.current_version(),
            "files_rewritten": 0,
            "rows_deleted": 0,
        }
    survivors = table.read(files=to_rewrite).filter(
        ~F.coalesce(pred, F.lit(False))  # NULL predicate ⇒ row survives
    )
    spec = table.partition_spec()
    entries = table._stage_write(
        survivors,
        _stat_cols(table, to_rewrite),
        one_file_per_partition=not spec.fields,
    )
    rows_before = _visible_rows(table, to_rewrite)
    rows_after = sum(e.rows for e in entries)
    version = table.commit(
        entries,
        removed_paths={e.path for e in to_rewrite},
        operation="delete",
        summary={
            "rows_deleted": rows_before - rows_after,
            "files_rewritten": len(to_rewrite),
        },
        read_version=read_v,
    )
    return {
        "version": version,
        "files_rewritten": len(to_rewrite),
        "rows_deleted": rows_before - rows_after,
    }


def replace_where(
    table: LakeTable,
    replacement: DataFrame,
    predicate: "str | Column",
    ranges: "dict[str, tuple] | None" = None,
) -> dict:
    """Atomic partition/predicate backfill (≡ Delta `replaceWhere`, Iceberg
    overwrite-by-filter): delete every row where `predicate` is TRUE and
    insert `replacement`, in ONE snapshot — readers see either the old
    region or the new one, never a mix.

    Every replacement row must satisfy the predicate (otherwise the
    operation would silently write outside the region it claims to replace)
    — violations raise ValueError before anything is staged."""
    pred = _as_column(predicate)
    stray = replacement.filter(~F.coalesce(pred, F.lit(False))).limit(1).count()
    if stray:
        raise ValueError("replacement rows must satisfy the replace_where predicate")

    read_v = table.current_version()
    candidates = table.prune(ranges) if ranges else table.files()
    to_rewrite = _matching_files(table, pred, candidates)
    survivors_entries: list[FileEntry] = []
    stat_cols = _stat_cols(table, to_rewrite or candidates)
    spec = table.partition_spec()
    one_file = not spec.fields
    if to_rewrite:
        survivors = table.read(files=to_rewrite).filter(
            ~F.coalesce(pred, F.lit(False))
        )
        survivors_entries = table._stage_write(survivors, stat_cols, one_file)

    from airbyte_spark.lake.format import _align

    new_entries = table._stage_write(
        _align(replacement, table.schema()), stat_cols, one_file
    )
    rows_before = _visible_rows(table, to_rewrite)
    rows_kept = sum(e.rows for e in survivors_entries)
    version = table.commit(
        survivors_entries + new_entries,
        removed_paths={e.path for e in to_rewrite},
        operation="replace",
        summary={
            "rows_deleted": rows_before - rows_kept,
            "rows_replaced": sum(e.rows for e in new_entries),
            "files_rewritten": len(to_rewrite),
        },
        read_version=read_v,
    )
    return {
        "version": version,
        "files_rewritten": len(to_rewrite),
        "rows_deleted": rows_before - rows_kept,
        "rows_inserted": sum(e.rows for e in new_entries),
    }


def update_where(
    table: LakeTable,
    predicate: "str | Column",
    assignments: "dict[str, Column | str]",
    ranges: "dict[str, tuple] | None" = None,
) -> dict:
    """Copy-on-write UPDATE (≡ Delta UPDATE / Iceberg CoW row update —
    completes the DML triad next to delete_where / replace_where): rows
    where `predicate` is TRUE get each assignment column replaced by its
    expression; every other row — including the non-matching rows of
    touched files — is rewritten byte-identically.

    Assignment expressions may reference the row's own columns (standard
    UPDATE ... SET x = f(x, y) semantics). SQL three-valued logic: a NULL
    predicate leaves the row unchanged. Only files that provably contain a
    match are rewritten (stats/ranges prune first, then an exact
    find-matches pass), so a point update touches one file, not the table.

    Returns {"version", "files_rewritten", "rows_updated"}; no match ⇒
    metadata no-op."""
    pred = _as_column(predicate)
    exprs = {
        c: (F.expr(e) if isinstance(e, str) else e) for c, e in assignments.items()
    }
    unknown = set(exprs) - set(table.schema().fieldNames())
    if unknown:
        raise ValueError(f"update_where: unknown columns {sorted(unknown)}")
    read_v = table.current_version()
    candidates = table.prune(ranges) if ranges else table.files()
    to_rewrite = _matching_files(table, pred, candidates)
    if not to_rewrite:
        return {
            "version": table.current_version(),
            "files_rewritten": 0,
            "rows_updated": 0,
        }
    hit = F.coalesce(pred, F.lit(False))
    src = table.read(files=to_rewrite)
    cols = []
    for f in src.schema.fieldNames():
        if f in exprs:
            cols.append(
                F.when(hit, exprs[f].cast(src.schema[f].dataType))
                .otherwise(F.col(f))
                .alias(f)
            )
        else:
            cols.append(F.col(f))
    n_hit = src.filter(hit).count()
    rewritten = src.select(*cols)
    spec = table.partition_spec()
    entries = table._stage_write(
        rewritten,
        _stat_cols(table, to_rewrite),
        one_file_per_partition=not spec.fields,
    )
    version = table.commit(
        entries,
        removed_paths={e.path for e in to_rewrite},
        operation="update",
        summary={"rows_updated": n_hit, "files_rewritten": len(to_rewrite)},
        read_version=read_v,
    )
    return {
        "version": version,
        "files_rewritten": len(to_rewrite),
        "rows_updated": n_hit,
    }


def merge_into(
    table: LakeTable,
    source: DataFrame,
    on: list[str],
    when_matched_update: "dict[str, Column | str] | None" = None,
    when_matched_delete: "str | Column | None" = None,
    when_not_matched_insert: bool = True,
) -> dict:
    """General MERGE INTO (≡ Delta MERGE / Iceberg MERGE; SQL:2003
    tri-clause semantics) — the arbitrary-ETL upsert, distinct from the
    CDC pipeline's LWW merge (lake/merge.py), which bakes in the
    cursor-ordering policy. Clauses, evaluated per matched row in standard
    order:

      when_matched_delete  — predicate; target columns by name, source
                             fields as `src.<col>`; TRUE deletes the row
      when_matched_update  — {target col: expression over target columns
                             and `src.<col>`}; applied to matched rows the
                             delete clause didn't take
      when_not_matched_insert — source rows with no target match insert
                             (source must then carry the target's columns)

    Duplicate source keys are rejected (the SQL standard's
    non-deterministic-merge error) — one planning aggregate, fail-fast.

    Scale shape: candidate files are pruned to those actually holding
    matched KEYS (same find-matches pass as the other DML verbs, keyed on
    an `on`-column equality semi-join); only those rewrite. The source
    joins candidates once, key-partitioned; inserts stage as appended
    files. One atomic commit swaps both."""
    if when_matched_update is None and when_matched_delete is None and not when_not_matched_insert:
        raise ValueError("merge_into: no clauses given")
    dup = source.groupBy(*on).count().filter(F.col("count") > 1).limit(1).collect()
    if dup:
        raise ValueError(f"merge_into: duplicate source keys, e.g. {dup[0][:len(on)]}")

    tgt_cols = table.schema().fieldNames()
    src = source.select(
        *[F.col(c).alias(c) for c in on],
        F.struct(*[F.col(c) for c in source.columns]).alias("src"),
    )

    # files holding matched keys: semi-join planning pass (skipped entirely
    # for insert-only merges — matched rows are then left untouched)
    candidates = table.files()
    has_matched_clause = when_matched_update is not None or when_matched_delete is not None
    pred_files = []
    if has_matched_clause:
        key_set = src.select(*on).distinct()
        pred_files = _matching_files_by_keys(table, key_set, on, candidates)

    rows_deleted = rows_updated = 0
    new_entries, removed = [], set()
    if pred_files:
        t_rows = table.read(files=pred_files)
        joined = t_rows.join(src, on, "left")  # AQE picks the strategy
        matched = F.col("src").isNotNull()
        del_pred = (
            F.coalesce(_as_column(when_matched_delete), F.lit(False))
            if when_matched_delete is not None
            else F.lit(False)
        )
        keep = ~(matched & del_pred)
        upd = when_matched_update or {}
        out_cols = []
        for c in tgt_cols:
            if c in upd:
                e = upd[c]
                e = F.expr(e) if isinstance(e, str) else e
                out_cols.append(
                    F.when(matched, e.cast(t_rows.schema[c].dataType))
                    .otherwise(F.col(c))
                    .alias(c)
                )
            else:
                out_cols.append(F.col(c).alias(c))
        upd_hits = matched & ~del_pred if upd else F.lit(False)
        counts = joined.agg(
            F.sum((matched & del_pred).cast("long")).alias("d"),
            F.sum(upd_hits.cast("long")).alias("u"),
        ).collect()[0]
        rows_deleted, rows_updated = int(counts["d"] or 0), int(counts["u"] or 0)
        rewritten = joined.filter(keep).select(*out_cols)
        new_entries += table._stage_write(
            rewritten, _stat_cols(table, pred_files),
            one_file_per_partition=not table.partition_spec().fields,
        )
        removed = {e.path for e in pred_files}

    rows_inserted = 0
    if when_not_matched_insert:
        existing_keys = table.read().select(*on).distinct()
        from airbyte_spark.lake.format import _align

        inserts = _align(source.join(existing_keys, on, "left_anti"), table.schema())
        rows_inserted = inserts.count()
        if rows_inserted:
            new_entries += table._stage_write(
                inserts, _stat_cols(table, candidates),
                one_file_per_partition=not table.partition_spec().fields,
            )

    if not new_entries and not removed:
        return {
            "version": table.current_version(),
            "rows_updated": 0, "rows_deleted": 0, "rows_inserted": 0,
        }
    version = table.commit(
        new_entries,
        removed_paths=removed,
        operation="merge",
        summary={
            "rows_updated": rows_updated,
            "rows_deleted": rows_deleted,
            "rows_inserted": rows_inserted,
        },
    )
    return {
        "version": version,
        "rows_updated": rows_updated,
        "rows_deleted": rows_deleted,
        "rows_inserted": rows_inserted,
    }


def _matching_files_by_keys(
    table: LakeTable, keys: DataFrame, on: list[str], candidates: list[FileEntry]
) -> list[FileEntry]:
    """Files containing any of the given keys (column-pruned pass)."""
    if not candidates:
        return []
    # positional read supplies per-row file identity; input_file_name() is
    # rejected by Spark once the read plan carries the position-delete
    # anti-join (multi-source expression)
    hits = (
        table.read(files=candidates, with_positions=True)
        .join(keys, on, "left_semi")
        .select("_dv_file")
        .distinct()
        .collect()
    )
    hit_paths = {r["_dv_file"] for r in hits}
    return [e for e in candidates if e.path in hit_paths]


def delete_positions(
    table: LakeTable,
    predicate: "str | Column",
    ranges: "dict[str, tuple] | None" = None,
    checkpoint_key: "str | None" = None,
) -> dict:
    """Merge-on-read DELETE via position-delete files (≡ Iceberg v2
    positional deletes / deletion vectors): matching rows' (data_file,
    row_position) pairs are written as a small sidecar and committed as
    table METADATA — no data file is rewritten. Every read (scans, merge
    candidate reads, compaction) anti-joins the sidecars, so the rows
    vanish immediately; the physical bytes go away when a later rewrite
    (merge/compact) replaces the target files, at which point the sidecar
    entry is dropped automatically (lake/format.py commit).

    The CoW/MoR trade for deletes: delete_where pays O(matching files
    rewritten) now and nothing at read; delete_positions pays O(matches)
    now and one broadcast anti-join per read until compaction. At 100 TB,
    GDPR-style scattered deletes across thousands of files are exactly the
    case where rewriting every touched file per request is unaffordable.

    Idempotent per checkpoint_key like any other commit. Already-deleted
    rows can't be re-deleted (the position scan reads post-delete state),
    so repeated identical calls converge with empty sidecars skipped.

    Returns {"version", "rows_deleted", "delete_files"}."""
    import uuid as _uuid

    if checkpoint_key is not None and checkpoint_key in table.committed():
        # redelivered key: pure metadata no-op (≡ append's early guard) —
        # no matching scan, no sidecar write
        return {
            "version": table.current_version(),
            "rows_deleted": 0,
            "delete_files": len(table.delete_files()),
        }
    pred = _as_column(predicate)
    read_v = table.current_version()
    candidates = table.prune(ranges) if ranges else table.files()
    to_scan = _matching_files(table, pred, candidates)
    if not to_scan:
        return {
            "version": table.current_version(),
            "rows_deleted": 0,
            "delete_files": len(table.delete_files()),
        }
    matches = (
        table.read(files=to_scan, with_positions=True)
        .filter(F.coalesce(pred, F.lit(False)))  # NULL predicate ⇒ keep row
        .select(F.col("_dv_file").alias("file"), F.col("_dv_pos").alias("pos"))
    )
    rel_dir = f"data/deletes-{_uuid.uuid4().hex[:12]}"
    out_dir = os.path.join(table.path, rel_dir)
    matches.coalesce(1).write.mode("overwrite").parquet(out_dir)
    import pyarrow.parquet as pq

    entry = None
    for name in os.listdir(out_dir):
        if not name.endswith(".parquet"):
            continue
        abs_p = os.path.join(out_dir, name)
        md = pq.ParquetFile(abs_p).metadata
        if md.num_rows == 0:
            continue
        targets = sorted(set(pq.read_table(abs_p, columns=["file"])["file"].to_pylist()))
        entry = {
            "path": f"{rel_dir}/{name}",
            "rows": md.num_rows,
            "bytes": os.path.getsize(abs_p),
            "targets": targets,
        }
    if entry is None:  # predicate matched file stats but no rows
        import shutil as _shutil

        _shutil.rmtree(out_dir, ignore_errors=True)
        return {
            "version": table.current_version(),
            "rows_deleted": 0,
            "delete_files": len(table.delete_files()),
        }
    version = table.commit(
        [],
        operation="delete-positions",
        checkpoint_key=checkpoint_key,
        summary={"rows_deleted": entry["rows"], "delete_files_added": 1},
        delete_files_added=[entry],
    )
    return {
        "version": version,
        "rows_deleted": entry["rows"],
        "delete_files": len(table.delete_files()),
    }


def delete_equality(
    table: LakeTable,
    keys: "DataFrame | list",
    cols: "list[str] | None" = None,
    checkpoint_key: "str | None" = None,
) -> dict:
    """Merge-on-read DELETE via equality-delete files (≡ Iceberg v2
    equality deletes): the key tuples to delete are written as a small
    sidecar and committed as table METADATA — no data file is read OR
    rewritten, not even to locate matches. Every read anti-joins the
    sidecar against data files whose data sequence number predates the
    delete, so rows with those keys vanish immediately while rows
    (re)inserted by this or any later commit survive — exactly Iceberg's
    strictly-lower-sequence rule, which is what makes this safe under a
    live CDC stream (a delete never swallows the upsert that follows it).

    The delete-cost ladder this completes:
      delete_where      O(matching files rewritten) now, free at read
      delete_positions  O(matching rows scanned) now, one anti-join at read
      delete_equality   O(|keys|) now — independent of table size — one
                        anti-join per predating file era at read
    At 100 TB, "purge these 10k urls" is a kilobyte-scale commit here vs a
    full find-matches scan for the other two. Reads stay cheap because the
    sidecar broadcast is tiny; a later rewrite (merge/compact/cluster) of
    every predating file materializes the deletions and auto-drops the
    entry (lake/format.py commit liveness rule).

    `keys`: a DataFrame holding the key columns, or a plain list of values
    for a single-column delete with `cols=["col"]`. Duplicate keys are
    deduplicated. Idempotent per checkpoint_key.

    Returns {"version", "keys", "eq_delete_files"}."""
    import uuid as _uuid

    if checkpoint_key is not None and checkpoint_key in table.committed():
        return {
            "version": table.current_version(),
            "keys": 0,
            "eq_delete_files": len(table.eq_delete_files()),
        }
    schema = table.schema()
    if not isinstance(keys, DataFrame):
        if not cols or len(cols) != 1:
            raise ValueError("list-valued keys need exactly one cols=[name]")
    check = cols or keys.columns
    missing = [c for c in check if c not in schema.fieldNames()]
    if missing:
        raise ValueError(f"equality-delete columns not in table schema: {missing}")
    if not isinstance(keys, DataFrame):
        # list values arrive as whatever Python type the caller had (CLI
        # passes strings); go through string → cast to the column's type so
        # `--values 3,7` works against a bigint key column. An unparseable
        # value would cast to NULL — and the read-side join is null-safe,
        # so a NULL key would silently delete every NULL-keyed row instead
        # of the intended one. Reject it loudly.
        raw = table.spark.createDataFrame(
            [(None if k is None else str(k),) for k in keys], "`__raw` string"
        )
        kdf = raw.select(
            F.col("__raw").try_cast(schema[cols[0]].dataType).alias(cols[0]), "__raw"
        )
        bad = kdf.filter(F.col(cols[0]).isNull() & F.col("__raw").isNotNull()).limit(5)
        bad_vals = [r["__raw"] for r in bad.collect()]
        if bad_vals:
            raise ValueError(
                f"key values do not cast to {schema[cols[0]].dataType.simpleString()}: "
                f"{bad_vals}"
            )
        kdf = kdf.drop("__raw")
    else:
        kdf = keys
    cols = check
    kdf = kdf.select(*cols).distinct()
    # key the delete on FIELD IDS, not names: a later rename_column keeps
    # the delete applying to the same field, and a dropped-then-re-added
    # name (fresh id) is never mis-matched against the old delete's keys
    mf = table.manifest()
    ids = (mf.get("field_ids") or {}).get(str(mf["schema_id"])) or {
        f.name: i + 1 for i, f in enumerate(schema.fields)
    }
    col_ids = [ids[c] for c in cols]
    rel_dir = f"data/eqdeletes-{_uuid.uuid4().hex[:12]}"
    out_dir = os.path.join(table.path, rel_dir)
    kdf.coalesce(1).write.mode("overwrite").parquet(out_dir)
    import pyarrow.parquet as pq

    entry = None
    for name in os.listdir(out_dir):
        if not name.endswith(".parquet"):
            continue
        abs_p = os.path.join(out_dir, name)
        n = pq.ParquetFile(abs_p).metadata.num_rows
        if n:
            entry = {
                "path": f"{rel_dir}/{name}",
                "cols": list(cols),
                "col_ids": col_ids,
                "rows": n,
                "bytes": os.path.getsize(abs_p),
            }
    if entry is None:  # empty key set → metadata no-op
        import shutil as _shutil

        _shutil.rmtree(out_dir, ignore_errors=True)
        return {
            "version": table.current_version(),
            "keys": 0,
            "eq_delete_files": len(table.eq_delete_files()),
        }
    version = table.commit(
        [],
        operation="delete-equality",
        checkpoint_key=checkpoint_key,
        summary={"keys": entry["rows"], "eq_deletes_added": 1},
        eq_deletes_added=[entry],
    )
    return {
        "version": version,
        "keys": entry["rows"],
        "eq_delete_files": len(table.eq_delete_files()),
    }
