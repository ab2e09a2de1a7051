"""Row-level change feed between two table versions (≡ Delta Lake's Change
Data Feed / Iceberg's changelog scan): what lets a DOWNSTREAM consumer —
an incremental materialized view, a search indexer, a second lake — tail a
merged upsert table without rescanning it.

Parity: the reference's consumers see row-level change events only on the
way IN (Debezium envelopes, airbyte_protocol RECORD messages); once a
destination table is written, re-deriving "what changed since sync N" means
a full re-read. Lakehouse engines solved this with CDF; re-expressed
Spark-first here on top of LakeTable's versioned manifests:

- PLANNING is a manifest set-difference on the driver (zero data I/O):
  only files REMOVED since v_from and files ADDED since v_from can contain
  changed rows — a row in a file live at both versions is byte-identical
  at both versions. At 100 TB a small merge touches a handful of bucket
  files; the diff reads exactly those, never the table.
- The old/new row sets are compared with ONE full-outer join on the
  primary key (both sides carry the table's bucket layout, so the shuffle
  is the minimal co-location shuffle), then classified into the standard
  CDF change types: insert / update_preimage / update_postimage / delete.
- Copy-on-write merges CARRY OVER unchanged rows into rewritten files;
  those surface in both diffed sides with identical values and are dropped
  (a no-op is not a change). Comparison uses null-safe equality so a
  column going NULL→value or value→NULL is an update.

Semantics note: 'delete' means the row is PHYSICALLY absent at v_to
(expire_tombstones, DELETE WHERE, rollback). A CDC soft-delete lands as an
update whose post-image has _ab_cdc_deleted_at set — visibility is the
consumer's filter, exactly as in final_state().
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from airbyte_spark.lake import format as _fmt
from airbyte_spark.lake.format import LakeTable, empty_frame, scan_files

CHANGE_TYPE_COL = "_change_type"


def _gated_broadcast(df: DataFrame, rows: int) -> DataFrame:
    """Broadcast only when the sidecars' manifest-recorded row counts say
    the frame is small (metadata-only decision — no job). A bulk GDPR
    purge or bad-batch delete writes sidecars with millions of rows; a
    forced broadcast of those OOMs the driver at 100 TB. Past the gate the
    frame is left un-hinted so AQE picks a size-based join — the same
    policy as format.py's read path (BROADCAST_DELETE_ROWS_MAX; the
    constant is read through the module so one monkeypatch covers both)."""
    return F.broadcast(df) if rows <= _fmt.BROADCAST_DELETE_ROWS_MAX else df


def row_changes(
    table: LakeTable,
    v_from: int,
    v_to: int | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff of table@v_from → table@v_to keyed on key_cols.

    Returns the table's columns plus `_change_type` ∈
    {'insert', 'update_preimage', 'update_postimage', 'delete'}.
    Rows carried over unchanged by copy-on-write rewrites are excluded.

    key_cols defaults to the table's recorded merge key
    (properties()['bloom.key']) when present.
    """
    if key_cols is None:
        key = table.properties().get("bloom.key")
        if not key:
            raise ValueError("key_cols required: table records no merge key")
        key_cols = [key]

    v_to = v_to if v_to is not None else table.current_version() or 0
    old_entries = {e.path: e for e in table.files(v_from)} if v_from else {}
    new_entries = {e.path: e for e in table.files(v_to)}
    removed = [e for p, e in old_entries.items() if p not in new_entries]
    added = [e for p, e in new_entries.items() if p not in old_entries]

    # Position-delete sidecars change rows WITHOUT changing the data-file
    # set: a sidecar added between the versions deletes rows from files
    # live at both (and one dropped without a rewrite — rollback —
    # resurrects them). Those rows ride the file diff for targets in
    # removed/added; for both-live targets they are materialized below by
    # a semi-join of the target files' positional read against the
    # differing sidecars.
    old_dv = {d["path"]: d for d in table.delete_files(v_from)} if v_from else {}
    new_dv = {d["path"]: d for d in table.delete_files(v_to)}
    dv_added = [d for p, d in new_dv.items() if p not in old_dv]
    dv_dropped = [d for p, d in old_dv.items() if p not in new_dv]

    def _both_live_targets(dvs):
        return sorted(
            {
                t
                for d in dvs
                for t in d["targets"]
                if t in old_entries and t in new_entries
            }
        )

    schema = table.schema(v_to)
    data_cols = [f.name for f in schema.fields]
    spark = table.spark

    def _dv_rows(dvs, at_version, entry_map, ctype):
        targets = _both_live_targets(dvs)
        if not targets:
            return None
        import os as _os

        import pyspark.sql.functions as _F

        pre = table.read(
            at_version, files=[entry_map[t] for t in targets], with_positions=True
        )
        dmap = scan_files(
            spark,
            [_os.path.join(table.path, d["path"]) for d in dvs],
            "file string, pos long",
        ).toDF("__dv_anti_file", "__dv_anti_pos")
        cond = (_F.col("_dv_file") == _F.col("__dv_anti_file")) & (
            _F.col("_dv_pos") == _F.col("__dv_anti_pos")
        )
        rows = pre.join(
            _gated_broadcast(dmap, sum((d.get("rows") or 0) for d in dvs)),
            cond,
            "left_semi",
        )
        return rows.select(
            *[
                (
                    _F.col(c)
                    if c in rows.columns
                    else _F.lit(None).cast(schema[c].dataType)
                ).alias(c)
                for c in data_cols
            ],
            _F.lit(ctype).alias(CHANGE_TYPE_COL),
        )

    # rows deleted by new sidecars: present at v_from (post v_from's own
    # sidecars), absent at v_to
    dv_delete_rows = _dv_rows(dv_added, v_from, old_entries, "delete")
    # rows resurrected by dropped sidecars (rollback): present at v_to
    dv_insert_rows = _dv_rows(dv_dropped, v_to, new_entries, "insert")

    # Equality deletes likewise change rows without changing the data-file
    # set: a key sidecar added between the versions deletes matching rows
    # from every both-live file that PREDATES it (strictly-lower data
    # sequence); one dropped without its predating files being rewritten
    # (rollback) resurrects them. Materialized by a key semi-join of the
    # predating files' read at the relevant version.
    old_eq = {d["path"]: d for d in table.eq_delete_files(v_from)} if v_from else {}
    new_eq = {d["path"]: d for d in table.eq_delete_files(v_to)}
    eq_added = [d for p, d in new_eq.items() if p not in old_eq]
    eq_dropped = [d for p, d in old_eq.items() if p not in new_eq]

    def _eq_rows(dlist, at_version, entry_map, other_entries, ctype, dv_overlap):
        if not dlist:
            return None
        import os as _os

        import pyspark.sql.functions as _F

        m_at = table.manifest(at_version)
        tids = (m_at.get("field_ids") or {}).get(str(m_at["schema_id"]))
        # A row of a both-live file can be covered by BOTH a positional
        # sidecar and an equality delete that differ between the versions
        # (each built against v_from without knowledge of the other).
        # _dv_rows already materializes it, so exclude those (file, pos)
        # pairs here or the change feed would emit the event twice.
        anti = None
        if dv_overlap:
            anti = scan_files(
                spark,
                [_os.path.join(table.path, d["path"]) for d in dv_overlap],
                "file string, pos long",
            ).toDF("__dv_anti_file", "__dv_anti_pos")
        outs = None
        for d in dlist:
            files = [
                e
                for p, e in entry_map.items()
                if p in other_entries and (e.seq or 0) < d["seq"]
            ]
            if not files:
                continue
            if d.get("col_ids") and tids:
                by_fid = {v: k for k, v in tids.items()}
                names = [by_fid.get(i) for i in d["col_ids"]]
                if any(n is None for n in names):
                    continue  # key column dropped → the delete never applied
            else:
                names = list(d["cols"])
            pre = table.read(at_version, files=files, with_positions=anti is not None)
            if anti is not None:
                pre = pre.join(
                    _gated_broadcast(
                        anti, sum((x.get("rows") or 0) for x in dv_overlap)
                    ),
                    (_F.col("_dv_file") == _F.col("__dv_anti_file"))
                    & (_F.col("_dv_pos") == _F.col("__dv_anti_pos")),
                    "left_anti",
                )
            kdf = scan_files(spark, [_os.path.join(table.path, d["path"])]).select(
                *[
                    _F.col(stored).alias(f"__eq_{cur}")
                    for stored, cur in zip(d["cols"], names)
                ]
            )
            cond = None
            for cur in names:
                e_ = _F.col(cur).eqNullSafe(_F.col(f"__eq_{cur}"))
                cond = e_ if cond is None else cond & e_
            rows = pre.join(
                _gated_broadcast(kdf, d.get("rows") or 0), cond, "left_semi"
            ).select(
                *[
                    (
                        _F.col(c)
                        if c in pre.columns
                        else _F.lit(None).cast(schema[c].dataType)
                    ).alias(c)
                    for c in data_cols
                ],
                _F.lit(ctype).alias(CHANGE_TYPE_COL),
            )
            outs = rows if outs is None else outs.unionByName(rows)
        return outs

    eq_delete_rows = _eq_rows(
        eq_added, v_from, old_entries, new_entries, "delete", dv_added
    )
    eq_insert_rows = _eq_rows(
        eq_dropped, v_to, new_entries, old_entries, "insert", dv_dropped
    )

    def _with_dv(df: DataFrame) -> DataFrame:
        for extra in (dv_delete_rows, dv_insert_rows, eq_delete_rows, eq_insert_rows):
            if extra is not None:
                df = df.unionByName(extra)
        return df

    if not removed and not added:
        empty = empty_frame(spark, schema)
        return _with_dv(empty.withColumn(CHANGE_TYPE_COL, F.lit("")))

    old = table.read(v_from, files=removed) if removed else empty_frame(spark, schema)
    new = table.read(v_to, files=added) if added else empty_frame(spark, schema)

    # schema may have evolved between versions; align by name, NULL-fill
    old = old.select(
        *[
            F.col(c).alias(c) if c in old.columns else F.lit(None).cast(schema[c].dataType).alias(c)
            for c in data_cols
        ]
    )

    # presence is decided by a join-side sentinel (never by key
    # nullability — a present row with a NULL key column must not read
    # as absent under a full-outer join)
    o = old.select(
        *[F.col(c).alias(f"_o_{c}") for c in data_cols],
        F.lit(True).alias("_o_present"),
    )
    n = new.select(
        *[F.col(c).alias(f"_n_{c}") for c in data_cols],
        F.lit(True).alias("_n_present"),
    )
    cond = None
    for k in key_cols:
        eq = F.col(f"_o_{k}").eqNullSafe(F.col(f"_n_{k}"))
        cond = eq if cond is None else cond & eq
    j = o.join(n, cond, "full_outer")
    o_present = F.col("_o_present").isNotNull()
    n_present = F.col("_n_present").isNotNull()

    same = None
    for c in data_cols:
        eq = F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
        same = eq if same is None else same & eq

    # ONE pass over the join: each row conditionally yields 0 (carried
    # over unchanged), 1 (insert/delete), or 2 (update pre+post) change
    # images — a union-of-filters would rescan the diffed files per branch
    def img(side: str, ctype: str) -> Column:
        return F.struct(
            *[F.col(f"_{side}_{c}").alias(c) for c in data_cols],
            F.lit(ctype).alias(CHANGE_TYPE_COL),
        )

    images = (
        F.when(~o_present & n_present, F.array(img("n", "insert")))
        .when(o_present & ~n_present, F.array(img("o", "delete")))
        .when(
            o_present & n_present & ~same,
            F.array(img("o", "update_preimage"), img("n", "update_postimage")),
        )
        .otherwise(F.slice(F.array(img("o", "")), 1, 0))
    )
    ex = j.select(F.explode(images).alias("_img"))
    return _with_dv(
        ex.select(
            *[F.col(f"_img.{c}").alias(c) for c in data_cols],
            F.col(f"_img.{CHANGE_TYPE_COL}").alias(CHANGE_TYPE_COL),
        )
    )
