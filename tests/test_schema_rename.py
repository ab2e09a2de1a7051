"""Field-id schema evolution: metadata-only RENAME / DROP COLUMN.

Iceberg's rule set re-expressed over the manifest's field-id maps
(≡ the reference's catalog-diff handling of renamed source fields, which
otherwise degrade to drop+add and silently lose history):
- rename touches no file; old generations project to the new name by id,
- drop stops projecting; re-adding the same NAME later yields a fresh id,
  so the dropped column's old values never resurrect under it,
- time travel to a pre-rename snapshot shows the old name,
- legacy tables (manifests without field_ids) keep name-based alignment.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from airbyte_spark.lake.format import LakeTable, PartitionSpec


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value", "props"
    )


def test_rename_is_metadata_only_and_read_correct(spark, sf_dir, tmp_path):
    src = _events(spark, sf_dir)
    t = LakeTable.create(spark, str(tmp_path / "t"), src.schema, PartitionSpec())
    t.append(src.filter(F.col("event_id") % 2 == 0), checkpoint_key="b0")
    files_before = {e.path for e in t.files()}

    t.rename_column("value", "score")
    assert {e.path for e in t.files()} == files_before  # no rewrite
    assert "score" in t.schema().fieldNames() and "value" not in t.schema().fieldNames()

    # second batch written under the NEW schema
    t.append(
        src.filter(F.col("event_id") % 2 == 1).withColumnRenamed("value", "score"),
        checkpoint_key="b1",
    )
    got = t.read()
    assert got.count() == src.count()
    # old-generation rows project their value bytes under the new name
    # (approx: double sum order differs between the two plans)
    assert got.agg(F.sum("score")).first()[0] == pytest.approx(
        src.agg(F.sum("value")).first()[0]
    )


def test_rename_validations(spark, sf_dir, tmp_path):
    src = _events(spark, sf_dir)
    t = LakeTable.create(spark, str(tmp_path / "t"), src.schema, PartitionSpec())
    with pytest.raises(KeyError):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError):
        t.rename_column("value", "props")


def test_drop_then_readd_does_not_resurrect(spark, sf_dir, tmp_path):
    src = _events(spark, sf_dir)
    t = LakeTable.create(spark, str(tmp_path / "t"), src.schema, PartitionSpec())
    t.append(src.limit(100), checkpoint_key="b0")
    t.drop_column("props")
    assert "props" not in t.schema().fieldNames()
    assert t.read().columns == ["event_id", "event_type", "value"]

    # re-add the same NAME via normal evolution (a new batch carries it)
    t.evolve_schema(src.schema)
    t.append(src.limit(50), checkpoint_key="b1")
    got = t.read()
    # pre-drop generation must NOT leak its old props bytes into the new id
    old_gen = got.filter(F.col("props").isNotNull())
    assert old_gen.count() == 50  # only the post-readd batch has values


def test_time_travel_shows_old_name(spark, sf_dir, tmp_path):
    src = _events(spark, sf_dir)
    t = LakeTable.create(spark, str(tmp_path / "t"), src.schema, PartitionSpec())
    t.append(src.limit(10), checkpoint_key="b0")
    v0 = t.current_version()
    t.rename_column("value", "score")
    assert "value" in t.read(version=v0).columns
    assert "score" in t.read().columns


def test_rename_then_merge_batch_under_new_name(spark, sf_dir, tmp_path):
    """Widening after a rename keeps the id: value->score then a batch
    widening score's type must not fork a second column."""
    src = _events(spark, sf_dir)
    t = LakeTable.create(spark, str(tmp_path / "t"), src.schema, PartitionSpec())
    t.append(src.limit(20), checkpoint_key="b0")
    t.rename_column("event_type", "kind")
    t.append(
        src.limit(20).withColumnRenamed("event_type", "kind"), checkpoint_key="b1"
    )
    assert t.read().columns.count("kind") == 1
    assert t.read().filter(F.col("kind").isNull()).count() == 0


def test_legacy_manifest_without_field_ids_still_reads(spark, sf_dir, tmp_path):
    import json
    import os

    src = _events(spark, sf_dir)
    t = LakeTable.create(spark, str(tmp_path / "t"), src.schema, PartitionSpec())
    t.append(src.limit(30), checkpoint_key="b0")
    # simulate a pre-field-id manifest
    p = t._manifest_path(t.current_version())
    m = json.load(open(p))
    m.pop("field_ids", None)
    m.pop("last_field_id", None)
    os.remove(p)
    json.dump(m, open(p, "w"))
    assert t.read().count() == 30
    # evolution on a legacy table bootstraps ids without breaking reads
    t.evolve_schema(
        src.withColumn("extra", F.lit(1).cast("long")).schema
    )
    assert t.read().filter(F.col("extra").isNull()).count() == 30


def test_rename_on_legacy_manifest_keeps_values(spark, sf_dir, tmp_path):
    """A rename on a manifest without field ids must first store identity
    ids for the schema the existing files were written under; otherwise
    those files fall back to name alignment and the renamed column reads
    all-NULL."""
    import json
    import os

    src = _events(spark, sf_dir)
    t = LakeTable.create(spark, str(tmp_path / "t"), src.schema, PartitionSpec())
    t.append(src.limit(30), checkpoint_key="b0")
    p = t._manifest_path(t.current_version())
    with open(p) as fh:
        m = json.load(fh)
    m.pop("field_ids", None)
    os.remove(p)
    with open(p, "w") as fh:
        json.dump(m, fh)
    before = t.read().filter(F.col("value").isNotNull()).count()
    assert before == 30

    t.rename_column("value", "score")
    assert t.read().filter(F.col("score").isNotNull()).count() == before
