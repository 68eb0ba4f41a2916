"""Merge-on-read (positional delete vector) deletes: no data-file
rewrites; reads anti-join active vectors; CoW rewrites/compaction retire
them. Beyond the reference (CoW-only); Iceberg-v2-style semantics."""

import pytest
from pyspark.sql import functions as F

from space_spark import Dataset, field, lit
from space_spark.errors import PrimaryKeyExistError


@pytest.fixture()
def table(spark, tmp_location):
    df = spark.range(100).coalesce(2).select(
        F.col("id"), (F.col("id") % 10).alias("v")
    )
    ds = Dataset.create(spark, tmp_location, df.schema, ["id"])
    ds.append(df)
    return ds


def test_mor_delete_reads_masked_without_rewrite(table):
    ds = table
    files_before = sorted(ds.data_files())
    ds.delete(field("id") < lit(10), rewrite=False)
    assert sorted(ds.data_files()) == files_before  # no rewrite
    got = sorted(r["id"] for r in ds.read().collect())
    assert got == list(range(10, 100))
    snap = ds.metadata.snapshot(ds.current_snapshot_id)
    assert snap.delete_vector_files
    assert snap.num_rows == 90


def test_mor_time_travel_and_append(table):
    ds = table
    v0 = ds.current_snapshot_id
    ds.delete(field("id") < lit(10), rewrite=False)
    assert ds.read(version=v0).count() == 100  # history unmasked
    extra = ds.spark.range(100, 110).select(
        F.col("id"), (F.col("id") % 10).alias("v")
    )
    ds.append(extra)
    got = sorted(r["id"] for r in ds.read().collect())
    assert got == list(range(10, 110))  # mask carried, new rows visible


def test_mor_accumulates_and_filters_push(table):
    ds = table
    ds.delete(field("id") == lit(50), rewrite=False)
    ds.delete(field("id") == lit(60), rewrite=False)
    snap = ds.metadata.snapshot(ds.current_snapshot_id)
    assert len(snap.delete_vector_files) == 2
    assert ds.read().count() == 98
    assert ds.read(field("v") == lit(0)).count() == 10 - 2  # 50,60 masked


def test_mor_then_cow_delete_retires_vectors(table):
    ds = table
    ds.delete(field("id") < lit(10), rewrite=False)
    # CoW delete hitting the SAME (vectored) file: the rewrite applies
    # the vector (masked rows stay gone) and retires its entry.
    ds.delete((field("id") >= lit(10)) & (field("id") < lit(20)))
    snap = ds.metadata.snapshot(ds.current_snapshot_id)
    assert snap.delete_vector_files == []  # the covered file was rewritten
    got = sorted(r["id"] for r in ds.read().collect())
    assert got == list(range(20, 100))
    assert snap.num_rows == 80


def test_mor_vector_survives_unrelated_cow_delete(table):
    ds = table
    ds.delete(field("id") < lit(10), rewrite=False)
    # CoW delete pruned to the OTHER file: the vector must survive.
    ds.delete(field("id") >= lit(90))
    snap = ds.metadata.snapshot(ds.current_snapshot_id)
    assert len(snap.delete_vector_files) == 1
    got = sorted(r["id"] for r in ds.read().collect())
    assert got == list(range(10, 90))
    assert snap.num_rows == 80


def test_mor_then_compact_applies_vectors(table):
    ds = table
    ds.delete(field("id") < lit(10), rewrite=False)
    ds.compact(target_bytes=256 * 1024 * 1024)
    snap = ds.metadata.snapshot(ds.current_snapshot_id)
    assert snap.delete_vector_files == []
    got = sorted(r["id"] for r in ds.read().collect())
    assert got == list(range(10, 100))
    assert snap.num_rows == 90
    # compaction is changelog-silent: diff across it is empty
    assert snap.deleted_pks_file is None and snap.added_files == []


def test_mor_upsert_and_insert_of_masked_pk(table):
    ds = table
    ds.delete(field("id") == lit(5), rewrite=False)
    # insert of a masked PK succeeds (the row is logically gone)
    ds.insert(ds.spark.createDataFrame([(5, 999)], "id long, v long"))
    got = {r["id"]: r["v"] for r in ds.read().collect()}
    assert got[5] == 999
    assert len(got) == 100
    # and a duplicate insert of a LIVE pk still fails
    with pytest.raises(PrimaryKeyExistError):
        ds.insert(ds.spark.createDataFrame([(6, 1)], "id long, v long"))


def test_mor_diff_emits_delete_rows(table):
    ds = table
    v0 = ds.current_snapshot_id
    ds.delete(field("id") < lit(3), rewrite=False)
    d = ds.diff(v0, ds.current_snapshot_id)
    dels = sorted(
        r["id"] for r in d.where("_change_type = 'DELETE'").collect()
    )
    assert dels == [0, 1, 2]
    assert d.where("_change_type = 'ADD'").count() == 0


def test_diff_plans_without_spark_jobs(spark, table):
    """Building a change feed over an upsert and a merge-on-read delete
    submits no Spark job: the delete streams are read with the schema
    they were written with, so there is no footer-inference job."""
    ds = table
    v0 = ds.current_snapshot_id
    ds.upsert(spark.createDataFrame([(5, 55), (200, 0)], "id long, v long"))
    ds.delete(field("id") < lit(3), rewrite=False)
    v2 = ds.current_snapshot_id
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    before = len(list(tracker.getJobIdsForGroup(None)))
    d = ds.diff(v0, v2)
    assert len(list(tracker.getJobIdsForGroup(None))) == before
    rows = d.collect()
    assert sorted(r["id"] for r in rows
                  if r["_change_type"] == "DELETE") == [0, 1, 2, 5]
    assert sorted((r["id"], r["v"]) for r in rows
                  if r["_change_type"] == "ADD") == [(5, 55), (200, 0)]


def test_mor_read_by_keys_masked(table):
    ds = table
    ds.delete(field("id") == lit(7), rewrite=False)
    assert ds.read_by_keys([7]).count() == 0
    assert ds.read_by_keys([8]).count() == 1


def test_mor_datasource_read_masked(spark, table):
    from space_spark.sources.datasource import register_space_source

    ds = table
    register_space_source(spark)
    ds.delete(field("id") < lit(10), rewrite=False)
    got = spark.read.format("space").load(ds.location)
    assert got.count() == 90
    assert sorted(r["id"] for r in got.collect()) == list(range(10, 100))
    # filtered+projected read still masked (arrow filter deferred to Spark)
    assert got.where("id < 20").count() == 10


def test_mor_vacuum_keeps_vectors(table):
    ds = table
    ds.delete(field("id") == lit(1), rewrite=False)
    snap = ds.metadata.snapshot(ds.current_snapshot_id)
    removed = ds.vacuum(dry_run=True)
    for rel in snap.delete_vector_files:
        assert rel not in removed


def test_mor_drives_mv_refresh(spark, tmp_location, table):
    """A merge-on-read delete emits the same PK-only DELETE stream as
    CoW, so incremental MV refresh applies it unchanged."""
    ds = table

    def ident(batch):
        return {"id": batch["id"], "v": batch["v"]}

    from pyspark.sql import types as T

    view = ds.map_batches(
        ident,
        T.StructType([T.StructField("id", T.LongType()),
                      T.StructField("v", T.LongType())]),
    )
    mv = view.materialize(spark, tmp_location + "_mv")
    mv.refresh()
    assert mv.read().count() == 100
    ds.delete(field("id") < lit(10), rewrite=False)
    mv.refresh()
    assert sorted(r["id"] for r in mv.read().collect()) == list(
        range(10, 100)
    )


def test_mor_with_schema_evolution(table):
    ds = table
    from pyspark.sql import types as T

    ds.delete(field("id") < lit(10), rewrite=False)
    ds.add_column("extra", T.StringType())
    got = ds.read()
    assert got.count() == 90
    assert got.where("extra IS NULL").count() == 90


def test_mor_empty_prune_read_returns_empty(table):
    """ADVICE r3 (medium): a filter whose pruning yields ZERO files on a
    snapshot with active delete vectors must return an empty DataFrame,
    not crash in _apply_vectors (no _metadata column on a local
    relation)."""
    ds = table
    ds.delete(field("id") < lit(10), rewrite=False)
    # id stats span [0, 99]; 1000 is outside every file's range -> no files.
    out = ds.read(field("id") > lit(1000))
    assert out.count() == 0
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in ds.read().schema
    ]


def test_read_row_range_masks_mor_deletes(table):
    """ADVICE r3: read_row_range applies active delete vectors, matching
    read()/read_files()/DataSource (positions stay physical)."""
    ds = table
    f = sorted(ds.data_files())[0]
    before = sorted(r["id"] for r in
                    ds.read_row_range(f, 0, 20).collect())
    victim = before[0]
    ds.delete(field("id") == lit(victim), rewrite=False)
    after = sorted(r["id"] for r in
                   ds.read_row_range(f, 0, 20).collect())
    assert victim not in after
    assert after == [x for x in before if x != victim]


def test_trickle_mor_deletes_fold_sidecars(spark, tmp_location):
    """50 trickle MoR deletes leave <= 2 live sidecar files (auto-fold at
    DELETE_VECTOR_FOLD_MAX), the read stays exact, and history keeps its
    own sidecar lists."""
    df = spark.range(200).coalesce(2).select(
        F.col("id"), (F.col("id") % 10).alias("v")
    )
    ds = Dataset.create(spark, tmp_location, df.schema, ["id"])
    ds.append(df)
    for i in range(50):
        ds.delete(field("id") == lit(i), rewrite=False)
    snap = ds.metadata.snapshot(ds.current_snapshot_id)
    assert len(snap.delete_vector_files) <= 2
    got = sorted(r["id"] for r in ds.read().collect())
    assert got == list(range(50, 200))
    assert snap.num_rows == 150
    # A mid-history version still masks exactly its own prefix.
    versions = sorted(
        r["snapshot_id"] for r in ds.versions().collect()
    )
    mid = versions[len(versions) // 2]
    n_mid = ds.read(version=mid).count()
    assert 150 <= n_mid <= 200


def test_compact_delete_vectors_explicit(spark, tmp_location):
    df = spark.range(100).coalesce(2).select(
        F.col("id"), (F.col("id") % 10).alias("v")
    )
    ds = Dataset.create(spark, tmp_location, df.schema, ["id"])
    ds.append(df)
    for i in range(5):
        ds.delete(field("id") == lit(i), rewrite=False)
    snap = ds.metadata.snapshot(ds.current_snapshot_id)
    assert len(snap.delete_vector_files) == 5
    before = sorted(r["id"] for r in ds.read().collect())
    ds.compact_delete_vectors()
    snap2 = ds.metadata.snapshot(ds.current_snapshot_id)
    assert len(snap2.delete_vector_files) == 1
    assert snap2.num_rows == snap.num_rows
    # No changelog entries: folding is invisible to diff().
    assert ds.diff(snap.snapshot_id, snap2.snapshot_id).count() == 0
    after = sorted(r["id"] for r in ds.read().collect())
    assert after == before
    # Idempotent no-op at <=1 sidecar.
    v = ds.current_snapshot_id
    ds.compact_delete_vectors()
    assert ds.current_snapshot_id == v


def test_fold_then_cow_rewrite_retires(spark, tmp_location):
    """A CoW delete after folding still applies + retires the folded
    vector's entries for rewritten files."""
    df = spark.range(100).coalesce(2).select(
        F.col("id"), (F.col("id") % 10).alias("v")
    )
    ds = Dataset.create(spark, tmp_location, df.schema, ["id"])
    ds.append(df)
    for i in range(12):  # crosses DELETE_VECTOR_FOLD_MAX -> folds once
        ds.delete(field("id") == lit(i), rewrite=False)
    snap = ds.metadata.snapshot(ds.current_snapshot_id)
    # Fold fired at delete 9 (9 > 8 -> 1 sidecar), regrew by 3 since.
    assert len(snap.delete_vector_files) == 4
    assert len(snap.delete_vector_files) <= Dataset.DELETE_VECTOR_FOLD_MAX
    ds.delete((field("id") >= lit(12)) & (field("id") < lit(20)))  # CoW
    got = sorted(r["id"] for r in ds.read().collect())
    assert got == list(range(20, 100))
