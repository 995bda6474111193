"""Reads take their schema from the snapshot manifests: the same rows
and columns as a ``mergeSchema`` scan of the same files, for current
and legacy (schema-less) manifests alike, without a footer-reading
Spark job."""

import json
import os

import pytest
from pyspark.sql import functions as F

from resume_parser_service_spark.pipeline.writer import SnapshotTable


def _rows(df):
    return sorted((r.asDict(recursive=True) for r in df.collect()), key=repr)


def _current(df, key="url"):
    """read_current's rule, written out over a reference frame."""
    rest = [c for c in df.columns if c != key]
    return (df.groupBy(key)
            .agg(F.max_by(F.struct(*rest), "_snapshot_id").alias("_row"))
            .select(key, "_row.*")
            .filter(~F.col("_deleted")).drop("_deleted"))


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """Snapshots that add columns over time (incl. a nested one), a
    tombstone, and one legacy manifest whose ``schema`` key is gone."""
    root = str(tmp_path_factory.mktemp("mschema") / "t")
    tbl = SnapshotTable(root)
    tbl.commit(spark.createDataFrame([("a", 1), ("b", 2)],
                                     "url string, v int"))
    tbl.commit(spark.createDataFrame([("b", 3, "x"), ("c", 4, "y")],
                                     "url string, v int, w string"))
    tbl.commit(spark.createDataFrame(
        [("c", 5, "z", [1.0, 2.0], ("p", 7))],
        "url string, v int, w string, vec array<float>, "
        "s struct<k: string, n: long>"))
    tbl.delete_keys(spark, ["a"])
    snaps = tbl.snapshots()
    assert len(snaps) == 4 and all("schema" in s for s in snaps)
    legacy = os.path.join(tbl.snap_dir, "000002.json")
    with open(legacy) as fh:
        manifest = json.load(fh)
    del manifest["schema"]
    with open(legacy, "w") as fh:
        json.dump(manifest, fh)
    paths = [os.path.join(root, s["path"]) for s in tbl.live_snapshots()]
    ref = spark.read.option("mergeSchema", "true").parquet(*paths)
    return tbl, ref


def test_read_matches_merge_schema(spark, table):
    tbl, ref = table
    got = tbl.read(spark)
    assert got.schema == ref.schema
    assert _rows(got) == _rows(ref)


def test_read_current_matches_merge_schema(spark, table):
    tbl, ref = table
    got = tbl.read_current(spark)
    assert got.columns == _current(ref).columns
    assert _rows(got) == _rows(_current(ref))


@pytest.mark.parametrize("key", ["a", "b", "c", "absent"])
def test_point_lookup_matches_merge_schema(spark, table, key):
    """Against a mergeSchema scan of the files the manifest stats keep
    for the key (the lookup's columns are those files' columns)."""
    tbl, _ref = table
    got = tbl.point_lookup(spark, key)
    if key in ("a", "absent"):  # tombstoned / never written
        assert got.collect() == []
        return
    ref = spark.read.option("mergeSchema", "true") \
        .parquet(*tbl.prune_files(key_eq=key))
    want = _current(ref).filter(F.col("url") == key)
    assert got.columns == want.columns
    assert [f.dataType for f in got.schema] == \
        [f.dataType for f in want.schema]
    assert _rows(got) == _rows(want)


def test_building_reads_starts_no_job(spark, table):
    tbl, _ref = table
    sc = spark.sparkContext
    group = "manifest-schema-read"
    sc.setJobGroup(group, group)
    try:
        tbl.read(spark)
        tbl.read_current(spark)
        tbl.read(spark, version=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_type_conflict_raises(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(spark.createDataFrame([("a", 1)], "url string, v int"))
    tbl.commit(spark.createDataFrame([("b", "x")], "url string, v string"))
    with pytest.raises(ValueError, match="incompatible column types"):
        tbl.read(spark)
