"""SnapshotTable reader contract: the latest committed snapshot is
resolved once per session, every commit publishes exactly one manifest,
and reading never creates directories."""

import json
import os

import pytest

from pikes_spark.operators.kgquery import query_snapshot
from pikes_spark.sources.tables import SnapshotTable

DDL = "subject string, predicate string, object string, object_is_literal boolean"
QUERY = "SELECT ?s ?o WHERE { ?s <p:v> ?o }"


def spo(out_root):
    return SnapshotTable(f"{out_root}/triples",
                         ["subject", "predicate", "object"], name="triples")


def rows(spark, *subjects):
    return spark.createDataFrame(
        [(s, "p:v", f"o{s}", True) for s in subjects], DDL)


def answer(spark, out_root):
    return sorted(r.s for r in query_snapshot(spark, out_root, QUERY).collect())


def jobs_launched(spark, fn, group):
    """(fn's result, ids of the Spark jobs fn launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_second_query_on_unchanged_store_launches_no_job(spark, tmp_path):
    out_root = str(tmp_path / "kg")
    spo(out_root).append(rows(spark, "a", "b"), spark)
    _, first = jobs_launched(spark, lambda: query_snapshot(spark, out_root, QUERY),
                             "snapshot_read_first")
    assert first, "the first read infers the parquet schema in a job"
    df, second = jobs_launched(spark, lambda: query_snapshot(spark, out_root, QUERY),
                               "snapshot_read_second")
    assert second == []
    assert sorted(r.s for r in df.collect()) == ["a", "b"]


def test_commits_are_visible_to_the_next_query(spark, tmp_path):
    out_root = str(tmp_path / "kg")
    table = spo(out_root)
    table.append(rows(spark, "a"), spark)
    assert answer(spark, out_root) == ["a"]
    table.append(rows(spark, "b"), spark)
    assert answer(spark, out_root) == ["a", "b"]
    table.overwrite(rows(spark, "c"), spark)
    assert answer(spark, out_root) == ["c"]
    # a re-read with merge_schema is its own entry, not the plain one
    assert table.read(spark, merge_schema=True) is not table.read(spark)


def test_each_session_gets_its_own_dataframe(spark, tmp_path):
    table = SnapshotTable(str(tmp_path / "t"), name="t")
    table.append(spark.createDataFrame([(1,)], "v int"), spark)
    assert table.read(spark) is table.read(spark)
    other = spark.newSession()
    df = table.read(other)
    assert df is not table.read(spark)
    assert df.sparkSession is other
    assert [r.v for r in df.collect()] == [1]


def test_time_travel_bypasses_the_cache(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), name="t")
    t.append(spark.createDataFrame([(1,)], "v int"), spark)             # seq 0
    t.overwrite(spark.createDataFrame([(2,), (3,)], "v int"), spark)    # seq 1
    assert sorted(r.v for r in t.read(spark).collect()) == [2, 3]
    t.append(spark.createDataFrame([(4,)], "v int"), spark)             # seq 2
    t.overwrite(spark.createDataFrame([(5,)], "v int"), spark)          # seq 3
    assert [r.v for r in t.read(spark).collect()] == [5]
    res = t.expire_snapshots(keep_last=3)  # drops seq 0 and its data dir
    assert res == {"expired_manifests": 1, "removed_data_dirs": 1, "kept": 3}
    assert sorted(r.v for r in t.read(spark, sequence=1).collect()) == [2, 3]
    assert sorted(r.v for r in t.read(spark, sequence=2).collect()) == [2, 3, 4]
    assert t.read(spark, sequence=0) is None
    assert [r.v for r in t.read(spark).collect()] == [5]


def test_overwrite_publishes_one_manifest_without_previous_dirs(
        spark, tmp_path, monkeypatch):
    t = SnapshotTable(str(tmp_path / "t"), name="t")
    t.append(spark.createDataFrame([(1,)], "v int"), spark)
    previous = set(t.latest_snapshot()["data_dirs"])
    published = []
    real_rename = os.rename

    def spy(src, dst):
        real_rename(src, dst)
        with open(dst) as fh:
            published.append(json.load(fh))

    monkeypatch.setattr(os, "rename", spy)
    m = t.overwrite(spark.createDataFrame([(2,)], "v int"), spark)
    monkeypatch.undo()
    assert len(published) == 1
    assert not previous & set(published[0]["data_dirs"])
    assert published[0] == m
    assert m["total_rows"] == m["added_rows"] == 1
    assert [r.v for r in t.read(spark).collect()] == [2]


def test_reading_a_missing_table_creates_nothing(spark, tmp_path):
    missing = tmp_path / "no_such_kg"
    with pytest.raises(ValueError, match="no committed triples snapshot"):
        query_snapshot(spark, str(missing), QUERY)
    assert not missing.exists()
    table = SnapshotTable(str(missing / "t"), name="t")
    assert table.latest_snapshot() is None
    assert not table.has_lineage("epoch", 0)
    assert table.read(spark) is None
    assert not missing.exists()


def test_concurrent_readers_and_committer(spark, tmp_path):
    """Readers racing a committer never get stale rows once the commit
    returned, and the entry left behind matches the latest snapshot."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    t = SnapshotTable(str(tmp_path / "t"), name="t")
    t.append(spark.createDataFrame([(0,)], "v int"), spark)

    def commit():
        for i in range(1, 4):
            t.append(spark.createDataFrame([(i,)], "v int"), spark)

    def read(_):
        return t.read(spark).count()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            committer = pool.submit(commit)
            counts = [f.result(timeout=300) for f in
                      [pool.submit(read, k) for k in range(24)]]
            committer.result(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert all(1 <= n <= 4 for n in counts)
    latest = t.read(spark)
    assert latest is t.read(spark)
    assert sorted(r.v for r in latest.collect()) == [0, 1, 2, 3]
