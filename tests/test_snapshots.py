"""Snapshot metadata layer over the triple sink (pipeline/snapshots).

Exercises the Iceberg-style guarantees the module claims: snapshot
isolation (a reader pinned to snapshot N never sees a later append),
time travel by timestamp, replace commits (compaction), retention
(expire + orphan removal), crashed-writer invisibility, and the
optimistic-concurrency retry.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from neleval_spark.pipeline.snapshots import (
    commit_snapshot, current_snapshot, expire_snapshots,
    merge_commit, read_snapshot, remove_orphan_files, rollback,
    snapshots)
from neleval_spark.pipeline.kg import aggregate_kg
from neleval_spark.pipeline.triples import write_triples


def _mk_triples(spark, lo, hi, part_mod=4):
    return (spark.range(lo, hi)
            .select(F.col("id").alias("subj"),
                    F.lit("p").alias("pred"),
                    F.concat(F.lit("o"), F.col("id")).alias("obj"),
                    (F.col("id") % part_mod).cast("int").alias("part_id")))


@pytest.fixture()
def sink(spark, tmp_path):
    out = str(tmp_path / "sink")
    write_triples(_mk_triples(spark, 0, 40), out, run_id="r1")
    s1 = commit_snapshot(out, run_id="r1", timestamp=100.0)
    write_triples(_mk_triples(spark, 40, 100), out, run_id="r2")
    s2 = commit_snapshot(out, run_id="r2", timestamp=200.0)
    return out, s1, s2


def test_commit_and_current(sink):
    out, s1, s2 = sink
    assert (s1["seq"], s1["parent"]) == (1, None)
    assert (s2["seq"], s2["parent"]) == (2, 1)
    assert s2["added"] and not s2["removed"]
    # second commit's added files are the delta, not the full listing
    assert not set(s1["added"]) & set(s2["added"])
    assert current_snapshot(out)["seq"] == 2
    assert [s["seq"] for s in snapshots(out)] == [1, 2]


def test_snapshot_isolation_and_time_travel(spark, sink):
    out, s1, s2 = sink
    # pinned reader: snapshot 1 sees only the first batch even though
    # the live directory now holds both
    assert read_snapshot(spark, out, snapshot_id=1).count() == 40
    assert read_snapshot(spark, out).count() == 100
    # time travel by timestamp
    assert read_snapshot(spark, out, as_of_ts=150.0).count() == 40
    assert read_snapshot(spark, out, as_of_ts=200.0).count() == 100
    with pytest.raises(ValueError, match="no snapshot at or before"):
        read_snapshot(spark, out, as_of_ts=50.0)
    with pytest.raises(ValueError, match="not both"):
        read_snapshot(spark, out, snapshot_id=1, as_of_ts=150.0)
    # partition columns survive the explicit-file scan (basePath)
    assert "part_id" in read_snapshot(spark, out, snapshot_id=1).columns


def test_uncommitted_write_is_invisible(spark, sink):
    """Iceberg orphan semantics: a write whose commit never ran (a
    crashed writer) is invisible to every snapshot reader."""
    out, _s1, _s2 = sink
    write_triples(_mk_triples(spark, 100, 130), out,
                  run_id="crashed")  # no commit_snapshot
    assert read_snapshot(spark, out).count() == 100
    # the next proper commit adopts the stray files (they are live
    # data not referenced by the parent chain)
    s3 = commit_snapshot(out, run_id="r3", timestamp=300.0)
    assert read_snapshot(spark, out, snapshot_id=s3["seq"]).count() == 130


def test_replace_commit_compaction(spark, sink):
    """A rewrite (compaction) commit: the new listing REPLACES the
    parent set; the pre-compact snapshot still resolves until expired."""
    out, _s1, _s2 = sink
    df = read_snapshot(spark, out)
    rewritten = df.repartition(1)
    data = os.path.join(out, "triples")
    # rewrite in place the way compact_triples stages+swaps: here we
    # just overwrite the data dir with one file per partition value
    rewritten.write.mode("overwrite").partitionBy("part_id") \
        .parquet(data)
    s3 = commit_snapshot(out, operation="replace", run_id="compact",
                         timestamp=300.0)
    assert s3["operation"] == "replace"
    assert sorted(s3["removed"]) == sorted(
        set(_files_of(out, 1)) | set(_files_of(out, 2)))
    assert read_snapshot(spark, out).count() == 100
    # chain resolution stops at the replace: only its own files
    assert set(_resolve(out, 3)) == set(s3["added"])


def _files_of(out, seq):
    with open(os.path.join(out, "metadata",
                           f"snapshot-{seq}.json")) as f:
        return json.load(f)["added"]


def _resolve(out, seq):
    from neleval_spark.pipeline.snapshots import _resolve_files
    return _resolve_files(out, seq)


def test_expire_and_orphans(spark, sink):
    out, _s1, _s2 = sink
    expired = expire_snapshots(out, keep_last=1)
    assert expired == [1]
    # survivor is re-rooted with its cumulative file set
    live = snapshots(out)
    assert len(live) == 1 and live[0]["parent"] is None
    assert read_snapshot(spark, out).count() == 100
    with pytest.raises(ValueError, match="expired or unknown"):
        read_snapshot(spark, out, snapshot_id=1)
    # orphan removal: nothing is orphaned yet (snapshot 2 is
    # cumulative), so zero deletions even with no grace period
    assert remove_orphan_files(out, older_than_s=0) == []


def test_orphan_removal_after_replace(spark, sink):
    """Iceberg-shaped compaction: the rewriter writes NEW files beside
    the old ones and the replace commit re-points via an explicit
    `added` list — old files stay on disk, unreferenced, until
    expire + orphan cleanup."""
    out, _s1, _s2 = sink
    from neleval_spark.pipeline.snapshots import _list_data_files
    before = set(_list_data_files(out))
    write_triples(read_snapshot(spark, out).repartition(1), out,
                  run_id="compact")
    new = sorted(set(_list_data_files(out)) - before)
    assert new
    s3 = commit_snapshot(out, operation="replace", added=new,
                         timestamp=300.0)
    # removed = the parent chain's files this rewrite superseded
    assert sorted(s3["removed"]) == sorted(
        set(_files_of(out, 1)) | set(_files_of(out, 2)))
    assert read_snapshot(spark, out).count() == 100
    expire_snapshots(out, keep_last=1)
    # pre-compact files are now unreferenced; grace period respected
    assert remove_orphan_files(out, older_than_s=10**6) == []
    deleted = remove_orphan_files(out, older_than_s=0)
    assert deleted
    assert read_snapshot(spark, out).count() == 100
    # every remaining data file is referenced
    assert remove_orphan_files(out, older_than_s=0) == []


def test_optimistic_concurrency_retry(spark, sink):
    """A contended sequence number is retried, and a slow loser never
    moves the pointer backwards over a winner's commit."""
    out, _s1, _s2 = sink
    # another writer already took seq 3 AND seq 4's pointer position
    with open(os.path.join(out, "metadata", "snapshot-3.json"),
              "x") as f:
        json.dump({"seq": 3, "parent": 2, "run_id": "other",
                   "operation": "append", "ts": 250.0,
                   "added": [], "removed": []}, f)
    s = commit_snapshot(out, run_id="retry", timestamp=300.0)
    assert s["seq"] == 4 and s["parent"] == 2
    assert current_snapshot(out)["seq"] == 4


def test_rollback(spark, sink):
    """Rollback restores an earlier table state; the abandoned
    snapshot becomes divergent history that expire + orphan cleanup
    reclaims, and later commits never re-adopt its files."""
    out, _s1, _s2 = sink
    assert rollback(out, 1)["seq"] == 1
    assert current_snapshot(out)["seq"] == 1
    assert read_snapshot(spark, out).count() == 40
    # snapshot 2 stays on disk as divergent history
    assert [s["seq"] for s in snapshots(out)] == [1, 2]
    # next commit chains from the restored snapshot; the rolled-back
    # files are still referenced by live metadata, so the auto-added
    # default does not adopt them
    s3 = commit_snapshot(out, run_id="r3", timestamp=300.0)
    assert (s3["parent"], s3["added"]) == (1, [])
    assert read_snapshot(spark, out).count() == 40
    # expiring the divergent branch frees its files for orphan cleanup
    expire_snapshots(out, keep_last=1)
    assert remove_orphan_files(out, older_than_s=0)
    assert read_snapshot(spark, out).count() == 40
    with pytest.raises(ValueError, match="expired or unknown"):
        rollback(out, 99)


def _witness(spark, rows):
    """(subj, pred, obj, url) witness rows from (subj, obj, url)."""
    return spark.createDataFrame(
        [(s, "cooccurs_with", o, u) for s, o, u in rows],
        "subj string, pred string, obj string, url string")


def test_merge_commit(spark, tmp_path):
    """Copy-on-write MERGE of crawl generations: each merge commits a
    replace snapshot; pinned readers keep the old generation;
    replaced counts follow merge_kg semantics; expire + orphan
    reclaims superseded generations; out-of-order merges are
    refused."""
    out = str(tmp_path / "kg")
    g1 = aggregate_kg(_witness(spark, [
        ("a", "b", "u1"), ("a", "b", "u2"), ("c", "d", "u1")]), 1)
    s1 = merge_commit(spark, out, g1, generation=1, timestamp=100.0)
    assert (s1["seq"], s1["operation"]) == (1, "replace")
    kg1 = {(r.subj, r.obj): r for r in read_snapshot(spark, out).collect()}
    assert kg1[("a", "b")].n_pages == 2 and kg1[("c", "d")].n_pages == 1

    # generation 2 re-observes (a,b) on ONE page and finds (e,f);
    # (c,d) was not re-observed and persists with its old count
    g2 = aggregate_kg(_witness(spark, [
        ("a", "b", "u3"), ("e", "f", "u3")]), 2)
    s2 = merge_commit(spark, out, g2, generation=2, timestamp=200.0)
    kg2 = {(r.subj, r.obj): r for r in read_snapshot(spark, out).collect()}
    assert len(kg2) == 3
    assert kg2[("a", "b")].n_pages == 1          # replace mode
    assert kg2[("a", "b")].first_seen == 1       # min across gens
    assert kg2[("a", "b")].last_seen == 2        # max across gens
    assert kg2[("c", "d")].last_seen == 1        # stale, persisted
    assert kg2[("e", "f")].first_seen == 2
    # snapshot isolation: a reader pinned to gen 1 is untouched
    assert read_snapshot(spark, out, snapshot_id=1).count() == 2
    # the replace commit's file set is exactly generation 2's files
    assert all(f.startswith("run_id=gen-000002/") for f in s2["added"])

    # out-of-order merge refused; rollback makes it legal again
    with pytest.raises(ValueError, match="superseded"):
        merge_commit(spark, out, g2, generation=2)
    rollback(out, 1)
    s3 = merge_commit(spark, out, g2, generation=2, timestamp=300.0)
    assert s3["seq"] == 3 and s3["parent"] == 1

    # retention: expiring history frees gen-1 files for orphan cleanup
    expire_snapshots(out, keep_last=1)
    gone = remove_orphan_files(out, older_than_s=0)
    assert any(f.startswith("run_id=gen-000001/") for f in gone)
    assert read_snapshot(spark, out).count() == 3


def test_remote_uri_refused(tmp_path):
    with pytest.raises(ValueError, match="POSIX"):
        commit_snapshot("s3://bucket/table")


def test_merge_commit_validate_gate(spark, tmp_path):
    """validate= names checks that must be zero on the DELTA; a
    failed gate raises BEFORE any write — no files land, no snapshot
    is committed — and an unknown check name is refused."""
    out = str(tmp_path / "kgv")
    checks = ("null_field", "unknown_pred", "duplicate_key")
    g1 = aggregate_kg(_witness(spark, [
        ("a", "b", "u1"), ("c", "d", "u1")]), 1)
    s1 = merge_commit(spark, out, g1, generation=1, timestamp=100.0,
                      validate=checks)
    assert s1["seq"] == 1

    # poisoned delta: a duplicate primary key and a NULL object
    poison = g1.unionByName(g1.limit(1)).unionByName(
        spark.createDataFrame(
            [("x", "cooccurs_with", None, 1, 2, 2)],
            "subj string, pred string, obj string, n_pages long, "
            "first_seen int, last_seen int"))
    with pytest.raises(ValueError, match="integrity"):
        merge_commit(spark, out, poison, generation=2,
                     validate=checks)
    # nothing was written or committed
    assert current_snapshot(out)["seq"] == 1
    assert read_snapshot(spark, out).count() == 2
    assert not any("gen-000002" in f
                   for f in os.listdir(os.path.join(out, "triples")))

    with pytest.raises(ValueError, match="unknown validate_kg"):
        merge_commit(spark, out, g1, generation=2,
                     validate=("no_such_check",))

    # a clean delta still commits with the gate on
    g2 = aggregate_kg(_witness(spark, [("e", "f", "u2")]), 2)
    s2 = merge_commit(spark, out, g2, generation=2, timestamp=200.0,
                      validate=checks)
    assert s2["seq"] == 2
    assert read_snapshot(spark, out).count() == 3
