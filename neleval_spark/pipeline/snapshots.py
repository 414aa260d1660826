"""Iceberg-style snapshot log over the triple sink.

BASELINE's target sink is "partitioned Iceberg tables"; this
environment ships no Iceberg runtime, so :mod:`.triples` expresses
the physical layout (bucket-partitioned parquet + per-partition
lineage manifests) directly.  This module adds the METADATA half of
the table format — the part that makes readers independent of
writers (Iceberg spec v2, public: snapshots, manifest lists, a
current-metadata pointer):

* ``commit_snapshot`` — after a write, record the set of data files
  it added (and, for a rewrite, removed) as ``snapshot-{seq}.json``
  under ``<out>/metadata/``, then atomically advance the
  ``version-hint.text`` pointer (write-temp + ``os.replace``).  A
  writer that crashes before the pointer flip leaves new files
  invisible to every snapshot reader — exactly Iceberg's
  orphan-file semantics.
* ``read_snapshot`` — time travel: resolve a snapshot id (or the
  latest one at ``as_of_ts``) to its cumulative file list by walking
  the parent chain, and scan exactly those files (``basePath`` keeps
  the partition columns).  Readers never list the live data
  directory, so concurrent appends cannot tear a scan.
* ``expire_snapshots`` / ``remove_orphan_files`` — retention: drop
  old snapshot metadata, then delete data files no live snapshot
  references (Iceberg's ``expire_snapshots`` +
  ``remove_orphan_files`` maintenance actions).

Scale note: a snapshot stores the files it ADDED (not the cumulative
listing), so metadata grows with the delta like Iceberg's per-commit
manifests; resolution walks the parent chain.  At 100 TB the listing
per commit comes from the writer's own task results rather than a
directory walk — the walk here is the sandbox stand-in, and
``commit_snapshot`` accepts an explicit ``added`` list for writers
that know their files.  Metadata I/O is driver-side JSON on the
table root — tiny, exactly as in Iceberg — and commits are
optimistic: the ``open(..., 'x')`` create fails if another writer
took the sequence number, and the committer retries on the next one.

Like :func:`.triples.compact_triples` (which swaps directories with
local renames), the metadata layer targets POSIX paths and raises on
remote URIs — on a real cluster this role is played by an actual
Iceberg catalog; the semantics demonstrated here (atomic pointer,
snapshot isolation, time travel, retention) are the ones that
transfer.

Reference parity: the reference engine has no table format at all
(it reads/writes TSV files, reference tsv.py); this module follows
the public Iceberg spec's concepts only.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "commit_snapshot", "snapshots", "current_snapshot",
    "read_snapshot", "rollback", "merge_commit",
    "expire_snapshots", "remove_orphan_files",
]

_META = "metadata"
_HINT = "version-hint.text"


def _check_local(out_dir: str) -> str:
    if "://" in out_dir and not out_dir.startswith("file:"):
        raise ValueError(
            "snapshot metadata uses POSIX atomic renames; non-local "
            f"table root: {out_dir} (use a real Iceberg catalog on "
            "object stores)")
    return out_dir[len("file:"):] if out_dir.startswith("file:") \
        else out_dir


def _meta_dir(out_dir: str) -> str:
    return os.path.join(_check_local(out_dir), _META)


def _data_dir(out_dir: str) -> str:
    return os.path.join(_check_local(out_dir), "triples")


def _list_data_files(out_dir: str) -> list[str]:
    """Relative paths of all live parquet data files under the sink."""
    root = _data_dir(out_dir)
    out = []
    for dirpath, _dirnames, filenames in os.walk(root):
        for name in filenames:
            if name.startswith(("_", ".")):
                continue
            out.append(os.path.relpath(os.path.join(dirpath, name),
                                       root))
    return sorted(out)


def _snapshot_path(out_dir: str, seq: int) -> str:
    return os.path.join(_meta_dir(out_dir), f"snapshot-{seq}.json")


def _read_hint(out_dir: str) -> int | None:
    try:
        with open(os.path.join(_meta_dir(out_dir), _HINT)) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def _write_hint(out_dir: str, seq: int) -> None:
    """Atomic pointer flip: temp file + os.replace (POSIX rename)."""
    meta = _meta_dir(out_dir)
    fd, tmp = tempfile.mkstemp(prefix=".hint-", dir=meta)
    with os.fdopen(fd, "w") as f:
        f.write(str(seq))
    os.replace(tmp, os.path.join(meta, _HINT))


def _load(out_dir: str, seq: int) -> dict:
    with open(_snapshot_path(out_dir, seq)) as f:
        return json.load(f)


def commit_snapshot(out_dir: str, run_id: str | None = None,
                    operation: str = "append",
                    added: list[str] | None = None,
                    removed: list[str] | None = None,
                    timestamp: float | None = None) -> dict:
    """Record the current write as a new snapshot and flip the
    pointer.  ``operation='append'``: ``added`` (default: every live
    data file not referenced by the parent chain) joins the table;
    ``removed`` marks files the write physically replaced (a
    replayed run), mirroring Iceberg's
    overwrite commits.  ``operation='replace'``: the live listing
    REPLACES the parent file set (the compaction/rewrite commit).
    Returns the snapshot dict.  Optimistic concurrency: the snapshot
    file is created with ``open(..., 'x')``; on collision the next
    sequence is retried against a re-read parent."""
    if operation not in ("append", "replace"):
        raise ValueError(f"unknown operation: {operation!r}")
    meta = _meta_dir(out_dir)
    os.makedirs(meta, exist_ok=True)
    while True:
        parent = _read_hint(out_dir)
        seq = 1 if parent is None else parent + 1
        # skip sequence numbers another writer already claimed but has
        # not (yet) pointed the hint at — otherwise a loser whose rival
        # stalls between file-create and pointer-flip would spin on the
        # same seq forever
        while os.path.exists(_snapshot_path(out_dir, seq)):
            seq += 1
        live = _list_data_files(out_dir)
        if operation == "replace":
            # a rewriter that knows its output files passes `added`
            # (Iceberg-style: old files stay on disk, unreferenced,
            # until expire+orphan cleanup); default is the live
            # listing, for in-place rewrites that already deleted
            snap_added = sorted(added) if added is not None else live
            snap_removed = sorted(
                set(_resolve_files(out_dir, parent)) - set(snap_added))
        else:
            # the auto-added default adopts only files NO live
            # snapshot references (crashed-writer strays) — files on
            # a divergent branch after a rollback stay out of the
            # table until expire+orphan cleanup reclaims them
            known: set[str] = set()
            for s in snapshots(out_dir):
                known.update(_resolve_files(out_dir, s["seq"]))
            snap_added = (sorted(added) if added is not None
                          else [f for f in live if f not in known])
            snap_removed = sorted(removed) if removed else []
        snap = {
            "seq": seq,
            "parent": parent,
            "run_id": run_id,
            "operation": operation,
            "ts": float(timestamp if timestamp is not None
                        else time.time()),
            "added": snap_added,
            "removed": snap_removed,
        }
        try:
            with open(_snapshot_path(out_dir, seq), "x") as f:
                json.dump(snap, f)
        except FileExistsError:
            continue  # another writer took seq: re-read and retry
        # advance the pointer only forward (a slow loser must not
        # move it back over a winner's commit)
        if (_read_hint(out_dir) or 0) < seq:
            _write_hint(out_dir, seq)
        return snap


def snapshots(out_dir: str) -> list[dict]:
    """All live snapshots, oldest first (the table history)."""
    meta = _meta_dir(out_dir)
    if not os.path.isdir(meta):
        return []
    out = []
    for name in os.listdir(meta):
        if name.startswith("snapshot-") and name.endswith(".json"):
            with open(os.path.join(meta, name)) as f:
                out.append(json.load(f))
    return sorted(out, key=lambda s: s["seq"])


def current_snapshot(out_dir: str) -> dict | None:
    seq = _read_hint(out_dir)
    return None if seq is None else _load(out_dir, seq)


def _resolve_files(out_dir: str, seq: int | None) -> list[str]:
    """Cumulative file list at a snapshot: walk the parent chain,
    applying added/removed (an Iceberg manifest-list resolution)."""
    chain = []
    while seq is not None:
        snap = _load(out_dir, seq)
        chain.append(snap)
        seq = snap["parent"]
    files: set[str] = set()
    for snap in reversed(chain):
        files -= set(snap["removed"])
        if snap["operation"] == "replace":
            files = set(snap["added"])
        else:
            files |= set(snap["added"])
    return sorted(files)


def read_snapshot(spark: SparkSession, out_dir: str,
                  snapshot_id: int | None = None,
                  as_of_ts: float | None = None) -> DataFrame:
    """Scan exactly one snapshot's file set (time travel / snapshot
    isolation).  Default: the current pointer.  ``as_of_ts`` picks
    the newest snapshot committed at or before that unix time."""
    if snapshot_id is not None and as_of_ts is not None:
        raise ValueError("pass snapshot_id OR as_of_ts, not both")
    if as_of_ts is not None:
        eligible = [s for s in snapshots(out_dir)
                    if s["ts"] <= as_of_ts]
        if not eligible:
            raise ValueError(
                f"no snapshot at or before ts={as_of_ts}")
        snapshot_id = eligible[-1]["seq"]
    if snapshot_id is None:
        snapshot_id = _read_hint(out_dir)
        if snapshot_id is None:
            raise ValueError(f"no snapshots at {out_dir}")
    try:
        files = _resolve_files(out_dir, snapshot_id)
    except FileNotFoundError:
        raise ValueError(
            f"snapshot {snapshot_id} is expired or unknown") from None
    data = _data_dir(out_dir)
    if not files:
        raise ValueError(f"snapshot {snapshot_id} is empty")
    # basePath keeps the partition columns (run_id/part_id) that the
    # explicit file paths would otherwise strip
    return (spark.read.option("basePath", data)
            .parquet(*[os.path.join(data, f) for f in files]))


def rollback(out_dir: str, snapshot_id: int) -> dict:
    """Move the current pointer back to an earlier snapshot
    (Iceberg's ``rollback_to_snapshot``).  Later snapshots stay on
    disk as divergent history until :func:`expire_snapshots` drops
    them; the next commit chains from the restored snapshot, and its
    auto-added default will NOT re-adopt the rolled-back files (they
    remain referenced by live snapshot metadata).  Returns the
    restored snapshot dict."""
    try:
        snap = _load(out_dir, snapshot_id)
    except FileNotFoundError:
        raise ValueError(
            f"snapshot {snapshot_id} is expired or unknown") from None
    _write_hint(out_dir, snapshot_id)
    return snap


def merge_commit(spark: SparkSession, out_dir: str, delta: DataFrame,
                 generation: int, mode: str = "replace",
                 n_buckets: int = 64,
                 timestamp: float | None = None,
                 validate: tuple = ()) -> dict:
    """Copy-on-write MERGE of one crawl generation into the
    snapshot-tracked KG table (Iceberg's ``MERGE INTO`` with
    copy-on-write: the merge rewrites the table into NEW files and
    the commit re-points; old generations stay on disk, readable by
    pinned readers, until expire + orphan cleanup).

    ``delta`` is an :func:`~.kg.aggregate_kg` frame
    ``(subj, pred, obj, n_pages, first_seen, last_seen)``.  Steps:

    1. read the CURRENT snapshot as the base (crashed earlier merge
       attempts are invisible — their files were never committed);
    2. :func:`~.kg.merge_kg` base + delta (one full-outer join
       on the KG primary key — no skew side, both inputs
       aggregate-sized);
    3. write the merged table under ``run_id=gen-{generation:06d}``
       partitions, bucketed by ``pmod(xxhash64(subj), n_buckets)``
       (the subj key, not url — KG rows are witness-aggregated).
       :func:`~.triples.write_triples` replaces the run, so a REPLAY
       of the same failed generation converges to one copy;
    4. commit a ``replace`` snapshot whose file set is exactly this
       generation's files.

    A generation the current snapshot already supersedes is refused
    (the optimistic-concurrency analogue for out-of-order merge
    jobs); :func:`rollback` first to redo history intentionally.
    Returns the committed snapshot dict.

    ``validate`` names :func:`~.kg.validate_kg` checks that must
    report ZERO violations on the DELTA before anything is written
    (e.g. ``("null_field", "unknown_pred", "duplicate_key")`` — the
    structural invariants that hold inductively: the base passed them
    at ITS commit, so gating each delta keeps the whole store clean).
    Cross-generational checks like ``dangling_object`` are not
    inductive — run ``validate_kg(read_snapshot(...))`` on the merged
    table for those.  A failed gate raises before the write, so no
    files land and no snapshot is committed."""
    from .kg import merge_kg, validate_kg
    from .triples import write_triples

    run_id = f"gen-{generation:06d}"
    cur = current_snapshot(out_dir)
    if (cur is not None and isinstance(cur.get("run_id"), str)
            and cur["run_id"].startswith("gen-")
            and cur["run_id"] >= run_id):
        raise ValueError(
            f"generation {generation} is already superseded (current "
            f"snapshot is {cur['run_id']}); rollback first to redo "
            "history")

    if validate:
        report = {r["check"]: r["violations"]
                  for r in validate_kg(delta).collect()}
        unknown = set(validate) - set(report)
        if unknown:
            raise ValueError(
                f"unknown validate_kg checks: {sorted(unknown)}; "
                f"available: {sorted(report)}")
        bad = {c: report[c] for c in validate if report[c]}
        if bad:
            raise ValueError(
                f"delta for generation {generation} fails integrity "
                f"checks {bad}; nothing was written")

    merged = delta
    if cur is not None:
        base = read_snapshot(spark, out_dir).select(
            "subj", "pred", "obj", "n_pages", "first_seen",
            "last_seen")
        merged = merge_kg(base, delta, mode=mode)
    merged = merged.withColumn(
        "part_id", F.pmod(F.xxhash64("subj"), F.lit(n_buckets)))
    write_triples(merged, out_dir, run_id=run_id)

    prefix = f"run_id={run_id}/"
    gen_files = [f for f in _list_data_files(out_dir)
                 if f.startswith(prefix)]
    return commit_snapshot(out_dir, run_id=run_id,
                           operation="replace", added=gen_files,
                           timestamp=timestamp)


def expire_snapshots(out_dir: str, keep_last: int = 1) -> list[int]:
    """Drop the metadata of all but the newest ``keep_last``
    snapshots (their file sets stay live if still referenced —
    data-file deletion is :func:`remove_orphan_files`' job).  The
    survivor chain is re-rooted: the oldest kept snapshot is
    rewritten with its CUMULATIVE file set so resolution never walks
    into expired metadata.  Returns the expired sequence numbers."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    live = snapshots(out_dir)
    if len(live) <= keep_last:
        return []
    kept, expired = live[-keep_last:], live[:-keep_last]
    root = kept[0]
    rebased = dict(root, parent=None, operation="replace",
                   added=_resolve_files(out_dir, root["seq"]),
                   removed=[])
    tmp = _snapshot_path(out_dir, root["seq"]) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rebased, f)
    os.replace(tmp, _snapshot_path(out_dir, root["seq"]))
    for snap in expired:
        os.unlink(_snapshot_path(out_dir, snap["seq"]))
    return [s["seq"] for s in expired]


def remove_orphan_files(out_dir: str,
                        older_than_s: float = 3 * 24 * 3600
                        ) -> list[str]:
    """Delete data files no live snapshot references and older than
    ``older_than_s`` (grace period for in-flight writers whose commit
    has not flipped the pointer yet — Iceberg's
    ``remove_orphan_files`` default is the same 3 days).  Returns
    the deleted relative paths."""
    referenced: set[str] = set()
    for snap in snapshots(out_dir):
        referenced.update(_resolve_files(out_dir, snap["seq"]))
    data = _data_dir(out_dir)
    cutoff = time.time() - older_than_s
    deleted = []
    for rel in _list_data_files(out_dir):
        if rel in referenced:
            continue
        path = os.path.join(data, rel)
        if os.path.getmtime(path) <= cutoff:
            os.unlink(path)
            deleted.append(rel)
    # prune now-empty partition directories so future listings and
    # parquet scans don't trip over them
    for dirpath, dirnames, filenames in os.walk(data, topdown=False):
        if dirpath != data and not dirnames and not filenames:
            os.rmdir(dirpath)
    return deleted
