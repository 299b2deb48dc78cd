"""Table maintenance — the one compaction path for every table.

Every fold goes through ``maintain()``: the streaming cadence
(``ReplayConfig.compact_every_batches``) and ``job.py --compact`` call it
for the main table, the SCD history table and each child table. A
``MaintenancePolicy`` sets how much one cycle may rewrite. ``FOLD_ALL``,
the runner's default, has no budget: it folds every bucket that holds a
delta or two or more files, in one commit, then vacuums with a 2-commit
grace.

A budgeted policy bounds each cycle's cost. At 10^10 events an unbudgeted
cycle can rewrite the whole table and stall the ingest loop for minutes
while every bucket's gigabytes round-trip through the cluster. The public
lakehouse answer is a *budgeted, prioritized* rewrite — Iceberg's
``rewrite_data_files`` with ``max-file-group-size-bytes`` /
``partial-progress.enabled``, Delta's ``OPTIMIZE`` with file-size
targets: each cycle rewrites only the worst N buckets under a byte
budget, and repeated cycles converge. (The reference itself delegates
table hygiene to the destination warehouse — e.g. normalization emits
incremental dbt models and leaves clustering to BigQuery/Snowflake — so
this module is the lake-side capability a self-hosted sink needs instead.)

``maintain()`` plans from SNAPSHOT METADATA ONLY (per-bucket file counts,
delta flags, byte sizes recorded at write time) — no directory walks, no
footer reads — then:

1. folds/compacts the chosen buckets of the snapshot it planned on
   (``scd_compact`` for history tables — plain compaction would
   materialize NULL derived columns — and ``LakeTable.compact``
   otherwise); per-bucket folding is exact because a key's rows never span
   buckets, so partial progress converges;
2. commit-scoped ``vacuum`` to reclaim the rewritten files.

Priority order (why): buckets carrying MOR delta files first — every delta
file taxes EVERY subsequent read of that bucket with collapse+window work,
while plain small-file fragmentation only costs open/seek overhead — then
most-fragmented-first so the worst read amplification is paid down before
the budget runs out. Deferred buckets are reported, never silently dropped.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Optional, Sequence

from .table import LakeTable, Snapshot


@dataclass(frozen=True)
class MaintenancePolicy:
    #: a bucket is "fragmented" at >= this many files (deltas always count)
    min_files: int = 4
    #: rewrite at most this many buckets per cycle (None = unbounded)
    max_buckets_per_cycle: Optional[int] = 4
    #: stop adding buckets once the chosen set's on-disk bytes exceed this
    #: (None = unbounded). The FIRST bucket is always admitted so one
    #: oversized bucket cannot deadlock maintenance.
    max_bytes_per_cycle: Optional[int] = 512 << 20
    #: protect files dereferenced in the last N commits from vacuum so
    #: concurrent readers on recent snapshots can finish their scans
    vacuum_grace_commits: int = 2


#: no budget: fold every bucket holding a delta or >= 2 files in one
#: commit, then vacuum with a 2-commit grace — the streaming cadence's
#: default when ``ReplayConfig.maintenance_policy`` is unset
FOLD_ALL = MaintenancePolicy(
    min_files=2, max_buckets_per_cycle=None, max_bytes_per_cycle=None
)


@dataclass
class MaintenanceReport:
    version: int
    #: buckets rewritten this cycle
    compacted: list[int] = field(default_factory=list)
    #: buckets that needed work but fell past the budget (next cycle's head)
    deferred: list[int] = field(default_factory=list)
    #: on-disk bytes of the files rewritten (pre-rewrite size)
    bytes_rewritten: int = 0
    files_rewritten: int = 0
    vacuumed_files: int = 0

    @property
    def did_work(self) -> bool:
        return bool(self.compacted or self.vacuumed_files)


def _bucket_stats(table: LakeTable, snap: Snapshot) -> dict[int, dict]:
    """Per-bucket {files, deltas, bytes} from snapshot metadata.

    ``bytes`` is recorded in each add-entry at write time; files committed
    before that field existed are listed in ``_unsized`` and stat'd
    LAZILY (``_resolve_bytes``) only for the buckets the greedy admission
    actually inspects — an eager fallback would re-stat every legacy file
    in the whole snapshot on every cycle, O(table) driver I/O for a plan
    that can pick at most a handful of buckets. Self-healing: a rewrite
    re-adds files with sizes, so the lazy set shrinks to nothing."""
    stats: dict[int, dict] = {}
    for path, meta in snap.files.items():
        b = meta["bucket"]
        st = stats.setdefault(
            b, {"files": 0, "deltas": 0, "bytes": 0, "_unsized": []}
        )
        st["files"] += 1
        if meta.get("kind", "base") == "delta":
            st["deltas"] += 1
        nbytes = meta.get("bytes")
        if nbytes is None:
            st["_unsized"].append(path)
        else:
            st["bytes"] += nbytes
    return stats


def _resolve_bytes(table: LakeTable, st: dict) -> int:
    """Fold a bucket's unsized legacy files into its byte total (memoized)."""
    if st["_unsized"]:
        for path in st["_unsized"]:
            try:
                st["bytes"] += os.path.getsize(os.path.join(table.path, path))
            except OSError:
                pass
        st["_unsized"] = []
    return st["bytes"]


def plan_maintenance(
    table: LakeTable,
    policy: Optional[MaintenancePolicy] = None,
    snap: Optional[Snapshot] = None,
) -> tuple[list[int], list[int], dict[int, dict]]:
    """Choose this cycle's buckets: (chosen, deferred, per-bucket stats).

    Candidates = buckets holding any delta file OR >= ``min_files`` files.
    Sorted deltas-first then most-files-first; greedily admitted under the
    bucket-count and byte budgets."""
    policy = policy or MaintenancePolicy()
    snap = snap or table.snapshot()
    stats = _bucket_stats(table, snap)
    candidates = [
        b
        for b, st in stats.items()
        if st["deltas"] > 0 or st["files"] >= policy.min_files
    ]
    candidates.sort(key=lambda b: (-stats[b]["deltas"], -stats[b]["files"], b))
    chosen: list[int] = []
    spent = 0
    for b in candidates:
        over_count = (
            policy.max_buckets_per_cycle is not None
            and len(chosen) >= policy.max_buckets_per_cycle
        )
        if over_count:
            break
        nbytes = (
            _resolve_bytes(table, stats[b])
            if policy.max_bytes_per_cycle is not None
            else stats[b]["bytes"]
        )
        over_bytes = (
            policy.max_bytes_per_cycle is not None
            and chosen  # always admit the first bucket
            and spent + nbytes > policy.max_bytes_per_cycle
        )
        if over_bytes:
            break
        chosen.append(b)
        spent += nbytes
    deferred = [b for b in candidates if b not in set(chosen)]
    return chosen, deferred, stats


def maintain(
    table: LakeTable,
    policy: Optional[MaintenancePolicy] = None,
    scd: bool = False,
    bounded: bool = False,
) -> MaintenanceReport:
    """One maintenance cycle under ``policy``: fold the planned buckets,
    then vacuum; call on the streaming compaction cadence (single-writer
    contract: from the owning writer, between merges). ``scd=True`` folds
    with the re-windowing ``scd_compact`` (history tables must never be
    plain-compacted — the NULL derived columns would be materialized
    as-is, see lake/scd.py); a COW history table has nothing to fold, so
    the cycle only vacuums it. The plan and the fold read one snapshot."""
    policy = policy or MaintenancePolicy()
    snap = table.snapshot()
    chosen, deferred, stats = plan_maintenance(table, policy, snap)
    report = MaintenanceReport(version=snap.version, deferred=deferred)
    if chosen:
        # fold the version just planned on: one snapshot per cycle
        if scd:
            from .scd import scd_compact

            # scd_compact re-windows each chosen bucket holding a delta or
            # two or more files (an identity on a delta-free bucket's
            # resolved rows) — the same buckets compact() would pick
            report.version = scd_compact(
                table, bounded=bounded, buckets=chosen, snap=snap
            )
        else:
            report.version = table.compact(
                min_files=max(2, policy.min_files), buckets=chosen, snap=snap
            )
        if report.version != snap.version:
            report.compacted = sorted(chosen)
            report.bytes_rewritten = sum(
                _resolve_bytes(table, stats[b]) for b in chosen
            )
            report.files_rewritten = sum(stats[b]["files"] for b in chosen)
    report.vacuumed_files = len(
        table.vacuum(grace_commits=policy.vacuum_grace_commits)
    )
    return report


def maintain_until_clean(
    table: LakeTable,
    policy: Optional[MaintenancePolicy] = None,
    scd: bool = False,
    bounded: bool = False,
    max_cycles: int = 64,
) -> list[MaintenanceReport]:
    """Run budgeted cycles until no candidate buckets remain — the offline
    catch-up loop (e.g. after a long ingest burst with maintenance paused).
    Each cycle is individually bounded, so ingest can be interleaved by
    calling ``maintain`` on a cadence instead."""
    reports: list[MaintenanceReport] = []
    for _ in range(max_cycles):
        r = maintain(table, policy, scd=scd, bounded=bounded)
        reports.append(r)
        if not r.compacted:
            break
    return reports
