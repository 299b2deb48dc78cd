"""LakeTable — a from-scratch ACID parquet + JSON-commit-log table format.

The sandbox ships no Iceberg/Delta runtime, so the engine brings its own
minimal lakehouse layer with exactly the properties the CDC sink needs
(the same properties the reference gets from its destination warehouse +
committed-state contract, BufferedStreamConsumer.java:178-203):

* **Atomic commits / snapshot isolation** — a commit is one JSON file in
  ``_log/`` named by monotonically increasing version; it lists data files
  added/removed, an optional fence, lineage, and schema changes. Publication
  is ``os.link`` (fail-if-exists) — atomic on a local/POSIX filesystem; a
  production deployment would swap this single function for a real catalog
  (Hive/Glue/Nessie) commit, nothing else changes.
* **Commit fencing (exactly-once)** — each commit may carry
  ``(app_id, batch_id)``; replaying an already-committed micro-batch is a
  no-op because the fence check and the data files land in the SAME commit
  (the Spark analog of "destination echoes STATE only after commit").
* **Bucket partitioning** — data files live under ``_b=<k>`` computed as
  ``pmod(hash(bucket_cols), n_buckets)``; MERGE prunes to touched buckets,
  so an upsert of B buckets rewrites only those files (copy-on-write).
  Buckets are the unit of layout and pruning, not of write parallelism:
  a write of B buckets hash-partitions by ``_b`` into
  ``min(B, defaultParallelism)`` tasks, each holding whole buckets, so a
  commit still writes exactly one file per bucket while a small
  micro-batch pays for the cores it has, not for B task launches.
* **Schema evolution without rewrite** — every data file records the
  ``schema_id`` it was written under; schemas carry stable field uids
  (catalog.py). Readers project each file group onto the CURRENT schema by
  uid: renamed columns re-alias, widened columns cast, added columns
  null-pad, removed columns drop. Equivalent to Iceberg field-id resolution
  + the reference's ``star_intersect`` union (star_intersect.sql:9-46).
* **Tombstones** — deletes keep ``(pk, __lsn, __deleted=true)`` rows so a
  late lower-LSN update cannot resurrect a deleted key (SURVEY §7 risk
  "late data older than applied LSN"); ``read()`` filters them.
* **Lineage** — per-commit row counts / cursor high-watermark / epoch kept
  in the log and queryable as a DataFrame (reference O2 MessageTracker).

Single-writer by design (one streaming query owns a table), like one Airbyte
connection owning its destination tables.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field, replace
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import TableSchema, FieldTransform, apply_transforms

META_LSN = "__lsn"
META_DELETED = "__deleted"
_LOG_DIR = "_log"
_DATA_DIR = "data"


@dataclass
class Snapshot:
    version: int
    schemas: dict[int, TableSchema]
    current_schema_id: int
    #: path -> {"bucket": int, "schema_id": int, "rows": int|None, "v": int}
    files: dict[str, dict]
    #: app_id -> last committed batch_id
    fences: dict[str, int]
    n_buckets: int
    bucket_cols: list[str]
    primary_key: list[str]
    #: per-commit lineage TAIL (bounded: entries older than the retention
    #: window are folded into lineage_totals at checkpoint time)
    lineage: list[dict] = field(default_factory=list)
    #: rollup of folded-out lineage: global counters + per-bucket
    #: {rows, deletes, max_lsn} high-watermarks
    lineage_totals: dict = field(default_factory=dict)
    #: payload columns whose per-file (min, max) footer stats are recorded
    #: in every add-entry for file-level range skipping (``__lsn`` is
    #: always recorded; list e.g. the event-time column here)
    stats_cols: list[str] = field(default_factory=list)
    #: table sort order (Iceberg write.sort-order analog) applied when
    #: buckets are REWRITTEN (compact/rebucket) — not on the streaming
    #: hot path, where per-batch sorts would tax every trigger. Sorted
    #: base files give parquet row-group pruning tight bounds on top of
    #: the file-level stats skipping.
    sort_cols: list[str] = field(default_factory=list)
    #: multi-dimensional clustering (Delta OPTIMIZE ZORDER BY / Iceberg
    #: z-ordered sort-order analog) applied when buckets are REWRITTEN:
    #: rows sort by the bit-interleave of the columns' range-scaled
    #: 16-bit ranks, so per-row-group min/max bounds stay tight on EVERY
    #: listed column at once — range predicates on any single dimension
    #: prune, where a linear sort_cols order only serves its leading
    #: column. 2-3 numeric/timestamp columns; mutually exclusive with
    #: sort_cols; implies membership in stats_cols (rank bounds fold from
    #: recorded file stats — no extra pass at rewrite time).
    zorder_cols: list[str] = field(default_factory=list)
    #: per-bucket-per-commit bloom filter over the PRIMARY KEY (Iceberg
    #: puffin / Delta bloom-index analog) recorded in every add-entry for
    #: point-lookup file skipping; 0 disables. Min/max stats answer range
    #: queries but say nothing about WHICH of a bucket's many commit-era
    #: files holds a given key — the bloom does, so ``point_lookup`` scans
    #: O(files containing the key) instead of O(files in the bucket).
    bloom_bits: int = 0
    #: hash-probe count per key (classic double hashing)
    bloom_k: int = 6

    @property
    def schema(self) -> TableSchema:
        return self.schemas[self.current_schema_id]


#: parquet timestamp encoding pinned around every data-file write
_TS_KEY = "spark.sql.parquet.outputTimestampType"
#: paths above this count are listed by a distributed Spark job; raised
#: around scans, whose file lists come from the snapshot (see read)
_LISTING_KEY = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_NO_LISTING_JOB = str(2**31 - 1)

#: scope registry, module-wide because a session's conf is shared by every
#: LakeTable and thread using that session:
#: (id(session), key) -> [depth, value, prior value or None when unset]
_CONF_LOCK = threading.Lock()
_CONF_SCOPES: dict[tuple[int, str], list] = {}


@contextmanager
def _scoped_conf(spark: SparkSession, key: str, value: str):
    """Hold session conf ``key`` at ``value`` for the block, then restore
    the user's own setting (unset if it was unset). Session confs are
    session-global, and concurrent lake writers and readers in one
    session (multi-stream sync's foreachBatch threads) overlap, so a plain
    save/restore would let the first finisher flip an in-flight sibling
    back. Scopes are therefore REFCOUNTED per (session, key): only the
    outermost captures the prior value and only the last to leave
    restores it. Overlapping scopes of one key must agree on the value."""
    scope = (id(spark), key)
    with _CONF_LOCK:
        held = _CONF_SCOPES.get(scope)
        if held is None:
            held = _CONF_SCOPES[scope] = [0, value, spark.conf.get(key, None)]
            spark.conf.set(key, value)
        elif held[1] != value:
            raise RuntimeError(
                f"conf {key} is already held at {held[1]!r}; cannot also "
                f"hold it at {value!r}"
            )
        held[0] += 1
    try:
        yield
    finally:
        with _CONF_LOCK:
            held[0] -= 1
            if held[0] == 0:
                del _CONF_SCOPES[scope]
                if held[2] is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, held[2])


class CommitConflict(RuntimeError):
    pass


class LakeTable:
    #: write a log checkpoint every N commits — snapshot() then replays at
    #: most N tail commits instead of the whole log (Delta _last_checkpoint
    #: analog); None disables
    DEFAULT_CHECKPOINT_INTERVAL = 16
    #: per-commit lineage entries retained verbatim; older entries fold
    #: into lineage_totals when a checkpoint is written
    DEFAULT_LINEAGE_RETAIN = 512

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        checkpoint_interval: Optional[int] = DEFAULT_CHECKPOINT_INTERVAL,
        lineage_retain: int = DEFAULT_LINEAGE_RETAIN,
    ):
        self.spark = spark
        self.path = path
        self.checkpoint_interval = checkpoint_interval
        self.lineage_retain = lineage_retain
        #: diagnostic: log JSON files parsed by the most recent snapshot()
        #: (the bounded-metadata-cost contract tests assert on this)
        self.last_snapshot_log_reads = 0
        self._snap_cache: Optional[Snapshot] = None

    # ------------------------------------------------------------------ DDL

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        schema: TableSchema,
        primary_key: Sequence[str],
        bucket_cols: Optional[Sequence[str]] = None,
        n_buckets: int = 32,
        stats_cols: Optional[Sequence[str]] = None,
        sort_cols: Optional[Sequence[str]] = None,
        bloom_bits: int = 0,
        bloom_k: int = 6,
        zorder_cols: Optional[Sequence[str]] = None,
    ) -> "LakeTable":
        names = {f.name for f in schema.fields}
        for c in (*(stats_cols or []), *(sort_cols or []), *(zorder_cols or [])):
            if c not in names:
                raise ValueError(f"stats/sort/zorder column {c!r} not in schema")
        if bloom_bits and (bloom_bits % 64 or bloom_bits < 64):
            raise ValueError("bloom_bits must be a positive multiple of 64")
        if bloom_bits and bloom_k < 1:
            raise ValueError("bloom_k must be >= 1")
        if zorder_cols:
            if sort_cols:
                raise ValueError(
                    "zorder_cols and sort_cols are mutually exclusive "
                    "(both define the rewrite-time ordering)"
                )
            if not 2 <= len(zorder_cols) <= 3:
                raise ValueError("zorder_cols takes 2-3 columns")
            # fail at CREATE, not at the first compact(): zorder_key
            # range-scales folded stat bounds with float arithmetic, so
            # only numeric/timestamp columns are interleavable (a string
            # column would crash float(lo) deep inside the rewrite)
            by_name = schema.by_name()
            for c in zorder_cols:
                dt = by_name[c].dtype
                if not isinstance(
                    dt, (T.NumericType, T.TimestampType, T.TimestampNTZType)
                ):
                    raise ValueError(
                        f"zorder column {c!r} has type {dt.simpleString()}; "
                        "z-ordering needs numeric or timestamp columns"
                    )
            # rank bounds fold from per-file stats, so z-ordered columns
            # must be stat'd — include them implicitly
            stats_cols = list(
                dict.fromkeys([*(stats_cols or []), *zorder_cols])
            )
        os.makedirs(os.path.join(path, _LOG_DIR), exist_ok=False)
        os.makedirs(os.path.join(path, _DATA_DIR), exist_ok=True)
        t = LakeTable(spark, path)
        t._write_commit(
            0,
            {
                "op": "create",
                "schema": schema.to_json(),
                "n_buckets": n_buckets,
                "bucket_cols": list(bucket_cols or primary_key[:1]),
                "primary_key": list(primary_key),
                "stats_cols": list(stats_cols or []),
                "sort_cols": list(sort_cols or []),
                "bloom_bits": int(bloom_bits),
                "bloom_k": int(bloom_k),
                "zorder_cols": list(zorder_cols or []),
            },
        )
        return t

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.isdir(os.path.join(path, _LOG_DIR))

    # ------------------------------------------------------------ log layer

    def _log_path(self, version: int) -> str:
        return os.path.join(self.path, _LOG_DIR, f"{version:020d}.json")

    def _write_commit(self, version: int, entry: dict) -> None:
        """Atomic publish: write temp, hard-link to the version file
        (fails if that version was already committed), unlink temp."""
        tmp = os.path.join(self.path, _LOG_DIR, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(entry, f)
            f.flush()
            os.fsync(f.fileno())
        dest = self._log_path(version)
        try:
            os.link(tmp, dest)
        except FileExistsError as e:
            raise CommitConflict(f"version {version} already committed") from e
        finally:
            os.unlink(tmp)

    def _ckpt_path(self, version: int) -> str:
        return os.path.join(self.path, _LOG_DIR, f"{version:020d}.ckpt.json")

    # ------------------------------------------------- write-audit-publish

    def _staged_dir(self) -> str:
        # dot-prefixed: snapshot()'s log listing skips it by construction
        return os.path.join(self.path, _LOG_DIR, ".staged")

    def _staged_path(self, staged_id: str) -> str:
        return os.path.join(self._staged_dir(), f"{staged_id}.json")

    def stage_commit(
        self,
        snap: Snapshot,
        adds: list[dict],
        removes: list[str],
        fence: Optional[tuple[str, int]] = None,
        lineage: Optional[dict] = None,
        op: str = "merge",
    ) -> str:
        """Write-audit-publish step 1 (Iceberg WAP / ``spark.wap.id``
        analog): persist a fully-formed commit OUTSIDE the numbered log —
        its data files are on disk but invisible to every reader until
        ``publish_staged``. Audit the staged state via ``staged_view`` +
        ``read(snap=...)``; then publish (one ordinary atomic commit) or
        ``abort_staged`` (files deleted, nothing ever happened). A crash
        between stage and publish leaves only the staged marker + files:
        readers are unaffected, deep vacuum protects the files, and the
        orphaned stage can be aborted or re-published after restart."""
        entry: dict = {"op": op, "base_version": snap.version}
        if adds:
            entry["adds"] = adds
        if removes:
            entry["removes"] = removes
        if fence is not None:
            entry["fence"] = {"app_id": fence[0], "batch_id": fence[1]}
        if lineage is not None:
            entry["lineage"] = lineage
        staged_id = uuid.uuid4().hex
        os.makedirs(self._staged_dir(), exist_ok=True)
        tmp = os.path.join(self._staged_dir(), f".tmp-{staged_id}")
        with open(tmp, "w") as f:
            json.dump(entry, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._staged_path(staged_id))
        return staged_id

    def _load_staged(self, staged_id: str) -> dict:
        with open(self._staged_path(staged_id)) as f:
            return json.load(f)

    def list_staged(self) -> list[str]:
        """Staged-but-unpublished commit ids (oldest first by mtime)."""
        d = self._staged_dir()
        if not os.path.isdir(d):
            return []
        out = [
            (os.path.getmtime(os.path.join(d, f)), f[:-5])
            for f in os.listdir(d)
            if f.endswith(".json") and not f.startswith(".")
        ]
        return [sid for _, sid in sorted(out)]

    def staged_view(self, staged_id: str) -> Snapshot:
        """The table AS IF the staged commit were published — the audit
        read. Pass to ``read(snap=...)``; cost is the same pruned scan a
        published commit would serve (MOR staged adds resolve normally:
        their tiebreak version is the would-be next version)."""
        snap = self.snapshot()
        e = self._load_staged(staged_id)
        files = dict(snap.files)
        for rm in e.get("removes", []):
            files.pop(rm, None)
        v_next = snap.version + 1
        for ad in e.get("adds", []):
            files[ad["path"]] = {
                "bucket": ad["bucket"],
                "schema_id": ad["schema_id"],
                "rows": ad.get("rows"),
                "kind": ad.get("kind", "base"),
                "min_lsn": ad.get("min_lsn"),
                "max_lsn": ad.get("max_lsn"),
                "stats": ad.get("stats") or {},
                "bloom": ad.get("bloom"),
                "v": ad.get("v", v_next),
            }
        fences = dict(snap.fences)
        if "fence" in e:
            fences[e["fence"]["app_id"]] = e["fence"]["batch_id"]
        return replace(snap, files=files, fences=fences)

    def publish_staged(self, staged_id: str, retry_conflicts: int = 2) -> Optional[int]:
        """WAP step 3: make a staged commit visible with one ordinary
        atomic commit; returns the new version, or None when the staged
        fence already advanced (a concurrent/earlier publish applied this
        batch — the duplicate's files are cleaned up, exactly-once holds).

        Validity vs commits that landed since staging: an add-only stage
        (append / MOR delta) is valid against any newer snapshot; a stage
        carrying removes rewrote files chosen from its base snapshot, so
        every removed file must still be live — if a concurrent commit
        rewrote any of them, publish raises ``CommitConflict`` and the
        caller must re-plan (same rule as ``commit(retry_conflicts=...)``)."""
        e = self._load_staged(staged_id)
        snap = self.snapshot()
        f = e.get("fence")
        if f is not None and snap.fences.get(f["app_id"], -1) >= f["batch_id"]:
            self.abort_staged(staged_id)
            return None
        removes = e.get("removes", [])
        if removes and snap.version != e["base_version"]:
            gone = [p for p in removes if p not in snap.files]
            if gone:
                raise CommitConflict(
                    f"staged commit {staged_id} rewrites {len(gone)} file(s) "
                    f"already rewritten by a commit after its base version "
                    f"{e['base_version']} (e.g. {gone[0]}); re-plan the merge"
                )
        version = self.commit(
            snap,
            e.get("adds", []),
            removes,
            fence=(f["app_id"], f["batch_id"]) if f is not None else None,
            lineage=e.get("lineage"),
            op=e["op"],
            retry_conflicts=0 if removes else retry_conflicts,
        )
        os.unlink(self._staged_path(staged_id))
        return version

    def abort_staged(self, staged_id: str) -> None:
        """Drop a staged commit: delete its data files and marker. The
        numbered log never saw it — readers were never affected."""
        e = self._load_staged(staged_id)
        for ad in e.get("adds", []):
            full = os.path.join(self.path, ad["path"])
            if os.path.exists(full):
                os.unlink(full)
        os.unlink(self._staged_path(staged_id))

    def snapshot(self, at_version: Optional[int] = None) -> Snapshot:
        """Current table state — or, with ``at_version``, TIME TRAVEL to a
        historical version (Iceberg snapshot-id read analog): state is
        rebuilt from the newest checkpoint ≤ that version plus the commit
        tail up to it. Versions older than the log-expiry window raise
        (their commits were folded away); ``read(snap=...)`` then serves
        the historical scan as long as vacuum's grace has kept the files.

        Scale contract (the part that must survive 10^6+ commits): cost is
        ONE directory listing + at most ``checkpoint_interval`` commit-JSON
        reads. State older than the latest checkpoint comes from that single
        checkpoint file; an unchanged table returns the cached snapshot
        after just the listing. A production catalog (Hive/Glue/Nessie)
        would replace the listing with a last-checkpoint pointer — nothing
        else changes.
        """
        log_dir = os.path.join(self.path, _LOG_DIR)
        commit_vs: list[int] = []
        ckpt_vs: list[int] = []
        for f in os.listdir(log_dir):
            # only files named <digits>.json / <digits>.ckpt.json are ours —
            # a stray editor artifact or marker file must not break reads
            if f.startswith(".") or not f.split(".")[0].isdigit():
                continue
            if f.endswith(".ckpt.json"):
                ckpt_vs.append(int(f.split(".")[0]))
            elif f.endswith(".json"):
                commit_vs.append(int(f.split(".")[0]))
        if not commit_vs:
            raise FileNotFoundError(f"no lake table at {self.path}")
        commit_vs.sort()
        latest = commit_vs[-1]
        if at_version is not None:
            if at_version > latest:
                raise ValueError(f"version {at_version} is in the future (latest {latest})")
            ckpt_vs = [c for c in ckpt_vs if c <= at_version]
            commit_vs = [c for c in commit_vs if c <= at_version]
            latest = at_version
            base = max(ckpt_vs, default=None)
            tail = [c for c in commit_vs if base is None or c > base]
            expected = at_version - (base if base is not None else -1)
            if len(tail) != expected:
                raise ValueError(
                    f"version {at_version} expired: its commit history was "
                    f"folded into a later checkpoint (log expiry)"
                )
        elif self._snap_cache is not None and self._snap_cache.version == latest:
            self.last_snapshot_log_reads = 0
            return self._snap_cache

        n_reads = 0
        schemas: dict[int, TableSchema] = {}
        files: dict[str, dict] = {}
        fences: dict[str, int] = {}
        lineage: list[dict] = []
        totals: dict = {}
        n_buckets, bucket_cols, pk, cur_sid = 32, [], [], 0
        stats_cols: list[str] = []
        sort_cols: list[str] = []
        bloom_bits, bloom_k = 0, 6
        zorder_cols: list[str] = []
        base_v = max((c for c in ckpt_vs if c <= latest), default=None)
        if base_v is not None:
            with open(self._ckpt_path(base_v)) as f:
                ck = json.load(f)
            n_reads += 1
            schemas = {
                int(sid): TableSchema.from_json(sj)
                for sid, sj in ck["schemas"].items()
            }
            cur_sid = ck["current_schema_id"]
            files = ck["files"]
            fences = ck["fences"]
            lineage = ck["lineage"]
            totals = ck.get("lineage_totals", {})
            n_buckets = ck["n_buckets"]
            bucket_cols = ck["bucket_cols"]
            pk = ck["primary_key"]
            stats_cols = ck.get("stats_cols", [])
            sort_cols = ck.get("sort_cols", [])
            bloom_bits = ck.get("bloom_bits", 0)
            bloom_k = ck.get("bloom_k", 6)
            zorder_cols = ck.get("zorder_cols", [])

        for v in commit_vs:
            if base_v is not None and v <= base_v:
                continue
            with open(self._log_path(v)) as f:
                e = json.load(f)
            n_reads += 1
            if "schema" in e:
                ts = TableSchema.from_json(e["schema"])
                schemas[ts.schema_id] = ts
                cur_sid = ts.schema_id
            if e.get("op") == "create":
                n_buckets = e["n_buckets"]
                bucket_cols = e["bucket_cols"]
                pk = e["primary_key"]
                stats_cols = e.get("stats_cols", [])
                sort_cols = e.get("sort_cols", [])
                bloom_bits = e.get("bloom_bits", 0)
                bloom_k = e.get("bloom_k", 6)
                zorder_cols = e.get("zorder_cols", [])
            elif "n_buckets" in e:  # rebucket: layout evolution
                n_buckets = e["n_buckets"]
            for rm in e.get("removes", []):
                files.pop(rm, None)
            for ad in e.get("adds", []):
                files[ad["path"]] = {
                    "bucket": ad["bucket"],
                    "schema_id": ad["schema_id"],
                    "rows": ad.get("rows"),
                    "kind": ad.get("kind", "base"),
                    # per-file cursor bounds (data skipping); absent/None
                    # in pre-stats commits ⇒ the file is never pruned
                    "min_lsn": ad.get("min_lsn"),
                    "max_lsn": ad.get("max_lsn"),
                    # on-disk size recorded at write time — the budgeted-
                    # maintenance planner's unit; None ⇒ getsize fallback
                    "bytes": ad.get("bytes"),
                    # per-file (min, max) of the table's stats_cols —
                    # generic range skipping (event-time etc.)
                    "stats": ad.get("stats") or {},
                    # per-bucket-per-commit pk bloom ({"m","k","words"});
                    # absent ⇒ the file is conservatively point-scanned
                    "bloom": ad.get("bloom"),
                    # commit that added the file — the MOR tiebreaker;
                    # rollback re-adds preserve their ORIGINAL commit so
                    # tie resolution is stable across restore
                    "v": ad.get("v", v),
                }
            if "fence" in e:
                fences[e["fence"]["app_id"]] = e["fence"]["batch_id"]
            if "fences_reset" in e:
                # rollback restores the exactly-once fences wholesale so
                # rolled-back batches re-apply instead of being skipped
                fences = dict(e["fences_reset"])
            if "lineage" in e:
                lineage.append({"version": v, **e["lineage"]})
        self.last_snapshot_log_reads = n_reads
        snap = Snapshot(
            version=latest if at_version is None else at_version,
            schemas=schemas,
            current_schema_id=cur_sid,
            files=files,
            fences=fences,
            n_buckets=n_buckets,
            bucket_cols=bucket_cols,
            primary_key=pk,
            lineage=lineage,
            lineage_totals=totals,
            stats_cols=stats_cols,
            sort_cols=sort_cols,
            bloom_bits=bloom_bits,
            bloom_k=bloom_k,
            zorder_cols=zorder_cols,
        )
        if at_version is None:
            self._snap_cache = snap
        return snap

    def rollback(self, to_version: int) -> int:
        """Restore the table to a historical version with ONE new commit
        (Iceberg rollback_to_snapshot analog): files added since then are
        dereferenced, files removed since then are re-referenced (with
        their original commit version, so MOR tie resolution is stable),
        the schema pointer is restored, and the exactly-once fences are
        reset wholesale — batches merged after ``to_version`` re-apply on
        re-delivery instead of being skipped as duplicates.

        Requires the target version's metadata to still be in the log
        window (snapshot(at_version=...) raises otherwise) and its data
        files to not have been vacuumed — size ``vacuum(grace_commits=)``
        to the rollback window you want to keep."""
        cur = self.snapshot()
        old = self.snapshot(at_version=to_version)
        missing = [
            p for p in old.files
            if not os.path.exists(os.path.join(self.path, p))
        ]
        if missing:
            raise ValueError(
                f"cannot rollback to {to_version}: {len(missing)} data files "
                f"were vacuumed (first: {missing[0]})"
            )
        adds = [
            {"path": p, "bucket": m["bucket"], "schema_id": m["schema_id"],
             "rows": m.get("rows"), "kind": m.get("kind", "base"),
             "min_lsn": m.get("min_lsn"), "max_lsn": m.get("max_lsn"),
             "bytes": m.get("bytes"), "stats": m.get("stats") or {},
             "bloom": m.get("bloom"),
             "v": m.get("v", to_version)}
            for p, m in old.files.items()
            if p not in cur.files
        ]
        removes = [p for p in cur.files if p not in old.files]
        entry: dict = {"op": "rollback", "fences_reset": old.fences}
        if adds:
            entry["adds"] = adds
        if removes:
            entry["removes"] = removes
        if cur.current_schema_id != old.current_schema_id:
            entry["schema"] = old.schema.to_json()
        if cur.n_buckets != old.n_buckets:
            # rolling back ACROSS a rebucket must restore the bucket count
            # too — the re-referenced files carry bucket ids computed under
            # the old count, and a merge planning with the new count would
            # neither read nor remove a key's existing rows (duplicate live
            # rows, wrong pruning)
            entry["n_buckets"] = old.n_buckets
        entry["lineage"] = {
            "app_id": "__rollback__", "batch_id": to_version,
            "rows_in": 0, "rows_upserted": 0, "rows_deleted": 0,
            "max_lsn": None, "epoch": None,
        }
        version = cur.version + 1
        self._write_commit(version, entry)
        self._snap_cache = None
        if self.checkpoint_interval and version % self.checkpoint_interval == 0:
            self._write_checkpoint()
        return version

    def commit(
        self,
        snap: Snapshot,
        adds: list[dict],
        removes: list[str],
        fence: Optional[tuple[str, int]] = None,
        lineage: Optional[dict] = None,
        new_schema: Optional[TableSchema] = None,
        op: str = "merge",
        retry_conflicts: int = 0,
        fences_reset: Optional[dict] = None,
    ) -> int:
        """Publish one commit. Optimistic concurrency (Iceberg-style): the
        version file is hard-linked create-exclusive, so of two writers
        racing on the same base snapshot exactly one wins and the loser
        gets ``CommitConflict``. With ``retry_conflicts > 0`` an ADD-ONLY
        commit (delta/append — valid against any newer snapshot) re-reads
        the log and retries at the next version; commits carrying removes
        rewrote files chosen FROM the stale snapshot, so they must
        re-plan, never blind-retry. A fenced retry re-checks the fence
        first: if a concurrent writer already committed this (app_id,
        batch_id), the conflict is a true duplicate and still raises."""
        entry: dict = {"op": op}
        if adds:
            entry["adds"] = adds
        if removes:
            entry["removes"] = removes
        if fence is not None:
            entry["fence"] = {"app_id": fence[0], "batch_id": fence[1]}
        if lineage is not None:
            entry["lineage"] = lineage
        if new_schema is not None:
            entry["schema"] = new_schema.to_json()
        if fences_reset is not None:
            # wholesale fence replacement (rollback / reset): applied AFTER
            # any per-commit fence in snapshot replay
            entry["fences_reset"] = fences_reset
        for attempt in range(retry_conflicts + 1):
            version = snap.version + 1
            try:
                self._write_commit(version, entry)
                break
            except CommitConflict:
                if removes or attempt == retry_conflicts:
                    raise
                self._snap_cache = None
                snap = self.snapshot()
                if fence is not None and (
                    snap.fences.get(fence[0]) is not None
                    and snap.fences[fence[0]] >= fence[1]
                ):
                    raise CommitConflict(
                        f"batch {fence} already committed by a concurrent "
                        f"writer (fence advanced past it)"
                    )
        self._snap_cache = None
        if self.checkpoint_interval and version % self.checkpoint_interval == 0:
            self._write_checkpoint()
        return version

    # ------------------------------------------------------- log checkpoint

    def _write_checkpoint(self) -> None:
        """Fold the log into one ``<version>.ckpt.json`` so future
        snapshots replay only the tail (Delta checkpoint / Iceberg
        metadata.json analog). Lineage entries beyond the retention window
        fold into ``lineage_totals`` (global counters + per-bucket
        cursor/row high-watermarks — the per-partition resume record stays
        exact even after folding). Old commit files up to one full
        checkpoint interval back are expired: any reader still mid-replay
        holds at most the previous checkpoint as its base."""
        snap = self.snapshot()
        lineage = snap.lineage
        totals = dict(snap.lineage_totals)
        if len(lineage) > self.lineage_retain:
            fold, lineage = (
                lineage[: -self.lineage_retain],
                lineage[-self.lineage_retain :],
            )
            totals = _fold_lineage(totals, fold)
        ck = {
            "version": snap.version,
            "schemas": {sid: s.to_json() for sid, s in snap.schemas.items()},
            "current_schema_id": snap.current_schema_id,
            "files": snap.files,
            "fences": snap.fences,
            "n_buckets": snap.n_buckets,
            "bucket_cols": snap.bucket_cols,
            "primary_key": snap.primary_key,
            "lineage": lineage,
            "lineage_totals": totals,
            "stats_cols": snap.stats_cols,
            "sort_cols": snap.sort_cols,
            "bloom_bits": snap.bloom_bits,
            "bloom_k": snap.bloom_k,
            "zorder_cols": snap.zorder_cols,
        }
        tmp = os.path.join(self.path, _LOG_DIR, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(ck, f)
            f.flush()
            os.fsync(f.fileno())
        dest = self._ckpt_path(snap.version)
        try:
            os.link(tmp, dest)
        except FileExistsError:
            pass  # idempotent: same state at the same version
        finally:
            os.unlink(tmp)
        self._snap_cache = None  # re-snapshot picks up folded lineage
        self._expire_logs(keep_from=snap.version - 2 * (self.checkpoint_interval or 0))

    def _expire_logs(self, keep_from: int) -> None:
        """Drop commit JSONs and superseded checkpoints older than
        ``keep_from`` (their state lives in a retained checkpoint). The
        create commit (version 0's n_buckets/pk) is folded into every
        checkpoint, so it can expire too."""
        if keep_from <= 0:
            return
        log_dir = os.path.join(self.path, _LOG_DIR)
        for f in os.listdir(log_dir):
            if f.startswith(".") or not f.split(".")[0].isdigit():
                continue
            v = int(f.split(".")[0])
            if v < keep_from:
                os.unlink(os.path.join(log_dir, f))

    # ---------------------------------------------------------- evolution

    def evolve(self, transforms: list[FieldTransform]) -> TableSchema:
        """Apply a catalog diff as a metadata-only commit (no file rewrite)."""
        snap = self.snapshot()
        new_schema = apply_transforms(snap.schema, transforms)
        self.commit(snap, adds=[], removes=[], new_schema=new_schema, op="evolve")
        return new_schema

    # ------------------------------------------------------------- writes

    def bucket_expr(self, snap: Snapshot):
        return F.pmod(
            F.hash(*[F.col(c) for c in snap.bucket_cols]), F.lit(snap.n_buckets)
        )

    def write_data_files(
        self,
        snap: Snapshot,
        df: DataFrame,
        touched_buckets: Optional[int] = None,
        kind: str = "base",
        sort_within: Optional[Sequence[str]] = None,
        observe: Optional[tuple] = None,
    ) -> tuple[list[dict], int]:
        """Write rows (payload + meta cols, with ``_b`` bucket col already
        attached) under a fresh commit subdir; return (add-entries,
        total_rows).

        ``touched_buckets`` (at most the number of distinct ``_b`` values
        in ``df``; ``snap.n_buckets`` when the caller has not counted
        them) makes the write bucket-exact: rows hash-partition by ``_b``
        into ``min(touched_buckets, defaultParallelism)`` tasks, so every
        bucket stays whole inside one task and the commit writes exactly
        ONE file per bucket (exact per-file rows, LSN bounds and blooms)
        with no more tasks than the cores can run at once — a per-bucket
        task would only add launch cost, the whole of it on a small
        micro-batch. Without it the input partitioning is kept (appends /
        overwrites: a bucket may span several files).

        Every file's row count and cursor/stats-column bounds come from
        its parquet FOOTER — one few-KB metadata read of each file this
        commit just wrote, the same O(files written this commit) driver
        cost as the post-write listing — never from a second Spark job.
        ``observe`` = ``(Observation, *aggregate columns)`` rides the write
        stage itself: it is the result stage, whose accumulator updates
        count each task once even when tasks are retried. A write of no
        rows leaves no files and removes its subdirectory: an empty batch
        adds nothing to the data directory. ``kind`` is "base"
        (fully-resolved rows) or "delta" (merge-on-read change files that
        the scan resolves by LSN)."""
        sub = uuid.uuid4().hex
        out = os.path.join(self.path, _DATA_DIR, sub)
        writer = df
        if touched_buckets:
            n_tasks = min(
                touched_buckets, self.spark.sparkContext.defaultParallelism
            )
            writer = writer.repartition(n_tasks, "_b")
        if sort_within:
            # table sort order (compaction-time): leading "_b" keeps each
            # output file's rows contiguous per bucket and clustered on
            # the sort columns — tight per-row-group min/max bounds, so
            # pushed-down range predicates prune inside surviving files
            writer = writer.sortWithinPartitions("_b", *sort_within)
        if observe is not None:
            writer = writer.observe(*observe)
        # INT96 (Spark's default parquet timestamp encoding) carries no
        # column statistics, which would silence event-time data skipping;
        # TIMESTAMP_MICROS is the modern stats-bearing encoding. The
        # setting is session-global (the parquet writer ignores it as a
        # per-write option), so it is save/restored around the write — a
        # user session that configured its own encoding must not have it
        # silently hijacked for its OWN writes after touching a LakeTable.
        with _scoped_conf(self.spark, _TS_KEY, "TIMESTAMP_MICROS"):
            writer.write.partitionBy("_b").parquet(out, compression="zstd")
        per_bucket_files: dict[int, list[tuple[str, int]]] = {}
        for entry in os.scandir(out):
            if not entry.is_dir() or not entry.name.startswith("_b="):
                continue
            bucket = int(entry.name.split("=")[1])
            for f2 in os.scandir(entry.path):
                if f2.name.endswith(".parquet"):
                    per_bucket_files.setdefault(bucket, []).append(
                        (f2.path, f2.stat().st_size)
                    )
        if not per_bucket_files:
            # nothing written (only Spark's _SUCCESS marker): the fresh,
            # never-referenced subdir goes too
            shutil.rmtree(out, ignore_errors=True)
            return [], 0
        # per-bucket pk blooms for point-lookup skipping (opt-in): ONE
        # distributed columnar re-read of this commit's fresh files (pk
        # cols only — never a driver-side row scan, never a recompute of
        # the merge plan), aggregated to |buckets| x |words| tiny rows.
        # Deltas/tombstones are included: a point lookup must scan every
        # file that can affect its key's MOR resolution.
        blooms: dict[int, dict] = {}
        if snap.bloom_bits:
            blooms = self._bucket_blooms(out, snap)
        adds = []
        total = 0
        for bucket, paths in per_bucket_files.items():
            for p, nbytes in paths:
                rows, st = _footer_stats(p, [META_LSN, *snap.stats_cols])
                total += rows
                lsn_b = st.get(META_LSN)
                ad = {
                    "path": os.path.relpath(p, self.path),
                    "bucket": bucket,
                    "schema_id": snap.current_schema_id,
                    "rows": rows,
                    "bytes": nbytes,
                    "kind": kind,
                    "min_lsn": int(lsn_b[0]) if lsn_b else None,
                    "max_lsn": int(lsn_b[1]) if lsn_b else None,
                    "stats": {
                        c: list(b) for c, b in st.items() if c != META_LSN
                    },
                }
                if bucket in blooms:
                    # bucket-granular: a multi-file bucket-commit shares
                    # one blob (pruning stays exact — no false negatives,
                    # only sibling-key bits)
                    ad["bloom"] = blooms[bucket]
                adds.append(ad)
        return adds, total

    def _bucket_blooms(self, out_dir: str, snap: Snapshot) -> dict[int, dict]:
        """{bucket: {"m", "k", "words": {word_idx: int64}}} over the fresh
        commit subdir — the write-time half of the point-lookup index."""
        m, k = snap.bloom_bits, snap.bloom_k
        pk = [F.col(c) for c in snap.primary_key]
        rows = (
            self.spark.read.parquet(out_dir)
            .select(
                F.col("_b").cast("int").alias("_b"),
                F.explode(_bloom_positions(pk, m, k)).alias("pos"),
            )
            .select(
                "_b",
                F.expr("pos DIV 64").cast("int").alias("w"),
                F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("bit"),
            )
            .groupBy("_b", "w")
            .agg(F.expr("bit_or(bit)").alias("bits"))
            .collect()
        )
        words: dict[int, dict[str, int]] = {}
        for r in rows:
            words.setdefault(r["_b"], {})[str(r["w"])] = r["bits"]
        return {b: {"m": m, "k": k, "words": w} for b, w in words.items()}

    def append(
        self,
        df: DataFrame,
        lsn_col: Optional[str] = None,
        fence: Optional[tuple] = None,
    ) -> Optional[int]:
        """Blind append (bronze / destination_sync_mode=append, K7).

        The LSN resolves from the INCOMING frame in the same select as the
        conform (same hazard as ``overwrite``: a cursor column the table
        schema doesn't carry would already be projected away).

        ``fence=(app_id, batch_id)`` makes the append exactly-once like the
        merge paths: a batch_id at/behind the recorded fence returns None
        without writing (at-least-once feeders can re-deliver appends —
        a blind re-append would silently double rows)."""
        snap = self.snapshot()
        if fence is not None:
            last = snap.fences.get(fence[0])
            if last is not None and fence[1] <= last:
                return None
        lsn = (
            F.col(lsn_col).cast("long") if lsn_col else F.lit(0).cast("long")
        )
        prepared = (
            self._conform(df, snap, extra=[lsn.alias(META_LSN)])
            .withColumn(META_DELETED, F.lit(False))
            .withColumn("_b", self.bucket_expr(snap))
        )
        adds, _ = self.write_data_files(snap, prepared)
        return self.commit(snap, adds, [], op="append", fence=fence)

    def overwrite(
        self,
        df: DataFrame,
        lsn_col: Optional[str] = None,
        fence: Optional[tuple[str, int]] = None,
    ) -> Optional[int]:
        """Full-refresh overwrite (D9): replace all files in one commit.

        ``fence`` gives the overwrite the same exactly-once contract as
        ``merge_batch``: a replayed (app_id, batch_id) is a no-op (returns
        None) BEFORE any compute — the re-sync step of a changelog
        consumer (lake.pipeline.tail_into) relies on this to make crash
        replays of a snapshot re-sync idempotent."""
        snap = self.snapshot()
        if fence is not None:
            last = snap.fences.get(fence[0])
            if last is not None and fence[1] <= last:
                return None
        # resolve the LSN from the INCOMING frame in the same select as the
        # conform: the cursor may be a column the table schema doesn't
        # carry (e.g. the __lsn meta column of another table's read — the
        # pipeline re-sync path), which a conform-then-resolve order would
        # have dropped already
        lsn = (
            F.col(lsn_col).cast("long") if lsn_col else F.lit(0).cast("long")
        )
        prepared = (
            self._conform(df, snap, extra=[lsn.alias(META_LSN)])
            .withColumn(META_DELETED, F.lit(False))
            .withColumn("_b", self.bucket_expr(snap))
        )
        adds, _ = self.write_data_files(snap, prepared)
        return self.commit(
            snap, adds, list(snap.files), fence=fence, op="overwrite"
        )

    def reset(self, app_id: Optional[str] = None) -> int:
        """Per-stream reset — the Airbyte "reset" job for one stream
        (EmptyAirbyteSource overwrite + per-stream state wipe:
        DefaultJobCreator.java:112-151 builds the reset job with
        ResetSourceConfiguration.withStreamsToReset): ONE commit that drops
        every data file and clears the exactly-once fence for ``app_id``
        (all fences when None), so the next sync re-bootstraps from the
        source's beginning and re-applies batch 0 onward instead of being
        fenced off as already-committed duplicates.

        The table keeps its schema, layout, and commit history — time
        travel to pre-reset versions and ``rollback`` across the reset
        still work (the dropped files stay on disk until ``vacuum``). The
        changelog treats the commit as a truncate boundary exactly like
        ``overwrite`` (not row-attributable), so tailing consumers re-sync
        via their normal boundary path. Metadata-only: no data scan, no
        write job.

        Staged (write-audit-publish) commits fenced under ``app_id`` are
        ABORTED: with the fence cleared, a leftover pre-reset stage would
        otherwise publish cleanly after the reset (add-only stages carry no
        removes to conflict on) and resurrect wiped data — the same reason
        Airbyte cancels a connection's running jobs before resetting it.
        Other apps' staged commits are untouched."""
        snap = self.snapshot()
        fences: dict = {} if app_id is None else {
            k: v for k, v in snap.fences.items() if k != app_id
        }
        for sid in self.list_staged():
            f = self._load_staged(sid).get("fence")
            if app_id is None or (f is not None and f["app_id"] == app_id):
                self.abort_staged(sid)
        return self.commit(
            snap,
            [],
            list(snap.files),
            op="reset",
            fences_reset=fences,
            lineage={"app_id": app_id, "rows_in": 0, "reset": True},
        )

    def commit_ops(
        self, from_version: int, to_version: Optional[int] = None
    ) -> list[tuple[int, str]]:
        """``(version, op)`` of every commit in ``(from_version,
        to_version]`` — the driver-side commit-kind probe an incremental
        consumer uses to segment a tail range at non-row-attributable
        commits (overwrite/rollback) WITHOUT scanning any data. O(range)
        tiny JSON reads; the range must be inside the log-retention
        window (same contract as ``changes_between``)."""
        if to_version is None:
            to_version = self.snapshot().version
        out: list[tuple[int, str]] = []
        for v in range(from_version + 1, to_version + 1):
            try:
                with open(self._log_path(v)) as f:
                    e = json.load(f)
            except FileNotFoundError as err:
                raise ValueError(
                    f"commit {v} expired from the log window"
                ) from err
            out.append((v, e.get("op", "merge")))
        return out

    def _conform(
        self, df: DataFrame, snap: Snapshot, extra: Optional[list] = None
    ) -> DataFrame:
        """Project/cast a frame onto the current schema (null-pad missing).
        ``extra`` appends expressions resolved against the INCOMING frame
        (e.g. a cursor column the schema doesn't carry) in the same
        select, before the conform would drop their inputs."""
        cols = []
        for fs in snap.schema.fields:
            if fs.name in df.columns:
                cols.append(F.col(fs.name).cast(fs.dtype).alias(fs.name))
            else:
                cols.append(F.lit(None).cast(fs.dtype).alias(fs.name))
        return df.select(*cols, *(extra or []))

    # -------------------------------------------------------------- reads

    def read(
        self,
        buckets: Optional[Sequence[int]] = None,
        include_meta: bool = False,
        include_deleted: bool = False,
        snap: Optional[Snapshot] = None,
        resolve: bool = True,
        since_lsn: Optional[int] = None,
        ranges: Optional[dict] = None,
    ) -> DataFrame:
        """Current-snapshot scan. Old-schema file groups are projected onto
        the current schema by field uid (rename/widen/null-pad), then
        union-by-name'd — the scan stays fully columnar/JVM-side.

        The scan is built from the snapshot's own file list: planning
        checks the selected files in-process and starts NO Spark job,
        however many files the snapshot holds (Spark would otherwise list
        more than 32 paths with a distributed listing job).

        Merge-on-read: when delta files are present (strategy="mor"
        merges), the scan resolves latest-per-key by ``__lsn`` across
        base+delta rows (tombstones win when newest), exactly like
        Iceberg MOR / Paimon LSM reads. LSN ties resolve to the EARLIEST
        commit (per-file ``v``, joined in via ``_metadata.file_path``) —
        the same "target keeps on tie / source wins only if strictly
        newer" rule the COW merge applies, so repeated MOR reads are
        deterministic and byte-equal to the COW result on tie-prone
        cursors. ``resolve=False`` returns raw rows (used by
        compaction-era internals and bronze append tables, which never
        carry deltas).

        ``since_lsn`` is a PRE-resolution row filter ``__lsn > since_lsn``
        with file-level data skipping: files whose footer-derived
        ``max_lsn`` (recorded in the commit log at write time, Delta
        stats-skipping analog) is ≤ the threshold never enter the scan at
        all — no listing, no footer open. Files from pre-stats commits
        carry no bounds and are conservatively scanned; the residual
        filter keeps the result exact either way.

        ``ranges`` ({col: (lo, hi)}, either end None = open) generalizes
        the same contract to the table's ``stats_cols`` (e.g. event
        time): files whose recorded (min, max) is provably disjoint from
        the queried interval are pruned before the scan exists, and a
        residual ``col BETWEEN lo AND hi`` filter keeps the result exact
        for unpruned files. Like ``since_lsn`` it is PRE-resolution: on a
        MOR table combine it with ``resolve=False`` (or a delta-free
        snapshot) unless a version-filtered resolution is intended —
        filtering versions before latest-per-key changes which version
        wins."""
        snap = snap or self.snapshot()
        cur = snap.schema
        groups: dict[int, list[str]] = {}
        has_delta = False
        selected: list[tuple[str, dict]] = []
        qranges = {
            c: (_stat_value(lo), _stat_value(hi))
            for c, (lo, hi) in (ranges or {}).items()
        }
        for path, meta in snap.files.items():
            if buckets is not None and meta["bucket"] not in buckets:
                continue
            if (
                since_lsn is not None
                and meta.get("max_lsn") is not None
                and meta["max_lsn"] <= since_lsn
            ):
                continue  # data skipping: whole file is ≤ the cursor bound
            if qranges and _ranges_disjoint(meta.get("stats") or {}, qranges):
                continue  # data skipping: stats prove no row can match
            if meta.get("kind", "base") == "delta":
                has_delta = True
            selected.append((path, meta))
            groups.setdefault(meta["schema_id"], []).append(
                os.path.join(self.path, path)
            )
        need_commit_col = has_delta and resolve
        parts: list[DataFrame] = []
        for sid, paths in sorted(groups.items()):
            raw, cols = self._file_group_scan(snap, sid, paths, cur)
            if need_commit_col:
                # key = last 3 path components "<commit-subdir>/_b=<k>/<file>":
                # the subdir is a per-commit uuid and basenames are unique
                # within one _b= dir, so the key is globally unique even when
                # one write job emits identical part-NNNNN basenames into
                # several _b= dirs. Broadcast-joined below against the
                # |files|-row manifest.
                cols.append(
                    F.array_join(
                        F.slice(F.split(F.col("_metadata.file_path"), "/"), -3, 3),
                        "/",
                    ).alias("_fname")
                )
            parts.append(raw.select(*cols))
        if not parts:
            struct = cur.to_struct().add(META_LSN, "long").add(META_DELETED, "boolean")
            parts = [self.spark.createDataFrame([], struct)]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if since_lsn is not None:
            # residual filter (exact even for un-stat'd files); lands in
            # PushedFilters on the parquet scan, so surviving files still
            # prune at row-group granularity
            df = df.filter(F.col(META_LSN) > since_lsn)
        for c, (lo, hi) in (ranges or {}).items():
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(c) <= F.lit(hi))
        if need_commit_col and "_fname" in df.columns:
            from ..operators.dedup import latest_per_key

            manifest = self.spark.createDataFrame(
                [("/".join(p.split("/")[-3:]), m.get("v", 0)) for p, m in selected],
                "_fname string, _commit_v long",
            )
            df = df.join(F.broadcast(manifest), "_fname", "left").drop("_fname")
            # max_by on (lsn, -commit): highest LSN wins; on an LSN tie the
            # OLDEST commit wins (COW target-keeps-on-tie)
            df = df.withColumn(
                "_neg_commit", -F.coalesce(F.col("_commit_v"), F.lit(0))
            ).drop("_commit_v")
            df = latest_per_key(
                df, snap.primary_key, [META_LSN, "_neg_commit"]
            ).drop("_neg_commit")
        if not include_deleted:
            df = df.filter(~F.col(META_DELETED))
        if not include_meta:
            df = df.drop(META_LSN, META_DELETED)
        return df

    def plan_point_lookup(
        self, keys: Sequence, snap: Optional[Snapshot] = None
    ) -> dict:
        """File-pruning plan for an exact-pk lookup: bucket pruning (when
        ``bucket_cols`` ⊆ pk) then per-file pk-bloom probing. Returns
        {"files", "total_files", "bucket_skipped", "bloom_skipped",
        "probes"} — the diagnostic the skipping tests assert on. Files
        without a bloom blob (pre-bloom commits, bloom disabled) are
        conservatively kept; pruning never produces false negatives."""
        snap = snap or self.snapshot()
        probes = self._probe_point_keys(keys, snap)
        by_bucket: dict[Optional[int], list] = {}
        for p in probes:
            by_bucket.setdefault(p["__bucket"], []).append(p)
        bucket_prunable = None not in by_bucket
        selected: dict[str, dict] = {}
        bucket_skipped = bloom_skipped = 0
        for path, meta in snap.files.items():
            if bucket_prunable and meta["bucket"] not in by_bucket:
                bucket_skipped += 1
                continue
            cand = (
                by_bucket[meta["bucket"]] if bucket_prunable else probes
            )
            blob = meta.get("bloom")
            if blob and blob.get("m") == snap.bloom_bits:
                if not any(
                    _bloom_may_contain(blob, p["__pos"]) for p in cand
                ):
                    bloom_skipped += 1
                    continue
            selected[path] = meta
        return {
            "files": selected,
            "total_files": len(snap.files),
            "bucket_skipped": bucket_skipped,
            "bloom_skipped": bloom_skipped,
            "probes": probes,
        }

    def point_lookup(
        self,
        keys: Sequence,
        include_meta: bool = False,
        snap: Optional[Snapshot] = None,
    ) -> DataFrame:
        """Exact-key read: resolved current rows for the given pk values
        (tuples for composite keys, scalars otherwise). The scan covers
        only files that can contain a requested key — bucket pruning plus
        per-bucket-per-commit pk blooms (``create(bloom_bits=...)``), so
        a key written once costs O(files containing it), not O(files in
        its bucket). MOR resolution stays exact: the bloom has no false
        negatives, so every file carrying a requested key's versions or
        tombstones survives pruning."""
        snap = snap or self.snapshot()
        plan = self.plan_point_lookup(keys, snap)
        df = self.read(
            snap=replace(snap, files=plan["files"]),
            include_meta=include_meta,
        )
        pk = snap.primary_key
        probes = plan["probes"]
        if len(probes) <= 64:
            # small key sets: an OR-of-ANDs residual lands in the parquet
            # scan's PushedFilters, pruning row groups inside survivors
            cond = F.lit(False)
            for p in probes:
                c = F.lit(True)
                for col in pk:
                    c = c & F.col(col).eqNullSafe(F.lit(p[col]))
                cond = cond | c
            return df.filter(cond)
        from pyspark.sql.types import StructType

        full = snap.schema.to_struct()
        kdf = self.spark.createDataFrame(
            [tuple(p[c] for c in pk) for p in probes],
            StructType([full[c] for c in pk]),
        )
        return df.join(F.broadcast(kdf.dropDuplicates()), on=pk, how="left_semi")

    def _probe_point_keys(self, keys: Sequence, snap: Snapshot) -> list:
        """One tiny Spark job over the key literals computing, with the
        SAME Catalyst expressions the write path used, each key's bucket
        (None when bucket_cols ⊄ pk) and bloom bit positions."""
        if not keys:
            raise ValueError("point_lookup needs at least one key")
        from pyspark.sql.types import StructType

        pk = snap.primary_key
        full = snap.schema.to_struct()
        struct = StructType([full[c] for c in pk])
        rows = [
            tuple(k) if isinstance(k, (tuple, list)) else (k,) for k in keys
        ]
        kdf = self.spark.createDataFrame(rows, struct)
        cols = [F.col(c) for c in pk]
        sel = list(cols)
        if set(snap.bucket_cols) <= set(pk):
            sel.append(self.bucket_expr(snap).cast("int").alias("__bucket"))
        else:
            sel.append(F.lit(None).cast("int").alias("__bucket"))
        if snap.bloom_bits:
            sel.append(
                _bloom_positions(cols, snap.bloom_bits, snap.bloom_k).alias(
                    "__pos"
                )
            )
        else:
            sel.append(F.lit(None).cast("array<bigint>").alias("__pos"))
        return kdf.select(*sel).collect()

    def read_incremental(
        self,
        since_lsn: int,
        buckets: Optional[Sequence[int]] = None,
        include_meta: bool = True,
        resolve: bool = False,
    ) -> DataFrame:
        """Incremental cursor scan over the lake (the reference's
        incremental-read semantics — airbyte-cdk abstract_source.py reads
        records with cursor > state — applied to the stored table): all
        rows with ``__lsn > since_lsn``, tombstones included so a
        downstream consumer sees deletes.

        Unlike ``changes_between`` (the CDF, which needs the commit range
        still in the log-retention window), this works off the CURRENT
        snapshot plus per-file cursor stats, so it survives log expiry and
        checkpoint folding: at 10^10 rows a consumer resuming from
        yesterday's watermark scans only the files whose footer ``max_lsn``
        exceeds it — typically the newest few commits — never the table.
        ``resolve=True`` additionally collapses to latest-per-key WITHIN
        the new window (an upsert feed) — exact because the merge path
        enforces strictly-increasing ``__lsn`` per key, so (pk, lsn) is
        unique and no commit-order tiebreak is needed; default is the raw
        record feed. Pair with ``lineage_totals()['max_lsn']`` /
        ``partition_watermarks()`` to checkpoint the next watermark."""
        # ONE snapshot for the scan and its key: a commit landing between
        # two snapshot() calls would otherwise mix two table versions
        snap = self.snapshot()
        df = self.read(
            buckets=buckets,
            include_meta=True,
            include_deleted=True,
            resolve=False,
            since_lsn=since_lsn,
            snap=snap,
        )
        if resolve and snap.primary_key:
            from ..operators.dedup import latest_per_key

            df = latest_per_key(df, snap.primary_key, [META_LSN])
        if not include_meta:
            df = df.drop(META_LSN, META_DELETED)
        return df

    def _file_group_scan(self, snap: Snapshot, sid: int, paths: list[str], cur):
        """Scan one schema-era file group and build the uid-based projection
        onto the current schema (rename/widen/null-pad) + physical meta
        cols. Returns (raw_df, projection_cols)."""
        file_schema = snap.schemas[sid]
        struct = file_schema.to_struct()
        # meta cols are physical in every data file
        read_struct = struct.add(META_LSN, "long").add(META_DELETED, "boolean")
        # the snapshot already names every file: check them in-process
        # (one status call each) instead of in a distributed listing job
        with _scoped_conf(self.spark, _LISTING_KEY, _NO_LISTING_JOB):
            raw = self.spark.read.schema(read_struct).parquet(*paths)
        by_uid = file_schema.by_uid()
        cols = []
        for fs in cur.fields:
            src = by_uid.get(fs.uid)
            if src is None:
                cols.append(F.lit(None).cast(fs.dtype).alias(fs.name))
            elif src.dtype == fs.dtype and src.name == fs.name:
                cols.append(F.col(fs.name))
            else:
                cols.append(F.col(src.name).cast(fs.dtype).alias(fs.name))
        cols += [F.col(META_LSN), F.col(META_DELETED)]
        return raw, cols

    # -------------------------------------------------- change data feed

    def _as_of_schema(self, hist: Snapshot, snap: Snapshot) -> Snapshot:
        """Clone a historical snapshot so reads project onto the FINAL
        schema (by field uid) instead of the schema current at that
        version — keeps multi-part changelog output schema-uniform."""
        if hist.current_schema_id == snap.current_schema_id:
            return hist
        return Snapshot(
            **{
                **hist.__dict__,
                "schemas": {**hist.schemas, snap.current_schema_id: snap.schema},
                "current_schema_id": snap.current_schema_id,
            }
        )

    def _diff_commit_changes(
        self, v: int, entry: dict, snap: Snapshot, scd: bool = False
    ) -> DataFrame:
        """Change rows of a REWRITE commit (cow merge / cow scd_merge) via
        keyed diff of the v-1 and v snapshots, pruned to the commit's
        touched buckets.

        A cow merge only adds/updates keys (deletes are tombstone rows),
        so a left join from the new state suffices: a key whose
        (__lsn, __deleted) pair differs — or which has no previous row —
        was changed by this commit.

        ``scd=True`` (cow scd_merge): version rows are IMMUTABLE — a
        (pk, cursor) row is created once; later batches only rewrite its
        DERIVED columns (``_airbyte_end_at``/``_airbyte_active_row``),
        both pure functions of the key's version set. So the commit's
        logical change set is exactly the (pk, cursor) EXISTENCE diff
        (anti-join) of v/v-1, and the derived columns are emitted NULL —
        byte-identical shape to MOR scd_merge delta rows, so a changelog
        consumer handles both strategies with ONE rule: re-derive
        end_at/active_row from the version set (``read_scd`` /
        ``_resolved_history``), never trust them from the change feed."""
        prev = self.snapshot(at_version=v - 1)
        curv = self.snapshot(at_version=v)
        touched: set[int] = {a["bucket"] for a in entry.get("adds", [])}
        for r in entry.get("removes", []):
            m = prev.files.get(r)
            if m is not None:
                touched.add(m["bucket"])
        buckets = sorted(touched)
        for s_ in (prev, curv):
            for p, m in s_.files.items():
                if m["bucket"] in touched and not os.path.exists(
                    os.path.join(self.path, p)
                ):
                    raise ValueError(
                        f"commit {v}: snapshot diff needs data file {p}, "
                        f"which was vacuumed; widen vacuum grace_commits or "
                        f"tail the feed before vacuum"
                    )
        cur_rows = self.read(
            buckets=buckets, include_meta=True, include_deleted=True,
            snap=self._as_of_schema(curv, snap),
        ).alias("c")
        prev_rows = self.read(
            buckets=buckets, include_meta=True, include_deleted=True,
            snap=self._as_of_schema(prev, snap),
        ).alias("p")
        pk = snap.primary_key
        if scd:
            changed = cur_rows.join(prev_rows, on=list(pk), how="left_anti")
            mutable = {"_airbyte_end_at", "_airbyte_active_row"}
            cols = [
                F.lit(None).cast(fs.dtype).alias(fs.name)
                if fs.name in mutable
                else F.col(fs.name)
                for fs in snap.schema.fields
            ]
        else:
            joined = cur_rows.join(prev_rows, on=list(pk), how="left")
            changed = joined.filter(
                (~F.col(f"c.{META_LSN}").eqNullSafe(F.col(f"p.{META_LSN}")))
                | (~F.col(f"c.{META_DELETED}").eqNullSafe(F.col(f"p.{META_DELETED}")))
            )
            cols = [
                F.col(fs.name) if fs.name in pk else F.col(f"c.{fs.name}")
                for fs in snap.schema.fields
            ]
        cols += [
            F.col(f"c.{META_LSN}").alias(META_LSN),
            F.col(f"c.{META_DELETED}").alias(META_DELETED),
            F.lit(v).cast("long").alias("_change_version"),
        ]
        return changed.select(*cols)

    def changes_between(
        self,
        from_version: int,
        to_version: Optional[int] = None,
        on_truncate: str = "raise",
    ) -> DataFrame:
        """Change-data-feed read (Iceberg CDF / Paimon changelog analog):
        the collapsed change rows applied by commits in
        ``(from_version, to_version]`` — one row per (key, commit) with
        ``__lsn``, ``__deleted`` (tombstones visible), ``_change_version``
        and ``_change_type`` (``upsert`` / ``delete`` / ``truncate``).
        Downstream incremental consumers tail the table with this instead
        of re-diffing snapshots. Append/MOR commits in the range are
        COALESCED into one scan per schema era with a broadcast per-file
        version manifest (``_scan_change_commits``) — the plan stays
        O(schema eras + rewrite commits), not O(commits), however long the
        tailed range is.

        Exact for MOR merges and appends, whose data files ARE the
        per-commit change sets — those scan only the commit's own files.
        A COW merge commit is derived by KEYED SNAPSHOT DIFF (Iceberg/
        Delta changelog-from-rewrites equivalent): join the v-1 and v
        states over the commit's touched buckets and keep keys whose
        (__lsn, __deleted) changed — two bucket-pruned scans + one join
        per rewrite commit in the range. A COW scd_merge commit is derived
        by (pk, cursor) EXISTENCE diff (version rows are immutable — see
        ``_diff_commit_changes(scd=True)``). Compaction / rebucket / scd
        folds change no logical state and contribute nothing.

        Overwrite and rollback drop keys wholesale with no per-key cursor
        to order the implied deletes — they are NOT row-attributable. With
        the default ``on_truncate="raise"`` the call raises; with
        ``on_truncate="boundary"`` the feed instead ends with ONE
        ``_change_type='truncate'`` row at that commit's version (payload
        columns null) and carries NOTHING past it — the Delta-CDF contract
        for non-row-attributable commits: the consumer discards its
        replica, re-syncs from the snapshot AT the boundary version
        (``read(snap=snapshot(at_version=boundary))``), and resumes
        tailing from there. The range must be inside the log-retention
        window (≤ 2 checkpoint intervals).

        SCD-TABLE CONSUMER CONTRACT: change rows of an SCD history table
        (either strategy — MOR delta rows, or COW existence-diff rows)
        carry NULL ``_airbyte_end_at``/``_airbyte_active_row``. Those two
        columns are derived state over the key's WHOLE version set, so
        they cannot be attributed to single change rows; a consumer
        replaying the feed into its own history table must re-derive them
        from the accumulated versions (``read_scd`` semantics /
        ``scd.resolve_scd_changelog``) rather than read them from the
        feed."""
        snap = self.snapshot(
            at_version=to_version
        ) if to_version is not None else self.snapshot()
        to_version = snap.version
        cur = snap.schema
        parts: list[DataFrame] = []
        change_files: list[tuple[str, int, int]] = []  # (rel path, sid, v)
        for v in range(from_version + 1, to_version + 1):
            try:
                with open(self._log_path(v)) as f:
                    e = json.load(f)
            except FileNotFoundError as err:
                raise ValueError(
                    f"commit {v} expired from the log window"
                ) from err
            op = e.get("op")
            if op in ("compact", "rebucket", "scd_compact"):
                continue  # physical reorganization: logical state unchanged
            adds = e.get("adds", [])
            if not adds and not e.get("removes"):
                continue
            changes_only = op == "append" or (
                op in ("merge", "scd_merge")
                and all(a.get("kind") == "delta" for a in adds)
            )
            if changes_only:
                # coalesced below into ONE scan per schema era (plan stays
                # O(schema eras), not O(commits), over a long tail range)
                for ad in adds:
                    if not os.path.exists(os.path.join(self.path, ad["path"])):
                        # delta files of an in-window commit can be compacted
                        # away and vacuumed; fail at plan time with a clear
                        # message instead of an executor FileNotFoundException
                        raise ValueError(
                            f"commit {v}: data file {ad['path']} was vacuumed "
                            f"(compaction folded this commit's deltas); tail "
                            f"the feed before vacuum, or widen vacuum "
                            f"grace_commits"
                        )
                    change_files.append((ad["path"], ad["schema_id"], v))
                continue
                # the (__lsn, __deleted) keyed diff is exact only where a
                # key's row is immutable per LSN: main-table cow merges.
                # A cow scd_merge is EXISTENCE-diffable instead (version
                # rows are immutable; only derived columns are rewritten,
                # and those are re-derivable — see _diff_commit_changes).
                # Overwrite/rollback drop keys wholesale with no per-key
                # cursor to order the implied deletes.
            # non-coalescible commit: keyed/existence diff or truncate
            if op not in ("merge", "scd_merge"):
                if on_truncate == "boundary":
                    parts.append(self._truncate_boundary_row(cur, v))
                    break  # nothing past the boundary: re-sync first
                raise ValueError(
                    f"commit {v} (op={op}) rewrote rows beyond what an "
                    f"LSN-keyed diff can attribute; changelog is "
                    f"derivable from MOR/append/cow-merge/cow-scd-merge "
                    f"commits only — re-sync the consumer from a "
                    f"snapshot, or tail with on_truncate='boundary'"
                )
            parts.append(
                _typed(self._diff_commit_changes(v, e, snap, scd=op == "scd_merge"))
            )
        if change_files:
            parts.append(_typed(self._scan_change_commits(change_files, snap, cur)))
        if not parts:
            return self.spark.createDataFrame([], _changes_struct(cur))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def _scan_change_commits(
        self, change_files: list[tuple[str, int, int]], snap: Snapshot, cur
    ) -> DataFrame:
        """One coalesced scan over every append/MOR commit's change files in
        the range: group by schema era (ONE multi-file parquet scan each),
        then attach ``_change_version`` per file via a broadcast manifest
        join on the ``_metadata.file_path`` key — the same |files|-row
        manifest mechanism the MOR tie-break read uses. Plan size is
        O(schema eras), not O(commits): tailing 1,000 commits costs the
        same plan as tailing one."""
        groups: dict[int, list[str]] = {}
        manifest_rows = []
        for rel, sid, v in change_files:
            groups.setdefault(sid, []).append(os.path.join(self.path, rel))
            manifest_rows.append(("/".join(rel.split("/")[-3:]), v))
        fname = F.array_join(
            F.slice(F.split(F.col("_metadata.file_path"), "/"), -3, 3), "/"
        ).alias("_fname")
        parts = []
        for sid, paths in sorted(groups.items()):
            raw, cols = self._file_group_scan(snap, sid, paths, cur)
            parts.append(raw.select(*cols, fname))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        manifest = self.spark.createDataFrame(
            manifest_rows, "_fname string, _change_version long"
        )
        return df.join(F.broadcast(manifest), "_fname").drop("_fname")

    def _truncate_boundary_row(self, cur, v: int) -> DataFrame:
        """The non-row-attributable-commit marker: one all-null row typed
        ``truncate`` at the commit's version (Delta CDF contract)."""
        row = {"_change_version": v, "_change_type": "truncate"}
        return self.spark.createDataFrame([row], _changes_struct(cur))

    # -------------------------------------------------------- maintenance

    def compact(self, min_files: int = 2, buckets: Optional[Sequence[int]] = None) -> int:
        """Rewrite fragmented buckets into one file each (small-file
        compaction) AND fold merge-on-read delta files into base: the read
        below resolves latest-per-key across base+deltas, so the rewrite
        materializes the resolved state — the equivalent of Iceberg's
        rewrite_data_files / Paimon's LSM compaction.

        Tombstones are preserved (they carry delete semantics). Single-writer
        contract: run from the owning writer between merges.
        """
        snap = self.snapshot()
        per_bucket: dict[int, list[str]] = {}
        delta_buckets: set[int] = set()
        for path, meta in snap.files.items():
            per_bucket.setdefault(meta["bucket"], []).append(path)
            if meta.get("kind", "base") == "delta":
                delta_buckets.add(meta["bucket"])
        targets = [
            b
            for b, paths in per_bucket.items()
            if (len(paths) >= min_files or b in delta_buckets)
            and (buckets is None or b in buckets)
        ]
        if not targets:
            return snap.version
        df = self.read(
            buckets=targets, include_meta=True, include_deleted=True, snap=snap
        ).withColumn("_b", self.bucket_expr(snap))
        adds, _ = self.write_data_files(
            snap, df, touched_buckets=len(targets),
            sort_within=self._rewrite_sort(snap),
        )
        removes = [p for b in targets for p in per_bucket[b]]
        return self.commit(snap, adds, removes, op="compact")

    def _rewrite_sort(self, snap: Snapshot):
        """Rewrite-time ordering: the z-curve key when zorder_cols is set
        (bounds folded from recorded file stats — zero extra passes),
        else the linear sort_cols. Falls back to a plain lexicographic
        sort on the zorder columns when no file carries bounds yet (the
        clustering improves as stats accumulate; correctness never
        depends on it)."""
        if not snap.zorder_cols:
            return snap.sort_cols or None
        struct = snap.schema.to_struct()
        from pyspark.sql import types as _T

        ranked = []
        have_bounds = False
        for c in snap.zorder_cols:
            los, his = [], []
            for meta in snap.files.values():
                b = (meta.get("stats") or {}).get(c)
                if b and b[0] is not None and b[1] is not None:
                    los.append(_stat_value(b[0]))
                    his.append(_stat_value(b[1]))
            col = F.col(c)
            if isinstance(struct[c].dataType, _T.TimestampType):
                # align with _stat_value's epoch-micro encoding
                col = F.unix_micros(col)
            if los:
                have_bounds = True
                ranked.append((col, min(los), max(his)))
            else:
                ranked.append((col, None, None))
        if not have_bounds:
            return list(snap.zorder_cols)
        return [zorder_key(ranked)]

    def rebucket(self, new_n_buckets: int) -> int:
        """Bucket-layout evolution (Iceberg partition-spec evolution
        analog): rewrite the table under a new bucket count in ONE commit.

        The bucket count is the table's unit of merge parallelism and
        pruning granularity — sized for the CURRENT data volume. A table
        that has grown 100× needs more buckets or every micro-batch touches
        every bucket's (huge) files; this is the deliberate full-rewrite
        that fixes it (run it like compaction: from the single writer,
        between merges). MOR deltas are folded in by the resolving read, so
        the rewrite also compacts."""
        snap = self.snapshot()
        if new_n_buckets == snap.n_buckets:
            return snap.version
        df = self.read(include_meta=True, include_deleted=True, snap=snap)
        new_expr = F.pmod(
            F.hash(*[F.col(c) for c in snap.bucket_cols]), F.lit(new_n_buckets)
        )
        rows = df.withColumn("_b", new_expr)
        # temporarily advertise the new count so write_data_files
        # partitions correctly; the commit entry makes it durable
        adds, _ = self.write_data_files(
            Snapshot(**{**snap.__dict__, "n_buckets": new_n_buckets}),
            rows,
            touched_buckets=new_n_buckets,
            sort_within=self._rewrite_sort(snap),
        )
        entry: dict = {
            "op": "rebucket",
            "n_buckets": new_n_buckets,
            "adds": adds,
            "removes": list(snap.files),
        }
        version = snap.version + 1
        self._write_commit(version, entry)
        self._snap_cache = None
        if self.checkpoint_interval and version % self.checkpoint_interval == 0:
            self._write_checkpoint()
        return version

    def _vacuum_marker_path(self) -> str:
        # dot-prefixed: invisible to snapshot()'s log listing
        return os.path.join(self.path, _LOG_DIR, ".vacuum")

    def _read_vacuum_marker(self) -> int:
        try:
            with open(self._vacuum_marker_path()) as f:
                return int(f.read().strip() or 0)
        except (FileNotFoundError, ValueError):
            return 0

    def vacuum(self, grace_commits: int = 0, deep: bool = False) -> list[str]:
        """Delete on-disk data files not referenced by the current snapshot
        (left behind by compaction/overwrite/merge rewrites). Single-writer
        contract: only run between commits of the owning writer.

        **Commit-scoped (default)**: every orphan was dereferenced by some
        commit, so the candidate set is exactly the union of the
        ``removes`` lists of commits since the last vacuum (tracked in a
        ``_log/.vacuum`` high-watermark). Driver cost is O(commits since
        last vacuum + files they removed) — flat when called from the
        streaming auto-compact loop, NEVER a walk of the whole data
        directory (at 10^10 events that walk is millions of file stats
        inside the ingest loop). If vacuum was paused long enough that
        log expiry folded away unvacuumed commits, the skipped candidates
        leak until a ``deep=True`` pass.

        **deep=True (offline repair)**: full ``os.walk`` of the data dir —
        also reclaims files that were never referenced by any commit
        (a crashed write job that died between writing files and
        committing). Run it out-of-band, not from the ingest loop.

        ``grace_commits`` protects files dereferenced within the last N
        commits: a concurrent READER (read() is public even on a
        single-writer table) holding a recent snapshot can finish its scan
        instead of hitting FileNotFoundException mid-read."""
        snap = self.snapshot()
        referenced = {os.path.normpath(p) for p in snap.files}
        horizon = snap.version - grace_commits
        removed: list[str] = []
        if deep:
            # staged (write-audit-publish) commits reference files outside
            # the numbered log — protect them until published or aborted
            for sid in self.list_staged():
                for ad in self._load_staged(sid).get("adds", []):
                    referenced.add(os.path.normpath(ad["path"]))
            # protect the grace window's dereferenced files
            for v in range(max(1, horizon + 1), snap.version + 1):
                try:
                    with open(self._log_path(v)) as f:
                        e = json.load(f)
                except FileNotFoundError:
                    continue
                for rm in e.get("removes", []):
                    referenced.add(os.path.normpath(rm))
            data_root = os.path.join(self.path, _DATA_DIR)
            for root, _dirs, names in os.walk(data_root):
                for nm in names:
                    if not nm.endswith(".parquet"):
                        continue
                    full = os.path.join(root, nm)
                    rel = os.path.normpath(os.path.relpath(full, self.path))
                    if rel not in referenced:
                        os.unlink(full)
                        removed.append(rel)
            return removed

        marker = self._read_vacuum_marker()
        log_dir = os.path.join(self.path, _LOG_DIR)
        versions = []
        for f in os.listdir(log_dir):
            if (
                f.startswith(".")
                or f.endswith(".ckpt.json")
                or not f.split(".")[0].isdigit()
            ):
                continue
            v = int(f.split(".")[0])
            if marker < v <= horizon:
                versions.append(v)
        candidates: set[str] = set()
        for v in sorted(versions):
            with open(self._log_path(v)) as f:
                e = json.load(f)
            for rm in e.get("removes", []):
                candidates.add(os.path.normpath(rm))
        # grace-window protection must also cover files dereferenced
        # WITHIN (horizon, version]: a file removed by an old commit,
        # re-added by rollback, then removed again inside the grace
        # window is a candidate via the old commit but was last alive
        # recently — a reader on a recent snapshot may still scan it
        # (round-3 advisor fix)
        for v in range(max(1, horizon + 1), snap.version + 1):
            try:
                with open(self._log_path(v)) as f:
                    e = json.load(f)
            except FileNotFoundError:
                continue
            for rm in e.get("removes", []):
                referenced.add(os.path.normpath(rm))
        for rel in sorted(candidates):
            if rel in referenced:  # re-added later / dereferenced in grace
                continue
            full = os.path.join(self.path, rel)
            if os.path.exists(full):
                os.unlink(full)
                removed.append(rel)
        new_marker = max(marker, horizon)
        if new_marker > marker:
            tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                f.write(str(new_marker))
            os.replace(tmp, self._vacuum_marker_path())
        return removed

    # ------------------------------------------------------------ lineage

    _LINEAGE_SCHEMA = (
        "version long, app_id string, batch_id long, rows_in long, "
        "rows_upserted long, rows_deleted long, max_lsn long, epoch long, "
        "rows_invalid long"
    )

    _PARTITION_LINEAGE_SCHEMA = (
        "version long, app_id string, batch_id long, bucket int, "
        "rows long, max_lsn long, deletes long"
    )

    def partition_lineage_df(self) -> DataFrame:
        """Per-(commit, bucket) lineage: row counts, LSN high-watermark,
        delete counts — the per-partition cursor record the north_star
        requires alongside Spark checkpoints."""
        snap = self.snapshot()
        rows = []
        for x in snap.lineage:
            for b, v in (x.get("partitions") or {}).items():
                rows.append(
                    (
                        x.get("version"),
                        x.get("app_id"),
                        x.get("batch_id"),
                        int(b),
                        v.get("rows"),
                        v.get("max_lsn"),
                        v.get("deletes"),
                    )
                )
        return self.spark.createDataFrame(rows, self._PARTITION_LINEAGE_SCHEMA)

    def lineage_df(self) -> DataFrame:
        """One row per retained commit's lineage. ``rows_in`` counts a
        merge's input rows after its per-key collapse; the stream has no
        cross-batch dedup, so an event re-delivered in a later batch is
        counted again in that batch (the fence and LSN resolution keep
        the table itself exactly-once)."""
        snap = self.snapshot()
        rows = [
            (
                x.get("version"),
                x.get("app_id"),
                x.get("batch_id"),
                x.get("rows_in"),
                x.get("rows_upserted"),
                x.get("rows_deleted"),
                x.get("max_lsn"),
                x.get("epoch"),
                x.get("rows_invalid"),
            )
            for x in snap.lineage
        ]
        return self.spark.createDataFrame(rows, self._LINEAGE_SCHEMA)

    def partition_watermarks(self) -> dict[int, dict]:
        """Per-bucket {rows, deletes, max_lsn} across the WHOLE history:
        folded checkpoint totals merged with the retained lineage tail.
        This is the per-partition resume cursor — exact no matter how much
        lineage has been folded."""
        snap = self.snapshot()
        merged = _fold_lineage(snap.lineage_totals, snap.lineage)
        return {
            int(b): dict(v) for b, v in (merged.get("partitions") or {}).items()
        }

    def lineage_totals(self) -> dict:
        """Global lineage counters across the whole history (folded +
        retained tail)."""
        snap = self.snapshot()
        merged = _fold_lineage(snap.lineage_totals, snap.lineage)
        merged.pop("partitions", None)
        return merged


def _fold_lineage(totals: dict, entries: list[dict]) -> dict:
    """Accumulate lineage entries into a bounded rollup: global counters
    plus per-bucket row/delete counts and LSN high-watermarks."""
    t = {
        "commits": totals.get("commits", 0),
        "rows_in": totals.get("rows_in", 0),
        "rows_upserted": totals.get("rows_upserted", 0),
        "rows_deleted": totals.get("rows_deleted", 0),
        "max_lsn": totals.get("max_lsn"),
        "partitions": {
            str(k): dict(v) for k, v in (totals.get("partitions") or {}).items()
        },
    }

    def _mx(a, b):
        if a is None:
            return b
        if b is None:
            return a
        return max(a, b)

    t["rows_invalid"] = totals.get("rows_invalid", 0)
    for e in entries:
        t["commits"] += 1
        for k in ("rows_in", "rows_upserted", "rows_deleted", "rows_invalid"):
            t[k] += e.get(k) or 0
        t["max_lsn"] = _mx(t["max_lsn"], e.get("max_lsn"))
        for b, v in (e.get("partitions") or {}).items():
            p = t["partitions"].setdefault(
                str(b), {"rows": 0, "deletes": 0, "max_lsn": None}
            )
            p["rows"] += v.get("rows") or 0
            p["deletes"] += v.get("deletes") or 0
            p["max_lsn"] = _mx(p["max_lsn"], v.get("max_lsn"))
    return t


def zorder_key(ranked: list[tuple]) -> F.Column:
    """Bit-interleave of range-scaled 16-bit ranks — the Morton/Z-curve
    key Delta's OPTIMIZE ZORDER BY sorts by. ``ranked`` is
    [(numeric_col, lo, hi), ...] (2-3 dims); each value maps to
    rank = clamp(floor((v - lo) · 65535 / (hi - lo))), nulls and
    degenerate bounds to rank 0, and the key takes bit j of dim i at
    position j·ndims + i. Pure integer Catalyst expressions — the sort
    stays inside whole-stage codegen at rewrite time."""
    ranks = []
    for col, lo, hi in ranked:
        if hi is None or lo is None or not hi > lo:
            ranks.append(F.lit(0).cast("long"))
            continue
        scaled = F.floor(
            (col.cast("double") - F.lit(float(lo)))
            * F.lit(65535.0 / (float(hi) - float(lo)))
        )
        # coalesce BEFORE the clamp: Spark's least/greatest IGNORE nulls
        # (least(65535, null) = 65535), so a null value would otherwise
        # rank top instead of 0
        ranks.append(
            F.greatest(
                F.lit(0), F.least(F.lit(65535), F.coalesce(scaled, F.lit(0)))
            ).cast("long")
        )
    n = len(ranks)
    z = F.lit(0).cast("long")
    for j in range(16):
        for i, r in enumerate(ranks):
            bit = F.shiftright(r, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * n + i))
    return z


def _bloom_positions(pk_cols: list, m: int, k: int):
    """array<long> of ``k`` bloom bit positions for a pk tuple — classic
    double hashing over two xxhash64 views, with both hashes reduced mod
    ``m`` BEFORE combining so the arithmetic can never overflow (ANSI
    mode would raise, non-ANSI would silently diverge between the write
    job and the probe job)."""
    h1 = F.pmod(F.xxhash64(*pk_cols), F.lit(m))
    h2 = F.pmod(F.xxhash64(*pk_cols, F.lit("__bloom2__")), F.lit(m))
    return F.array(*[F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)])


def _bloom_may_contain(blob: dict, positions) -> bool:
    """Python-side probe of a JSON bloom blob; True unless some probed
    bit is provably absent. ``positions`` None ⇒ conservative True."""
    if positions is None:
        return True
    words = blob.get("words") or {}
    for q in positions:
        w = words.get(str(q // 64))
        if w is None:
            return False
        if not ((w & 0xFFFFFFFFFFFFFFFF) >> (q % 64)) & 1:
            return False
    return True


def _ranges_disjoint(stats: dict, qranges: dict) -> bool:
    """True iff the file's recorded per-column (min, max) bounds prove it
    holds NO row matching every queried range (conjunctive filter ⇒ one
    provably-empty column suffices). Columns without recorded stats are
    conservatively assumed to match."""
    for c, (qlo, qhi) in qranges.items():
        st = stats.get(c)
        if st is None:
            continue
        smn, smx = st[0], st[1]
        if qlo is not None and smx is not None and smx < qlo:
            return True
        if qhi is not None and smn is not None and smn > qhi:
            return True
    return False


def _stat_value(v):
    """JSON-safe, totally-ordered encoding of a parquet stat (or a query
    bound): timestamps → epoch micros, numerics/strings pass through.
    Both sides of every pruning comparison go through this, so the
    ordering is consistent regardless of source."""
    import datetime as _dt

    if isinstance(v, bool):
        return None  # not a range-pruning type
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, (int, float, str)) or v is None:
        return v
    return None  # unorderable/unknown type ⇒ no bound


def _footer_stats(path: str, cols: Sequence[str]) -> tuple[int, dict[str, tuple]]:
    """(row count, per-column (min, max)) of one parquet file from its
    FOOTER — one few-KB metadata read, no data pages touched (Delta
    collects the same stats in the write transaction; reading the footer
    the writer just produced is the PySpark-reachable equivalent).
    Columns that are absent or stat-less (e.g. INT96 timestamps — which
    is why ``write_data_files`` pins TIMESTAMP_MICROS) are omitted —
    such files are simply never pruned on that column."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    idx = {}
    for i in range(md.num_columns):
        nm = md.schema.column(i).name
        if nm in cols:
            idx[nm] = i
    out: dict[str, tuple] = {}
    for nm, i in idx.items():
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False  # any stat-less row group ⇒ no file-level bound
                break
            smn, smx = _stat_value(st.min), _stat_value(st.max)
            if smn is None or smx is None:
                ok = False
                break
            lo = smn if lo is None else min(lo, smn)
            hi = smx if hi is None else max(hi, smx)
        if ok and lo is not None:
            out[nm] = (lo, hi)
    return md.num_rows, out


def _typed(df: DataFrame) -> DataFrame:
    """Attach the CDF row type: tombstones are deletes, everything else an
    upsert (truncate boundary markers are built separately)."""
    return df.withColumn(
        "_change_type",
        F.when(F.col(META_DELETED), F.lit("delete")).otherwise(F.lit("upsert")),
    )


def _changes_struct(cur: TableSchema):
    """Full CDF schema: payload + meta + version + row type."""
    return (
        cur.to_struct()
        .add(META_LSN, "long")
        .add(META_DELETED, "boolean")
        .add("_change_version", "long")
        .add("_change_type", "string")
    )
