"""Skew handling for hot keys (SURVEY §4 "we implement" row; north_star's
"salted repartitioning on conv_id to defuse hot-conversation skew").

Context — when salting is (and isn't) needed:

* ``latest_per_key`` (hash max_by aggregation) is already skew-immune at
  the shuffle: partial_max_by collapses each hot key to ONE row per map
  partition before the exchange, so a conv_id with 10^8 updates ships at
  most |mappers| rows. Nothing to salt.
* Sort/window-based paths (``scd2``, any row_number history) have no
  partial aggregation: every event of a hot key lands in one reducer
  partition and gets sorted there. These are the operators that need a
  salt, plus AQE skew-join for the MERGE's full-outer join.

``salted_latest_per_key`` exists for engines/options where partial
aggregation is disabled and as the documented pattern; ``salted_scd2_input``
collapses the duplicate-heavy part of an at-least-once feed per salt so
the window sort sees only DISTINCT versions; for hot keys whose distinct
version count itself is huge, ``dedup.scd2_bounded`` range-buckets the
window sort.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import latest_per_key


def with_salt(df: DataFrame, n_salt: int, salt_col: str = "_salt") -> DataFrame:
    """Deterministic salt derived from the cursor (NOT rand(): replays must
    produce identical partitioning for exactly-once idempotence)."""
    basis = None
    for c in ("_ab_cdc_lsn", "event_id"):
        if c in df.columns:
            basis = F.col(c).cast("long")
            break
    if basis is None:
        # content hash, NOT monotonically_increasing_id: mid depends on
        # task/partition layout, so a replayed batch would salt (and on
        # order ties, pick) differently — breaking the very idempotence
        # this function documents. A pure function of the row keeps
        # replays byte-identical; exact-duplicate rows sharing a salt is
        # fine (the per-salt collapse dedups them anyway).
        basis = F.xxhash64(*[F.col(c) for c in df.columns])
    return df.withColumn(salt_col, F.pmod(basis, F.lit(n_salt)).cast("int"))


def salted_latest_per_key(
    df: DataFrame,
    pk: Sequence[str],
    order_cols: Sequence[str],
    n_salt: int = 16,
    payload_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Two-phase collapse: per-(pk, salt) winner, then per-pk winner.

    Phase 1's shuffle key is (pk, salt) — a hot key spreads over n_salt
    reducers; phase 2 sees at most n_salt rows per key. Result is
    identical to latest_per_key (winner selection is associative).
    """
    salted = with_salt(df, n_salt)
    # phase 2 re-orders on order_cols, so phase 1 must carry them through
    # even when the caller's payload_cols omit them
    p1_payload = None
    if payload_cols is not None:
        p1_payload = list(payload_cols) + [
            c for c in order_cols if c not in payload_cols
        ]
    phase1 = latest_per_key(
        salted, [*pk, "_salt"], order_cols, payload_cols=p1_payload
    )
    return latest_per_key(phase1.drop("_salt"), pk, order_cols, payload_cols=payload_cols)


def salted_scd2_input(
    df: DataFrame, pk: Sequence[str], cursor: str, n_salt: int = 16
) -> DataFrame:
    """Collapse duplicate (pk, cursor) events BEFORE an SCD2 window.

    An at-least-once feed re-delivers events; feeding them straight into
    ``scd2`` makes the hot key's window partition |events| rows instead of
    |distinct versions|. The collapse is a two-phase ``max_by`` hash
    aggregate with a DETERMINISTIC winner per version: highest
    (updated_at, emitted_at) — re-delivered copies of a version that
    differ only in delivery metadata always resolve the same way, so
    streaming and batch SCD builds stay byte-equal.

    Skew note: the heavy lifting against duplicate storms is the MAP-SIDE
    partial combine (each mapper ships ≤1 row per (pk, cursor[, salt])).
    The cursor-derived salt is intentionally constant per version — exact
    duplicates must meet to collapse — so phase 1's reducer fan-out helps
    only when versions per key are many, which is precisely when the
    phase-2 key (pk, cursor) is well-spread anyway. The residual hot-key
    risk lives in the WINDOW sort, not here — that is
    ``dedup.scd2_bounded``'s job."""
    tiebreak = [
        c for c in ("_ab_cdc_updated_at", "_airbyte_emitted_at") if c in df.columns
    ]
    if not tiebreak:
        salted = with_salt(df, n_salt)
        p1 = salted.dropDuplicates([*pk, cursor, "_salt"]).drop("_salt")
        return p1.dropDuplicates([*pk, cursor])
    salted = with_salt(df, n_salt)
    p1 = latest_per_key(salted, [*pk, cursor, "_salt"], tiebreak).drop("_salt")
    return latest_per_key(p1, [*pk, cursor], tiebreak)


def salted_repartition(df: DataFrame, keys: Sequence[str], n_salt: int, n_partitions: int) -> DataFrame:
    """Repartition by (keys, salt) — spreads a hot key over n_salt tasks for
    map-heavy follow-up work (e.g. a costly per-row UDF)."""
    salted = with_salt(df, n_salt)
    return salted.repartition(n_partitions, *keys, "_salt").drop("_salt")
