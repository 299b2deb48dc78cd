"""Dedup / SCD operators — the reference's core "aggregation" (SURVEY §2.3).

Reference semantics being re-expressed (not translated):

* D1 cursor resolution order: configured cursor, else ``_ab_cdc_updated_at``,
  else ``_airbyte_emitted_at`` (stream_processor.py:1005-1029).
* D2 SCD2 window: ``lag(cursor) over (partition by pk order by cursor desc,
  _ab_cdc_updated_at desc, _airbyte_emitted_at desc)`` -> end_at;
  ``row_number()=1 and _ab_cdc_deleted_at is null`` -> active_row
  (stream_processor.py:876-891).
* D3 intra-batch exact-dup elimination (stream_processor.py:965-1003).
* D4 final-table projection: active rows only (stream_processor.py:297-314).

Scale notes (100 TB design point):
* ``latest_per_key`` deliberately uses ``max_by`` aggregation instead of a
  row_number window: the aggregation gets a map-side partial combine, so the
  shuffle carries at most one row per (key, mapper) instead of every change
  event — on a 10^10-event feed with heavy update skew this is the difference
  between shuffling 10^10 rows and ~10^8. A window would sort entire hot
  partitions. Spark plans it as a ``SortAggregate`` on both sides of the
  shuffle, not a hash aggregate: the ``max_by`` buffers hold strings.
* ``scd2`` keeps the window form because history (lag/end_at) genuinely needs
  per-key ordering; it is only used for SCD2 outputs, never on the hot
  upsert path.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.plan_cache import expr_cache


def resolve_order_cols(df: DataFrame, cursor: Optional[str]) -> list[str]:
    """D1: cursor fallback chain (stream_processor.py:1005-1029)."""
    cols: list[str] = []
    if cursor and cursor in df.columns:
        cols.append(cursor)
    for c in ("_ab_cdc_updated_at", "_ab_cdc_log_pos", "_airbyte_emitted_at"):
        if c in df.columns and c not in cols:
            cols.append(c)
    if not cols:
        raise ValueError("no usable ordering column for dedup")
    return cols


def _order_struct(order_cols: Sequence[str]) -> Column:
    # Total ordering with nulls-lose semantics (the reference's null-first
    # DESC): each order column becomes an (isNotNull, value) pair — false
    # sorts below true, so a NULL loses to EVERY real value; equal flags
    # fall through to the value compare. Type-agnostic by construction:
    # no sentinel constants to overflow narrow int types (-(2**62) wraps
    # an IntegerType to 0, tying with legitimate zeros — or throws under
    # ANSI), and no string fallback to compare decimals lexicographically
    # ('9' > '10' would pick a stale winner).
    parts = []
    for i, c in enumerate(order_cols):
        parts.append(F.col(c).isNotNull().alias(f"_nn{i}"))
        parts.append(F.col(c).alias(f"_v{i}"))
    return F.struct(*parts)


@expr_cache
def _collapse_exprs(
    pk: tuple[str, ...], order_cols: tuple[str, ...], payload_cols: tuple[str, ...]
) -> tuple[tuple[Column, ...], Column, tuple[Column, ...]]:
    """``latest_per_key``'s grouping keys, ``max_by`` aggregate and
    payload-unpacking select list, built once per (pk, order, payload)."""
    keys = tuple(F.col(c) for c in pk)
    top = F.max_by(
        F.struct(*[F.col(c) for c in payload_cols]), _order_struct(order_cols)
    ).alias("_top")
    unpack = (*keys, *[F.col(f"_top.{c}").alias(c) for c in payload_cols])
    return keys, top, unpack


def latest_per_key(
    df: DataFrame,
    pk: Sequence[str],
    order_cols: Sequence[str],
    payload_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Keep the single highest-(order_cols) row per pk.

    Implemented as ``max_by(struct(payload), struct(order))`` groupBy — an
    aggregate with map-side partial combine (see module docstring; it runs
    as a ``SortAggregate``, as its buffers hold strings), NOT a window
    sort. Ties beyond order_cols are impossible in a WAL (LSN is unique);
    exact duplicate (pk, lsn) rows are identical, so max_by is
    deterministic for them. The aggregate and the unpacking select are
    memoized per (pk, order_cols, payload): a warm call costs one schema
    read and three DataFrame calls.
    """
    base = df.columns if payload_cols is None else list(payload_cols)
    payload = tuple(c for c in base if c not in pk)
    if not payload:  # explicit empty payload: the distinct key set
        return df.select(*pk).distinct()
    keys, top, unpack = _collapse_exprs(tuple(pk), tuple(order_cols), payload)
    return df.groupBy(*keys).agg(top).select(*unpack)


def intra_batch_dedup(df: DataFrame, pk: Sequence[str], cursor: str) -> DataFrame:
    """D3: drop exact duplicate (pk, cursor) events (at-least-once feed)."""
    return df.dropDuplicates([*pk, cursor])


def scd2(
    df: DataFrame,
    pk: Sequence[str],
    cursor: str,
    deleted_col: str = "_ab_cdc_deleted_at",
    emitted_col: str = "_airbyte_emitted_at",
) -> DataFrame:
    """D2/D3: full SCD Type-2 projection with Airbyte's metadata columns.

    Output adds: _airbyte_unique_key (md5 of pks), _airbyte_start_at,
    _airbyte_end_at, _airbyte_active_row — exactly the reference's column set
    (stream_processor.py:815-848).
    """
    order = [F.col(cursor).desc_nulls_last()]
    if "_ab_cdc_updated_at" in df.columns and cursor != "_ab_cdc_updated_at":
        order.append(F.col("_ab_cdc_updated_at").desc_nulls_last())
    if emitted_col in df.columns:
        order.append(F.col(emitted_col).desc_nulls_last())
    w = Window.partitionBy(*[F.col(c) for c in pk]).orderBy(*order)

    uk = surrogate_key_expr(pk)
    out = (
        df.withColumn("_airbyte_unique_key", uk)
        .withColumn("_airbyte_start_at", F.col(cursor))
        .withColumn("_airbyte_end_at", F.lag(F.col(cursor)).over(w))
        .withColumn("_rn", F.row_number().over(w))
    )
    active = (F.col("_rn") == 1) & (
        F.col(deleted_col).isNull() if deleted_col in df.columns else F.lit(True)
    )
    return out.withColumn("_airbyte_active_row", active.cast("int")).drop("_rn")


def scd2_bounded(
    df: DataFrame,
    pk: Sequence[str],
    cursor: str,
    deleted_col: str = "_ab_cdc_deleted_at",
    range_size: int = 100_000,
) -> DataFrame:
    """SCD2 with BOUNDED sorts — the hot-key-immune form of ``scd2``.

    The plain window sorts ALL versions of a key in one reducer: a hot
    conversation turn with 10^8 updates is a single 10^8-row sort. Here
    versions are range-bucketed by cursor (``_rb = floor(cursor /
    range_size)``); the lag/row_number window runs within (pk, _rb) — each
    sort is bounded by the bucket's version density — and the bucket
    boundary is stitched with per-(pk, _rb) aggregates: a bucket-level
    window over |buckets| rows per key (not |versions|) supplies each
    bucket-top row's end_at from the next-higher bucket's min cursor.

    Requires a unique numeric cursor per version (a WAL LSN); collapse
    exact duplicates first (``skew.salted_scd2_input``). Output is
    identical to ``scd2`` whenever the cursor is tie-free (tests assert
    equality on a hot-key fixture). Rows with a NULL cursor (or a null pk
    component) survive: the bucket join is null-safe, a null cursor lands
    in the null range-bucket which sorts below every real bucket — the
    same nulls-lose ordering as ``scd2``'s desc_nulls_last (exact match
    for up to one null-cursor version per key; several null versions of
    one key are outside the unique-cursor contract for both forms).
    """
    d = df.withColumn(
        "_rb", F.floor(F.col(cursor).cast("long") / F.lit(range_size)).cast("long")
    )
    bs = d.groupBy(*pk, "_rb").agg(F.min(F.col(cursor)).alias("_bmin"))
    w_b = Window.partitionBy(*[F.col(c) for c in pk]).orderBy(F.col("_rb").desc())
    # lag in _rb-desc order = the next-HIGHER bucket's min cursor
    bs = bs.withColumn("_next_bmin", F.lag("_bmin").over(w_b))
    # null-safe equi-join (still hash-joinable, co-partitioned with the
    # in-bucket window): null pk / null cursor rows must not vanish here
    join_cond = None
    for c in [*pk, "_rb"]:
        term = F.col(f"_l.{c}").eqNullSafe(F.col(f"_r.{c}"))
        join_cond = term if join_cond is None else (join_cond & term)
    d = (
        d.alias("_l")
        .join(bs.alias("_r"), join_cond)
        .select("_l.*", F.col("_r._bmin").alias("_bmin"),
                F.col("_r._next_bmin").alias("_next_bmin"))
    )

    w_in = Window.partitionBy(*[F.col(c) for c in pk], F.col("_rb")).orderBy(
        F.col(cursor).desc()
    )
    uk = surrogate_key_expr(pk)
    out = (
        d.withColumn("_airbyte_unique_key", uk)
        .withColumn("_airbyte_start_at", F.col(cursor))
        .withColumn(
            "_airbyte_end_at",
            F.coalesce(F.lag(F.col(cursor)).over(w_in), F.col("_next_bmin")),
        )
        .withColumn("_rn", F.row_number().over(w_in))
    )
    active = (F.col("_rn") == 1) & F.col("_next_bmin").isNull()
    if deleted_col in df.columns:
        active = active & F.col(deleted_col).isNull()
    return out.withColumn("_airbyte_active_row", active.cast("int")).drop(
        "_rn", "_rb", "_bmin", "_next_bmin"
    )


def final_table(scd: DataFrame, payload_cols: Sequence[str]) -> DataFrame:
    """D4: active rows only, payload columns."""
    return scd.filter(F.col("_airbyte_active_row") == 1).select(*payload_cols)


def surrogate_key_expr(cols: Sequence[str]) -> Column:
    """The ONE md5(concat_ws over coalesced casts) surrogate-key
    expression — dbt_utils.surrogate_key semantics
    (stream_processor.py:667-696). scd2/scd2_bounded/surrogate_hash_id
    and the child-table hash chain all share it, so the separator /
    null-placeholder rules can never diverge."""
    return F.md5(
        F.concat_ws(
            "-", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]
        )
    )


def surrogate_hash_id(df: DataFrame, cols: Sequence[str], out: str) -> DataFrame:
    """P7: see :func:`surrogate_key_expr`."""
    return df.withColumn(out, surrogate_key_expr(cols))
