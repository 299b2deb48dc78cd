"""Batch replay plan — the whole normalization chain as ONE DataFrame expression.

Equivalent of the reference's EP3 dbt chain (SURVEY §3):
``from_json/cast -> canonicalize -> window-dedup -> final table`` collapsed
into a single Catalyst plan, used (a) as the single-shot oracle path against
which streaming replay is verified and (b) as the bulk-backfill entry point
(initial CDC snapshot, S4).

At 100 TB this is one scan + one aggregation: the ``latest_per_key``
map-side combine means the shuffle carries ~|keys| rows, not |events| rows,
and the parquet scan prunes to the selected columns (check with
``.explain``: PushedFilters/ReadSchema). The aggregation runs as a
``SortAggregate`` on both sides of the shuffle, because its ``max_by``
buffers hold strings. No Python runs in the plan.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import canonicalize as canonicalize_text
# Not called here. perfbench/tracing.py patches this module attribute under
# ``--trace 1``; the import keeps that patch working (it is inert now).
from ..functions.text import canonicalize_udf  # noqa: F401
from ..operators.dedup import latest_per_key
from ..schemas import CHANGE_STRUCT, ORDER_COLS, PK


def prepare_changes(df: DataFrame, canonicalize: bool = True) -> DataFrame:
    """P4/P5/P6 for the change feed: typed columns are already parquet-typed;
    canonicalize the text payload (one Catalyst expression, no Python)."""
    if canonicalize and "text" in df.columns:
        df = df.withColumn("text", canonicalize_text("text"))
    return df


def batch_replay(
    spark: SparkSession,
    feed_dir: str,
    payload_cols: Optional[Sequence[str]] = None,
    canonicalize: bool = True,
) -> DataFrame:
    """Replay an entire feed directory in one batch; returns the final table
    (deleted keys excluded), sorted-free (caller orders)."""
    raw = spark.read.schema(CHANGE_STRUCT).parquet(f"{feed_dir}/*.parquet")
    return replay_df(raw, payload_cols=payload_cols, canonicalize=canonicalize)


def replay_df(
    raw: DataFrame,
    payload_cols: Optional[Sequence[str]] = None,
    canonicalize: bool = True,
) -> DataFrame:
    # Dedup FIRST, canonicalize the winners only: the winner per key depends
    # solely on (lsn, updated_at, emitted_at), so canonicalizing after the
    # collapse is semantically identical but touches |keys| rows instead of
    # |events| — at 10^10 events with ~10^8 keys, ~1% of the text work.
    top = latest_per_key(raw, PK, ORDER_COLS)
    alive = top.filter(F.col("_ab_cdc_deleted_at").isNull())
    alive = prepare_changes(alive, canonicalize=canonicalize)
    # the SAME metadata-stripping rule as the streaming bootstrap — a
    # prefix heuristic would silently drop genuine payload columns that
    # happen to start with '_ab_' in custom feeds, diverging the oracle
    # from the stream it exists to check
    from ..schemas import CHANGE_META_COLS

    cols = payload_cols or [
        c for c in raw.columns if c not in CHANGE_META_COLS
    ]
    return alive.select(*cols)
