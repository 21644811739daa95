"""Last-writer-wins dedupe — the engine's core operator.

The reference achieved "last row per key wins" implicitly: a
single-threaded loop replayed rows in file order into a Postgres upsert
(upstream ``pipeline/loaders.py`` [U]).  In a parallel engine that must
be an explicit reduction.  LWW order is ``event_seq`` (the WAL position)
— NEVER the ``commit`` string, which is an opaque hash with no total
order (SURVEY.md §1.3).

Two implementations, one contract (keep exactly the row with the max
``order_col`` per key):

* ``lww_dedupe`` — ``groupBy(keys).agg(max_by(struct(*), order))``.
  The default: hash aggregation gets map-side partial combine for free,
  so a hot key collapses to one partial row per map task *before* the
  shuffle — inherently skew-resistant, one shuffle.
* ``lww_dedupe_salted`` — explicit two-phase (key+salt, then key) for the
  north rule's "explicit salted repartitioning of hot repos"
  (BASELINE.json:6): phase 1 reduces each hot key across ``salt_buckets``
  parallel reducers, phase 2 merges the ≤ salt_buckets survivors.

The replay MERGE picks its winners itself (``lake/merge.py::
_pick_winners``: a slim winner set joined back to the batch) and falls
back to ``lww_dedupe`` above its broadcast gate.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _others(df: DataFrame, keys: Sequence[str]) -> list[str]:
    return [c for c in df.columns if c not in keys]


def lww_dedupe(
    df: DataFrame,
    keys: Sequence[str] = ("repo", "path"),
    order_col: str = "event_seq",
) -> DataFrame:
    """One row per key: the row with max ``order_col`` (agg/max_by form)."""
    others = _others(df, keys)
    packed = df.groupBy(*keys).agg(
        F.max_by(F.struct(*[F.col(c) for c in others]), F.col(order_col)).alias("_w")
    )
    return packed.select(*keys, *[F.col(f"_w.{c}").alias(c) for c in others])


def lww_dedupe_salted(
    df: DataFrame,
    keys: Sequence[str] = ("repo", "path"),
    order_col: str = "event_seq",
    salt_buckets: int = 16,
) -> DataFrame:
    """Explicit two-phase salted LWW for pathological key skew.

    Phase 1 spreads each key over ``salt_buckets`` reducers via a
    deterministic salt (hash of the order column, so rows of one key
    scatter uniformly); phase 2 reduces the ≤ salt_buckets partials.
    """
    others = _others(df, keys)
    salt = (F.abs(F.xxhash64(F.col(order_col))) % salt_buckets).alias("_salt")
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(F.max_by(F.struct(*[F.col(c) for c in others]), F.col(order_col)).alias("_w"))
    )
    phase2 = phase1.groupBy(*keys).agg(
        F.max_by(F.col("_w"), F.col(f"_w.{order_col}")).alias("_w")
    )
    return phase2.select(*keys, *[F.col(f"_w.{c}").alias(c) for c in others])
