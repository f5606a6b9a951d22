"""Quadratic-bucket cap, the ONE shared shape.

Every bucketed candidate generator in the datapipe (MinHash band
buckets, SimHash 15-bit chunk buckets, embedding IVF cells) self-joins
within buckets — and a dominant bucket (boilerplate text, a degenerate
band key, a hot cell) makes that join quadratic. The guard is always
the same two steps, owned here so the three cap sites can't drift:

1. ``overcap_keys``: a map-side-combined groupBy count filtered to
   groups larger than the cap. Partial aggregation means no bucket is
   ever assembled in one task — the reason this is NOT a count window
   (a window partitioned on the bucket key holds the dominant bucket,
   the exact degenerate bucket the cap exists for, in ONE task). The
   result doubles as the audit frame: the ``*_dropped_*`` functions
   are thin renames of it, so a pipeline alerts on exactly what the
   cap excluded instead of silently treating dropped docs as unique.
2. ``drop_overcap``: LeftAnti the exploded table against that key
   set. ``hint_broadcast`` ONLY when the key space is bounded by
   construction (simhash: SIM_CHUNKS x 2^15 values; IVF: n_centroids
   cells) — the known-small broadcast rule. An unbounded key space
   (minhash md5 band keys: over-cap set only bounded by
   n_rows/max_bucket) goes UNHINTED and relies on AQE, which can
   still pick broadcast on small inputs and can SPLIT a skewed
   stream-side partition against the <=1-row-per-key build side.

Plan shapes pinned by tests/test_plan_shape.py
(test_simhash_cap_is_broadcast_antijoin,
test_embedding_cell_cap_is_broadcast_antijoin,
test_minhash_cap_is_antijoin_not_window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def overcap_keys(df: DataFrame, keys: list[str], cap: int,
                 size_col: str = "bucket_size") -> DataFrame:
    """(keys..., size_col) for every key group with more than ``cap``
    rows — the over-cap set AND the cap-audit frame."""
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias(size_col))
        .filter(F.col(size_col) > cap)
    )


def drop_overcap(df: DataFrame, keys: list[str], over: DataFrame,
                 cap: int, hint_broadcast: bool,
                 size_col: str = "bucket_size") -> DataFrame:
    """``df`` minus members of over-cap key groups, as a LeftAnti
    join. ``over`` is an overcap_keys frame; it is re-filtered on
    ``size_col > cap`` so a caller-supplied frame built at a smaller
    cap cannot widen the drop set (a frame built at a LARGER cap lacks
    keys and cannot be repaired here — build it at ``cap`` or below).
    See the module docstring for when to hint."""
    over = over.filter(F.col(size_col) > cap).select(*keys)
    if hint_broadcast:
        over = F.broadcast(over)
    return df.join(over, list(keys), "left_anti")
