"""Binned interval join for LOW-cardinality equi keys.

The direct interval-join plan (q12/q13, operators/relational.py) lets
the equi key carry the shuffle and evaluates the range predicate after
the hash join — correct and fast while the equi key is high-cardinality
(order ids, conversation ids). The reference's cytoband/gene-overlap
shape is different: the equi key is the CHROMOSOME — ~24 distinct
values (reference:
radiant/dags/sql/radiant/germline_cnv_occurrence_insert_partition_delta.sql:1-21
joins `cnv.chromosome = cytoband.chromosome` plus interval overlap). A
key-carried shuffle then lands every chromosome in ONE task, and the
per-key pair blowup is quadratic — the plan dies at 100x scale
(SURVEY.md §2.3 J7 flags exactly this).

``range_bin_join`` restores parallelism structurally: every interval
explodes into the fixed-width bins it covers, every point maps to the
single bin that contains it, and the join shuffles on ``(key, bin)`` —
cardinality num_keys x num_bins, so a 24-value chromosome key spreads
across thousands of reducers. A point lies in exactly ONE bin, so each
(point, interval) match is produced exactly once — no post-join dedup.

Cost model: interval replication is ceil(span / bin_width) + 1 rows.
Choose ``bin_width`` near the typical interval span — replication stays
O(1) per interval while bin selectivity approaches the direct plan's.
A ``max_bins_per_interval`` guard (enforced IN the plan via
raise_error, so it costs nothing until violated) converts a
mis-parameterized width into a clear error instead of an explosion.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_bin_join(
    points: DataFrame,
    intervals: DataFrame,
    key_cols: Sequence[str],
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float,
    max_bins_per_interval: int = 1024,
) -> DataFrame:
    """Inner-join ``points`` to ``intervals`` where the ``key_cols``
    match and ``lo_col <= point_col <= hi_col``, shuffling on
    ``(key_cols..., bin)`` instead of the bare key.

    Column names must be disjoint apart from ``key_cols`` (standard
    join hygiene). Numeric domains only — callers with date intervals
    convert to day numbers first (``datediff``/``unix_date``).
    """
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width}")
    w = F.lit(float(bin_width))
    lo_bin = F.floor(F.col(lo_col) / w)
    hi_bin = F.floor(F.col(hi_col) / w)
    span_ok = (F.col(hi_col) >= F.col(lo_col)) & (
        hi_bin - lo_bin < F.lit(max_bins_per_interval)
    )
    # clamped in its own arguments: Catalyst constant-folds literal
    # bounds on the driver before the when() guard can raise
    hi_cap = F.least(hi_bin, lo_bin + max_bins_per_interval)
    bins = F.when(span_ok, F.sequence(lo_bin, hi_cap)).otherwise(
        F.raise_error(
            F.lit(
                f"range_bin_join: interval spans more than "
                f"{max_bins_per_interval} bins of width {bin_width} (or "
                f"{hi_col} < {lo_col}) — raise bin_width or fix the data"
            )
        ).cast("array<bigint>")
    )
    binned_iv = intervals.withColumn("_bin", F.explode(bins))
    binned_pt = points.withColumn("_bin", F.floor(F.col(point_col) / w))
    return (
        binned_pt.join(binned_iv, [*key_cols, "_bin"])
        .filter(
            (F.col(point_col) >= F.col(lo_col))
            & (F.col(point_col) <= F.col(hi_col))
        )
        .drop("_bin")
    )


def range_bin_overlap_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bin_width: float,
    max_bins_per_interval: int = 1024,
) -> DataFrame:
    """Interval-OVERLAP join (the reference's exact cytoband shape:
    ``c.chromosome = o.chromosome AND c.start <= o.end AND c.end >=
    o.start``) with the shuffle keyed on ``(key_cols..., bin)``.

    Both sides explode into covering bins. An overlapping pair shares
    every bin its intersection covers, so naive bin-join emits it once
    PER shared bin; instead of a (full-row) distinct, each pair is
    emitted exactly once via the CANONICAL-BIN rule: keep the match
    only in the bin containing ``max(left_lo, right_lo)`` — the first
    bin of the intersection, which both sides necessarily cover. That
    keeps the post-join filter partition-local and adds no exchange or
    pair-dedup state.
    """
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width}")
    w = F.lit(float(bin_width))

    def binned(df: DataFrame, lo: str, hi: str) -> DataFrame:
        lo_bin = F.floor(F.col(lo) / w)
        hi_bin = F.floor(F.col(hi) / w)
        ok = (F.col(hi) >= F.col(lo)) & (
            hi_bin - lo_bin < F.lit(max_bins_per_interval)
        )
        hi_cap = F.least(hi_bin, lo_bin + max_bins_per_interval)
        bins = F.when(ok, F.sequence(lo_bin, hi_cap)).otherwise(
            F.raise_error(
                F.lit(
                    f"range_bin_overlap_join: interval spans more than "
                    f"{max_bins_per_interval} bins of width {bin_width} "
                    f"(or {hi} < {lo}) — raise bin_width or fix the data"
                )
            ).cast("array<bigint>")
        )
        return df.withColumn("_bin", F.explode(bins))

    a = binned(left, left_lo, left_hi)
    b = binned(right, right_lo, right_hi)
    overlap = (F.col(left_lo) <= F.col(right_hi)) & (
        F.col(left_hi) >= F.col(right_lo)
    )
    canonical = F.col("_bin") == F.floor(
        F.greatest(F.col(left_lo), F.col(right_lo)) / w
    )
    return a.join(b, [*key_cols, "_bin"]).filter(overlap & canonical).drop("_bin")
