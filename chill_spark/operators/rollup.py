"""Time-rollup aggregation (A1) — the granularity ladder.

The reference schedules external "TRAggr" jobs per ladder level
(HlxTools.py:658-725, levels at :697-702). Here each level is one
declarative hash aggregate: truncate DATETIME to the level, group by
(keys, truncated time), aggregate every counter. Catalyst plans
partial (map-side) + final aggregation, with the shuffle on (keys,
DATETIME) — the same key the base table is written with.
``build_ladder`` rolls every level up from the base: writing a level
is one scan and one shuffle, whatever its depth (chaining levels off
unpersisted lazy frames re-ran every level below on each write). The
sketch ladders (``distinct_ladder``, ``histogram_ladder``) chain by
design.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..catalog.model import GRANULARITIES, TableSpec

_AGG_FNS = {
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
}


def truncate_to(granularity: str, datetime_col: str = "DATETIME") -> Column:
    """DATETIME truncated to a ladder level. Calendar levels use
    date_trunc; sub-hour levels use fixed tumbling windows."""
    spec = GRANULARITIES[granularity]
    c = F.col(datetime_col)
    if "trunc" in spec:
        return F.date_trunc(spec["trunc"], c)
    return F.window(c, spec["interval"]).start


def rollup(
    df: DataFrame,
    keys: list[str],
    counters: list[str],
    granularity: str,
    agg_map: dict[str, str] | None = None,
    datetime_col: str = "DATETIME",
) -> DataFrame:
    """One ladder level: group by keys + truncated DATETIME, aggregate
    counters (PM counters are additive -> SUM by default; override
    per-column via agg_map, e.g. gauges -> 'avg')."""
    agg_map = agg_map or {}
    aggs = [
        _AGG_FNS[agg_map.get(c, "sum")](F.col(c)).alias(c) for c in counters
    ]
    return (
        df.groupBy(
            truncate_to(granularity, datetime_col).alias(datetime_col), *keys
        )
        .agg(*aggs)
        .select(datetime_col, *keys, *counters)
    )


def build_ladder(
    base_df: DataFrame,
    table: TableSpec,
    levels: list[str] | None = None,
    agg_map: dict[str, str] | None = None,
) -> dict[str, DataFrame]:
    """Every ladder level above the base granularity, each rolled up
    from the base. Rolling up from the base is exact for every
    aggregate, including count and avg, which do not re-aggregate
    (a count of a count counts groups, not rows)."""
    counters = [c.db_name for c in table.counters]
    return {
        g: rollup(base_df, table.key_fields, counters, g, agg_map)
        for g in levels or table.ladder_above_base()
    }


SKETCH_COL = "__hll"


def distinct_ladder(
    base_df: DataFrame,
    keys: list[str],
    distinct_col: str,
    levels: list[str],
    datetime_col: str = "DATETIME",
    lg_k: int = 12,
) -> dict[str, DataFrame]:
    """Distinct-count ladder that RE-AGGREGATES — the counter the
    additive ladder can't carry. ``count(DISTINCT x)`` is not
    decomposable (day-level distincts can't sum to a week), so an
    exact ladder would re-scan the 100 TB base once per level. HLL
    sketches union losslessly: the base level builds one fixed-size
    sketch per (keys, window) with ``hll_sketch_agg`` (partial
    merges map-side like any agg), and every higher level unions the
    PREVIOUS level's sketches with ``hll_union_agg`` — the raw rows
    are scanned exactly once regardless of ladder depth, and each
    level's shuffle carries (groups x ~2^lg_k bytes), never rows.
    Store the sketch column in the materialized level (binary) and
    any consumer can keep rolling it up (or estimate on read with
    ``estimate_distinct``). Standard-error ~1.04/sqrt(2^lg_k)
    (~1.6% at the default lg_k=12).

    Reference analog: the TRAggr ladder (HlxTools.py:658-725) only
    ever SUMs; this extends the same level-from-previous structure
    to distinct-valued counters (unique subscribers/sites per
    window — the PM-counter case the reference cannot express)."""
    out: dict[str, DataFrame] = {}
    prev = None
    for i, g in enumerate(levels):
        if i == 0:
            prev = base_df.groupBy(
                truncate_to(g, datetime_col).alias(datetime_col), *keys
            ).agg(
                F.hll_sketch_agg(F.col(distinct_col), lg_k).alias(SKETCH_COL)
            )
        else:
            prev = prev.groupBy(
                truncate_to(g, datetime_col).alias(datetime_col), *keys
            ).agg(F.hll_union_agg(F.col(SKETCH_COL)).alias(SKETCH_COL))
        out[g] = prev
    return out


def estimate_distinct(
    df: DataFrame, out_col: str = "n_distinct_approx"
) -> DataFrame:
    """Read-side estimate over a sketch-carrying ladder level."""
    return df.withColumn(
        out_col, F.hll_sketch_estimate(F.col(SKETCH_COL)).cast("long")
    ).drop(SKETCH_COL)


def histogram_ladder(
    base_df: DataFrame,
    keys: list[str],
    value_col: str,
    levels: list[str],
    bin_width: float,
    datetime_col: str = "DATETIME",
) -> dict[str, DataFrame]:
    """Percentile ladder that RE-AGGREGATES — the quantile twin of
    ``distinct_ladder``. Exact percentiles aren't decomposable (a
    day's median can't be derived from hourly medians), so an exact
    ladder re-scans the raw 100 TB per level. A fixed-width histogram
    IS decomposable: the base level counts value occurrences per
    (keys, window, bin = floor(value / bin_width)); every higher
    level just SUMS the previous level's bin counts — raw rows
    scanned once for any ladder depth, each level's shuffle bounded
    by groups x occupied bins. ``estimate_percentile`` answers any
    quantile at any level with error <= bin_width (the bin fully
    contains the true order statistic), a DETERMINISTIC integer bound
    — unlike rank-error sketches, the verdict "estimate within one
    bin of exact" is checkable row-for-row by a SQL oracle.

    Reference analog: extends the TRAggr sum-only ladder
    (HlxTools.py:658-725) to order statistics, as distinct_ladder
    extends it to distinct counts."""
    out: dict[str, DataFrame] = {}
    prev = None
    bin_col = F.floor(F.col(value_col) / F.lit(bin_width)).cast("long")
    for i, g in enumerate(levels):
        if i == 0:
            prev = base_df.groupBy(
                truncate_to(g, datetime_col).alias(datetime_col),
                *keys,
                bin_col.alias("bin"),
            ).agg(F.count(F.lit(1)).alias("bin_n"))
        else:
            prev = prev.groupBy(
                truncate_to(g, datetime_col).alias(datetime_col),
                *keys,
                "bin",
            ).agg(F.sum("bin_n").alias("bin_n"))
        out[g] = prev
    return out


def estimate_percentile(
    hist: DataFrame,
    keys: list[str],
    p: float,
    bin_width: float,
    datetime_col: str = "DATETIME",
    out_col: str = "pct_est",
) -> DataFrame:
    """Quantile estimate per (keys, window) from a histogram-ladder
    level: the upper edge of the first bin whose cumulative count
    reaches ceil(p * N). The rank target is INTEGER (ceil of an
    exact product at the driver-free grain: p is a literal), the
    cumulative walk is a window over the group's occupied bins
    (bin-count-sized, never row-sized), and the returned edge is
    bin-grid-exact — so the estimate replays bit-for-bit in SQL and
    carries the deterministic |est - exact| <= bin_width bound."""
    from pyspark.sql.window import Window

    grp = [datetime_col, *keys]
    w = (
        Window.partitionBy(*grp)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy(*grp)
    cum = hist.select(
        *grp,
        "bin",
        F.sum("bin_n").over(w).alias("cum"),
        F.sum("bin_n").over(tot).alias("n"),
    )
    # round before ceil (engine float policy): a double 0.95*n lands
    # at 19.000000000000004 where a decimal engine gets exactly 19.00
    # — without the round, the rank target differs whenever p*n is
    # integral and the estimate silently shifts one bin
    target = F.ceil(F.round(F.lit(p) * F.col("n"), 9))
    return (
        cum.filter(F.col("cum") >= target)
        .groupBy(*grp)
        .agg(F.min("bin").alias("__b"))
        .select(
            *grp,
            ((F.col("__b") + 1) * F.lit(bin_width)).alias(out_col),
        )
    )
