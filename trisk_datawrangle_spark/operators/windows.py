"""Window-function operators (SURVEY.md §2.5).

Determinism contract (SURVEY.md §7.3.2): the reference relies on
incidental row order for ``dplyr::first`` / ``row_number`` /
``distinct(.keep_all=)``. Spark's model is unordered, so every
operator here takes *explicit* order keys and the library refuses to
emit an unordered row_number. This is a deliberate semantic upgrade,
documented per call site.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _full_frame(groups: Sequence[str], order_cols: Sequence):
    return (
        Window.partitionBy(*groups)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )


def baseline_index(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str = "year",
    value_col: str = "value",
    out_col: str = "tmsr",
) -> DataFrame:
    """First-over-ordered-group indexing (W1,
    prepare_scenario_data.R:22-29): ``(value - first(value)) /
    first(value)`` with first = value at the smallest x. The
    reference's ``arrange(year, .by_group=TRUE)`` becomes the window
    order — explicit, shuffle-once."""
    groups = list(group_cols)
    first_v = F.first(value_col).over(_full_frame(groups, [x_col]))
    return df.withColumn(out_col, (F.col(value_col) - first_v) / first_v)


def add_market_share_columns(
    df: DataFrame,
    tech_group_cols: Sequence[str],
    sector_group_cols: Sequence[str],
    x_col: str = "year",
    value_col: str = "value",
) -> DataFrame:
    """tmsr + smsp (W1+W2, prepare_scenario_data.R:22-44): the
    technology market-share ratio indexes each technology series to
    its first year; the sector market-share percentage scales the
    same delta by the *sector total* in the first year. Two window
    partitionings, one logical pass; Catalyst plans both windows off
    a single sort-shuffle when ``sector_group_cols`` is a prefix of
    ``tech_group_cols``. When a series carries several rows for its
    first ``x_col`` value, the base is the smallest of them (NULLs
    last), not whichever row a shuffle delivered first."""
    tech = list(tech_group_cols)
    sector = list(sector_group_cols)
    w_tech = _full_frame(tech, [x_col, F.col(value_col).asc_nulls_last()])
    w_sector_year = Window.partitionBy(*sector, x_col)
    first_v = F.first(value_col).over(w_tech)
    df = df.withColumn("__sector_total_by_year", F.sum(value_col).over(w_sector_year))
    first_tot = F.first("__sector_total_by_year").over(w_tech)
    return (
        df.withColumn("tmsr", (F.col(value_col) - first_v) / first_v)
        .withColumn("smsp", (F.col(value_col) - first_v) / first_tot)
        .drop("__sector_total_by_year")
    )


def with_row_number(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence,
    out_col: str = "rn",
) -> DataFrame:
    """``row_number()`` per group with pinned order (W4)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn(out_col, F.row_number().over(w))


def with_asset_id(
    df: DataFrame,
    key_col: str,
    order_cols: Sequence,
    out_col: str = "asset_id",
) -> DataFrame:
    """``asset_id = paste0(company_id, "_", row_number())`` (W4,
    prepare_abcd_stress_test_input.R:309-320). The reference's
    row_number depends on incidental order; we pin ``order_cols``
    (natural keys) for reproducibility across partitionings."""
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    return df.withColumn(
        out_col, F.concat_ws("_", F.col(key_col), F.row_number().over(w))
    )


def slice_min(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence,
    keep_ties: bool = False,
) -> DataFrame:
    """``dplyr::slice_min`` (W5; closest-parent at
    prepare_prewrangled_financial_data_stress_test.R:195-197).
    ``keep_ties=True`` matches slice_min's default tie behavior
    (rank); otherwise one deterministic row (row_number over the full
    order key list)."""
    w = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c) if isinstance(c, str) else c for c in order_cols]
    )
    fn = F.rank() if keep_ties else F.row_number()
    return (
        df.withColumn("__rn", fn.over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


def slice_max(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    keep_ties: bool = False,
) -> DataFrame:
    """``dplyr::slice_max`` (W5/J10; majority-parent pick at
    prep_datalake.R:297-300)."""
    return slice_min(
        df,
        group_cols,
        [F.col(c).desc() for c in order_cols],
        keep_ties=keep_ties,
    )


def group_max_col(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    out_col: str,
    cond: Column | None = None,
) -> DataFrame:
    """Grouped max as a column (W6, run_workflow.R:139-148:
    ``capacity_factor = plan_tech_prod / max(plan_tech_prod)``;
    conditional variant prepare_scenario_data.R:986-991:
    ``max(year[!is.na(value)])``)."""
    w = Window.partitionBy(*group_cols)
    target = F.col(value_col) if cond is None else F.when(cond, F.col(value_col))
    return df.withColumn(out_col, F.max(target).over(w))
