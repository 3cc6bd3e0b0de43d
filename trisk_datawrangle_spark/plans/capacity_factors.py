"""Capacity-factor pipeline → ``prewrangled_capacity_factors``
(SURVEY.md §3; reference R/prepare_prewrangled_capacity_factors.R).

Input shape (FIXTURES.md §5): wide-year WEO-style rows with
``Indicator ∈ {Capacity, Generation}``. Chain: multi-column year
aggregation (A6) → melt (R1) → Capacity/Generation pivot (R3) →
capacity_factor = generation / capacity with explicit zero/NaN
policy (F14, SURVEY.md §7.3.3) → dense spine + interior interpolation
(T1+W8) → technology clone-recodes (U2) → bounds assert (Q4).

Scale: the pivot is pinned to the two known indicator values (no
distinct job); everything shuffles once on the series keys.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trisk_datawrangle_spark.functions.scalars import recode, safe_div
from trisk_datawrangle_spark.operators.interpolate import na_approx
from trisk_datawrangle_spark.operators.persist import stage_boundary
from trisk_datawrangle_spark.operators.quality import assert_bounds
from trisk_datawrangle_spark.operators.reshape import melt_year_columns
from trisk_datawrangle_spark.operators.setops import clone_recode
from trisk_datawrangle_spark.operators.spine import complete_spine

SERIES_KEYS = ["scenario", "scenario_geography", "ald_business_unit"]

#: Technology relabels applied at ingest
#: (R/prepare_prewrangled_capacity_factors.R:158-168,384-419).
TECH_RECODE: Mapping[str, str] = {
    "Coal": "CoalCap",
    "Gas": "GasCap",
    "Oil": "OilCap",
    "Nuclear": "NuclearCap",
    "Hydro": "HydroCap",
    "Renewables": "RenewablesCap",
    "Solar PV": "RenewablesCap",
    "Wind": "RenewablesCap",
}


def prepare_capacity_factors(
    raw: DataFrame,
    id_cols: Sequence[str] = ("Scenario", "ScenarioGeography", "Technology"),
    indicator_col: str = "Indicator",
    start_year: int | None = None,
    end_year: int | None = None,
) -> DataFrame:
    """Full chain from the wide WEO shape to the canonical long
    (scenario, scenario_geography, ald_business_unit, year,
    capacity_factor) table.

    The capacity-factor division uses the explicit-predicate policy
    (R/prepare_prewrangled_capacity_factors.R:473-488 re-expressed,
    SURVEY.md §7.3.3): capacity NULL-or-0 → factor 0 (the reference's
    NaN→0 clamp), then clamped into [0, 1] and asserted (Q4)."""
    renamed = raw.select(
        F.col(id_cols[0]).alias("scenario"),
        F.col(id_cols[1]).alias("scenario_geography"),
        recode(F.col(id_cols[2]), TECH_RECODE).alias("ald_business_unit"),
        F.col(indicator_col).alias("indicator"),
        *[c for c in raw.columns if c.isdigit()],
    )
    # A6: aggregate duplicate keys across every wide year column in
    # one grouped pass, then melt once (projection, no shuffle)
    year_cols = [c for c in renamed.columns if c.isdigit()]
    agg = renamed.groupBy(*SERIES_KEYS, "indicator").agg(
        *[F.sum(c).alias(c) for c in year_cols]
    )
    long = melt_year_columns(
        agg, id_cols=SERIES_KEYS + ["indicator"], value_name="value"
    )
    # R3: Capacity/Generation to columns — values pinned, no distinct
    wide = (
        long.groupBy(*SERIES_KEYS, "year")
        .pivot("indicator", ["Capacity", "Generation"])
        .agg(F.first("value"))
    )
    # zero/NULL policy (SURVEY.md §7.3.3): year absent on both sides →
    # NULL (interpolated later); capacity 0-or-NULL with generation
    # present → 0 (the reference's NaN→0 clamp); else clamp into [0,1]
    factor = (
        F.when(
            F.col("Generation").isNull() & F.col("Capacity").isNull(),
            F.lit(None).cast("double"),
        )
        .when(
            F.col("Capacity").isNull() | (F.col("Capacity") == 0), F.lit(0.0)
        )
        .otherwise(
            F.least(
                F.greatest(
                    safe_div("Generation", "Capacity", on_zero=F.lit(0.0)),
                    F.lit(0.0),
                ),
                F.lit(1.0),
            )
        )
    )
    # Stage boundary: the spine completion reads this frame twice
    # (bounds aggregate + join back).
    cf = stage_boundary(
        wide.select(*SERIES_KEYS, "year", factor.alias("capacity_factor"))
    )
    # T1 + W8: dense yearly spine, interior interpolation, kept edges
    # half-specified bounds are legal: complete_spine's fixed mode
    # derives the missing side from the data (previously start_year
    # without end_year crashed in complete_spine)
    bounds = (
        {"bounds": "fixed", "lo": start_year, "hi": end_year}
        if start_year is not None or end_year is not None
        else {"bounds": "group"}
    )
    dense = complete_spine(cf, SERIES_KEYS, "year", **bounds)
    # Stage boundary: the technology clones union this output with
    # filtered copies of itself.
    return stage_boundary(
        na_approx(dense, SERIES_KEYS, "year", "capacity_factor", na_rm=True)
    )


def clone_missing_technologies(
    df: DataFrame,
    clones: Mapping[str, str] = {"GasCap": "OilCap"},
) -> DataFrame:
    """U2 (R/prepare_prewrangled_capacity_factors.R:225-237): sources
    that publish no OilCap factors inherit the GasCap series under
    the new label; same idiom for EAF→BF-EAF etc."""
    out = df
    for src, dst in clones.items():
        out = clone_recode(
            out,
            F.col("ald_business_unit") == src,
            {"ald_business_unit": dst},
        )
    return out


def validate(df: DataFrame) -> DataFrame:
    """Q4 bounds assert (R/prepare_prewrangled_capacity_factors.R:182-193)."""
    return assert_bounds(df, "capacity_factor", 0.0, 1.0)
