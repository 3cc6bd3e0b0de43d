"""Price pipelines → ``price_data_long`` and ``ngfs_carbon_price``
(SURVEY.md §3; reference R/prepare_price_data_long.R and
R/prepare_ngfs_carbon_price.R).

Input shapes (FIXTURES.md §6-7): wide-year fossil-fuel / power-cost /
carbon-price tables. Chains:

prices:  melt (R1) → unit conversions (F10) → global-mean rows per
         (scenario, sector, year) unioned back (A3+U1) → dense spine
         + interpolation + LOCF (T1+W8+W7) → OLS extension to the
         model horizon (W9/T4).
carbon:  melt 5-year steps → per-group dense spine → interior
         interpolation (R/prepare_ngfs_carbon_price.R:102-165, whose
         row-loop interpolation becomes the W8 expression tree).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trisk_datawrangle_spark.functions.scalars import UNIT, recode
from trisk_datawrangle_spark.operators.interpolate import (
    fill_locf,
    lm_extrapolate,
    na_approx,
)
from trisk_datawrangle_spark.operators.persist import stage_boundary
from trisk_datawrangle_spark.operators.reshape import melt_year_columns
from trisk_datawrangle_spark.operators.setops import union_by_name
from trisk_datawrangle_spark.operators.spine import complete_spine

PRICE_KEYS = ["scenario", "scenario_geography", "sector", "unit"]


def melt_price_table(raw: DataFrame, id_cols: Sequence[str]) -> DataFrame:
    """R1: wide year columns → long (year, price)."""
    return melt_year_columns(raw, id_cols=list(id_cols), value_name="price")


def convert_units(df: DataFrame) -> DataFrame:
    """F10 (R/prepare_price_data_long.R:36-52): oil & gas prices
    normalized to GJ via the published constants; coal stays at
    usd/tonne ("tonnes of coal -> tonnes of coal (already correct)",
    :36-38) so coal prices keep pairing with tonne-denominated
    production. Converted units are relabeled "GJ", matching the
    reference's vocabulary (:47-51)."""
    price = F.col("price")
    unit = F.col("unit")
    # reference arithmetic (prepare_price_data_long.R:41-42): barrel
    # ×0.16, Mbtu ×0.9478171203 — the previous formulation divided
    # where the reference multiplies (Mbtu ~11% high).
    converted = (
        F.when(unit == "usd/barrel", price * F.lit(UNIT.BARREL_TO_GJ))
        .when(unit == "usd/Mbtu", price * F.lit(UNIT.MBTU_TO_GJ))
        .otherwise(price)
    )
    new_unit = recode(
        unit,
        {
            "usd/barrel": "GJ",
            "usd/Mbtu": "GJ",
        },
    )
    return df.withColumn("price", converted).withColumn("unit", new_unit)


def convert_mwh_units(df: DataFrame, tech_col: str = "technology") -> DataFrame:
    """The Oxford-variant per-technology $/MWh normalization
    (R/prepare_price_data_long.R:706-717): Oil and Gas $/MWh → GJ
    (÷3.6), Coal $/MWh → usd/tonne (÷0.122835) — coal lands back on
    the tonne denomination its production series uses."""
    price = F.col("price")
    tech = F.col(tech_col)
    mwh = F.col("unit").isin("$/MWh", "usd/MWh")
    converted = (
        F.when(mwh & tech.isin("Oil", "Gas"), price * F.lit(UNIT.USD_MWH_TO_USD_GJ))
        .when(mwh & (tech == "Coal"), price / F.lit(0.122835))
        .otherwise(price)
    )
    new_unit = (
        F.when(mwh & tech.isin("Oil", "Gas"), F.lit("GJ"))
        .when(mwh & (tech == "Coal"), F.lit("usd/tonne"))
        .otherwise(F.col("unit"))
    )
    return df.withColumn("price", converted).withColumn("unit", new_unit)


def add_global_mean_rows(
    df: DataFrame, extra_keys: Sequence[str] = ()
) -> DataFrame:
    """A3+U1 (R/prepare_price_data_long.R:78-92): the 'Global'
    geography is the mean over regional rows per (scenario, sector,
    unit[, technology], year), appended to the regional data. One
    extra aggregate over the same shuffle keys minus geography."""
    group = ["scenario", "sector", "unit", *extra_keys, "year"]
    global_rows = (
        df.filter(F.col("scenario_geography") != "Global")
        .groupBy(*group)
        .agg(F.avg("price").alias("price"))
        .withColumn("scenario_geography", F.lit("Global"))
    )
    return union_by_name(
        df.filter(F.col("scenario_geography") != "Global"), global_rows
    )


def prepare_price_data_long(
    raw: DataFrame,
    id_cols: Sequence[str] = (
        "scenario",
        "scenario_geography",
        "sector",
        "unit",
    ),
    first_year: int | None = None,
    horizon_end: int | None = None,
) -> DataFrame:
    """Full price chain. ``horizon_end`` past the data triggers the
    T4/W9 extension: dense spine to the horizon, interior
    interpolation, LOCF for flat gaps, then per-group OLS for the
    far extension (R/prepare_price_data_long.R:661-733 — the
    reference's per-row loop becomes two aggregate shuffles)."""
    long = melt_price_table(raw, id_cols)
    if first_year is not None:
        long = long.filter(F.col("year") >= first_year)  # P3 :33
    long = convert_units(long)
    # technology-granular sources (the Oxford $/MWh shape) also get
    # the per-technology MWh normalization (:706-717) and carry the
    # technology through the global-mean, spine, and extension keys —
    # sector-grain frames have no technology column and skip it
    tech_keys = ["technology"] if "technology" in long.columns else []
    if tech_keys:
        long = convert_mwh_units(long)
    # Stage boundary: the spine completion reads this frame twice
    # (bounds aggregate + join back).
    long = stage_boundary(add_global_mean_rows(long, extra_keys=tech_keys))
    keys = [c for c in PRICE_KEYS if c in long.columns] + tech_keys
    if horizon_end is not None:
        # lo comes from the data lazily (half-specified fixed bounds);
        # an eager min-year collect here replayed the whole upstream
        # chain as an extra job and crashed on empty input
        dense = complete_spine(
            long, keys, "year", bounds="fixed", hi=horizon_end
        )
    else:
        dense = complete_spine(long, keys, "year", bounds="group")
    # Stage boundary: the OLS extension fits per-group coefficients
    # from this frame and joins them back onto it.
    interp = stage_boundary(
        na_approx(dense, keys, "year", "price", na_rm=False)
    )
    extended = lm_extrapolate(
        interp, keys, "year", "price", exact_scale=None
    )
    filled = fill_locf(extended, keys, "year", "price", direction="downup")
    return filled.select(
        *keys, "year", F.col("price").cast("double").alias("price")
    )


CARBON_KEYS = ["model", "scenario", "scenario_geography", "variable", "unit"]


def prepare_ngfs_carbon_price(
    raw: DataFrame,
    id_cols: Sequence[str] = (
        "Model",
        "Scenario",
        "Region",
        "Variable",
        "Unit",
    ),
) -> DataFrame:
    """Carbon-price chain (R/prepare_ngfs_carbon_price.R:17-174):
    melt the 5-year-step columns, complete the yearly spine per
    series, interpolate the interior (the reference's explicit
    per-cell loop :78-92 / :115-165 is exactly the W8 expression),
    keep edges as published."""
    renamed = raw.select(
        *[
            F.col(src).alias(dst)
            for src, dst in zip(id_cols, CARBON_KEYS)
        ],
        *[c for c in raw.columns if c.isdigit()],
    )
    long = melt_year_columns(
        renamed, id_cols=CARBON_KEYS, value_name="carbon_tax"
    )
    dense = complete_spine(long, CARBON_KEYS, "year", bounds="group")
    interp = na_approx(
        dense, CARBON_KEYS, "year", "carbon_tax", na_rm=False
    )
    return interp.select(*CARBON_KEYS, "year", "carbon_tax")


LCOE_SERIES_KEYS = [
    "source",
    "scenario",
    "scenario_geography",
    "sector",
    "technology",
    "unit",
]


def prepare_lcoe_adjusted_prices(
    input_data: DataFrame,
    average_npm_power: float = 0.1,
    start_year: int | None = None,
) -> DataFrame:
    """LCOE → implied-market-price adjustment
    (R/prepare_LCOE_adjusted_price_data.R:18-70, and the structurally
    identical WEO2021/IPR variants :140-165,265-300).

    Power-sector LCOE series become market prices: the start-year
    implied price is ``lcoe / (1 - npm)`` (the sector net profit
    margin on top of costs), and every later year scales that by the
    cost-decline factor ``lcoe_t0 / lcoe_t`` — both computed and
    joined WITHIN the same (source, scenario, geography, sector,
    technology, unit) series, so nothing fans out across
    technologies or leaks Power factors into other sectors. Non-Power
    / non-LCOE rows pass through unchanged (:62-67 bind_rows).

    ``input_data`` is the long price frame: the series keys (those of
    ``LCOE_SERIES_KEYS`` that are present) + (indicator, year,
    price). ``start_year`` filters the input when given; omitting it
    keeps every year (a ``>= min(year)`` filter is a no-op, so no
    eager min-year job runs).

    Both anchors — the implied price and the cost-decline factor —
    are the FIRST row of the same ordered series window, so a series
    whose publication starts after ``start_year`` still adjusts off
    its own first year instead of silently dropping out of an
    anchor-year equi-join.

    Scale: one window over the series partitioning; no join at all.
    """
    keys = [c for c in LCOE_SERIES_KEYS if c in input_data.columns]
    data = input_data
    if start_year is not None:
        data = data.filter(F.col("year") >= start_year)
    lcoe = data.filter(
        (F.col("sector") == "Power") & (F.col("indicator") == "LCOE")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys)
        .orderBy("year")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    first_p = F.first("price").over(w)
    implied = first_p / (1 - F.lit(float(average_npm_power)))
    cost_factor = F.when(F.col("price") != 0, first_p / F.col("price"))
    adjusted = (
        lcoe.withColumn("price", implied * cost_factor)
        .withColumn("indicator", F.lit("price"))
        .select(*data.columns)
    )
    others = data.filter(
        ~((F.col("sector") == "Power") & (F.col("indicator") == "LCOE"))
    )
    return union_by_name(adjusted, others)
