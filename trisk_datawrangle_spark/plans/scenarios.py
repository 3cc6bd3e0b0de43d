"""Scenario pipeline → ``Scenarios_AnalysisInput`` (SURVEY.md §3.3;
reference driver data-raw/run_prepare_Scenarios_AnalysisInput.R and
per-source wranglers in R/prepare_scenario_data.R).

Input shape (FIXTURES.md §4): long (source, scenario, geography,
sector, technology, indicator, units, year, value) pathway rows with
sparse years. The chain per source: interpolate to a dense yearly
spine → market-share columns → P4I formatting (direction +
fair-share percentage) → hygiene (distinct, NA-geography anti-join,
incomplete-sector removal) → union of sources → scenario-type
tagging.

Everything is one lazy DAG per source; the per-source frames are
unioned by name (U1) so Catalyst sees every source's chain (the
reference materializes CSV between every stage). One stage boundary
(``operators.persist.stage_boundary``) after the cross-source dedup
cuts the plan before the sector-completeness check reads the frame
again.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trisk_datawrangle_spark.operators.interpolate import interpolate_yearly
from trisk_datawrangle_spark.operators.persist import stage_boundary
from trisk_datawrangle_spark.operators.quality import incomplete_groups
from trisk_datawrangle_spark.functions.scalars import any_null

#: Interpolation groups (run_prepare_Scenarios_AnalysisInput.R:18-27).
INTERPOLATION_GROUPS = (
    "source",
    "scenario",
    "scenario_geography",
    "sector",
    "technology",
    "indicator",
    "units",
)

#: Green (build-out) technologies: their fair share scales by the
#: sector market-share percentage; declining techs by their own
#: trajectory ratio (R/prepare_scenario_data.R:123-163).
DEFAULT_GREEN_TECHS = (
    "RenewablesCap",
    "HydroCap",
    "NuclearCap",
    "Electric",
    "FuelCell",
    "Hybrid",
    "EAF",
)


def add_market_share_columns(df: DataFrame) -> DataFrame:
    """tmsr + smsp over the scenario grouping (W1+W2,
    R/prepare_scenario_data.R:22-44): technology series are indexed
    to their first year; the sector share scales the same delta by
    the sector total of the first year."""
    from trisk_datawrangle_spark.operators.windows import (
        add_market_share_columns as _amsc,
    )

    tech = ["source", "scenario", "scenario_geography", "sector", "technology"]
    sector = ["source", "scenario", "scenario_geography", "sector"]
    return _amsc(df, tech, sector, x_col="year", value_col="value")


def format_p4i(
    df: DataFrame, green_techs: Sequence[str] = DEFAULT_GREEN_TECHS
) -> DataFrame:
    """P4I formatting (R/prepare_scenario_data.R:123-163): direction
    from green-tech membership; ``fair_share_perc`` = smsp for
    build-out technologies, tmsr for declining ones."""
    is_green = F.col("technology").isin(*green_techs)
    return (
        df.withColumn(
            "direction",
            F.when(is_green, F.lit("increasing")).otherwise(F.lit("declining")),
        )
        .withColumn(
            "fair_share_perc",
            F.when(is_green, F.col("smsp")).otherwise(F.col("tmsr")),
        )
        .withColumnsRenamed(
            {
                "sector": "ald_sector",
                "technology": "ald_business_unit",
            }
        )
    )


def drop_na_geographies(df: DataFrame) -> DataFrame:
    """NA-geography anti-join (J4, R/prepare_scenario_data.R:242) —
    expressed directly as a NULL filter (the reference anti-joins a
    one-column NA frame, which is the same predicate)."""
    return df.filter(F.col("scenario_geography").isNotNull())


def remove_incomplete_sectors(
    df: DataFrame, sector_tech_lookup: DataFrame
) -> DataFrame:
    """Q8 (R/helpers.R:110-154): within each (scenario, geography),
    drop sectors missing any technology required by the lookup
    (ald_sector → ald_business_unit). The reference loops per
    (scenario, geography) with split+map_dfr; here it is one
    broadcast-join + anti-join over all groups at once."""
    bad = incomplete_groups(
        df,
        ["scenario", "scenario_geography", "ald_sector"],
        sector_tech_lookup,
        lookup_group_col="ald_sector",
        lookup_member_col="ald_business_unit",
    )
    return df.join(
        bad, ["scenario", "scenario_geography", "ald_sector"], "left_anti"
    )


def tag_scenario_type(
    df: DataFrame,
    baseline_scenarios: Sequence[str],
    shock_scenarios: Sequence[str],
) -> DataFrame:
    """scenario_type tagging + completeness guard
    (run_prepare_Scenarios_AnalysisInput.R:288-371): every scenario
    must be classified; unknown scenarios surface as NULL and the
    caller asserts none remain (Q3)."""
    return df.withColumn(
        "scenario_type",
        F.when(F.col("scenario").isin(*baseline_scenarios), "baseline").when(
            F.col("scenario").isin(*shock_scenarios), "shock"
        ),
    )


def prepare_scenarios_analysis_input(
    sources: Mapping[str, DataFrame],
    sector_tech_lookup: DataFrame,
    baseline_scenarios: Sequence[str],
    shock_scenarios: Sequence[str],
    start_year: int = 2020,
    green_techs: Sequence[str] = DEFAULT_GREEN_TECHS,
) -> DataFrame:
    """Full §3.3 chain over any number of raw sources. Each source:
    T7 interpolation → P3 year filter → W1/W2 market shares → P4I
    format → hygiene; then U1 union, Q8 sector completeness, and
    scenario-type tagging. Returns the canonical
    ``Scenarios_AnalysisInput`` columns."""
    prepared = []
    for rank, (_, raw) in enumerate(sources.items()):
        interp = interpolate_yearly(
            raw, list(INTERPOLATION_GROUPS), "year", "value"
        )
        interp = interp.filter(F.col("year") >= start_year)
        shares = add_market_share_columns(interp)
        prepared.append(
            format_p4i(shares, green_techs).withColumn(
                "__source_rank", F.lit(rank)
            )
        )
    merged = prepared[0]
    for p in prepared[1:]:
        merged = merged.unionByName(p, allowMissingColumns=True)
    # deterministic cross-source dedup: when two sources publish the
    # same series-year, the EARLIER entry in `sources` wins (plain
    # dropDuplicates would keep whichever row a partitioning
    # encountered first — fair_share_perc silently varied run-to-run)
    from pyspark.sql import Window

    dedup_keys = [
        "scenario",
        "scenario_geography",
        "ald_sector",
        "ald_business_unit",
        "units",
        "year",
    ]
    w = Window.partitionBy(*dedup_keys).orderBy("__source_rank")
    # Stage boundary: the sector-completeness check aggregates this
    # frame and anti-joins it back.
    merged = stage_boundary(
        drop_na_geographies(merged)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk", "__source_rank")
    )
    merged = remove_incomplete_sectors(merged, sector_tech_lookup)
    tagged = tag_scenario_type(merged, baseline_scenarios, shock_scenarios)
    return tagged.select(
        "scenario",
        "scenario_geography",
        "ald_sector",
        "ald_business_unit",
        "units",
        "year",
        "direction",
        F.round("fair_share_perc", 9).alias("fair_share_perc"),
        "scenario_type",
    )


def assert_all_classified(df: DataFrame) -> DataFrame:
    """Q3 guard for the scenario_type column
    (run_prepare_Scenarios_AnalysisInput.R:288-371)."""
    from trisk_datawrangle_spark.operators.quality import assert_no_null

    return assert_no_null(df, ["scenario_type"])
