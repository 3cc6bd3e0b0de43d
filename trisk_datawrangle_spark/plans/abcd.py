"""Production/emissions pipeline → ``abcd_stress_test_input``
(SURVEY.md §3.1; reference entry ``prepare_abcd_data``,
R/prepare_abcd_stress_test_input.R:339-426 + upstream
R/prepare_asset_impact_data.R:201-244).

Input shape (FIXTURES.md §1): wide Equity-Ownership-by-year company
activity/emission tables. Output: the canonical long
(company, sector, business_unit, year) production + emission-factor
table (outputs_structure.dbml:24-37).

Scale design: the emissions⋈production pairing is a full outer join
on the company/sector/business-unit keys (AQE keeps it
co-partitioned); year melt is a projection (native unpivot, no
shuffle); the EF-imputation lookup is a tiny per-(sector, unit)
aggregate broadcast back. Two stage boundaries
(``operators.persist.stage_boundary``) cut the plan at the series-grain
frames that are read more than once: the location rollup and the
frame carrying emission factors. Each input is scanned once, and the
stage output's executed plan (after ``first_year_positive``) is about
13 KB with 8 Exchanges on the 600-company benchmark input (234 KB and
66 Exchanges with ``.cache()`` at those points: Spark substituted the
cached relation at only one reference and replanned the rest).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from trisk_datawrangle_spark.functions.scalars import recode, safe_div
from trisk_datawrangle_spark.operators.interpolate import fill_locf, na_approx
from trisk_datawrangle_spark.operators.persist import stage_boundary
from trisk_datawrangle_spark.operators.reshape import melt_year_columns
from trisk_datawrangle_spark.operators.spine import complete_spine
from trisk_datawrangle_spark.operators.windows import with_asset_id

#: Technology recode applied at ingest
#: (R/prepare_asset_impact_data.R:47-75).
TECHNOLOGY_RECODE: Mapping[str, str] = {
    "Gas": "GasCap",
    "Natural Gas Liquids": "Gas",
    "ICE Diesel": "ICE",
    "ICE Gasoline": "ICE",
    "ICE CNG": "ICE",
    "ICE Propane": "ICE",
    "ICE E85+": "ICE",
    "Hybrid No-Plug": "Hybrid",
    "Hybrid Plug-In": "Hybrid",
    "Fuel Cell": "FuelCell",
}

#: Sector recode (R/prepare_asset_impact_data.R:91-102).
SECTOR_RECODE: Mapping[str, str] = {
    "Oil&Gas": "Oil&Gas",
    "LDV": "Automotive",
    "HDV": "HDV",
}

#: Sectors kept in the canonical output
#: (R/prepare_abcd_stress_test_input.R:303-307).
DEFAULT_SECTORS: Sequence[str] = ("Power", "Oil&Gas", "Coal", "Automotive", "Steel")

KEYS = ["company_id", "company_name", "ald_sector", "ald_business_unit"]


def prepare_asset_impact_data(
    wide: DataFrame,
    value_name: str = "value",
) -> DataFrame:
    """Ingest one wide AR table (activities or emissions): recode
    technologies/sectors, drop unknown owners, melt the
    ``Equity Ownership YYYY`` columns, and aggregate duplicate keys
    with sum-or-all-NULL semantics
    (R/prepare_asset_impact_data.R:201-244 + the ``.sum_or_all_nans``
    aggregation at R/prepare_abcd_stress_test_input.R:8-14,39-46 —
    Spark's native ``sum`` has exactly those semantics: nulls are
    ignored and an all-null group yields NULL, SURVEY.md §2.4 A2).
    """
    df = (
        wide.filter(F.col("company_name") != "Unknown Owner")
        .withColumn(
            "ald_business_unit", recode("ald_business_unit", TECHNOLOGY_RECODE)
        )
        .withColumn("ald_sector", recode("ald_sector", SECTOR_RECODE))
    )
    long = melt_year_columns(
        df,
        id_cols=KEYS + ["ald_location", "activity_unit"],
        value_name=value_name,
    )
    return long.groupBy(*KEYS, "ald_location", "activity_unit", "year").agg(
        F.sum(value_name).alias(value_name)
    )


def filter_countries_coverage(
    ar_data: DataFrame,
    company_informations: DataFrame | None = None,
    country_filter: Sequence[str] = (),
    filter_hqs: bool = False,
    filter_assets: bool = False,
    hqs: DataFrame | None = None,
) -> DataFrame:
    """Optional country scoping of Asset-Impact data
    (R/prepare_asset_impact_data.R:156-195,
    vignettes/country_specific_dataprep.Rmd:84-99).

    - ``filter_hqs``: keep only companies whose ultimate parent (HQ)
      is located in ``country_filter`` — subsidiaries are filtered
      out of the HQ set — while their assets may be worldwide.
      Implemented as a broadcast left-semi join on the distinct HQ
      company-id list (the company-information sheet is a dimension
      table by construction).
    - ``filter_assets``: keep only asset rows located in
      ``country_filter`` (a plain pushed-down filter).
    - both: the intersection.

    A no-op when ``country_filter`` is empty or both flags are off,
    exactly like the reference."""
    country_filter = list(country_filter)
    if not country_filter or not (filter_hqs or filter_assets):
        return ar_data
    if filter_hqs:
        if hqs is None:
            if company_informations is None:
                raise ValueError(
                    "filter_hqs=True needs company_informations "
                    "(company_id, ald_location, is_ultimate_parent)"
                )
            hqs = hq_company_ids(company_informations, country_filter)
        ar_data = ar_data.join(F.broadcast(hqs), "company_id", "left_semi")
    if filter_assets:
        ar_data = ar_data.filter(F.col("ald_location").isin(*country_filter))
    return ar_data


def hq_company_ids(
    company_informations: DataFrame, country_filter: Sequence[str]
) -> DataFrame:
    """Distinct ultimate-parent company ids headquartered in
    ``country_filter`` — the HQ dimension both the production and the
    emissions branch semi-join. Callers applying the filter to
    several frames should build this ONCE (behind a
    ``stage_boundary``) and pass it via
    ``filter_countries_coverage(hqs=...)`` so the distinct aggregate
    and broadcast are not replanned per frame."""
    return (
        company_informations.filter(
            F.col("ald_location").isin(*list(country_filter))
            & F.col("is_ultimate_parent")
        )
        .select("company_id")
        .distinct()
    )


def prepare_abcd_data(
    activities_wide: DataFrame,
    emissions_wide: DataFrame,
    start_year: int = 2022,
    time_horizon: int = 5,
    sectors: Sequence[str] = DEFAULT_SECTORS,
    company_informations: DataFrame | None = None,
    country_filter: Sequence[str] = (),
    filter_hqs: bool = False,
    filter_assets: bool = False,
) -> DataFrame:
    """Full §3.1 chain: melt → dedup-sum → [optional country scoping,
    vignettes/country_specific_dataprep.Rmd:84-99] →
    emissions⋈production full outer join → location rollup →
    year-spine completion → interpolate + LOCF + zero-fill →
    emission factors (with per-(sector, unit) mean imputation) →
    drop dead series → asset ids
    (R/prepare_abcd_stress_test_input.R:339-426).
    """
    lo, hi = start_year, start_year + time_horizon

    prod = prepare_asset_impact_data(activities_wide, "plan_tech_prod")
    emis = prepare_asset_impact_data(emissions_wide, "plan_emissions").filter(
        F.col("activity_unit").isin("tCO2", "tCO2e")
    )
    # the HQ dimension is identical for both branches — materialize
    # it once instead of replanning the distinct + broadcast per frame
    hqs = None
    if filter_hqs and country_filter and company_informations is not None:
        hqs = stage_boundary(
            hq_company_ids(company_informations, country_filter)
        )
    prod = filter_countries_coverage(
        prod, company_informations, country_filter, filter_hqs,
        filter_assets, hqs=hqs,
    )
    emis = filter_countries_coverage(
        emis, company_informations, country_filter, filter_hqs,
        filter_assets, hqs=hqs,
    )

    # emissions⋈production on the natural keys (J3,
    # prepare_abcd_stress_test_input.R:55-83). activity_unit differs
    # by construction (production units vs tCO2) so it rides along,
    # renamed, rather than joining.
    join_keys = KEYS + ["ald_location", "year"]
    merged = prod.withColumnRenamed("activity_unit", "ald_production_unit").join(
        emis.select(
            *join_keys,
            F.col("activity_unit").alias("emissions_unit"),
            "plan_emissions",
        ),
        join_keys,
        "outer",
    )

    # drop NULL locations, roll production/emissions up over locations
    # (prepare_abcd_stress_test_input.R:369-371, :246-259); the HQ
    # country (first location in key order) is kept as country_iso2.
    # Stage boundary: the spine completion reads this frame twice
    # (bounds aggregate + join back) and everything downstream hangs
    # off it, so each input is scanned once, here. The frame is
    # series-grain (companies × business units × years), orders of
    # magnitude smaller than the raw asset-level input.
    rolled = stage_boundary(
        merged.filter(F.col("ald_location").isNotNull())
        .groupBy(*KEYS, "ald_production_unit", "year")
        .agg(
            F.sum("plan_tech_prod").alias("plan_tech_prod"),
            F.sum("plan_emissions").alias("plan_emissions"),
            F.min("ald_location").alias("country_iso2"),
            # min, not first(ignorenulls): first over an unordered
            # aggregate is partition-order dependent — a company
            # reporting tCO2 in one location and tCO2e in another
            # would flip units between runs
            F.min("emissions_unit").alias("emissions_unit"),
        )
    )

    # dense year spine over the model horizon (T1 fixed bounds,
    # :95-106), then interior interpolation, LOCF to the right edge,
    # and zero for years before the first observation (:267-295).
    series_keys = KEYS + ["ald_production_unit"]
    dense = complete_spine(
        rolled, series_keys, "year", bounds="fixed", lo=lo, hi=hi
    )
    for col in ("plan_tech_prod", "plan_emissions"):
        dense = na_approx(dense, series_keys, "year", col, na_rm=False)
        dense = fill_locf(dense, series_keys, "year", col, direction="down")
        dense = dense.withColumn(col, F.coalesce(F.col(col), F.lit(0.0)))
    dense = (
        fill_locf(dense, series_keys, "year", "country_iso2", direction="downup")
        .withColumn(
            "emissions_unit",
            F.min("emissions_unit").over(Window.partitionBy(*series_keys)),
        )
    )

    # emission factor = emissions / production; 0-production rows get
    # NULL (R Inf/NaN re-expressed, SURVEY.md §7.3.3), then missing
    # factors are mean-imputed per (sector, business_unit)
    # (:130-169) via a tiny broadcast lookup.
    # Stage boundary: the EF-imputation lookup, the dead-series filter
    # and the asset-id numbering each read this frame.
    with_ef = stage_boundary(
        dense.withColumn(
            "plan_emission_factor",
            safe_div("plan_emissions", "plan_tech_prod"),
        ).withColumn(
            "emissions_factor_unit",
            F.concat_ws(
                "/",
                F.coalesce("emissions_unit", F.lit("tCO2")),
                "ald_production_unit",
            ),
        )
    )
    avg_ef = with_ef.groupBy("ald_sector", "ald_business_unit").agg(
        F.avg("plan_emission_factor").alias("__avg_ef")
    )
    with_ef = (
        with_ef.join(F.broadcast(avg_ef), ["ald_sector", "ald_business_unit"], "left")
        .withColumn(
            "plan_emission_factor",
            F.coalesce("plan_emission_factor", "__avg_ef"),
        )
        .drop("__avg_ef")
    )

    # drop series whose production never exceeds zero (A9 + J4,
    # :216-237) and restrict sectors + model years (:303-307,117-124)
    alive = (
        with_ef.groupBy(*series_keys)
        .agg(F.sum("plan_tech_prod").alias("__tot"))
        .filter(F.col("__tot") > 0)
        .select(*series_keys)
    )
    kept = (
        with_ef.join(alive, series_keys, "left_semi")
        .filter(F.col("ald_sector").isin(*sectors))
        .filter((F.col("year") >= lo) & (F.col("year") <= hi))
    )

    # asset ids (W4, :309-320): one id per asset (distinct series
    # key), not per year-row — numbered within company over the
    # pinned natural-key order (SURVEY.md §7.3.2), then joined back.
    assets = with_asset_id(
        kept.select(*series_keys).distinct(),
        key_col="company_id",
        order_cols=["ald_sector", "ald_business_unit", "ald_production_unit"],
    )
    # not broadcast: |assets| grows with the input (one row per asset);
    # the join key equals the series partitioning, so AQE plans it as a
    # co-partitioned SMJ (or broadcasts it itself when small)
    out = kept.join(assets, series_keys, "left").withColumn(
        "scenario_geography", F.lit("Global")
    )
    return out.select(
        "company_id",
        "company_name",
        "ald_sector",
        "ald_business_unit",
        "country_iso2",
        "asset_id",
        "scenario_geography",
        "year",
        "ald_production_unit",
        "emissions_factor_unit",
        "plan_tech_prod",
        "plan_emission_factor",
    )


def first_year_positive(df: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Post-hoc gate: keep groups whose first-year production is
    positive (P9, run_prepare_abcd_stress_test_input.R:107-111)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols)
        .orderBy("year")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        df.withColumn("__first", F.first("plan_tech_prod").over(w))
        .filter(F.col("__first") > 0)
        .drop("__first")
    )
