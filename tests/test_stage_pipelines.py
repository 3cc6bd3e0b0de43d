"""Semantic tests for the scenario / capacity-factor / price / carbon
stage pipelines (plans/scenarios.py, plans/capacity_factors.py,
plans/prices.py) on small hand-built reference-shaped inputs
(FIXTURES.md §4-7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trisk_datawrangle_spark.plans.capacity_factors import (
    clone_missing_technologies,
    prepare_capacity_factors,
    validate,
)
from trisk_datawrangle_spark.plans.prices import (
    prepare_ngfs_carbon_price,
    prepare_price_data_long,
)
from trisk_datawrangle_spark.plans.scenarios import (
    assert_all_classified,
    prepare_scenarios_analysis_input,
)


@pytest.fixture(scope="module")
def scenario_raw(spark):
    rows = []
    # Power sector, Global: CoalCap declining 100→60, RenewablesCap
    # rising 50→150, sparse years 2020/2025 (gap drives interpolation)
    for tech, v0, v1 in [("CoalCap", 100.0, 60.0), ("RenewablesCap", 50.0, 150.0)]:
        for year, v in [(2020, v0), (2025, v1)]:
            rows.append(
                ("WEO2021", "STEPS", "Global", "Power", tech, "Capacity",
                 "GW", year, v)
            )
    # incomplete sector: Oil&Gas has only Oil, lookup requires Oil+Gas
    for year, v in [(2020, 10.0), (2025, 8.0)]:
        rows.append(
            ("WEO2021", "STEPS", "Global", "Oil&Gas", "Oil", "Production",
             "mb/d", year, v)
        )
    return spark.createDataFrame(
        rows,
        "source string, scenario string, scenario_geography string, "
        "sector string, technology string, indicator string, units string, "
        "year int, value double",
    )


@pytest.fixture(scope="module")
def scenarios_out(spark, scenario_raw):
    lookup = spark.createDataFrame(
        [("Power", "CoalCap"), ("Power", "RenewablesCap"),
         ("Oil&Gas", "Oil"), ("Oil&Gas", "Gas")],
        "ald_sector string, ald_business_unit string",
    )
    return prepare_scenarios_analysis_input(
        {"weo": scenario_raw},
        lookup,
        baseline_scenarios=["STEPS"],
        shock_scenarios=["NZE_2050"],
        start_year=2020,
    ).cache()


def test_scenarios_dense_years(scenarios_out):
    years = sorted(
        r["year"]
        for r in scenarios_out.filter(
            F.col("ald_business_unit") == "CoalCap"
        ).collect()
    )
    assert years == [2020, 2021, 2022, 2023, 2024, 2025]


def test_scenarios_fair_share(scenarios_out):
    # CoalCap declining → tmsr = (v - 100)/100; 2025: (60-100)/100 = -0.4
    coal = {
        r["year"]: (r["direction"], r["fair_share_perc"])
        for r in scenarios_out.filter(
            F.col("ald_business_unit") == "CoalCap"
        ).collect()
    }
    assert coal[2025][0] == "declining"
    assert coal[2025][1] == pytest.approx(-0.4)
    # RenewablesCap increasing → smsp = (v - 50)/sector_total(2020)=150
    ren = {
        r["year"]: (r["direction"], r["fair_share_perc"])
        for r in scenarios_out.filter(
            F.col("ald_business_unit") == "RenewablesCap"
        ).collect()
    }
    assert ren[2025][0] == "increasing"
    assert ren[2025][1] == pytest.approx(100.0 / 150.0)


def test_market_share_base_ignores_row_order(spark):
    """Several rows for a series' first year: the base is the smallest
    value (NULLs last), whichever row arrives first."""
    from trisk_datawrangle_spark.operators.windows import (
        add_market_share_columns,
    )

    rows = [("a", 2020, None), ("a", 2020, 4.0), ("a", 2020, 2.0),
            ("a", 2021, 3.0)]
    for order in (rows, rows[::-1]):
        df = spark.createDataFrame(
            order, "k string, year int, value double"
        ).coalesce(1)
        out = add_market_share_columns(df, ["k"], ["k"])
        assert [r["tmsr"] for r in out.filter("year = 2021").collect()] == [
            pytest.approx(0.5)
        ]


def test_scenarios_incomplete_sector_dropped(scenarios_out):
    # Oil&Gas misses Gas → entire sector removed for that group (Q8)
    assert scenarios_out.filter(F.col("ald_sector") == "Oil&Gas").count() == 0


def test_scenarios_type_tagging(scenarios_out):
    assert_all_classified(scenarios_out)
    assert set(
        r["scenario_type"] for r in scenarios_out.select("scenario_type").distinct().collect()
    ) == {"baseline"}


# ------------------------------------------------------------------ #
# capacity factors                                                    #
# ------------------------------------------------------------------ #


@pytest.fixture(scope="module")
def cf_out(spark):
    raw = spark.createDataFrame(
        [
            # Gas: cap 100 constant; gen 438 (cf=.5 of 876) → 876 (cf 1.0 clamp)
            ("WEO2020", "STEPS", "Global", "Gas", "Capacity", 100.0, None, 100.0),
            ("WEO2020", "STEPS", "Global", "Gas", "Generation", 50.0, None, 80.0),
            # duplicate row to exercise A6 aggregation
            ("WEO2020", "STEPS", "Global", "Gas", "Generation", 10.0, None, 10.0),
            # zero capacity → factor 0 policy
            ("WEO2020", "STEPS", "Global", "Wind", "Capacity", 0.0, 0.0, 0.0),
            ("WEO2020", "STEPS", "Global", "Wind", "Generation", 5.0, 5.0, 5.0),
        ],
        "Source string, Scenario string, ScenarioGeography string, "
        "Technology string, Indicator string, `2018` double, `2019` double, "
        "`2020` double",
    )
    return prepare_capacity_factors(raw).cache()


def test_cf_pivot_divide_and_dedup(cf_out):
    gas = {
        r["year"]: r["capacity_factor"]
        for r in cf_out.filter(F.col("ald_business_unit") == "GasCap").collect()
    }
    assert gas[2018] == pytest.approx(0.6)  # (50+10)/100
    assert gas[2020] == pytest.approx(0.9)  # (80+10)/100
    # 2019 NULL both sides → interpolated midpoint
    assert gas[2019] == pytest.approx(0.75)


def test_cf_zero_capacity_policy(cf_out):
    wind = cf_out.filter(F.col("ald_business_unit") == "RenewablesCap")
    assert all(r["capacity_factor"] == 0.0 for r in wind.collect())


def test_cf_clone_and_validate(cf_out):
    cloned = clone_missing_technologies(cf_out, {"GasCap": "OilCap"})
    oil = cloned.filter(F.col("ald_business_unit") == "OilCap")
    gas = cloned.filter(F.col("ald_business_unit") == "GasCap")
    assert oil.count() == gas.count() > 0
    validate(cloned)  # bounds [0, 1] hold


# ------------------------------------------------------------------ #
# prices + carbon                                                     #
# ------------------------------------------------------------------ #


def test_price_pipeline(spark):
    raw = spark.createDataFrame(
        [
            ("NZE", "Europe", "Oil", "usd/barrel", 16.0, 32.0, None),
            ("NZE", "Asia", "Oil", "usd/barrel", 32.0, 64.0, None),
        ],
        "scenario string, scenario_geography string, sector string, "
        "unit string, `2020` double, `2030` double, `2050` double",
    )
    out = prepare_price_data_long(raw, horizon_end=2035).cache()
    eu = {
        r["year"]: r["price"]
        for r in out.filter(F.col("scenario_geography") == "Europe").collect()
    }
    # barrel → GJ: 16 usd/barrel × 0.16 GJ/barrel → /(1/0.16) = 2.56
    assert eu[2020] == pytest.approx(16.0 * 0.16)
    # interior interpolation between 2.56 and 5.12
    assert eu[2025] == pytest.approx((2.56 + 5.12) / 2)
    # extension past 2030 follows the per-group OLS line
    slope = (5.12 - 2.56) / 10
    assert eu[2035] == pytest.approx(5.12 + 5 * slope, rel=1e-6)
    # global mean rows exist: mean of Europe/Asia converted prices
    glob = {
        r["year"]: r["price"]
        for r in out.filter(F.col("scenario_geography") == "Global").collect()
    }
    assert glob[2020] == pytest.approx((2.56 + 5.12) / 2)
    # reference relabels converted units as "GJ" (not "usd/GJ")
    assert set(r["unit"] for r in out.select("unit").distinct().collect()) == {
        "GJ"
    }


def test_carbon_price_pipeline(spark):
    raw = spark.createDataFrame(
        [
            ("GCAM", "NZ2050", "World", "Price|Carbon", "US$2010/t CO2",
             10.0, 20.0, 40.0),
        ],
        "Model string, Scenario string, Region string, Variable string, "
        "Unit string, `2020` double, `2025` double, `2030` double",
    )
    out = prepare_ngfs_carbon_price(raw)
    vals = {r["year"]: r["carbon_tax"] for r in out.collect()}
    assert len(vals) == 11  # dense 2020..2030
    assert vals[2022] == pytest.approx(14.0)
    assert vals[2027] == pytest.approx(28.0)
    assert vals[2030] == pytest.approx(40.0)


def test_lcoe_adjusted_prices(spark):
    """Reference semantics (prepare_LCOE_adjusted_price_data.R:18-70):
    Power LCOE series → implied market prices within the SAME
    (scenario, geography, sector, technology, unit) series; two
    technologies must not cross-fan, non-Power rows pass through."""
    from trisk_datawrangle_spark.plans.prices import (
        prepare_lcoe_adjusted_prices,
    )

    data = spark.createDataFrame(
        [
            # SolarPV LCOE halves by 2030 → cost factor 2.0
            ("NZE", "Global", "Power", "SolarPV", "LCOE", "usd/MWh", 2020, 50.0),
            ("NZE", "Global", "Power", "SolarPV", "LCOE", "usd/MWh", 2030, 25.0),
            # CoalCap LCOE rises → cost factor 0.8
            ("NZE", "Global", "Power", "CoalCap", "LCOE", "usd/MWh", 2020, 40.0),
            ("NZE", "Global", "Power", "CoalCap", "LCOE", "usd/MWh", 2030, 50.0),
            # non-Power fuel price: untouched pass-through
            ("NZE", "Global", "Oil&Gas", "Oil", "price", "GJ", 2020, 12.0),
        ],
        "scenario string, scenario_geography string, sector string, "
        "technology string, indicator string, unit string, "
        "year int, price double",
    )
    out = prepare_lcoe_adjusted_prices(
        data, average_npm_power=0.2, start_year=2020
    ).cache()
    vals = {
        (r["technology"], r["year"]): r["price"]
        for r in out.filter(F.col("sector") == "Power").collect()
    }
    # implied 2020 price = lcoe / (1 - npm) = 50 / 0.8 = 62.5; 2030 =
    # 62.5 × (50/25) = 125. CoalCap: 50, then 50 × (40/50) = 40.
    assert vals[("SolarPV", 2020)] == pytest.approx(62.5)
    assert vals[("SolarPV", 2030)] == pytest.approx(125.0)
    assert vals[("CoalCap", 2020)] == pytest.approx(50.0)
    assert vals[("CoalCap", 2030)] == pytest.approx(40.0)
    # exactly one row per (technology, year): no cross-technology fan
    assert out.filter(F.col("sector") == "Power").count() == 4
    # all Power LCOE rows relabeled as prices
    assert {
        r["indicator"]
        for r in out.filter(F.col("sector") == "Power").collect()
    } == {"price"}
    # the non-Power row passes through untouched
    oil = out.filter(F.col("sector") == "Oil&Gas").collect()
    assert len(oil) == 1 and oil[0]["price"] == pytest.approx(12.0)


def test_lcoe_late_starting_series_not_dropped(spark):
    """A Power LCOE series whose publication starts after the global
    start year must adjust off its own first year, not vanish in an
    anchor-year equi-join."""
    from trisk_datawrangle_spark.plans.prices import (
        prepare_lcoe_adjusted_prices,
    )

    data = spark.createDataFrame(
        [
            ("NZE", "Global", "Power", "SolarPV", "LCOE", "usd/MWh", 2020, 50.0),
            ("NZE", "Global", "Power", "SolarPV", "LCOE", "usd/MWh", 2030, 25.0),
            # starts at 2021 — no 2020 row
            ("NZE", "Global", "Power", "WindOn", "LCOE", "usd/MWh", 2021, 40.0),
            ("NZE", "Global", "Power", "WindOn", "LCOE", "usd/MWh", 2030, 20.0),
        ],
        "scenario string, scenario_geography string, sector string, "
        "technology string, indicator string, unit string, "
        "year int, price double",
    )
    out = prepare_lcoe_adjusted_prices(
        data, average_npm_power=0.2, start_year=2020
    )
    vals = {
        (r["technology"], r["year"]): r["price"] for r in out.collect()
    }
    # WindOn anchors at ITS first year 2021: implied = 40/0.8 = 50,
    # 2030 = 50 × (40/20) = 100
    assert vals[("WindOn", 2021)] == pytest.approx(50.0)
    assert vals[("WindOn", 2030)] == pytest.approx(100.0)
    assert vals[("SolarPV", 2020)] == pytest.approx(62.5)


def test_price_chain_technology_granular_mwh(spark):
    """A technology-granular price source (the Oxford $/MWh shape)
    gets the per-technology MWh normalization and keeps technologies
    separate through the global-mean and spine keys."""
    from trisk_datawrangle_spark.plans.prices import prepare_price_data_long

    raw = spark.createDataFrame(
        [
            ("fast", "Europe", "Oil&Gas", "Oil", "usd/MWh", 36.0, 72.0),
            ("fast", "Europe", "Coal", "Coal", "usd/MWh", 12.2835, 24.567),
        ],
        "scenario string, scenario_geography string, sector string, "
        "technology string, unit string, `2025` double, `2026` double",
    )
    out = prepare_price_data_long(
        raw,
        id_cols=("scenario", "scenario_geography", "sector", "technology", "unit"),
    )
    rows = {
        (r["technology"], r["scenario_geography"], r["year"]): (
            r["price"],
            r["unit"],
        )
        for r in out.collect()
    }
    # Oil: 36 $/MWh ÷ 3.6 = 10 usd/GJ, relabeled GJ
    assert rows[("Oil", "Europe", 2025)][0] == pytest.approx(10.0)
    assert rows[("Oil", "Europe", 2025)][1] == "GJ"
    # Coal: 12.2835 $/MWh ÷ 0.122835 = 100 usd/tonne
    assert rows[("Coal", "Europe", 2025)][0] == pytest.approx(100.0)
    assert rows[("Coal", "Europe", 2025)][1] == "usd/tonne"
    # global mean is per-technology, not pooled across technologies
    assert rows[("Oil", "Global", 2025)][0] == pytest.approx(10.0)
    assert rows[("Coal", "Global", 2025)][0] == pytest.approx(100.0)
