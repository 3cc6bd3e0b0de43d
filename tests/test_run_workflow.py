"""End-to-end workflow-runner test: stage synthetic parquet inputs
(FIXTURES.md shapes), run every stage through the CLI entry point,
and check the canonical outputs land with the dbml-contract schemas.
"""

from __future__ import annotations

import os
import random
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from trisk_datawrangle_spark.operators.persist import stage_boundary
from trisk_datawrangle_spark.run_workflow import ALL_STAGES, run_stage

YEARS = (2022, 2023, 2024, 2025)


@pytest.fixture(scope="module")
def staged_dirs(spark, tmp_path_factory):
    rng = random.Random(7)
    inp = str(tmp_path_factory.mktemp("wf_in"))
    out = str(tmp_path_factory.mktemp("wf_out"))

    # scenario pathway (sparse years; one complete Power sector)
    scen_rows = []
    for scenario in ("WEO_STEPS", "WEO_NZE"):
        for tech, v0, v1 in [("CoalCap", 100.0, 60.0), ("RenewablesCap", 50.0, 150.0)]:
            for year, v in [(2022, v0), (2025, v1)]:
                scen_rows.append(
                    ("WEO2023", scenario, "Global", "Power", tech,
                     "Capacity", "GW", year, v)
                )
    spark.createDataFrame(
        scen_rows,
        "source string, scenario string, scenario_geography string, "
        "sector string, technology string, indicator string, units string, "
        "year int, value double",
    ).write.mode("overwrite").parquet(f"{inp}/scenario_analysis_input.parquet")

    spark.createDataFrame(
        [("Power", "CoalCap"), ("Power", "RenewablesCap")],
        "ald_sector string, ald_business_unit string",
    ).write.mode("overwrite").parquet(f"{inp}/sector_tech_lookup.parquet")

    spark.createDataFrame(
        [("WEO_STEPS", "baseline"), ("WEO_NZE", "shock")],
        "scenario string, scenario_type string",
    ).write.mode("overwrite").parquet(f"{inp}/scenario_types.parquet")

    # capacity factors (wide years)
    spark.createDataFrame(
        [
            ("WEO2023", s, "Global", "Coal", "Capacity", 100.0, 100.0)
            for s in ("WEO_STEPS", "WEO_NZE")
        ]
        + [
            ("WEO2023", s, "Global", "Coal", "Generation", 60.0, 50.0)
            for s in ("WEO_STEPS", "WEO_NZE")
        ],
        "Source string, Scenario string, ScenarioGeography string, "
        "Technology string, Indicator string, `2022` double, `2025` double",
    ).write.mode("overwrite").parquet(f"{inp}/capacity_factors_raw.parquet")

    # prices (wide years; Mbtu exercises the F10 conversion → "GJ")
    spark.createDataFrame(
        [
            (s, g, "Power", "usd/Mbtu", 40.0, 50.0)
            for s in ("WEO_STEPS", "WEO_NZE")
            for g in ("Global", "Europe")
        ],
        "scenario string, scenario_geography string, sector string, "
        "unit string, `2022` double, `2025` double",
    ).write.mode("overwrite").parquet(f"{inp}/price_raw.parquet")

    # carbon (wide years): three NGFS models, 'World' vocabulary —
    # the assembler must average across models and conform to
    # 'Global', not fan scenarios_data out 3×
    spark.createDataFrame(
        [
            ("GCAM", "WEO_NZE", "World", "Price|Carbon", "US$/t", 10.0, 30.0),
            ("REMIND", "WEO_NZE", "World", "Price|Carbon", "US$/t", 20.0, 40.0),
            ("MESSAGE", "WEO_NZE", "World", "Price|Carbon", "US$/t", 30.0, 50.0),
        ],
        "Model string, Scenario string, Region string, Variable string, "
        "Unit string, `2022` double, `2025` double",
    ).write.mode("overwrite").parquet(f"{inp}/ngfs_carbon_price_raw.parquet")

    # company activities / emissions (wide equity-ownership years)
    def wide(emissions):
        rows = []
        for cid in range(1, 21):
            unit = "tCO2" if emissions else "MW"
            vals = [
                None if rng.random() < 0.2 else round(rng.uniform(10, 100), 2)
                for _ in YEARS
            ]
            rows.append(
                (cid, f"Co {cid}", "Power", "CoalCap", "DE", unit, *vals)
            )
        return spark.createDataFrame(
            rows,
            "company_id long, company_name string, ald_sector string, "
            "ald_business_unit string, ald_location string, "
            "activity_unit string, "
            + ", ".join(f"`Equity Ownership {y}` double" for y in YEARS),
        )

    wide(False).write.mode("overwrite").parquet(
        f"{inp}/company_activities.parquet"
    )
    wide(True).write.mode("overwrite").parquet(
        f"{inp}/company_emissions.parquet"
    )

    # eikon + ownership
    spark.createDataFrame(
        [
            (f"DE{cid:06d}", cid, "DE", "EU",
             rng.uniform(0, 1), rng.uniform(0, 1),
             rng.uniform(0, 3), rng.uniform(0, 1))
            for cid in range(1, 15)
        ],
        "isin string, company_id long, ald_location string, region string, "
        "pd double, net_profit_margin double, debt_equity_ratio double, "
        "volatility double",
    ).write.mode("overwrite").parquet(f"{inp}/eikon_data.parquet")
    spark.createDataFrame(
        [(1, 16, 1.0, 1), (2, 17, 1.0, 1)],
        "parent_company_id long, subsidiary_company_id long, "
        "linking_stake double, ownership_level int",
    ).write.mode("overwrite").parquet(f"{inp}/ownership_tree.parquet")

    return inp, out


def test_full_workflow(spark, staged_dirs):
    inp, out = staged_dirs
    for stage in ALL_STAGES:
        run_stage(spark, stage, inp, out, start_year=2022, time_horizon=3)

    scen = spark.read.parquet(f"{out}/Scenarios_AnalysisInput.parquet")
    assert {"scenario", "scenario_geography", "ald_sector",
            "ald_business_unit", "units", "year", "direction",
            "fair_share_perc", "scenario_type"} <= set(scen.columns)
    assert scen.count() > 0
    # dense years after interpolation
    assert scen.select("year").distinct().count() == 4

    cf = spark.read.parquet(f"{out}/prewrangled_capacity_factors.parquet")
    assert cf.filter(
        (F.col("capacity_factor") < 0) | (F.col("capacity_factor") > 1)
    ).count() == 0

    prices = spark.read.parquet(f"{out}/price_data_long.parquet")
    assert set(
        r["unit"] for r in prices.select("unit").distinct().collect()
    ) == {"GJ"}

    abcd = spark.read.parquet(f"{out}/abcd_stress_test_input.parquet")
    assert abcd.filter(F.col("plan_tech_prod").isNull()).count() == 0

    fin = spark.read.parquet(
        f"{out}/prewrangled_financial_data_stress_test.parquet"
    )
    n_companies = abcd.select("company_id", "ald_sector").distinct().count()
    assert fin.count() == n_companies

    assets = spark.read.parquet(f"{out}/assets_data.parquet")
    assert {"capacity_factor", "pd"} <= set(assets.columns)
    scen_data = spark.read.parquet(f"{out}/scenarios_data.parquet")
    assert {"capacity_factor", "price", "scenario_provider"} <= set(
        scen_data.columns
    )
    assert set(
        r["scenario_provider"]
        for r in scen_data.select("scenario_provider").distinct().collect()
    ) == {"WEO"}
    # carbon joined without model fan-out: exactly one row per
    # (scenario, geography, business unit, year)
    n = scen_data.count()
    assert n == scen_data.select(
        "scenario", "scenario_geography", "ald_business_unit", "year"
    ).distinct().count()
    # the NGFS scenario got a carbon tax on every year (vocabulary
    # conformed World→Global; interior years interpolated); 2022 is
    # the mean over the three models: (10+20+30)/3
    nze = scen_data.filter(F.col("scenario") == "WEO_NZE")
    assert nze.filter(F.col("carbon_tax").isNull()).count() == 0
    assert nze.filter(F.col("year") == 2022).collect()[0][
        "carbon_tax"
    ] == pytest.approx(20.0)

    # dbml FK gate on the closed-source pair (outputs_structure.dbml:
    # 97-107, abcd is the many/child side of every Ref): every
    # production company has a financial row, and abcd's scenario
    # keys all resolve against Scenarios_AnalysisInput
    from trisk_datawrangle_spark.operators.quality import assert_fk

    assert_fk(abcd, fin, ["company_id"])
    assert_fk(abcd, scen, {"year": "year"})
    assert_fk(abcd, scen, {"ald_sector": "ald_sector"})
    assert_fk(abcd, scen, {"ald_business_unit": "ald_business_unit"})


def test_cli_arg_validation():
    from trisk_datawrangle_spark.run_workflow import main

    with pytest.raises(SystemExit):
        main(["--input-dir", "/x", "--output-dir", "/y", "--stages", "nope"])


# ------------------------------------------------------------------ #
# stage boundaries                                                    #
# ------------------------------------------------------------------ #

#: Executed-plan size bound for every plan a workflow stage runs: each
#: frame handed to a stage boundary, and the stage output. Without the
#: boundaries the abcd and financial plans replan the scan→melt→join
#: chain at every reference and run to over 100 KB; with them the
#: largest is about 14 KB.
_STAGE_PLAN_BOUND = 24 * 1024

_FILESCAN_RX = re.compile(r"FileScan \w+ .*?Location: [^[\n]*\[([^\]]*)\]")


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _boundary_plans(monkeypatch, module, build, cached=()):
    """Run ``build()`` with ``module.stage_boundary`` spied on; return
    the executed plan of every frame handed to a boundary, then that of
    the output. Calls whose 0-based index is in ``cached`` get
    ``.cache()`` instead of a boundary (the positive control)."""
    plans, caches = [], []

    def boundary(df):
        if len(plans) + len(caches) in cached:
            caches.append(df.cache())
            return caches[-1]
        plans.append(_physical(df))
        return stage_boundary(df)

    monkeypatch.setattr(module, "stage_boundary", boundary)
    try:
        plans.append(_physical(build()))
    finally:
        for df in caches:
            df.unpersist()
    return plans


def _shape_faults(plans) -> list[str]:
    """Every plan stays under the size bound, and the output (the last
    plan) scans each source at most once. A plan that feeds the first
    boundary may read its source twice by design (a union of filtered
    copies, a spine joined back onto its data); past the boundaries,
    no plan reaches back to the sources more than once."""
    faults = [
        f"plan {i}: {len(plan)} bytes"
        for i, plan in enumerate(plans)
        if len(plan) >= _STAGE_PLAN_BOUND
    ]
    scans = Counter(_FILESCAN_RX.findall(plans[-1]))
    faults += [f"output: {path} scanned {n}x" for path, n in scans.items() if n > 1]
    return faults


def _abcd(spark, inp):
    from trisk_datawrangle_spark.plans.abcd import prepare_abcd_data

    return prepare_abcd_data(
        spark.read.parquet(f"{inp}/company_activities.parquet"),
        spark.read.parquet(f"{inp}/company_emissions.parquet"),
        start_year=2022,
        time_horizon=3,
    )


def test_stage_plans_scan_each_source_once(
    spark, staged_dirs, tmp_path, monkeypatch
):
    from trisk_datawrangle_spark.plans import (
        abcd,
        capacity_factors,
        financial,
        prices,
        scenarios,
    )

    inp, _ = staged_dirs
    out = str(tmp_path)
    run_stage(spark, "abcd", inp, out, start_year=2022, time_horizon=3)

    def read(base, name):
        return spark.read.parquet(f"{base}/{name}.parquet")

    builds = {
        abcd: lambda: _abcd(spark, inp),
        financial: lambda: financial.prepare_financial_data(
            read(inp, "eikon_data"),
            read(out, "abcd_stress_test_input").select(
                "company_id", "ald_sector"
            ),
            read(inp, "ownership_tree"),
        ),
        scenarios: lambda: scenarios.prepare_scenarios_analysis_input(
            {"all": read(inp, "scenario_analysis_input")},
            read(inp, "sector_tech_lookup"),
            ["WEO_STEPS"],
            ["WEO_NZE"],
            start_year=2022,
        ),
        capacity_factors: lambda: capacity_factors.prepare_capacity_factors(
            read(inp, "capacity_factors_raw")
        ),
        prices: lambda: prices.prepare_price_data_long(
            read(inp, "price_raw"), horizon_end=2052
        ),
    }
    for module, build in builds.items():
        plans = _boundary_plans(monkeypatch, module, build)
        assert len(plans) > 1, module.__name__
        assert any(_FILESCAN_RX.search(p) for p in plans), module.__name__
        assert not _shape_faults(plans), (module.__name__, _shape_faults(plans))


def test_stage_plan_guard_catches_cached_rollup(
    spark, staged_dirs, monkeypatch
):
    """Positive control: with abcd's first boundary (``rolled``) turned
    back into ``.cache()``, the plan that materializes ``with_ef``
    rescans both inputs at every reference Spark does not substitute
    the cached relation into."""
    from trisk_datawrangle_spark.plans import abcd

    inp, _ = staged_dirs
    plans = _boundary_plans(
        monkeypatch, abcd, lambda: _abcd(spark, inp), cached={0}
    )
    assert _shape_faults(plans)


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _spy_peak(monkeypatch, spark, module) -> list[set[int]]:
    """Record the persistent RDD ids after each boundary ``module``
    materializes."""
    peaks = []

    def boundary(df):
        out = stage_boundary(df)
        peaks.append(_persistent_ids(spark))
        return out

    monkeypatch.setattr(module, "stage_boundary", boundary)
    return peaks


def test_run_stage_releases_its_boundaries(
    spark, staged_dirs, tmp_path, monkeypatch
):
    """Every persistent RDD the stage created is gone once it returns.
    Compared by id, not by count: the JVM may collect an unrelated
    checkpoint left by an earlier caller while the stage runs."""
    from trisk_datawrangle_spark.plans import abcd

    inp, _ = staged_dirs
    peaks = _spy_peak(monkeypatch, spark, abcd)
    before = _persistent_ids(spark)
    run_stage(spark, "abcd", inp, str(tmp_path), 2022, 3)
    assert any(ids - before for ids in peaks)
    assert not _persistent_ids(spark) - before


def test_run_stage_releases_its_boundaries_when_it_raises(
    spark, staged_dirs, tmp_path, monkeypatch
):
    """Q3: a scenario missing from ``scenario_types`` stays
    unclassified, and the stage raises after its boundary exists."""
    from trisk_datawrangle_spark.operators.quality import DataQualityError
    from trisk_datawrangle_spark.plans import scenarios

    inp, _ = staged_dirs
    bad = tmp_path / "in"
    bad.mkdir()
    for name in ("scenario_analysis_input", "sector_tech_lookup"):
        os.symlink(f"{inp}/{name}.parquet", bad / f"{name}.parquet")
    spark.createDataFrame(
        [("WEO_STEPS", "baseline")], "scenario string, scenario_type string"
    ).write.parquet(str(bad / "scenario_types.parquet"))

    peaks = _spy_peak(monkeypatch, spark, scenarios)
    before = _persistent_ids(spark)
    with pytest.raises(DataQualityError, match="scenario_type"):
        run_stage(spark, "scenarios", str(bad), str(tmp_path / "out"), 2022, 3)
    assert any(ids - before for ids in peaks)
    assert not _persistent_ids(spark) - before
