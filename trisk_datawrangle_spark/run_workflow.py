"""End-to-end workflow runner — the engine's equivalent of the
reference's ``data-raw/run_workflow.R`` (sourced stage scripts with
CSV handoff, run_workflow.R:8-30): each stage reads parquet inputs,
runs its pipeline, and writes a canonical parquet output; stages run
in dependency order and later stages read earlier outputs.

Usage (also via ``python -m trisk_datawrangle_spark``)::

    python -m trisk_datawrangle_spark \
        --input-dir  /data/raw \
        --output-dir /data/canonical \
        --stages scenarios,capacity_factors,prices,carbon,abcd,financial,trisk_v2

Expected inputs (parquet, FIXTURES.md shapes) per stage:

==================  ===============================================
stage               reads (from --input-dir unless noted)
==================  ===============================================
scenarios           scenario_analysis_input, sector_tech_lookup,
                    scenario_types
capacity_factors    capacity_factors_raw
prices              price_raw
carbon              ngfs_carbon_price_raw
abcd                company_activities, company_emissions
financial           eikon_data, ownership_tree,
                    + abcd output (companies)
trisk_v2            all prior outputs
==================  ===============================================

Outputs are written partitioned where downstream reads prune
(scenario for pathway-shaped tables — SURVEY.md §4).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, SparkSession

from trisk_datawrangle_spark.session import get_spark

ALL_STAGES = (
    "scenarios",
    "capacity_factors",
    "prices",
    "carbon",
    "abcd",
    "financial",
    "trisk_v2",
    "verify_fk",
)


def _read(spark: SparkSession, base: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{base}/{name}.parquet")


def _write(df: DataFrame, base: str, name: str, partition_by=None) -> None:
    from trisk_datawrangle_spark.sources.readers import write_output

    write_output(df, f"{base}/{name}.parquet", partition_by=partition_by)


def run_stage(
    spark: SparkSession,
    stage: str,
    input_dir: str,
    output_dir: str,
    start_year: int,
    time_horizon: int,
) -> None:
    """Run one stage: read its inputs, run its plan, write its outputs.
    The storage of every stage boundary the plan materialized
    (``operators.persist.stage_boundary``) is freed when the stage
    returns or raises, so it does not pile up across stages."""
    from trisk_datawrangle_spark.operators.persist import released_on_exit

    with released_on_exit(spark):
        _run_stage(
            spark, stage, input_dir, output_dir, start_year, time_horizon
        )


def _run_stage(
    spark: SparkSession,
    stage: str,
    input_dir: str,
    output_dir: str,
    start_year: int,
    time_horizon: int,
) -> None:
    if stage == "scenarios":
        from trisk_datawrangle_spark.plans.scenarios import (
            assert_all_classified,
            prepare_scenarios_analysis_input,
        )

        raw = _read(spark, input_dir, "scenario_analysis_input")
        lookup = _read(spark, input_dir, "sector_tech_lookup")
        types = (
            _read(spark, input_dir, "scenario_types")
            .select("scenario", "scenario_type")
            .collect()
        )
        baseline = [
            r["scenario"] for r in types if r["scenario_type"] == "baseline"
        ]
        shock = [r["scenario"] for r in types if r["scenario_type"] == "shock"]
        out = prepare_scenarios_analysis_input(
            {"all": raw}, lookup, baseline, shock, start_year=start_year
        )
        _write(
            assert_all_classified(out),
            output_dir,
            "Scenarios_AnalysisInput",
            partition_by=["scenario"],
        )
    elif stage == "capacity_factors":
        from trisk_datawrangle_spark.plans.capacity_factors import (
            clone_missing_technologies,
            prepare_capacity_factors,
            validate,
        )

        raw = _read(spark, input_dir, "capacity_factors_raw")
        out = validate(
            clone_missing_technologies(prepare_capacity_factors(raw))
        )
        _write(
            out,
            output_dir,
            "prewrangled_capacity_factors",
            partition_by=["scenario"],
        )
    elif stage == "prices":
        from trisk_datawrangle_spark.plans.prices import (
            prepare_price_data_long,
        )

        raw = _read(spark, input_dir, "price_raw")
        out = prepare_price_data_long(
            raw, horizon_end=start_year + max(time_horizon, 30)
        )
        _write(out, output_dir, "price_data_long", partition_by=["scenario"])
    elif stage == "carbon":
        from trisk_datawrangle_spark.plans.prices import (
            prepare_ngfs_carbon_price,
        )

        raw = _read(spark, input_dir, "ngfs_carbon_price_raw")
        _write(
            prepare_ngfs_carbon_price(raw), output_dir, "ngfs_carbon_price"
        )
    elif stage == "abcd":
        from trisk_datawrangle_spark.plans.abcd import (
            first_year_positive,
            prepare_abcd_data,
        )

        activities = _read(spark, input_dir, "company_activities")
        emissions = _read(spark, input_dir, "company_emissions")
        out = first_year_positive(
            prepare_abcd_data(
                activities,
                emissions,
                start_year=start_year,
                time_horizon=time_horizon,
            ),
            ["company_id", "ald_business_unit", "ald_production_unit"],
        )
        _write(out, output_dir, "abcd_stress_test_input")
    elif stage == "financial":
        from trisk_datawrangle_spark.plans.financial import (
            prepare_financial_data,
        )

        eikon = _read(spark, input_dir, "eikon_data")
        tree = _read(spark, input_dir, "ownership_tree")
        companies = _read(spark, output_dir, "abcd_stress_test_input").select(
            "company_id", "ald_sector"
        )
        _write(
            prepare_financial_data(eikon, companies, tree),
            output_dir,
            "prewrangled_financial_data_stress_test",
        )
    elif stage == "trisk_v2":
        from trisk_datawrangle_spark.plans.trisk_v2 import (
            align_to_common_scenarios,
            assemble_assets_data,
            assemble_scenarios_data,
        )

        scen = _read(spark, output_dir, "Scenarios_AnalysisInput")
        prices = _read(spark, output_dir, "price_data_long")
        cf = _read(spark, output_dir, "prewrangled_capacity_factors")
        abcd = _read(spark, output_dir, "abcd_stress_test_input")
        fin = _read(
            spark, output_dir, "prewrangled_financial_data_stress_test"
        )
        # only "the carbon stage was never run" may degrade to None;
        # a corrupt/unreadable table must fail loudly, not silently
        # drop carbon prices from the assembled output
        from pyspark.errors import AnalysisException

        try:
            carbon = _read(spark, output_dir, "ngfs_carbon_price")
        except AnalysisException as ex:
            if "PATH_NOT_FOUND" not in str(ex):
                raise
            print(
                "ngfs_carbon_price not found — assembling without "
                "carbon prices",
                file=sys.stderr,
            )
            carbon = None
        scen, prices, cf = align_to_common_scenarios(scen, prices, cf)
        _write(
            assemble_assets_data(abcd, fin), output_dir, "assets_data"
        )
        _write(
            assemble_scenarios_data(scen, cf, prices, carbon),
            output_dir,
            "scenarios_data",
            partition_by=["scenario"],
        )
    elif stage == "verify_fk":
        # The referential-integrity gate the reference's dbml declares
        # but never runs (data-raw/outputs_structure.dbml:69-107).
        # HARD gates (raise) on the join-safety invariants the
        # assembly relies on; AUDIT lines (orphan counts to stderr)
        # for the lookup-coverage Refs, which legitimately report
        # gaps when a source ships partial coverage.
        from trisk_datawrangle_spark.operators.quality import (
            assert_fk,
            fk_orphans,
        )

        scen = _read(spark, output_dir, "Scenarios_AnalysisInput")
        abcd = _read(spark, output_dir, "abcd_stress_test_input")
        fin = _read(
            spark, output_dir, "prewrangled_financial_data_stress_test"
        )
        prices = _read(spark, output_dir, "price_data_long")
        carbon = _read(spark, output_dir, "ngfs_carbon_price")
        cf = _read(spark, output_dir, "prewrangled_capacity_factors")

        assert_fk(abcd, fin, ["company_id"])
        for ccol, pcol in (
            ("year", "year"),
            ("ald_sector", "ald_sector"),
            ("ald_business_unit", "ald_business_unit"),
        ):
            assert_fk(abcd, scen, {ccol: pcol})

        audits = [
            ("abcd", abcd, "scen", scen,
             [("ald_production_unit", "units"),
              ("scenario_geography", "scenario_geography")]),
            ("scen", scen, "price_data_long", prices,
             [("year", "year"), ("scenario", "scenario"),
              ("scenario_geography", "scenario_geography"),
              ("ald_sector", "sector"), ("units", "unit")]),
            ("scen", scen, "ngfs_carbon_price", carbon,
             [("year", "year"), ("scenario", "scenario"),
              ("scenario_geography", "scenario_geography")]),
            ("scen", scen, "prewrangled_capacity_factors", cf,
             [("year", "year"), ("scenario", "scenario"),
              ("scenario_geography", "scenario_geography"),
              ("ald_business_unit", "ald_business_unit")]),
        ]
        for cname, child, pname, parent, refs in audits:
            for ccol, pcol in refs:
                n = fk_orphans(child, parent, {ccol: pcol}).count()
                print(
                    f"[verify_fk] {cname}.{ccol} -> {pname}.{pcol}: "
                    f"{n} orphan keys",
                    file=sys.stderr,
                )
    else:
        raise ValueError(f"unknown stage {stage!r}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--input-dir", required=True)
    ap.add_argument("--output-dir", required=True)
    ap.add_argument(
        "--stages", default=",".join(ALL_STAGES),
        help="comma-separated subset, dependency order is enforced",
    )
    ap.add_argument("--start-year", type=int, default=2022)
    ap.add_argument("--time-horizon", type=int, default=5)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    wanted = [s.strip() for s in args.stages.split(",") if s.strip()]
    unknown = set(wanted) - set(ALL_STAGES)
    if unknown:
        ap.error(f"unknown stages: {sorted(unknown)}")
    ordered = [s for s in ALL_STAGES if s in wanted]

    spark = get_spark(app_name="trisk-workflow", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    for stage in ordered:
        print(f"[trisk-workflow] stage {stage}", file=sys.stderr)
        run_stage(
            spark,
            stage,
            args.input_dir,
            args.output_dir,
            args.start_year,
            args.time_horizon,
        )
    print(f"[trisk-workflow] done: {ordered}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
