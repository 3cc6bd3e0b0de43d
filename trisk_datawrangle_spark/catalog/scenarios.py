"""Per-source scenario-wrangler catalog entries (sc1–sc6), each
oracle-gated: a deterministic raw-source frame is synthesized from
the ``nation`` table plus literal vocabulary rows — reproducibly in
both engines — and the full wrangler chain (filters, recodes,
renewables fan-in, market shares, clones, imputation) is replayed in
DuckDB SQL.

Determinism contract: every synthesized ``value`` is an
integer-valued double, so share-window sums are order-independent
and tmsr/smsp are single identical IEEE divisions on both sides —
hash-exact without rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trisk_datawrangle_spark.sources.readers import load_tables

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def _nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ["nation"])["nation"]


# ------------------------------------------------------------------ #
# sc1 — WEO2021 / GECO2021 (prepare_scenario_data.R:172-255)          #
# ------------------------------------------------------------------ #


@q(
    "sc1_weo_geco_wrangle",
    """
WITH ti AS (SELECT * FROM (VALUES (0), (1), (2)) AS t(ti)),
yr AS (SELECT * FROM (VALUES (2025), (2030)) AS t(year)),
raw AS (
    SELECT
        CASE WHEN n_nationkey % 2 = 0 THEN 'WEO2021' ELSE 'GECO2021' END
            AS source,
        CASE WHEN n_nationkey % 2 = 0 THEN 'Power' ELSE 'Automotive' END
            AS sector0,
        CASE WHEN n_nationkey % 2 = 0 THEN
            CASE WHEN ti = 0 THEN 'CoalCap' ELSE 'RenewablesCap' END
        ELSE
            CASE WHEN ti = 0 THEN 'ICE' ELSE 'Electric' END
        END AS technology,
        n_name AS geography,
        CASE WHEN n_nationkey = 3 THEN NULL ELSE 'GW' END AS units,
        CASE WHEN ti = 2 THEN 'Emissions'
             WHEN n_nationkey % 2 = 0 THEN 'Capacity'
             ELSE 'Sales' END AS indicator,
        CASE WHEN n_nationkey % 2 = 0 THEN 'STEPS' ELSE 'CurPol' END
            AS scenario0,
        CASE WHEN n_nationkey % 7 = 0 AND ti = 1 THEN 'Solar' END
            AS sub_technology,
        year,
        CAST((n_nationkey * 13 + year + ti * 7) % 100 AS DOUBLE) / 10.0
            AS fair_share_perc
    FROM nation CROSS JOIN ti CROSS JOIN yr
),
filtered AS (
    SELECT * FROM raw
    WHERE ((source = 'WEO2021' AND indicator IN
                ('Capacity', 'Energy Supply', 'Production', 'Sales'))
        OR (source = 'GECO2021' AND indicator IN
                ('Capacity', 'Production', 'Sales')))
      AND NOT (source = 'GECO2021' AND sector0 <> 'Automotive')
      AND NOT (technology = 'RenewablesCap'
               AND sub_technology IS NOT NULL)
),
renamed AS (
    SELECT DISTINCT source AS scenario_source, geography AS
        scenario_geography, source || '_' || scenario0 AS scenario,
        sector0 AS ald_sector, units, technology, year,
        'declining' AS direction, fair_share_perc
    FROM filtered
),
na_geos AS (
    SELECT DISTINCT scenario_source, scenario_geography, ald_sector
    FROM renamed
    WHERE scenario IN ('WEO2021_STEPS', 'WEO2021_SDS',
            'WEO2021_NZE_2050', 'WEO2021_APS', 'WEO2020_SPS',
            'GECO2021_CurPol', 'GECO2021_1.5C-Unif', 'GECO2021_NDC-LTS')
      AND (scenario_source IS NULL OR scenario_geography IS NULL
           OR scenario IS NULL OR ald_sector IS NULL OR units IS NULL
           OR technology IS NULL OR year IS NULL OR direction IS NULL
           OR fair_share_perc IS NULL)
)
SELECT scenario_geography, scenario, ald_sector, units, technology,
       year, direction, fair_share_perc
FROM renamed r
WHERE NOT EXISTS (
    SELECT 1 FROM na_geos g
    WHERE g.scenario_source = r.scenario_source
      AND g.scenario_geography = r.scenario_geography
      AND g.ald_sector = r.ald_sector
)
""",
)
def sc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEO2021+GECO2021 wrangle (prepare_scenario_data.R:172-255):
    indicator whitelists, GECO→Automotive-only, sub-technology'd
    renewables dropped, source-prefixed scenario, NA-geography
    poisoning. One nation (key 3, a GECO guard scenario) carries a
    NULL unit, so its whole (source, geography, sector) is pruned."""
    from trisk_datawrangle_spark.plans.scenario_sources import wrangle_weo_geco

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    even = k % 2 == 0
    raw = (
        n.select(
            "n_nationkey",
            "n_name",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("ti"),
        )
        .select(
            "*",
            F.explode(F.array(F.lit(2025), F.lit(2030))).alias("Year"),
        )
        .select(
            F.when(even, F.lit("WEO2021")).otherwise(F.lit("GECO2021")).alias("Source"),
            F.when(
                even,
                F.when(F.col("ti") == 0, F.lit("CoalCap")).otherwise(
                    F.lit("RenewablesCap")
                ),
            )
            .otherwise(
                F.when(F.col("ti") == 0, F.lit("ICE")).otherwise(
                    F.lit("Electric")
                )
            )
            .alias("Technology"),
            F.col("n_name").alias("ScenarioGeography"),
            F.when(even, F.lit("Power")).otherwise(F.lit("Automotive")).alias("Sector"),
            F.when(k == 3, F.lit(None).cast("string"))
            .otherwise(F.lit("GW"))
            .alias("Units"),
            F.when(F.col("ti") == 2, F.lit("Emissions"))
            .when(even, F.lit("Capacity"))
            .otherwise(F.lit("Sales"))
            .alias("Indicator"),
            F.when(even, F.lit("STEPS")).otherwise(F.lit("CurPol")).alias("Scenario"),
            F.when((k % 7 == 0) & (F.col("ti") == 1), F.lit("Solar"))
            .cast("string")
            .alias("Sub_Technology"),
            F.col("Year"),
            F.lit("declining").alias("Direction"),
            F.lit(0.0).alias("mktFSRatio"),
            F.lit(0.0).alias("techFSRatio"),
            (((k * 13 + F.col("Year") + F.col("ti") * 7) % 100).cast("double") / 10.0).alias("FairSharePerc"),
        )
    )
    out = wrangle_weo_geco(raw)
    return out.select(
        "scenario_geography",
        "scenario",
        "ald_sector",
        "units",
        "technology",
        "year",
        "direction",
        "fair_share_perc",
    )


# ------------------------------------------------------------------ #
# sc2 — WEO2023 (prepare_scenario_data.R:262-309)                     #
# ------------------------------------------------------------------ #


@q(
    "sc2_weo23_wrangle",
    """
WITH ti AS (SELECT * FROM (VALUES (0), (1), (2)) AS t(ti)),
yr AS (SELECT * FROM (VALUES (2030), (2040)) AS t(year)),
raw AS (
    SELECT 'WEO2023' AS source, n_name AS geography,
        CASE WHEN ti = 0 THEN 'Capacity'
             WHEN ti = 1 THEN 'Total energy supply'
             ELSE 'Sales' END AS indicator,
        CASE WHEN ti = 1 THEN 'Gas' ELSE 'CoalCap' END AS technology,
        CASE WHEN ti = 1 THEN 'Oil&Gas' ELSE 'Power' END AS sector0,
        'GW' AS units,
        CASE WHEN n_nationkey % 2 = 0 THEN 'STEPS' ELSE 'NZE_2050' END
            AS scenario0,
        year,
        CAST((n_nationkey * 19 + year + ti * 5) % 90 AS DOUBLE) / 10.0
            AS fair_share_perc
    FROM nation CROSS JOIN ti CROSS JOIN yr
)
SELECT DISTINCT geography AS scenario_geography,
    source || '_' || scenario0 AS scenario, sector0 AS ald_sector,
    units, technology, year, 'declining' AS direction, fair_share_perc
FROM raw
WHERE indicator IN ('Capacity', 'Total energy supply')
""",
)
def sc2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEO2023 wrangle (prepare_scenario_data.R:262-309): the 2023
    vintage keeps only Capacity / Total energy supply indicators."""
    from trisk_datawrangle_spark.plans.scenario_sources import wrangle_weo23

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    raw = (
        n.select(
            "n_nationkey",
            "n_name",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("ti"),
        )
        .select(
            "*",
            F.explode(F.array(F.lit(2030), F.lit(2040))).alias("Year"),
        )
        .select(
            F.lit("WEO2023").alias("Source"),
            F.when(F.col("ti") == 1, F.lit("Gas")).otherwise(F.lit("CoalCap")).alias("Technology"),
            F.col("n_name").alias("ScenarioGeography"),
            F.when(F.col("ti") == 1, F.lit("Oil&Gas")).otherwise(F.lit("Power")).alias("Sector"),
            F.lit("GW").alias("Units"),
            F.when(F.col("ti") == 0, F.lit("Capacity"))
            .when(F.col("ti") == 1, F.lit("Total energy supply"))
            .otherwise(F.lit("Sales"))
            .alias("Indicator"),
            F.when(k % 2 == 0, F.lit("STEPS")).otherwise(F.lit("NZE_2050")).alias("Scenario"),
            F.lit(None).cast("string").alias("Sub_Technology"),
            F.col("Year"),
            F.lit("declining").alias("Direction"),
            F.lit(0.0).alias("mktFSRatio"),
            F.lit(0.0).alias("techFSRatio"),
            (((k * 19 + F.col("Year") + F.col("ti") * 5) % 90).cast("double") / 10.0).alias("FairSharePerc"),
        )
    )
    out = wrangle_weo23(raw)
    return out.select(
        "scenario_geography",
        "scenario",
        "ald_sector",
        "units",
        "technology",
        "year",
        "direction",
        "fair_share_perc",
    )


# ------------------------------------------------------------------ #
# sc3 — NGFS pre-wrangler (prepare_scenario_data.R:435-505)           #
# ------------------------------------------------------------------ #


@q(
    "sc3_ngfs_wrangle",
    """
WITH cats AS (
    SELECT * FROM (VALUES
        ('Electricity', 'Solar'), ('Electricity', 'Wind'),
        ('Electricity', 'Coal'), ('Oil', NULL),
        ('Gas', NULL), ('Coal', NULL)
    ) AS t(category_b, category_c)
),
yr AS (SELECT * FROM (VALUES (2030), (2050)) AS t(year)),
raw AS (
    SELECT
        CASE n_nationkey % 3 WHEN 0 THEN 'GCAM 6.0 NGFS'
            WHEN 1 THEN 'REMIND-MAgPIE 3.2-4.6'
            ELSE 'MESSAGEix-GLOBIOM 1.1-M-R12' END AS model0,
        CASE WHEN n_nationkey % 2 = 0 THEN 'Net Zero 2050'
             ELSE 'Current Policies' END AS scenario0,
        CASE WHEN n_nationkey % 5 = 0 THEN 'World' ELSE n_name END
            AS region, 'GW' AS units, category_b, category_c, year,
        CAST((n_nationkey * 17 + year * 3
              + length(COALESCE(category_c, '')) * 5) % 83 + 1
             AS DOUBLE) AS value
    FROM nation CROSS JOIN cats CROSS JOIN yr
),
shaped AS (
    SELECT
        CASE scenario0 WHEN 'Net Zero 2050' THEN 'NZ2050'
            WHEN 'Current Policies' THEN 'CP' ELSE scenario0 END
            AS scenario,
        CASE WHEN region = 'World' THEN 'Global' ELSE region END
            AS scenario_geography,
        CASE WHEN category_b IN ('Oil', 'Gas') THEN 'Oil&Gas'
             WHEN category_b = 'Coal' THEN 'Coal'
             ELSE 'Power' END AS sector,
        CASE WHEN category_b IN ('Oil', 'Gas', 'Coal') THEN category_b
             WHEN category_b = 'Electricity' THEN
                CASE category_c WHEN 'Coal' THEN 'CoalCap'
                    WHEN 'Gas' THEN 'GasCap' WHEN 'Hydro' THEN 'HydroCap'
                    WHEN 'Nuclear' THEN 'NuclearCap' WHEN 'Oil' THEN 'OilCap'
                    WHEN 'Solar' THEN 'RenewablesCap'
                    WHEN 'Geothermal' THEN 'RenewablesCap'
                    WHEN 'Biomass' THEN 'RenewablesCap'
                    WHEN 'Wind' THEN 'RenewablesCap'
                    ELSE category_c END
             ELSE category_c END AS technology,
        CASE WHEN category_b NOT IN ('Oil', 'Gas', 'Coal')
             THEN 'Capacity' ELSE 'Production' END AS indicator,
        'NGFS2023' AS source,
        CASE model0 WHEN 'GCAM 6.0 NGFS' THEN 'GCAM'
            WHEN 'REMIND-MAgPIE 3.2-4.6' THEN 'REMIND'
            WHEN 'MESSAGEix-GLOBIOM 1.1-M-R12' THEN 'MESSAGE'
            ELSE model0 END AS model,
        units, year, value
    FROM raw
),
rest AS (
    SELECT scenario, scenario_geography, sector, technology, indicator,
           source, model, units, year, value
    FROM shaped WHERE technology <> 'RenewablesCap'
),
ren AS (
    SELECT scenario, scenario_geography, 'Power' AS sector,
        'RenewablesCap' AS technology, 'Capacity' AS indicator,
        'NGFS2023' AS source, model, MAX(units) AS units, year,
        CAST(SUM(value) AS DOUBLE) AS value
    FROM shaped WHERE technology = 'RenewablesCap'
    GROUP BY scenario, scenario_geography, model, year
)
SELECT 'NGFS2023' || model || '_' || scenario AS scenario,
    scenario_geography, sector, technology, indicator, source, units,
    year, value
FROM (SELECT * FROM rest UNION ALL SELECT * FROM ren)
""",
)
def sc3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NGFS phase-IV pre-wrangle (prepare_scenario_data.R:435-505):
    vocabulary recodes, World→Global, the renewables fan-in, and the
    NGFS2023{model}_{scenario} key."""
    from trisk_datawrangle_spark.plans.scenario_sources import preprepare_ngfs

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    cats = [
        ("Electricity", "Solar"),
        ("Electricity", "Wind"),
        ("Electricity", "Coal"),
        ("Oil", None),
        ("Gas", None),
        ("Coal", None),
    ]
    cat_struct = F.array(
        *[
            F.struct(
                F.lit(b).alias("category_b"),
                F.lit(c).cast("string").alias("category_c"),
            )
            for b, c in cats
        ]
    )
    raw = (
        n.select("n_nationkey", "n_name", F.explode(cat_struct).alias("cat"))
        .select(
            "*",
            F.explode(F.array(F.lit(2030), F.lit(2050))).alias("year"),
        )
        .select(
            F.when(k % 3 == 0, F.lit("GCAM 6.0 NGFS"))
            .when(k % 3 == 1, F.lit("REMIND-MAgPIE 3.2-4.6"))
            .otherwise(F.lit("MESSAGEix-GLOBIOM 1.1-M-R12"))
            .alias("Model"),
            F.when(k % 2 == 0, F.lit("Net Zero 2050"))
            .otherwise(F.lit("Current Policies"))
            .alias("Scenario"),
            F.when(k % 5 == 0, F.lit("World")).otherwise(F.col("n_name")).alias("Region"),
            F.lit("GW").alias("Unit"),
            F.col("cat.category_b").alias("category_b"),
            F.col("cat.category_c").alias("category_c"),
            "year",
            (
                (
                    k * 17
                    + F.col("year") * 3
                    + F.length(F.coalesce(F.col("cat.category_c"), F.lit(""))) * 5
                )
                % 83
                + 1
            )
            .cast("double")
            .alias("value"),
        )
    )
    out = preprepare_ngfs(raw, vintage=2023)
    return out.select(
        "scenario",
        "scenario_geography",
        "sector",
        "technology",
        "indicator",
        "source",
        "units",
        "year",
        "value",
    )


# ------------------------------------------------------------------ #
# sc4 — IPR 2023 (prepare_scenario_data.R:613-760)                    #
# ------------------------------------------------------------------ #


@q(
    "sc4_ipr_wrangle",
    """
WITH parts AS (
    SELECT * FROM (VALUES
        ('Power', NULL, 'Coal'), ('Power', NULL, 'Solar'),
        ('Power', NULL, 'Onshore wind'), ('Transport', NULL, 'BEV'),
        ('Extraction', 'Oil', NULL), ('Industry', 'Hydrogen', NULL)
    ) AS t(sector0, sub1, sub2)
),
yr AS (SELECT * FROM (VALUES (2025), (2030), (2045)) AS t(year)),
raw AS (
    SELECT sector0, sub1, sub2,
        CASE WHEN n_nationkey % 2 = 0 THEN 'RPS' ELSE 'FPS' END
            AS scenario0,
        CASE WHEN n_nationkey % 5 = 0 THEN 'WORLD' ELSE n_name END
            AS region,
        'GW' AS units, year,
        CAST((n_nationkey * 11 + year * 2
              + length(COALESCE(sub2, sub1)) * 3) % 71 + 2 AS DOUBLE)
            AS value
    FROM nation CROSS JOIN parts CROSS JOIN yr
),
teched AS (
    SELECT *,
        CASE
            CASE WHEN sector0 = 'Power'
                 THEN concat_ws('_', sub2, sector0)
                 WHEN sector0 = 'Transport' THEN sub2
                 ELSE sub1 END
            WHEN 'Oil' THEN 'Oil' WHEN 'Coal' THEN 'Coal'
            WHEN 'Natural gas' THEN 'Gas'
            WHEN 'Coal_Power' THEN 'CoalCap'
            WHEN 'Natural gas_Power' THEN 'GasCap'
            WHEN 'Oil_Power' THEN 'OilCap'
            WHEN 'Nuclear_Power' THEN 'NuclearCap'
            WHEN 'Hydro_Power' THEN 'HydroCap'
            WHEN 'Biomass_Power' THEN 'BiomassCap'
            WHEN 'Offshore wind_Power' THEN 'OffWindCap'
            WHEN 'Onshore wind_Power' THEN 'OnWindCap'
            WHEN 'Solar_Power' THEN 'SolarCap'
            WHEN 'BEV' THEN 'Electric' WHEN 'PHEV' THEN 'Hybrid'
            WHEN 'H2' THEN 'FuelCell' WHEN 'ICE' THEN 'ICE'
            ELSE NULL END AS technology
    FROM raw
),
shaped AS (
    SELECT
        CASE WHEN scenario0 = 'RPS' THEN 'IPR2023_RPS'
             WHEN scenario0 = 'FPS' AND ald_sector <> 'Automotive'
                THEN 'IPR2023_FPS'
             WHEN scenario0 = 'FPS' AND ald_sector = 'Automotive'
                THEN 'IPR2023Automotive_FPS' END AS scenario,
        CASE WHEN region = 'WORLD' THEN 'Global' ELSE region END
            AS scenario_geography,
        ald_sector, technology, units, year, value
    FROM (
        SELECT *,
            CASE technology
                WHEN 'Oil' THEN 'Oil&Gas' WHEN 'Gas' THEN 'Oil&Gas'
                WHEN 'Coal' THEN 'Coal'
                WHEN 'CoalCap' THEN 'Power' WHEN 'GasCap' THEN 'Power'
                WHEN 'OilCap' THEN 'Power' WHEN 'NuclearCap' THEN 'Power'
                WHEN 'HydroCap' THEN 'Power' WHEN 'BiomassCap' THEN 'Power'
                WHEN 'OffWindCap' THEN 'Power' WHEN 'OnWindCap' THEN 'Power'
                WHEN 'SolarCap' THEN 'Power'
                WHEN 'ICE' THEN 'Automotive' WHEN 'Electric' THEN 'Automotive'
                WHEN 'Hybrid' THEN 'Automotive'
                WHEN 'FuelCell' THEN 'Automotive'
                ELSE NULL END AS ald_sector
        FROM teched
    )
    WHERE ald_sector IS NOT NULL
),
combined AS (
    SELECT scenario, scenario_geography, ald_sector, technology, units,
           year, value
    FROM shaped
    WHERE technology NOT IN
        ('OffWindCap', 'OnWindCap', 'SolarCap', 'BiomassCap')
    UNION ALL
    SELECT scenario, scenario_geography, ald_sector,
        'RenewablesCap' AS technology, units, year,
        CAST(SUM(value) AS DOUBLE) AS value
    FROM shaped
    WHERE technology IN
        ('OffWindCap', 'OnWindCap', 'SolarCap', 'BiomassCap')
    GROUP BY scenario, scenario_geography, ald_sector, units, year
),
filtered AS (SELECT * FROM combined WHERE year >= 2025),
tot AS (
    SELECT *, SUM(value) OVER (
        PARTITION BY scenario_geography, scenario, ald_sector, units,
        year) AS sector_total
    FROM filtered
),
shares AS (
    SELECT *,
        FIRST_VALUE(value) OVER w AS first_v,
        FIRST_VALUE(sector_total) OVER w AS first_tot
    FROM tot
    WINDOW w AS (
        PARTITION BY scenario_geography, scenario, ald_sector, units,
        technology ORDER BY year, value NULLS LAST
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
final AS (
    SELECT scenario_geography, scenario, ald_sector, technology, units,
        year,
        CASE WHEN technology IN ('RenewablesCap', 'HydroCap',
            'NuclearCap', 'SolarCap', 'OffWindCap', 'OnWindCap',
            'BiomassCap', 'Electric', 'FuelCell')
            THEN 'increasing' ELSE 'declining' END AS direction,
        CASE WHEN technology IN ('RenewablesCap', 'HydroCap',
            'NuclearCap', 'SolarCap', 'OffWindCap', 'OnWindCap',
            'BiomassCap', 'Electric', 'FuelCell')
            THEN (value - first_v) / first_tot
            ELSE (value - first_v) / first_v END AS fair_share_perc,
        value AS scenario_pathway
    FROM shares
)
SELECT * FROM final
WHERE NOT (ald_sector = 'Automotive' AND year >= 2042)
""",
)
def sc4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPR2023 wrangle (prepare_scenario_data.R:613-760): compound
    technology key, vocabulary recodes with NULL-sector row drops,
    renewables fan-in, the units-carrying share variant (:713-732),
    the FPS Automotive scenario split, and the 2042 Automotive
    horizon cap."""
    from trisk_datawrangle_spark.plans.scenario_sources import wrangle_ipr

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    parts = [
        ("Power", None, "Coal"),
        ("Power", None, "Solar"),
        ("Power", None, "Onshore wind"),
        ("Transport", None, "BEV"),
        ("Extraction", "Oil", None),
        ("Industry", "Hydrogen", None),
    ]
    part_struct = F.array(
        *[
            F.struct(
                F.lit(s).alias("sector0"),
                F.lit(s1).cast("string").alias("sub1"),
                F.lit(s2).cast("string").alias("sub2"),
            )
            for s, s1, s2 in parts
        ]
    )
    raw = (
        n.select("n_nationkey", "n_name", F.explode(part_struct).alias("p"))
        .select(
            "*",
            F.explode(
                F.array(F.lit(2025), F.lit(2030), F.lit(2045))
            ).alias("year"),
        )
        .select(
            F.lit("Cap").alias("Variable_class"),
            F.col("p.sub1").alias("Sub_variable_class_1"),
            F.col("p.sub2").alias("Sub_variable_class_2"),
            F.col("p.sector0").alias("Sector"),
            F.when(k % 2 == 0, F.lit("RPS")).otherwise(F.lit("FPS")).alias("Scenario"),
            F.when(k % 5 == 0, F.lit("WORLD")).otherwise(F.col("n_name")).alias("Region"),
            F.lit("GW").alias("Units"),
            "year",
            (
                (
                    k * 11
                    + F.col("year") * 2
                    + F.length(F.coalesce(F.col("p.sub2"), F.col("p.sub1"))) * 3
                )
                % 71
                + 2
            )
            .cast("double")
            .alias("value"),
        )
    )
    out = wrangle_ipr(raw, start_year=2025)
    return out.select(
        "scenario_geography",
        "scenario",
        "ald_sector",
        "technology",
        "units",
        "year",
        "direction",
        "fair_share_perc",
        "scenario_pathway",
    )


# ------------------------------------------------------------------ #
# sc5 — Oxford (prepare_scenario_data.R:836-935)                      #
# ------------------------------------------------------------------ #


@q(
    "sc5_oxford_wrangle",
    """
WITH series AS (
    SELECT * FROM (VALUES
        ('gas_electricity'), ('solar_electricity'), ('wind_electricity'),
        ('coal_final'), ('oil_final'), ('hydrogen')
    ) AS t(ae)
),
yr AS (SELECT * FROM (VALUES (2021), (2030)) AS t(year)),
raw AS (
    SELECT ae,
        CASE WHEN n_nationkey % 2 = 0 THEN 'fast_transition_oxford'
             ELSE 'slow_transition_oxford' END AS scenario,
        n_name AS scenario_geography, 'EJ' AS units, year,
        CAST((n_nationkey * 7 + year + length(ae)) % 61 + 3 AS DOUBLE)
            AS value
    FROM nation CROSS JOIN series CROSS JOIN yr
    WHERE ae NOT IN ('batteries_ST_transport', 'batteries_ST_electricity',
                     'batteries_LT_electricity', 'hydrogen')
),
split AS (
    SELECT *, split_part(ae, '_', 1) AS tech0,
        split_part(ae, '_', 2) AS sect0
    FROM raw
),
sectored AS (
    SELECT *,
        CASE WHEN sect0 = 'electricity' THEN 'Power'
             WHEN tech0 = 'coal' AND sect0 = 'final' THEN 'Coal'
             WHEN tech0 IN ('gas', 'oil') AND sect0 = 'final'
                THEN 'Oil&Gas'
             ELSE sect0 END AS ald_sector
    FROM split
),
teched AS (
    SELECT scenario, scenario_geography, ald_sector, units, year, value,
        CASE WHEN tech0 = 'coal' AND ald_sector = 'Power' THEN 'CoalCap'
             WHEN tech0 = 'gas' AND ald_sector = 'Power' THEN 'GasCap'
             WHEN tech0 = 'oil' AND ald_sector = 'Power' THEN 'OilCap'
             WHEN tech0 = 'coal' AND ald_sector = 'Coal' THEN 'Coal'
             WHEN tech0 = 'gas' AND ald_sector = 'Oil&Gas' THEN 'Gas'
             WHEN tech0 = 'oil' AND ald_sector = 'Oil&Gas' THEN 'Oil'
             WHEN tech0 = 'solar' THEN 'SolarCap'
             WHEN tech0 = 'wind' THEN 'WindCap'
             WHEN tech0 = 'nuclear' THEN 'NuclearCap'
             WHEN tech0 = 'hydro' THEN 'HydroCap'
             WHEN tech0 = 'bioenergy' THEN 'BiomassCap'
             ELSE tech0 END AS technology
    FROM sectored
),
combined AS (
    SELECT scenario_geography, scenario, ald_sector, technology, units,
           year, value
    FROM teched
    WHERE technology NOT IN ('WindCap', 'SolarCap', 'BiomassCap')
    UNION ALL
    SELECT scenario_geography, scenario, ald_sector,
        'RenewablesCap' AS technology, units, year,
        CAST(SUM(value) AS DOUBLE) AS value
    FROM teched
    WHERE technology IN ('WindCap', 'SolarCap', 'BiomassCap')
    GROUP BY scenario_geography, scenario, ald_sector, units, year
),
filtered AS (SELECT * FROM combined WHERE year >= 2021),
tot AS (
    SELECT *, SUM(value) OVER (
        PARTITION BY scenario_geography, scenario, ald_sector, units,
        year) AS sector_total
    FROM filtered
),
shares AS (
    SELECT *,
        FIRST_VALUE(value) OVER w AS first_v,
        FIRST_VALUE(sector_total) OVER w AS first_tot
    FROM tot
    WINDOW w AS (
        PARTITION BY scenario_geography, scenario, ald_sector, units,
        technology ORDER BY year, value NULLS LAST
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
cloned AS (
    SELECT * FROM shares
    UNION ALL
    SELECT scenario_geography, scenario, ald_sector,
        'OilCap' AS technology, units, year, value, sector_total,
        first_v, first_tot
    FROM shares WHERE technology = 'GasCap'
)
SELECT scenario_geography, scenario, ald_sector, technology, units,
    year,
    CASE WHEN technology IN ('RenewablesCap', 'HydroCap', 'NuclearCap',
        'SolarCap', 'WindCap', 'BiomassCap')
        THEN 'increasing' ELSE 'declining' END AS direction,
    CASE WHEN technology IN ('RenewablesCap', 'HydroCap', 'NuclearCap',
        'SolarCap', 'WindCap', 'BiomassCap')
        THEN (value - first_v) / first_tot
        ELSE (value - first_v) / first_v END AS fair_share_perc,
    value
FROM cloned
""",
)
def sc5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oxford wrangle (prepare_scenario_data.R:836-935): compound
    series split, battery/hydrogen drops, the order-sensitive
    sector-then-technology recode, renewables fan-in, and the OilCap
    clone of GasCap AFTER the share pass."""
    from trisk_datawrangle_spark.plans.scenario_sources import wrangle_oxford

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    series = [
        "gas_electricity",
        "solar_electricity",
        "wind_electricity",
        "coal_final",
        "oil_final",
        "hydrogen",
    ]
    raw = (
        n.select(
            "n_nationkey",
            "n_name",
            F.explode(F.array(*[F.lit(s) for s in series])).alias(
                "Annual energy"
            ),
        )
        .select(
            "*", F.explode(F.array(F.lit(2021), F.lit(2030))).alias("year")
        )
        .select(
            F.col("Annual energy"),
            F.when(k % 2 == 0, F.lit("fast_transition_oxford"))
            .otherwise(F.lit("slow_transition_oxford"))
            .alias("scenario"),
            F.col("n_name").alias("scenario_geography"),
            F.lit("EJ").alias("units"),
            "year",
            ((k * 7 + F.col("year") + F.length("Annual energy")) % 61 + 3)
            .cast("double")
            .alias("value"),
        )
    )
    out = wrangle_oxford(raw, start_year=2021)
    return out.select(
        "scenario_geography",
        "scenario",
        "ald_sector",
        "technology",
        "units",
        "year",
        "direction",
        "fair_share_perc",
        "value",
    )


# ------------------------------------------------------------------ #
# sc6 — Steel (prepare_scenario_data.R:938-1065)                      #
# ------------------------------------------------------------------ #

_STEEL_ROWS = [
    ("Baseline", "Avg BF-BOF", 2025, 100.0),
    ("Baseline", "Avg BF-BOF", 2027, 80.0),
    ("Baseline", "EAF", 2025, 50.0),
    ("Baseline", "EAF", 2028, 70.0),
    ("Baseline", "DRI-Melt-BOF", 2026, 10.0),
    ("Baseline", "DRI-EAF", 2025, 20.0),
    ("Baseline", "DRI-EAF", 2026, 25.0),
    ("Carbon Cost", "Avg BF-BOF", 2025, 90.0),
    ("Carbon Cost", "Avg BF-BOF", 2028, 45.0),
    ("Carbon Cost", "EAF", 2025, 60.0),
    ("Carbon Cost", "EAF", 2027, 66.0),
    ("Carbon Cost", "DRI-Melt-BOF", 2026, 12.0),
    ("Carbon Cost", "DRI-EAF", 2025, 30.0),
    ("Carbon Cost", "DRI-EAF", 2028, 36.0),
    ("unmodeled", "EAF", 2025, 1.0),
    ("Baseline", "H2-DRI", 2025, 1.0),
]

_STEEL_VALUES_SQL = ",\n        ".join(
    f"('{s}', '{t}', {y}, {v})" for s, t, y, v in _STEEL_ROWS
)


@q(
    "sc6_steel_wrangle",
    f"""
WITH raw AS (
    SELECT * FROM (VALUES
        {_STEEL_VALUES_SQL}
    ) AS t(scenario, technology, year, value)
),
filtered AS (
    SELECT scenario, technology, year, CAST(value AS DOUBLE) AS value
    FROM raw
    WHERE technology IN ('Avg BF-BOF', 'DRI-Melt-BOF', 'EAF', 'DRI-EAF')
      AND scenario IN ('Baseline', 'Carbon Cost')
),
combos AS (
    SELECT s.scenario, t.technology,
        CAST(unnest(generate_series(2025, 2028)) AS INTEGER) AS year
    FROM (SELECT DISTINCT scenario FROM filtered) s
    CROSS JOIN (SELECT DISTINCT technology FROM filtered) t
),
dense0 AS (
    SELECT c.scenario, c.technology, c.year, f.value
    FROM combos c LEFT JOIN filtered f
        ON c.scenario = f.scenario AND c.technology = f.technology
        AND c.year = f.year
),
renamed AS (
    SELECT scenario,
        CASE technology WHEN 'Avg BF-BOF' THEN 'BF-BOF'
            WHEN 'DRI-Melt-BOF' THEN 'DRI-BOF'
            ELSE technology END AS technology,
        year, value
    FROM dense0
),
with_bfeaf AS (
    SELECT * FROM renamed
    UNION ALL
    SELECT scenario, 'BF-EAF' AS technology, year, value
    FROM renamed WHERE technology = 'EAF'
),
zeroed AS (
    SELECT scenario, technology, year,
        CASE WHEN year > COALESCE(MAX(CASE WHEN value IS NOT NULL
                THEN year END) OVER (PARTITION BY scenario, technology),
                -1000000000)
            THEN 0.0 ELSE value END AS value
    FROM with_bfeaf
),
anchor AS (
    SELECT DISTINCT scenario, value AS anchor_v
    FROM zeroed WHERE technology = 'DRI-BOF' AND year = 2026
),
filled AS (
    SELECT z.scenario, z.technology, z.year,
        CASE WHEN z.technology = 'DRI-BOF' AND z.value IS NULL
                AND a.anchor_v IS NOT NULL
            THEN a.anchor_v ELSE z.value END AS value
    FROM zeroed z LEFT JOIN anchor a ON z.scenario = a.scenario
),
with_clones AS (
    SELECT * FROM filled
    UNION ALL
    SELECT scenario, 'BOF' AS technology, year, value
    FROM filled WHERE technology = 'BF-BOF'
    UNION ALL
    SELECT scenario, 'BF-OHF' AS technology, year, value
    FROM filled WHERE technology = 'BF-BOF'
),
staged AS (
    SELECT 'Global' AS scenario_geography, scenario, 'Steel' AS sector,
        technology, year, value
    FROM with_clones WHERE year >= 2025
),
shares AS (
    SELECT *, FIRST_VALUE(value) OVER (
        PARTITION BY scenario, sector, scenario_geography, technology
        ORDER BY year, value NULLS LAST
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        AS first_v
    FROM staged
)
SELECT scenario_geography,
    CASE scenario WHEN 'Baseline' THEN 'Steel_baseline'
        WHEN 'Carbon Cost' THEN 'Steel_NZ' ELSE scenario END AS scenario,
    sector AS ald_sector, technology, 'Mt/yr' AS units, year,
    'declining' AS direction,
    (value - first_v) / first_v AS fair_share_perc,
    value AS scenario_pathway
FROM shares
""",
)
def sc6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steel wrangle (prepare_scenario_data.R:938-1065): route/
    scenario filters, the (scenario × technology × year) completion
    cube, trailing-zero + anchor-year imputation, the three route
    clones, and tmsr-only fair shares."""
    from trisk_datawrangle_spark.plans.scenario_sources import wrangle_steel

    raw = spark.createDataFrame(
        _STEEL_ROWS,
        "scenario string, technology string, year int, "
        "`Production (Mt)` double",
    )
    out = wrangle_steel(raw, start_year=2025, max_year=2028)
    return out.select(
        "scenario_geography",
        "scenario",
        "ald_sector",
        "technology",
        "units",
        "year",
        "direction",
        "fair_share_perc",
        "scenario_pathway",
    )


# ------------------------------------------------------------------ #
# cf1 — NGFS capacity factors (prepare_prewrangled_capacity_factors  #
# .R:380-493)                                                         #
# ------------------------------------------------------------------ #


@q(
    "cf1_ngfs_capacity_factors",
    """
WITH cats AS (
    SELECT * FROM (VALUES
        ('Capacity', 'Coal'), ('Capacity', 'Solar'), ('Capacity', 'Wind'),
        ('Secondary Energy', 'Coal'), ('Secondary Energy', 'Solar'),
        ('Secondary Energy', 'Wind')
    ) AS t(category_a, category_c)
),
yr AS (SELECT * FROM (VALUES (2030), (2035)) AS t(year)),
raw AS (
    SELECT
        CASE n_nationkey % 3 WHEN 0 THEN 'GCAM 6.0 NGFS'
            WHEN 1 THEN 'REMIND-MAgPIE 3.2-4.6'
            ELSE 'MESSAGEix-GLOBIOM 1.1-M-R12' END AS model0,
        CASE WHEN n_nationkey % 2 = 0 THEN 'Net Zero 2050'
             ELSE 'Current Policies' END AS scenario0,
        CASE WHEN n_nationkey % 5 = 0 THEN 'World' ELSE n_name END
            AS region,
        CASE WHEN category_a = 'Capacity' THEN 'GW' ELSE 'EJ' END
            AS units,
        category_a, category_c, year,
        CAST((n_nationkey * 13 + year
              + length(category_a) + length(category_c) * 7) % 59 + 1
             AS DOUBLE) AS value
    FROM nation CROSS JOIN cats CROSS JOIN yr
),
shaped AS (
    SELECT
        CASE scenario0 WHEN 'Net Zero 2050' THEN 'NZ2050'
            WHEN 'Current Policies' THEN 'CP' ELSE scenario0 END
            AS scenario,
        CASE WHEN region = 'World' THEN 'Global' ELSE region END
            AS scenario_geography,
        CASE category_c WHEN 'Oil' THEN 'OilCap' WHEN 'Gas' THEN 'GasCap'
            WHEN 'Coal' THEN 'CoalCap' WHEN 'Hydro' THEN 'HydroCap'
            WHEN 'Nuclear' THEN 'NuclearCap'
            WHEN 'Solar' THEN 'RenewablesCap'
            WHEN 'Geothermal' THEN 'RenewablesCap'
            WHEN 'Biomass' THEN 'RenewablesCap'
            WHEN 'Wind' THEN 'RenewablesCap'
            ELSE category_c END AS technology,
        CASE model0 WHEN 'GCAM 6.0 NGFS' THEN 'GCAM'
            WHEN 'REMIND-MAgPIE 3.2-4.6' THEN 'REMIND'
            WHEN 'MESSAGEix-GLOBIOM 1.1-M-R12' THEN 'MESSAGE'
            ELSE model0 END AS model,
        units, category_a, year, value
    FROM raw
),
combined AS (
    SELECT scenario, scenario_geography, technology, model, units,
           category_a, year, value
    FROM shaped WHERE technology <> 'RenewablesCap'
    UNION ALL
    SELECT scenario, scenario_geography, 'RenewablesCap' AS technology,
        model, MAX(units) AS units, category_a, year,
        CAST(SUM(value) AS DOUBLE) AS value
    FROM shaped WHERE technology = 'RenewablesCap'
    GROUP BY scenario, scenario_geography, model, category_a, year
),
bounds AS (
    SELECT scenario, scenario_geography, technology, model, units,
        category_a, MIN(year) AS lo, MAX(year) AS hi
    FROM combined
    GROUP BY 1, 2, 3, 4, 5, 6
),
spine AS (
    SELECT scenario, scenario_geography, technology, model, units,
        category_a,
        CAST(unnest(generate_series(lo, hi)) AS INTEGER) AS year
    FROM bounds
),
dense AS (
    SELECT s.scenario, s.scenario_geography, s.technology, s.model,
        s.units, s.category_a, s.year, c.value
    FROM spine s LEFT JOIN combined c
        USING (scenario, scenario_geography, technology, model, units,
               category_a, year)
),
marked AS (
    SELECT *,
        last_value(value IGNORE NULLS) OVER wback AS prev_v,
        last_value(CASE WHEN value IS NOT NULL THEN year END IGNORE NULLS)
            OVER wback AS prev_x,
        first_value(value IGNORE NULLS) OVER wfwd AS next_v,
        first_value(CASE WHEN value IS NOT NULL THEN year END IGNORE NULLS)
            OVER wfwd AS next_x
    FROM dense
    WINDOW wback AS (
        PARTITION BY scenario, scenario_geography, technology, model,
            units, category_a ORDER BY year
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wfwd AS (
        PARTITION BY scenario, scenario_geography, technology, model,
            units, category_a ORDER BY year
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
interp AS (
    SELECT scenario, scenario_geography, technology, model, category_a,
        year,
        CASE WHEN value IS NOT NULL THEN value
             WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
             THEN prev_v + (next_v - prev_v) * (year - prev_x)
                  / (next_x - prev_x)
        END AS value
    FROM marked WHERE year >= 2030
),
cap AS (
    SELECT scenario, scenario_geography, technology, model, year,
        value AS capacity
    FROM interp WHERE category_a = 'Capacity'
),
gen AS (
    SELECT scenario, scenario_geography, technology, model, year,
        value * 31.68808781 AS generation
    FROM interp WHERE category_a = 'Secondary Energy'
)
SELECT 'NGFS2023' || model || '_' || scenario AS scenario,
    scenario_geography, technology, year,
    CASE WHEN capacity = 0 AND generation = 0 THEN 0.0
         WHEN capacity = 0 AND generation > 0 THEN 0.0
         WHEN generation / capacity > 1 THEN 1.0
         ELSE generation / capacity END AS capacity_factor
FROM cap FULL OUTER JOIN gen
    USING (scenario, scenario_geography, technology, model, year)
""",
)
def cf1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NGFS capacity-factor chain
    (prepare_capacity_factors_NGFS2023, :380-493): recodes,
    renewables fan-in per category, dense spine + interpolation,
    Capacity/Secondary-Energy pivot, clamped factor, model-prefixed
    scenario key."""
    from trisk_datawrangle_spark.plans.capacity_factor_sources import (
        prepare_capacity_factors_ngfs,
    )

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    cats = [
        ("Capacity", "Coal"),
        ("Capacity", "Solar"),
        ("Capacity", "Wind"),
        ("Secondary Energy", "Coal"),
        ("Secondary Energy", "Solar"),
        ("Secondary Energy", "Wind"),
    ]
    cat_struct = F.array(
        *[
            F.struct(
                F.lit(a).alias("category_a"), F.lit(c).alias("category_c")
            )
            for a, c in cats
        ]
    )
    raw = (
        n.select("n_nationkey", "n_name", F.explode(cat_struct).alias("cat"))
        .select(
            "*",
            F.explode(F.array(F.lit(2030), F.lit(2035))).alias("year"),
        )
        .select(
            F.when(k % 3 == 0, F.lit("GCAM 6.0 NGFS"))
            .when(k % 3 == 1, F.lit("REMIND-MAgPIE 3.2-4.6"))
            .otherwise(F.lit("MESSAGEix-GLOBIOM 1.1-M-R12"))
            .alias("Model"),
            F.when(k % 2 == 0, F.lit("Net Zero 2050"))
            .otherwise(F.lit("Current Policies"))
            .alias("Scenario"),
            F.when(k % 5 == 0, F.lit("World")).otherwise(F.col("n_name")).alias("Region"),
            F.when(F.col("cat.category_a") == "Capacity", F.lit("GW"))
            .otherwise(F.lit("EJ"))
            .alias("Unit"),
            F.col("cat.category_a").alias("category_a"),
            F.col("cat.category_c").alias("category_c"),
            "year",
            (
                (
                    k * 13
                    + F.col("year")
                    + F.length("cat.category_a")
                    + F.length("cat.category_c") * 7
                )
                % 59
                + 1
            )
            .cast("double")
            .alias("value"),
        )
    )
    out = prepare_capacity_factors_ngfs(raw, start_year=2030)
    return out.select(
        "scenario",
        "scenario_geography",
        "technology",
        "year",
        "capacity_factor",
    )


# ------------------------------------------------------------------ #
# cf2 — IPR capacity factors (:613-747)                               #
# ------------------------------------------------------------------ #


@q(
    "cf2_ipr_capacity_factors",
    """
WITH parts AS (
    SELECT * FROM (VALUES
        ('Capacity', NULL, 'Coal', 'Power'),
        ('Capacity', NULL, 'Solar', 'Power'),
        ('Capacity', NULL, 'Onshore wind', 'Power'),
        ('Electricity generation', 'Coal', NULL, 'Power'),
        ('Electricity generation', 'Solar', NULL, 'Power'),
        ('Electricity generation', 'Onshore wind', NULL, 'Power'),
        ('Capacity', NULL, 'Hydrogen', 'Power')
    ) AS t(vclass, sub1, sub2, sector0)
),
yr AS (SELECT * FROM (VALUES (2030), (2040)) AS t(year)),
raw AS (
    SELECT vclass, sub1, sub2, sector0,
        CASE WHEN n_nationkey % 2 = 0 THEN 'RPS' ELSE 'FPS' END
            AS scenario0,
        CASE WHEN n_nationkey % 5 = 0 THEN 'WORLD' ELSE n_name END
            AS region,
        year,
        CAST((n_nationkey * 9 + year
              + length(COALESCE(sub2, sub1)) * 4
              + length(vclass)) % 47 + 1 AS DOUBLE) AS value
    FROM nation CROSS JOIN parts CROSS JOIN yr
),
teched AS (
    SELECT *,
        CASE
            CASE WHEN vclass = 'Electricity generation'
                 THEN concat_ws('_', sub1, sector0)
                 WHEN sector0 = 'Power'
                 THEN concat_ws('_', sub2, sector0)
                 ELSE sub1 END
            WHEN 'Coal_Power' THEN 'CoalCap'
            WHEN 'Natural gas_Power' THEN 'GasCap'
            WHEN 'Nuclear_Power' THEN 'NuclearCap'
            WHEN 'Hydro_Power' THEN 'HydroCap'
            WHEN 'Oil_Power' THEN 'OilCap'
            WHEN 'Biomass_Power' THEN 'BiomassCap'
            WHEN 'Offshore wind_Power' THEN 'OffWindCap'
            WHEN 'Onshore wind_Power' THEN 'OnWindCap'
            WHEN 'Solar_Power' THEN 'SolarCap'
            ELSE NULL END AS technology
    FROM raw
),
shaped AS (
    SELECT
        CASE WHEN scenario0 = 'RPS' THEN 'IPR2023_RPS'
             WHEN scenario0 = 'FPS' THEN 'IPR2023_FPS' END AS scenario,
        CASE WHEN region = 'WORLD' THEN 'Global' ELSE region END
            AS scenario_geography,
        technology, vclass AS category, year, value
    FROM teched WHERE technology IS NOT NULL
),
combined AS (
    SELECT scenario, scenario_geography, technology, category, year,
           value
    FROM shaped
    WHERE technology NOT IN
        ('OffWindCap', 'OnWindCap', 'SolarCap', 'BiomassCap')
    UNION ALL
    SELECT scenario, scenario_geography, 'RenewablesCap' AS technology,
        category, year, CAST(SUM(value) AS DOUBLE) AS value
    FROM shaped
    WHERE technology IN
        ('OffWindCap', 'OnWindCap', 'SolarCap', 'BiomassCap')
    GROUP BY scenario, scenario_geography, category, year
),
cap AS (
    SELECT scenario, scenario_geography, technology, year,
        value AS capacity
    FROM combined WHERE category = 'Capacity'
),
gen AS (
    SELECT scenario, scenario_geography, technology, year,
        value * (1000.0 / (24 * 365.25)) AS generation
    FROM combined WHERE category = 'Electricity generation'
)
SELECT scenario, scenario_geography, technology, year,
    CASE WHEN capacity = 0 AND generation = 0 THEN 0.0
         WHEN capacity = 0 AND generation > 0 THEN 0.0
         WHEN generation / capacity > 1 THEN 1.0
         ELSE generation / capacity END AS capacity_factor
FROM cap FULL OUTER JOIN gen
    USING (scenario, scenario_geography, technology, year)
WHERE year >= 2030
""",
)
def cf2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPR capacity-factor chain (prepare_capacity_factors_IPR2023,
    :613-747): compound technology key (generation rows key by
    Sub_variable_class_1), renewables fan-in per category, TWh→GW,
    full join + clamped factor."""
    from trisk_datawrangle_spark.plans.capacity_factor_sources import (
        prepare_capacity_factors_ipr,
    )

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    parts = [
        ("Capacity", None, "Coal", "Power"),
        ("Capacity", None, "Solar", "Power"),
        ("Capacity", None, "Onshore wind", "Power"),
        ("Electricity generation", "Coal", None, "Power"),
        ("Electricity generation", "Solar", None, "Power"),
        ("Electricity generation", "Onshore wind", None, "Power"),
        ("Capacity", None, "Hydrogen", "Power"),
    ]
    part_struct = F.array(
        *[
            F.struct(
                F.lit(v).alias("vclass"),
                F.lit(s1).cast("string").alias("sub1"),
                F.lit(s2).cast("string").alias("sub2"),
                F.lit(s).alias("sector0"),
            )
            for v, s1, s2, s in parts
        ]
    )
    raw = (
        n.select("n_nationkey", "n_name", F.explode(part_struct).alias("p"))
        .select(
            "*",
            F.explode(F.array(F.lit(2030), F.lit(2040))).alias("year"),
        )
        .select(
            F.col("p.vclass").alias("Variable_class"),
            F.col("p.sub1").alias("Sub_variable_class_1"),
            F.col("p.sub2").alias("Sub_variable_class_2"),
            F.col("p.sector0").alias("Sector"),
            F.when(k % 2 == 0, F.lit("RPS")).otherwise(F.lit("FPS")).alias("Scenario"),
            F.when(k % 5 == 0, F.lit("WORLD")).otherwise(F.col("n_name")).alias("Region"),
            F.lit("GW").alias("Units"),
            "year",
            (
                (
                    k * 9
                    + F.col("year")
                    + F.length(F.coalesce(F.col("p.sub2"), F.col("p.sub1"))) * 4
                    + F.length("p.vclass")
                )
                % 47
                + 1
            )
            .cast("double")
            .alias("value"),
        )
    )
    out = prepare_capacity_factors_ipr(raw, start_year=2030)
    return out.select(
        "scenario",
        "scenario_geography",
        "technology",
        "year",
        "capacity_factor",
    )


# ------------------------------------------------------------------ #
# cf3 — WEO2023 capacity factors (:250-365)                           #
# ------------------------------------------------------------------ #


@q(
    "cf3_weo2023_capacity_factors",
    """
WITH techs AS (
    SELECT * FROM (VALUES ('CoalCap'), ('GasCap')) AS t(technology)
),
yr AS (SELECT * FROM (VALUES (2030), (2034)) AS t(year)),
raw AS (
    SELECT 'WEO2023' AS source,
        CASE WHEN n_nationkey % 2 = 0 THEN 'STEPS' ELSE 'NZE' END
            AS scenario,
        n_name AS scenario_geography, 'Power' AS sector, technology,
        'GW' AS units, year,
        CAST((n_nationkey * 5 + year + length(technology)) % 37 + 10
             AS DOUBLE) AS capacity,
        CAST((n_nationkey * 3 + year) % 29 + 5 AS DOUBLE) AS gen_twh
    FROM nation CROSS JOIN techs CROSS JOIN yr
),
joined AS (
    SELECT source, scenario, scenario_geography, sector, technology,
        'GW' AS units, year, capacity,
        gen_twh * 1000.0 / 8760.0 AS generation
    FROM raw
),
combos AS (
    SELECT DISTINCT source, scenario, scenario_geography, sector,
        technology, units
    FROM joined
),
spine AS (
    SELECT c.*, CAST(unnest(generate_series(2030, 2034)) AS INTEGER)
        AS year
    FROM combos c
),
dense AS (
    SELECT s.source, s.scenario, s.scenario_geography, s.sector,
        s.technology, s.units, s.year, j.capacity, j.generation
    FROM spine s LEFT JOIN joined j
        USING (source, scenario, scenario_geography, sector, technology,
               units, year)
),
marked AS (
    SELECT *,
        last_value(capacity IGNORE NULLS) OVER wback AS cprev_v,
        last_value(CASE WHEN capacity IS NOT NULL THEN year END
            IGNORE NULLS) OVER wback AS cprev_x,
        first_value(capacity IGNORE NULLS) OVER wfwd AS cnext_v,
        first_value(CASE WHEN capacity IS NOT NULL THEN year END
            IGNORE NULLS) OVER wfwd AS cnext_x,
        last_value(generation IGNORE NULLS) OVER wback AS gprev_v,
        last_value(CASE WHEN generation IS NOT NULL THEN year END
            IGNORE NULLS) OVER wback AS gprev_x,
        first_value(generation IGNORE NULLS) OVER wfwd AS gnext_v,
        first_value(CASE WHEN generation IS NOT NULL THEN year END
            IGNORE NULLS) OVER wfwd AS gnext_x
    FROM dense
    WINDOW wback AS (
        PARTITION BY source, scenario, scenario_geography, sector,
            technology, units ORDER BY year
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wfwd AS (
        PARTITION BY source, scenario, scenario_geography, sector,
            technology, units ORDER BY year
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
interp AS (
    SELECT scenario, scenario_geography, technology, year,
        CASE WHEN capacity IS NOT NULL THEN capacity
             WHEN cprev_v IS NOT NULL AND cnext_v IS NOT NULL
             THEN cprev_v + (cnext_v - cprev_v) * (year - cprev_x)
                  / (cnext_x - cprev_x) END AS capacity,
        CASE WHEN generation IS NOT NULL THEN generation
             WHEN gprev_v IS NOT NULL AND gnext_v IS NOT NULL
             THEN gprev_v + (gnext_v - gprev_v) * (year - gprev_x)
                  / (gnext_x - gprev_x) END AS generation
    FROM marked
)
SELECT 'WEO2023_' || scenario AS scenario, scenario_geography,
    technology, year,
    CASE WHEN capacity = 0 AND generation = 0 THEN 0.0
         WHEN capacity = 0 AND generation > 0 THEN 0.0
         WHEN generation / capacity > 1 THEN 1.0
         ELSE generation / capacity END AS capacity_factor
FROM interp
WHERE capacity IS NOT NULL AND generation IS NOT NULL AND year >= 2030
""",
)
def cf3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEO2023 capacity-factor chain
    (prepare_prewrangled_capacity_factors_WEO2023, :250-365): TWh→GW
    generation inner-joined to capacity, dense spine with both sides
    interpolated, clamped factor, WEO2023_ scenario prefix."""
    from trisk_datawrangle_spark.plans.capacity_factor_sources import (
        prepare_capacity_factors_weo2023,
    )

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    base = (
        n.select(
            "n_nationkey",
            "n_name",
            F.explode(F.array(F.lit("CoalCap"), F.lit("GasCap"))).alias(
                "technology"
            ),
        )
        .select(
            "*",
            F.explode(F.array(F.lit(2030), F.lit(2034))).alias("year"),
        )
    )
    cap = base.select(
        F.lit("WEO2023").alias("source"),
        F.when(k % 2 == 0, F.lit("STEPS")).otherwise(F.lit("NZE")).alias("scenario"),
        F.col("n_name").alias("scenario_geography"),
        F.lit("Power").alias("sector"),
        "technology",
        F.lit("GW").alias("units"),
        F.lit("Capacity").alias("indicator"),
        "year",
        ((k * 5 + F.col("year") + F.length("technology")) % 37 + 10)
        .cast("double")
        .alias("value"),
    )
    gen = base.select(
        F.lit("WEO2023").alias("source"),
        F.when(k % 2 == 0, F.lit("STEPS")).otherwise(F.lit("NZE")).alias("scenario"),
        F.col("n_name").alias("scenario_geography"),
        F.lit("Power").alias("sector"),
        "technology",
        F.lit("TWh").alias("units"),
        F.lit("Electricity generation").alias("indicator"),
        "year",
        ((k * 3 + F.col("year")) % 29 + 5).cast("double").alias("value"),
    )
    out = prepare_capacity_factors_weo2023(
        cap.unionByName(gen), start_year=2030, end_year=2034
    )
    return out.select(
        "scenario",
        "scenario_geography",
        "technology",
        "year",
        "capacity_factor",
    )


# ------------------------------------------------------------------ #
# cf4 — GEM steel capacity factors (:815-884)                         #
# ------------------------------------------------------------------ #

_GEM_ROWS = [
    ("BOF Steel", 2027, 0.8),
    ("EAF Steel", 2026, 0.6),
    ("EAF Steel", 2028, 0.7),
    ("DRI", 2026, 0.5),
    ("OHF Steel", 2026, 0.4),
]

_GEM_VALUES_SQL = ",\n        ".join(
    f"('{t}', {y}, {v})" for t, y, v in _GEM_ROWS
)


@q(
    "cf4_gem_steel_capacity_factors",
    f"""
WITH raw AS (
    SELECT * FROM (VALUES
        {_GEM_VALUES_SQL}
    ) AS t(technology, year, value)
),
renamed AS (
    SELECT CASE WHEN technology = 'BOF Steel' THEN 'BOF'
           ELSE technology END AS technology,
        year, CAST(value AS DOUBLE) AS value
    FROM raw
),
cloned AS (
    SELECT technology, year, value FROM renamed
        WHERE technology NOT IN ('EAF Steel', 'DRI')
    UNION ALL SELECT 'BF-EAF', year, value FROM renamed
        WHERE technology = 'EAF Steel'
    UNION ALL SELECT 'EAF', year, value FROM renamed
        WHERE technology = 'EAF Steel'
    UNION ALL SELECT 'DRI-EAF', year, value FROM renamed
        WHERE technology = 'DRI'
    UNION ALL SELECT 'BF-BOF', year, value FROM renamed
        WHERE technology = 'BOF'
    UNION ALL SELECT 'DRI-BOF', year, value FROM renamed
        WHERE technology = 'DRI'
    UNION ALL SELECT 'BF-OHF', year, value FROM renamed
        WHERE technology = 'OHF Steel'
),
scen2 AS (
    SELECT technology, 'Steel_baseline' AS scenario,
        'Global' AS scenario_geography, year, value FROM cloned
    UNION ALL
    SELECT technology, 'Steel_NZ' AS scenario,
        'Global' AS scenario_geography, year, value FROM cloned
),
combos AS (
    SELECT DISTINCT technology, scenario, scenario_geography FROM scen2
),
spine AS (
    SELECT c.*, CAST(unnest(generate_series(2025, 2028)) AS INTEGER)
        AS year
    FROM combos c
),
dense AS (
    SELECT s.technology, s.scenario, s.scenario_geography, s.year,
        b.value
    FROM spine s LEFT JOIN scen2 b
        USING (technology, scenario, scenario_geography, year)
)
SELECT scenario_geography, scenario, technology, year,
    COALESCE(value, FIRST_VALUE(value IGNORE NULLS) OVER (
        PARTITION BY technology, scenario, scenario_geography
        ORDER BY year
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        AS capacity_factor
FROM dense
WHERE technology IN ('BF-BOF', 'BF-EAF', 'EAF', 'BOF', 'DRI-EAF',
                     'DRI-BOF', 'BF-OHF')
""",
)
def cf4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEM steel capacity factors (prepare_capacity_factors_GEM_steel,
    :815-884): route renames + fan-out clones, both steel scenarios,
    completion, first-non-NA constant fill."""
    from trisk_datawrangle_spark.plans.capacity_factor_sources import (
        prepare_capacity_factors_gem_steel,
    )

    raw = spark.createDataFrame(
        _GEM_ROWS, "technology string, year int, value double"
    )
    out = prepare_capacity_factors_gem_steel(raw, start_year=2025, max_year=2028)
    return out.select(
        "scenario_geography",
        "scenario",
        "technology",
        "year",
        "capacity_factor",
    )


# ------------------------------------------------------------------ #
# cf5 — Oxford capacity factors (:764-812)                            #
# ------------------------------------------------------------------ #


@q(
    "cf5_oxford_capacity_factors",
    """
WITH techs AS (
    SELECT * FROM (VALUES ('CoalCap'), ('GasCap')) AS t(technology)
),
yr AS (SELECT * FROM (VALUES (2038), (2039), (2040)) AS t(year)),
raw AS (
    SELECT
        CASE WHEN n_nationkey % 2 = 0 THEN 'WEO2021_SDS'
             ELSE 'WEO2021_STEPS' END AS scenario,
        CASE WHEN n_nationkey % 5 = 0 THEN 'Global' ELSE n_name END
            AS scenario_geography,
        technology, year,
        CAST((n_nationkey * 3 + year + length(technology)) % 50 + 10
             AS DOUBLE) / 100.0 AS capacity_factor
    FROM nation CROSS JOIN techs CROSS JOIN yr
),
matched AS (
    SELECT CASE scenario WHEN 'WEO2021_SDS' THEN 'Oxford2021_fast'
           WHEN 'WEO2021_STEPS' THEN 'Oxford2021_base' END AS scenario,
        scenario_geography, technology, year, capacity_factor
    FROM raw
    WHERE scenario_geography = 'Global'
      AND scenario IN ('WEO2021_SDS', 'WEO2021_STEPS')
),
trunc AS (
    SELECT * FROM matched WHERE year <= 2040
),
last_years AS (
    SELECT scenario, scenario_geography, technology,
        MAX(year) AS hold_year
    FROM trunc WHERE capacity_factor IS NOT NULL
    GROUP BY 1, 2, 3
),
hold AS (
    SELECT t.scenario, t.scenario_geography, t.technology,
        MAX(t.capacity_factor) AS hold_v
    FROM trunc t JOIN last_years l
        ON t.scenario = l.scenario
       AND t.scenario_geography = l.scenario_geography
       AND t.technology = l.technology AND t.year = l.hold_year
    GROUP BY 1, 2, 3
),
extension AS (
    SELECT scenario, scenario_geography, technology,
        CAST(unnest(generate_series(2041, 2044)) AS INTEGER) AS year,
        hold_v AS capacity_factor
    FROM hold
)
SELECT * FROM trunc
UNION ALL
SELECT * FROM extension
""",
)
def cf5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oxford capacity factors (prepare_capacity_factors_OXF2021,
    :764-812): Global WEO2021 SDS/STEPS factors matched to the Oxford
    scenarios and held constant past 2040."""
    from trisk_datawrangle_spark.plans.capacity_factor_sources import (
        prepare_capacity_factors_oxford,
    )

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    raw = (
        n.select(
            "n_nationkey",
            "n_name",
            F.explode(F.array(F.lit("CoalCap"), F.lit("GasCap"))).alias(
                "technology"
            ),
        )
        .select(
            "*",
            F.explode(
                F.array(F.lit(2038), F.lit(2039), F.lit(2040))
            ).alias("year"),
        )
        .select(
            F.when(k % 2 == 0, F.lit("WEO2021_SDS"))
            .otherwise(F.lit("WEO2021_STEPS"))
            .alias("scenario"),
            F.when(k % 5 == 0, F.lit("Global")).otherwise(F.col("n_name")).alias("scenario_geography"),
            "technology",
            "year",
            (
                ((k * 3 + F.col("year") + F.length("technology")) % 50 + 10)
                .cast("double")
                / 100.0
            ).alias("capacity_factor"),
        )
    )
    out = prepare_capacity_factors_oxford(raw, hold_from=2040, end_year=2044)
    return out.select(
        "scenario",
        "scenario_geography",
        "technology",
        "year",
        "capacity_factor",
    )


# ------------------------------------------------------------------ #
# w0 — end-to-end workflow: scenarios → capacity factors → prices →  #
# carbon → trisk_v2 assembly (run_workflow.R:104-268)                 #
# ------------------------------------------------------------------ #


#: Shared CTE block replaying the w0 workflow's stage outputs in SQL
#: (scenarios_out / cf_out / price_out / price_aligned / carbon_red /
#: price_dim). Reused by the w0 end-to-end oracle AND the q9 FK-audit
#: oracle so the two entries gate the same dataflow.
_W0_CTES = """
WITH ti AS (SELECT * FROM (VALUES (0), (1)) AS t(ti)),
yr2 AS (SELECT * FROM (VALUES (2025), (2027)) AS t(year)),
yr3 AS (SELECT * FROM (VALUES (2025), (2026), (2027)) AS t(year)),
geo AS (
    SELECT n_nationkey AS k,
        CASE WHEN n_nationkey = 0 THEN 'Global' ELSE n_name END AS g,
        CASE WHEN n_nationkey % 2 = 0 THEN 'WEO2023_NZE'
             ELSE 'WEO2023_STEPS' END AS scen
    FROM nation
),
scen_raw AS (
    SELECT scen AS scenario, g AS scenario_geography,
        'Power' AS ald_sector,
        CASE WHEN ti = 0 THEN 'CoalCap' ELSE 'RenewablesCap' END
            AS technology,
        'GW' AS units, year,
        CAST((k * 7 + ti * 13 + year) % 90 + 10 AS DOUBLE) AS value
    FROM geo CROSS JOIN ti CROSS JOIN yr2
),
scen_series AS (
    SELECT scenario, scenario_geography, ald_sector, technology, units,
        MAX(CASE WHEN year = 2025 THEN value END) AS v0,
        MAX(CASE WHEN year = 2027 THEN value END) AS v1
    FROM scen_raw GROUP BY 1, 2, 3, 4, 5
),
scen_dense AS (
    SELECT scenario, scenario_geography, ald_sector, technology, units,
        year,
        CASE year WHEN 2025 THEN v0 WHEN 2027 THEN v1
             ELSE v0 + (v1 - v0) * (year - 2025) / 2.0 END AS value
    FROM scen_series CROSS JOIN yr3
),
tot AS (
    SELECT *, SUM(value) OVER (PARTITION BY scenario,
        scenario_geography, ald_sector, year) AS sector_total
    FROM scen_dense
),
shares AS (
    SELECT *, FIRST_VALUE(value) OVER w AS first_v,
        FIRST_VALUE(sector_total) OVER w AS first_tot
    FROM tot
    WINDOW w AS (PARTITION BY scenario, scenario_geography, ald_sector,
        technology ORDER BY year, value NULLS LAST
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
scenarios_out AS (
    SELECT scenario, scenario_geography, ald_sector,
        technology AS ald_business_unit, units, year,
        CASE WHEN technology = 'RenewablesCap' THEN 'increasing'
             ELSE 'declining' END AS direction,
        ROUND(CASE WHEN technology = 'RenewablesCap'
                   THEN (value - first_v) / first_tot
                   ELSE (value - first_v) / first_v END, 9)
            AS fair_share_perc,
        CASE WHEN scenario = 'WEO2023_STEPS' THEN 'baseline'
             ELSE 'shock' END AS scenario_type
    FROM shares
),
cf_out AS (
    SELECT scen AS scenario, g AS scenario_geography,
        CASE WHEN ti = 0 THEN 'CoalCap' ELSE 'RenewablesCap' END
            AS ald_business_unit,
        year,
        LEAST(GREATEST(
            CAST((k * 5 + ti + year) % 50 + 10 AS DOUBLE)
            / CAST((k * 3 + ti + year) % 40 + 60 AS DOUBLE), 0.0), 1.0)
            AS capacity_factor
    FROM geo CROSS JOIN ti CROSS JOIN yr3
),
price_raw AS (
    SELECT scen AS scenario, g AS scenario_geography, 'Power' AS sector,
        'usd/tonne' AS unit, year,
        CAST((k * 11 + year) % 70 + 5 AS DOUBLE) AS price
    FROM geo CROSS JOIN yr3
),
price_world AS (
    SELECT scenario, 'Global' AS scenario_geography, sector, unit, year,
        AVG(price) AS price
    FROM price_raw WHERE scenario_geography <> 'Global'
    GROUP BY scenario, sector, unit, year
),
price_out AS (
    SELECT * FROM price_raw WHERE scenario_geography <> 'Global'
    UNION ALL SELECT * FROM price_world
),
carbon_red AS (
    SELECT scenario, 'Global' AS scenario_geography, year,
        AVG(carbon_tax) AS carbon_tax
    FROM (VALUES
        ('GCAM', 'WEO2023_NZE', 2025, 40.0),
        ('GCAM', 'WEO2023_NZE', 2026, 60.0),
        ('GCAM', 'WEO2023_NZE', 2027, 80.0),
        ('REMIND', 'WEO2023_NZE', 2025, 50.0),
        ('REMIND', 'WEO2023_NZE', 2026, 70.0),
        ('REMIND', 'WEO2023_NZE', 2027, 90.0),
        ('GCAM', 'WEO2023_STEPS', 2025, 10.0),
        ('GCAM', 'WEO2023_STEPS', 2026, 12.0),
        ('GCAM', 'WEO2023_STEPS', 2027, 14.0),
        ('REMIND', 'WEO2023_STEPS', 2025, 20.0),
        ('REMIND', 'WEO2023_STEPS', 2026, 22.0),
        ('REMIND', 'WEO2023_STEPS', 2027, 24.0)
    ) AS t(model, scenario, year, carbon_tax)
    GROUP BY scenario, year
),
common AS (
    SELECT DISTINCT scenario, scenario_geography FROM scenarios_out
),
price_aligned AS (
    SELECT p.* FROM price_out p
    JOIN common c USING (scenario, scenario_geography)
),
price_dim AS (
    SELECT DISTINCT scenario, sector AS ald_sector, year, price
    FROM price_aligned
)"""


_W0_FINAL_SQL = (
    _W0_CTES
    + """
SELECT s.scenario, s.scenario_geography, s.ald_sector,
    s.ald_business_unit, s.units, s.year, s.direction,
    s.fair_share_perc, s.scenario_type, cf.capacity_factor, p.price,
    cb.carbon_tax,
    regexp_extract(s.scenario, '^[^_]+', 0) AS scenario_provider
FROM scenarios_out s
LEFT JOIN cf_out cf
    ON cf.scenario = s.scenario
   AND cf.scenario_geography = s.scenario_geography
   AND cf.ald_business_unit = s.ald_business_unit
   AND cf.year = s.year
JOIN price_dim p
    ON p.scenario = s.scenario AND p.ald_sector = s.ald_sector
   AND p.year = s.year
LEFT JOIN carbon_red cb
    ON cb.scenario = s.scenario
   AND cb.scenario_geography = s.scenario_geography
   AND cb.year = s.year
"""
)


def _w0_stage_frames(spark: SparkSession, sf_dir: str) -> dict:
    """The w0 workflow's PRE-alignment stage outputs (the published
    quintet minus the closed-source pair): deterministic
    nation-derived fixtures flowed through
    prepare_scenarios_analysis_input → prepare_capacity_factors →
    prepare_price_data_long → prepare_ngfs_carbon_price. Shared by
    the w0 end-to-end entry and the q9 FK audit so both gate the
    identical dataflow (mirroring ``_W0_CTES`` on the oracle side)."""
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

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    geo = F.when(k == 0, F.lit("Global")).otherwise(F.col("n_name"))
    scen_name = (
        F.when(k % 2 == 0, F.lit("WEO2023_NZE"))
        .otherwise(F.lit("WEO2023_STEPS"))
    )
    years = (2025, 2026, 2027)

    scen_raw = (
        n.select(
            "n_nationkey",
            "n_name",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("ti"),
        )
        .select(
            "*",
            F.explode(F.array(F.lit(2025), F.lit(2027))).alias("year"),
        )
        .select(
            F.lit("WEO2023").alias("source"),
            scen_name.alias("scenario"),
            geo.alias("scenario_geography"),
            F.lit("Power").alias("sector"),
            F.when(F.col("ti") == 0, F.lit("CoalCap"))
            .otherwise(F.lit("RenewablesCap"))
            .alias("technology"),
            F.lit("Capacity").alias("indicator"),
            F.lit("GW").alias("units"),
            "year",
            ((k * 7 + F.col("ti") * 13 + F.col("year")) % 90 + 10)
            .cast("double")
            .alias("value"),
        )
    )
    lookup = spark.createDataFrame(
        [("Power", "CoalCap"), ("Power", "RenewablesCap")],
        "ald_sector string, ald_business_unit string",
    )
    # cache before the Q3 assert: its count job and the final collect
    # would otherwise each replay the whole interpolation+share chain
    scen = prepare_scenarios_analysis_input(
        {"all": scen_raw},
        lookup,
        ["WEO2023_STEPS"],
        ["WEO2023_NZE"],
        start_year=2025,
    ).cache()
    scen = assert_all_classified(scen)

    cf_raw = (
        n.select(
            "n_nationkey",
            "n_name",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("ti"),
        )
        .select(
            "*",
            F.explode(
                F.array(F.lit("Capacity"), F.lit("Generation"))
            ).alias("ind"),
        )
        .select(
            scen_name.alias("Scenario"),
            geo.alias("ScenarioGeography"),
            F.when(F.col("ti") == 0, F.lit("Coal"))
            .otherwise(F.lit("Renewables"))
            .alias("Technology"),
            F.col("ind").alias("Indicator"),
            *[
                F.when(
                    F.col("ind") == "Capacity",
                    (k * 3 + F.col("ti") + F.lit(y)) % 40 + 60,
                )
                .otherwise((k * 5 + F.col("ti") + F.lit(y)) % 50 + 10)
                .cast("double")
                .alias(str(y))
                for y in years
            ],
        )
    )
    # same: Q4's bounds count would replay the pivot+spine chain
    cf = validate(
        clone_missing_technologies(prepare_capacity_factors(cf_raw)).cache()
    )

    price_raw = n.select(
        scen_name.alias("scenario"),
        geo.alias("scenario_geography"),
        F.lit("Power").alias("sector"),
        F.lit("usd/tonne").alias("unit"),
        *[
            ((k * 11 + F.lit(y)) % 70 + 5).cast("double").alias(str(y))
            for y in years
        ],
    )
    prices = prepare_price_data_long(price_raw)

    carbon_raw = spark.createDataFrame(
        [
            ("GCAM", "WEO2023_NZE", "World", "Price|Carbon", "US$/t",
             40.0, 60.0, 80.0),
            ("REMIND", "WEO2023_NZE", "World", "Price|Carbon", "US$/t",
             50.0, 70.0, 90.0),
            ("GCAM", "WEO2023_STEPS", "World", "Price|Carbon", "US$/t",
             10.0, 12.0, 14.0),
            ("REMIND", "WEO2023_STEPS", "World", "Price|Carbon", "US$/t",
             20.0, 22.0, 24.0),
        ],
        "Model string, Scenario string, Region string, Variable string, "
        "Unit string, `2025` double, `2026` double, `2027` double",
    )
    carbon = prepare_ngfs_carbon_price(carbon_raw)
    return {"scen": scen, "cf": cf, "prices": prices, "carbon": carbon}


def _w0_stage_frames_materialized(
    spark: SparkSession, sf_dir: str
) -> dict:
    """The w0 stage quartet, eagerly localCheckpointed from a small
    thread pool (r13; guide §2.6 overlap independent jobs + the q9
    plan-truncation idiom): the downstream align/assemble (w0) and
    the 12 FK audits (q9) reference each stage frame several times,
    and every reference re-PLANS the whole interpolation/share chain
    (w0's executed plan measured 530 KB); checkpointing truncates
    each to its tiny materialized RDD, and the four independent
    materializations overlap instead of running in sequence."""
    import concurrent.futures

    fr = _w0_stage_frames(spark, sf_dir)
    with concurrent.futures.ThreadPoolExecutor(4) as pool:
        futs = {
            k: pool.submit(lambda f=v: f.localCheckpoint(eager=True))
            for k, v in fr.items()
        }
        return {k: f.result() for k, f in futs.items()}


@q("w0_run_workflow_e2e", _W0_FINAL_SQL)
def w0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end workflow oracle (run_workflow.R:104-268 composed
    with every upstream stage): the :func:`_w0_stage_frames` fixtures
    flow through align_to_common_scenarios → assemble_scenarios_data,
    and the ORACLE replays the whole dataflow in SQL — the composed
    pipeline is hash-gated, not just its stages.

    Determinism: integer-valued inputs, gap-year interpolation lands
    on exact binary halves, and means/shares are single identical
    IEEE divisions on both engines."""
    from trisk_datawrangle_spark.plans.trisk_v2 import (
        align_to_common_scenarios,
        assemble_scenarios_data,
    )

    fr = _w0_stage_frames_materialized(spark, sf_dir)
    scen, prices, cf = align_to_common_scenarios(
        fr["scen"], fr["prices"], fr["cf"]
    )
    out = assemble_scenarios_data(scen, cf, prices, fr["carbon"])
    return out.select(
        "scenario",
        "scenario_geography",
        "ald_sector",
        "ald_business_unit",
        "units",
        "year",
        "direction",
        "fair_share_perc",
        "scenario_type",
        "capacity_factor",
        "price",
        "carbon_tax",
        "scenario_provider",
    )


# ------------------------------------------------------------------ #
# q9 — referential-integrity audit across the workflow outputs        #
# (data-raw/outputs_structure.dbml:69-107)                            #
# ------------------------------------------------------------------ #

#: The dbml's single-column Ref lines instantiable on the w0 stage
#: outputs. dbml ``Ref: A.col < B.col`` is one-to-many with B the
#: MANY (child/FK) side, so Scenarios_AnalysisInput is the child of
#: the three lookup tables its assembly joins against: each tuple is
#: (child_column, parent table, SQL CTE name, parent column).
#: Skipped refs, with cause: scen.ald_business_unit →
#: price_data_long.ald_business_unit (the fixture price table is
#: sector-grain — no such column), and the six abcd-side refs
#: (closed-source stage; gated by the assert_fk calls in
#: tests/test_run_workflow.py on the synthetic workflow outputs).
_Q9_REFS = [
    ("year", "price_data_long", "price_out", "year"),
    ("scenario_geography", "price_data_long", "price_out",
     "scenario_geography"),
    ("scenario", "price_data_long", "price_out", "scenario"),
    ("ald_sector", "price_data_long", "price_out", "sector"),
    ("units", "price_data_long", "price_out", "unit"),
    ("year", "ngfs_carbon_price", "carbon_pub", "year"),
    ("scenario", "ngfs_carbon_price", "carbon_pub", "scenario"),
    ("scenario_geography", "ngfs_carbon_price", "carbon_pub",
     "scenario_geography"),
    ("scenario_geography", "prewrangled_capacity_factors", "cf_out",
     "scenario_geography"),
    ("ald_business_unit", "prewrangled_capacity_factors", "cf_out",
     "ald_business_unit"),
    ("scenario", "prewrangled_capacity_factors", "cf_out", "scenario"),
    ("year", "prewrangled_capacity_factors", "cf_out", "year"),
]


def _q9_sql() -> str:
    """FK-audit oracle: per dbml Ref line, count the child's distinct
    non-NULL values absent from the parent column plus the child rows
    carrying them. ``carbon_pub`` is the PUBLISHED (pre-model-mean)
    carbon table the dbml describes — carbon_red is the reduced form
    assemble consumes."""
    carbon = """,
carbon_pub AS (
    SELECT model, scenario, 'World' AS scenario_geography, year,
           carbon_tax
    FROM (VALUES
        ('GCAM', 'WEO2023_NZE', 2025, 40.0),
        ('GCAM', 'WEO2023_NZE', 2026, 60.0),
        ('GCAM', 'WEO2023_NZE', 2027, 80.0),
        ('REMIND', 'WEO2023_NZE', 2025, 50.0),
        ('REMIND', 'WEO2023_NZE', 2026, 70.0),
        ('REMIND', 'WEO2023_NZE', 2027, 90.0),
        ('GCAM', 'WEO2023_STEPS', 2025, 10.0),
        ('GCAM', 'WEO2023_STEPS', 2026, 12.0),
        ('GCAM', 'WEO2023_STEPS', 2027, 14.0),
        ('REMIND', 'WEO2023_STEPS', 2025, 20.0),
        ('REMIND', 'WEO2023_STEPS', 2026, 22.0),
        ('REMIND', 'WEO2023_STEPS', 2027, 24.0)
    ) AS t(model, scenario, year, carbon_tax)
)"""
    blocks = []
    for ccol, ptbl, pcte, pcol in _Q9_REFS:
        blocks.append(
            f"""
SELECT '{ccol}' AS child_column, '{ptbl}' AS parent_table,
       '{pcol}' AS parent_column,
       COUNT(*) AS orphan_keys,
       CAST(COALESCE(SUM(n), 0) AS BIGINT) AS orphan_rows
FROM (SELECT {ccol} AS v, COUNT(*) AS n FROM scenarios_out
      WHERE {ccol} IS NOT NULL GROUP BY 1) c
WHERE NOT EXISTS (SELECT 1 FROM {pcte} p WHERE p.{pcol} = c.v)"""
        )
    return _W0_CTES + carbon + "\nUNION ALL".join(blocks)


@q("q9_fk_integrity", _q9_sql())
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity gate across the workflow outputs: every
    dbml-declared FK (outputs_structure.dbml:69-95) audited with
    :func:`~trisk_datawrangle_spark.operators.quality.fk_orphans` on
    the SAME stage frames w0 hash-gates, reported as one row per Ref
    line (orphan key count + orphan row count). On these fixtures the
    units ref (scen 'GW' vs price 'usd/tonne') and the carbon
    geography ref (carbon publishes 'World' pre-reduction) are
    genuinely violated, so the audit's non-zero path is hash-gated
    too, not just the all-clear.

    Scale shape per audit: child pre-aggregated to distinct values
    (map-side combine), parent column-pruned + distinct, one
    broadcast-sized anti-join — never a fact-table shuffle."""
    from trisk_datawrangle_spark.operators.quality import fk_orphans

    # 12 audit subtrees share the four stage frames; the shared
    # materializer (r13) eagerly localCheckpoints them from a thread
    # pool — each interpolation/share chain computes exactly once and
    # the plans the audits see are truncated to the tiny RDDs (plain
    # .cache() still planned 12 copies of the chain into the single
    # union job).
    fr = _w0_stage_frames_materialized(spark, sf_dir)
    parents = {
        "price_data_long": fr["prices"],
        "ngfs_carbon_price": fr["carbon"],
        "prewrangled_capacity_factors": fr["cf"],
    }
    scen = fr["scen"]
    reports = []
    for ccol, ptbl, _, pcol in _Q9_REFS:
        orphans = fk_orphans(scen, parents[ptbl], {ccol: pcol})
        reports.append(
            orphans.agg(
                F.count(F.lit(1)).alias("orphan_keys"),
                F.coalesce(F.sum("orphan_rows"), F.lit(0))
                .cast("long")
                .alias("orphan_rows"),
            ).select(
                F.lit(ccol).alias("child_column"),
                F.lit(ptbl).alias("parent_table"),
                F.lit(pcol).alias("parent_column"),
                "orphan_keys",
                "orphan_rows",
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


# ------------------------------------------------------------------ #
# w1 — end-to-end assets workflow: abcd → financial →                 #
# assemble_assets_data (run_workflow.R:104-160)                       #
# ------------------------------------------------------------------ #


@q(
    "w1_assets_e2e",
    """
WITH ti AS (SELECT * FROM (VALUES (0), (1)) AS t(ti)),
li AS (SELECT * FROM (VALUES (0), (1)) AS t(li)),
yr AS (SELECT * FROM (VALUES (2025), (2026), (2027)) AS t(year)),
base AS (
    SELECT n_nationkey AS k, n_nationkey + 1 AS cid,
        CASE WHEN n_nationkey = 7 THEN 'Unknown Owner'
             ELSE 'Co ' || (n_nationkey + 1) END AS company_name
    FROM nation
),
-- abcd stage: melt + location rollup (locations summed, min kept)
rolled AS (
    SELECT cid AS company_id, company_name, 'Power' AS ald_sector,
        CASE WHEN ti = 0 THEN 'CoalCap' ELSE 'RenewablesCap' END
            AS ald_business_unit,
        'MW' AS ald_production_unit, year,
        SUM(CAST(CASE WHEN k = 3 AND ti = 0 AND year = 2025 THEN 0
                 ELSE (k * 7 + ti * 3 + li * 5 + year) % 50 + 1 END
                 AS DOUBLE)) AS plan_tech_prod,
        SUM(CAST((k * 11 + ti * 2 + li * 7 + year) % 40 + 1 AS DOUBLE))
            AS plan_emissions,
        MIN(CASE WHEN li = 0 THEN 'AA' ELSE 'BB' END) AS country_iso2
    FROM base CROSS JOIN ti CROSS JOIN li CROSS JOIN yr
    WHERE company_name <> 'Unknown Owner'
    GROUP BY 1, 2, 3, 4, 5, 6
),
with_ef AS (
    SELECT *,
        CASE WHEN plan_tech_prod <> 0
             THEN plan_emissions / plan_tech_prod END
            AS plan_emission_factor,
        'tCO2/MW' AS emissions_factor_unit
    FROM rolled
),
assets AS (
    SELECT company_id, ald_sector, ald_business_unit,
        ald_production_unit,
        company_id || '_' || ROW_NUMBER() OVER (
            PARTITION BY company_id
            ORDER BY ald_sector, ald_business_unit, ald_production_unit)
            AS asset_id
    FROM (SELECT DISTINCT company_id, ald_sector, ald_business_unit,
          ald_production_unit FROM with_ef)
),
abcd AS (
    SELECT w.company_id, w.company_name, w.ald_sector,
        w.ald_business_unit, w.country_iso2, a.asset_id,
        'Global' AS scenario_geography, w.year, w.ald_production_unit,
        w.emissions_factor_unit, w.plan_tech_prod,
        w.plan_emission_factor
    FROM with_ef w JOIN assets a
        USING (company_id, ald_sector, ald_business_unit,
               ald_production_unit)
),
gated AS (
    SELECT * FROM (
        SELECT *, FIRST_VALUE(plan_tech_prod) OVER (
            PARTITION BY company_id, ald_business_unit,
                ald_production_unit ORDER BY year
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            AS first_prod
        FROM abcd
    ) WHERE first_prod > 0
),
-- financial stage
companies AS (SELECT DISTINCT company_id, ald_sector FROM gated),
eikon AS (
    SELECT cid AS company_id, i,
        CASE WHEN k % 2 = 0 THEN 'EU' ELSE 'AS' END AS region,
        CAST((k * 5 + 1) % 40 + 1 AS DOUBLE) / 100.0 AS pd,
        CASE WHEN k = 6 AND i = 0 THEN CAST(1.5 AS DOUBLE)
             ELSE CAST((k * 7 + 11) % 90 + 5 AS DOUBLE) / 100.0 END
            AS net_profit_margin,
        CAST((k * 9 + 7) % 60 + 2 AS DOUBLE) / 10.0
            AS debt_equity_ratio,
        CAST((k * 4 + 5) % 30 + 3 AS DOUBLE) / 100.0 AS volatility
    FROM base CROSS JOIN (SELECT * FROM (VALUES (0), (1)) AS t(i))
    WHERE k % 7 <> 3
),
firm AS (
    SELECT e.company_id, c.ald_sector, e.region,
        MEDIAN(CASE WHEN e.pd BETWEEN -1e308 AND 1e308 THEN e.pd END)
            AS pd,
        MEDIAN(CASE WHEN e.net_profit_margin BETWEEN 0.0 AND 1.0
               THEN e.net_profit_margin END) AS net_profit_margin,
        MEDIAN(e.debt_equity_ratio) AS debt_equity_ratio,
        MEDIAN(e.volatility) AS volatility
    FROM eikon e JOIN companies c USING (company_id)
    GROUP BY 1, 2, 3
),
missing AS (
    SELECT c.company_id, c.ald_sector FROM companies c
    WHERE NOT EXISTS (
        SELECT 1 FROM firm f WHERE f.company_id = c.company_id)
),
inherited AS (
    SELECT m.company_id, m.ald_sector, f.region, f.pd,
        f.net_profit_margin, f.debt_equity_ratio, f.volatility
    FROM missing m
    JOIN firm f ON f.company_id = m.company_id - 1
               AND f.ald_sector = m.ald_sector
),
fin AS (
    SELECT company_id, ald_sector, pd, net_profit_margin,
        debt_equity_ratio, volatility
    FROM firm
    UNION ALL
    SELECT company_id, ald_sector, pd, net_profit_margin,
        debt_equity_ratio, volatility
    FROM inherited
),
-- trisk_v2 assets assembly
with_cf AS (
    SELECT *,
        CASE WHEN MAX(plan_tech_prod) OVER (PARTITION BY asset_id) > 0
             THEN plan_tech_prod
                  / MAX(plan_tech_prod) OVER (PARTITION BY asset_id)
             ELSE 0.0 END AS capacity_factor
    FROM (SELECT company_id, company_name, ald_sector,
          ald_business_unit, country_iso2, asset_id,
          scenario_geography, year, ald_production_unit,
          emissions_factor_unit, plan_tech_prod, plan_emission_factor
          FROM gated)
)
SELECT w.*, f.pd, f.net_profit_margin, f.debt_equity_ratio,
    f.volatility
FROM with_cf w
LEFT JOIN fin f USING (company_id, ald_sector)
""",
)
def w1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end assets workflow oracle (run_workflow.R:104-160
    composed with §3.1 + §3.2): deterministic nation-derived wide
    activity/emission tables flow through prepare_abcd_data →
    first_year_positive → prepare_financial_data (with ownership
    inheritance for Eikon-missing companies) → assemble_assets_data,
    and the oracle replays the dataflow in SQL.

    Determinism notes: years are dense so spine/interpolation are
    structural no-ops; both isins of a company carry IDENTICAL
    indicator values so the median is formula-invariant (Spark's
    interpolating percentile vs DuckDB MEDIAN); one out-of-range
    net-profit-margin exercises the F12 gate; the zero-production
    first year exercises the P9 gate after asset ids are assigned."""
    from trisk_datawrangle_spark.operators.persist import stage_boundary
    from trisk_datawrangle_spark.plans.abcd import (
        first_year_positive,
        prepare_abcd_data,
    )
    from trisk_datawrangle_spark.plans.financial import (
        prepare_financial_data,
    )
    from trisk_datawrangle_spark.plans.trisk_v2 import assemble_assets_data

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    cid = (k + 1).alias("company_id")
    cname = (
        F.when(k == 7, F.lit("Unknown Owner"))
        .otherwise(F.concat(F.lit("Co "), (k + 1).cast("string")))
        .alias("company_name")
    )
    years = (2025, 2026, 2027)

    def wide(emissions: bool) -> DataFrame:
        unit = "tCO2" if emissions else "MW"
        cols = []
        for y in years:
            if emissions:
                v = (k * 11 + F.col("ti") * 2 + F.col("li") * 7 + F.lit(y)) % 40 + 1
            else:
                v = F.when(
                    (k == 3) & (F.col("ti") == 0) & (F.lit(y) == 2025),
                    F.lit(0),
                ).otherwise(
                    (k * 7 + F.col("ti") * 3 + F.col("li") * 5 + F.lit(y)) % 50 + 1
                )
            cols.append(v.cast("double").alias(f"Equity Ownership {y}"))
        return (
            n.select(
                "n_nationkey",
                F.explode(F.array(F.lit(0), F.lit(1))).alias("ti"),
            )
            .select(
                "*",
                F.explode(F.array(F.lit(0), F.lit(1))).alias("li"),
            )
            .select(
                cid,
                cname,
                F.lit("Power").alias("ald_sector"),
                F.when(F.col("ti") == 0, F.lit("CoalCap"))
                .otherwise(F.lit("RenewablesCap"))
                .alias("ald_business_unit"),
                F.when(F.col("li") == 0, F.lit("AA"))
                .otherwise(F.lit("BB"))
                .alias("ald_location"),
                F.lit(unit).alias("activity_unit"),
                *cols,
            )
        )

    # stage boundary, as run_workflow's parquet handoff between the
    # abcd and financial stages: the financial chain and the assembly
    # both build on top of this frame, and without the cut Catalyst
    # re-analyzes the embedded subtree at every operator. The frame
    # is series-grain (tiny), so materializing it is free.
    abcd = stage_boundary(
        first_year_positive(
            prepare_abcd_data(
                wide(False), wide(True), start_year=2025, time_horizon=2
            ),
            ["company_id", "ald_business_unit", "ald_production_unit"],
        )
    )

    eikon = (
        n.select(
            "n_nationkey",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("i"),
        )
        .filter(k % 7 != 3)
        .select(
            F.concat(F.lit("IS"), k.cast("string"), F.lit("_"), F.col("i").cast("string")).alias("isin"),
            cid,
            F.lit("XX").alias("ald_location"),
            F.when(k % 2 == 0, F.lit("EU")).otherwise(F.lit("AS")).alias("region"),
            ((k * 5 + 1) % 40 + 1).cast("double") / 100.0,
            F.when((k == 6) & (F.col("i") == 0), F.lit(1.5))
            .otherwise(((k * 7 + 11) % 90 + 5).cast("double") / 100.0)
            .alias("net_profit_margin"),
            ((k * 9 + 7) % 60 + 2).cast("double") / 10.0,
            ((k * 4 + 5) % 30 + 3).cast("double") / 100.0,
        )
        .toDF(
            "isin",
            "company_id",
            "ald_location",
            "region",
            "pd",
            "net_profit_margin",
            "debt_equity_ratio",
            "volatility",
        )
    )
    tree = n.filter(k >= 1).select(
        k.alias("subsidiary_company_id") + 1,
        k.alias("parent_company_id"),
        F.lit(1.0).alias("linking_stake"),
        F.lit(1).alias("ownership_level"),
    ).toDF(
        "subsidiary_company_id",
        "parent_company_id",
        "linking_stake",
        "ownership_level",
    )
    companies = abcd.select("company_id", "ald_sector").distinct()
    fin = stage_boundary(prepare_financial_data(eikon, companies, tree))

    out = assemble_assets_data(abcd, fin)
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
        "capacity_factor",
        "pd",
        "net_profit_margin",
        "debt_equity_ratio",
        "volatility",
    )


# ------------------------------------------------------------------ #
# pr1 — WEO2021 price chain (prepare_price_data_long.R:11-246)        #
# ------------------------------------------------------------------ #


@q(
    "pr1_weo2021_prices",
    """
WITH yr2 AS (SELECT * FROM (VALUES (2020), (2022)) AS t(year)),
yr3 AS (SELECT * FROM (VALUES (2020), (2021), (2022)) AS t(year)),
fuels AS (
    SELECT * FROM (VALUES
        ('Crude oil', 'usd/barrel'), ('Coal', 'usd/tonne'),
        ('Natural gas', 'usd/Mbtu')
    ) AS t(fuel, unit0)
),
fossil_raw AS (
    SELECT 'WEO2020' AS source, fuel, unit0, n_name AS geo,
        CASE WHEN n_nationkey % 2 = 0 THEN 'STEPS' ELSE 'SDS' END
            AS scenario,
        year,
        CAST((n_nationkey * 3 + year + length(fuel)) % 60 + 10
             AS DOUBLE) AS price
    FROM nation CROSS JOIN fuels CROSS JOIN yr2
    WHERE NOT (fuel = 'Natural gas' AND n_nationkey NOT IN (1, 2))
),
fossil AS (
    SELECT source, scenario, geo AS scenario_geography,
        CASE WHEN fuel = 'Coal' THEN 'Coal' ELSE 'Oil&Gas' END
            AS sector,
        CASE fuel WHEN 'Crude oil' THEN 'Oil'
            WHEN 'Natural gas' THEN 'Gas' ELSE fuel END AS technology,
        'price' AS indicator,
        CASE WHEN unit0 IN ('usd/barrel', 'usd/Mbtu') THEN 'GJ'
             ELSE unit0 END AS unit,
        year,
        CASE unit0 WHEN 'usd/barrel' THEN price * 0.16
            WHEN 'usd/Mbtu' THEN price * 0.9478171203
            ELSE price END AS price
    FROM fossil_raw
),
fossil_global AS (
    SELECT source, scenario, 'Global' AS scenario_geography, sector,
        technology, indicator, unit, year, AVG(price) AS price
    FROM fossil WHERE technology IN ('Gas', 'Coal')
    GROUP BY source, scenario, sector, technology, indicator, unit, year
),
fossil_all AS (
    SELECT * FROM fossil UNION ALL SELECT * FROM fossil_global
),
ptechs AS (
    SELECT * FROM (VALUES
        ('Gas CCGT'), ('Solar PV'), ('Wind onshore')
    ) AS t(tech0)
),
power_raw AS (
    SELECT 'WEO2020' AS source,
        CASE WHEN n_nationkey % 2 = 0 THEN 'STEPS' ELSE 'SDS' END
            AS scenario,
        n_name AS geo, tech0, '$/MWh' AS unit, year,
        CASE WHEN tech0 = 'Gas CCGT' AND n_nationkey = 4
                  AND year = 2022 THEN NULL
             ELSE CAST((n_nationkey * 5 + year + length(tech0)) % 40
                       + 20 AS DOUBLE) END AS price
    FROM nation CROSS JOIN ptechs CROSS JOIN yr2
),
power_shaped AS (
    SELECT source, scenario, geo AS scenario_geography,
        'Power' AS sector,
        CASE tech0 WHEN 'Gas CCGT' THEN 'GasCap'
            ELSE 'RenewablesCap' END AS technology,
        'LCOE' AS indicator, unit, year, price
    FROM power_raw
),
power_fanned AS (
    SELECT source, scenario, scenario_geography, sector, technology,
        unit, year, indicator, AVG(price) AS price
    FROM power_shaped
    GROUP BY source, scenario, scenario_geography, sector, technology,
        unit, year, indicator
),
power_cloned AS (
    SELECT * FROM power_fanned
    UNION ALL
    SELECT source, scenario, scenario_geography, sector,
        CASE technology WHEN 'GasCap' THEN 'OilCap'
            ELSE 'HydroCap' END AS technology,
        unit, year, indicator, price
    FROM power_fanned
    WHERE technology IN ('GasCap', 'RenewablesCap')
),
power_locf AS (
    SELECT source, scenario, scenario_geography, sector, technology,
        unit, year, indicator,
        COALESCE(price, LAST_VALUE(price IGNORE NULLS) OVER (
            PARTITION BY source, technology, unit, scenario_geography,
                scenario, sector, indicator ORDER BY year
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS price
    FROM power_cloned
),
power_global AS (
    SELECT source, scenario, 'Global' AS scenario_geography, sector,
        technology, unit, year, indicator, AVG(price) AS price
    FROM power_locf
    GROUP BY source, scenario, sector, technology, unit, year, indicator
),
power_all AS (
    SELECT * FROM power_locf UNION ALL SELECT * FROM power_global
),
unioned AS (
    SELECT source, scenario, scenario_geography, sector, technology,
        indicator, unit, year, price
    FROM fossil_all
    UNION ALL
    SELECT source, scenario, scenario_geography, sector, technology,
        indicator, unit, year, price
    FROM power_all
),
spine AS (
    SELECT s.*, y.year AS yy
    FROM (SELECT DISTINCT source, scenario, scenario_geography, sector,
          technology, indicator, unit FROM unioned) s
    CROSS JOIN yr3 y
),
dense AS (
    SELECT sp.source, sp.scenario, sp.scenario_geography, sp.sector,
        sp.technology, sp.indicator, sp.unit, sp.yy AS year, u.price
    FROM spine sp LEFT JOIN unioned u
        ON u.source = sp.source AND u.scenario = sp.scenario
       AND u.scenario_geography = sp.scenario_geography
       AND u.sector = sp.sector AND u.technology = sp.technology
       AND u.indicator = sp.indicator AND u.unit = sp.unit
       AND u.year = sp.yy
),
marked AS (
    SELECT *,
        last_value(price IGNORE NULLS) OVER wback AS prev_v,
        last_value(CASE WHEN price IS NOT NULL THEN year END
            IGNORE NULLS) OVER wback AS prev_x,
        first_value(price IGNORE NULLS) OVER wfwd AS next_v,
        first_value(CASE WHEN price IS NOT NULL THEN year END
            IGNORE NULLS) OVER wfwd AS next_x
    FROM dense
    WINDOW wback AS (
        PARTITION BY source, scenario, scenario_geography, sector,
            technology, indicator, unit ORDER BY year
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wfwd AS (
        PARTITION BY source, scenario, scenario_geography, sector,
            technology, indicator, unit ORDER BY year
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT source, scenario, scenario_geography, sector, technology,
    indicator, unit, year,
    CASE WHEN price IS NOT NULL THEN price
         WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
         THEN prev_v + (next_v - prev_v) * (year - prev_x)
              / (next_x - prev_x) END AS price
FROM marked
WHERE price IS NOT NULL
   OR (prev_v IS NOT NULL AND next_v IS NOT NULL)
""",
)
def pr1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEO2021 price chain (prepare_price_data_long_WEO2021, :11-246):
    fossil conversions + Gas/Coal global means; power LCOE fan-in
    (mean), placeholder clones, LOCF, global means; fixed spine +
    interpolation with dropped edges. Determinism: every mean pools
    integers or exact halves (the converted Mbtu pool is exactly two
    rows), so sums are order-independent."""
    from trisk_datawrangle_spark.plans.price_sources import (
        wrangle_prices_weo2021,
    )

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    scen = F.when(k % 2 == 0, F.lit("STEPS")).otherwise(F.lit("SDS"))
    fuels = [
        ("Crude oil", "usd/barrel"),
        ("Coal", "usd/tonne"),
        ("Natural gas", "usd/Mbtu"),
    ]
    fuel_struct = F.array(
        *[
            F.struct(F.lit(f).alias("fuel"), F.lit(u).alias("unit0"))
            for f, u in fuels
        ]
    )
    fossil = (
        n.select("n_nationkey", "n_name", F.explode(fuel_struct).alias("f"))
        .filter(
            ~((F.col("f.fuel") == "Natural gas") & ~k.isin(1, 2))
        )
        .select(
            F.lit("WEO2020").alias("source"),
            F.col("f.fuel").alias("sector"),
            F.col("f.unit0").alias("unit"),
            F.col("n_name").alias("scenario_geography"),
            scen.alias("scenario"),
            *[
                ((k * 3 + F.lit(y) + F.length("f.fuel")) % 60 + 10)
                .cast("double")
                .alias(str(y))
                for y in (2020, 2022)
            ],
        )
    )
    power = (
        n.select(
            "n_nationkey",
            "n_name",
            F.explode(
                F.array(
                    F.lit("Gas CCGT"), F.lit("Solar PV"), F.lit("Wind onshore")
                )
            ).alias("tech0"),
        )
        .select(
            F.lit("WEO2020").alias("source"),
            scen.alias("scenario"),
            F.col("n_name").alias("region"),
            F.col("tech0").alias("technology"),
            F.lit("LCOE").alias("indicator"),
            F.lit("$/MWh").alias("unit"),
            *[
                F.when(
                    (F.col("tech0") == "Gas CCGT")
                    & (k == 4)
                    & (F.lit(y) == 2022),
                    F.lit(None).cast("double"),
                )
                .otherwise(
                    ((k * 5 + F.lit(y) + F.length("tech0")) % 40 + 20)
                    .cast("double")
                )
                .alias(str(y))
                for y in (2020, 2022)
            ],
        )
    )
    out = wrangle_prices_weo2021(fossil, power)
    return out.select(
        "source",
        "scenario",
        "scenario_geography",
        "sector",
        "technology",
        "indicator",
        "unit",
        "year",
        "price",
    )


# ------------------------------------------------------------------ #
# pr2 — NGFS price chain (:247-374)                                   #
# ------------------------------------------------------------------ #


@q(
    "pr2_ngfs_prices",
    """
WITH fuels AS (
    SELECT * FROM (VALUES ('Oil'), ('Gas'), ('Coal')) AS t(fuel)
),
yr AS (SELECT * FROM (VALUES (2030), (2032)) AS t(year)),
raw AS (
    SELECT
        CASE n_nationkey % 3 WHEN 0 THEN 'GCAM 6.0 NGFS'
            WHEN 1 THEN 'REMIND-MAgPIE 3.2-4.6'
            ELSE 'MESSAGEix-GLOBIOM 1.1-M-R12' END AS model0,
        CASE WHEN n_nationkey % 2 = 0 THEN 'Net Zero 2050'
             ELSE 'Current Policies' END AS scenario0,
        CASE WHEN n_nationkey % 5 = 0 THEN 'World' ELSE n_name END
            AS region, fuel, year,
        CAST((n_nationkey * 7 + year + length(fuel) * 5) % 50 + 2
             AS DOUBLE) AS value
    FROM nation CROSS JOIN fuels CROSS JOIN yr
),
shaped AS (
    SELECT
        CASE scenario0 WHEN 'Net Zero 2050' THEN 'NZ2050'
            ELSE 'CP' END AS scenario,
        CASE WHEN region = 'World' THEN 'Global' ELSE region END
            AS scenario_geography,
        CASE model0 WHEN 'GCAM 6.0 NGFS' THEN 'GCAM'
            WHEN 'REMIND-MAgPIE 3.2-4.6' THEN 'REMIND'
            ELSE 'MESSAGE' END AS model,
        CASE WHEN fuel IN ('Oil', 'Gas') THEN 'Oil&Gas'
             ELSE 'Coal' END AS sector,
        '$/GJ' AS unit0, fuel AS technology, 'price' AS indicator,
        year, value
    FROM raw
),
series AS (
    SELECT scenario, scenario_geography, model, sector, unit0,
        technology, indicator, MIN(year) AS lo, MAX(year) AS hi
    FROM shaped GROUP BY 1, 2, 3, 4, 5, 6, 7
),
spine AS (
    SELECT scenario, scenario_geography, model, sector, unit0,
        technology, indicator,
        CAST(unnest(generate_series(lo, hi)) AS INTEGER) AS year
    FROM series
),
dense AS (
    SELECT sp.scenario, sp.scenario_geography, sp.model, sp.sector,
        sp.unit0, sp.technology, sp.indicator, sp.year, s.value
    FROM spine sp LEFT JOIN shaped s
        ON s.scenario = sp.scenario
       AND s.scenario_geography = sp.scenario_geography
       AND s.model = sp.model AND s.sector = sp.sector
       AND s.technology = sp.technology AND s.year = sp.year
),
interp AS (
    SELECT scenario, scenario_geography, model, sector, technology,
        indicator, year,
        CASE WHEN value IS NOT NULL THEN value
             ELSE (last_value(value IGNORE NULLS) OVER wb
                   + (first_value(value IGNORE NULLS) OVER wf
                      - last_value(value IGNORE NULLS) OVER wb)
                   * (year - last_value(CASE WHEN value IS NOT NULL
                        THEN year END IGNORE NULLS) OVER wb)
                   / (first_value(CASE WHEN value IS NOT NULL
                        THEN year END IGNORE NULLS) OVER wf
                      - last_value(CASE WHEN value IS NOT NULL
                        THEN year END IGNORE NULLS) OVER wb))
        END AS value
    FROM dense
    WINDOW wb AS (PARTITION BY scenario, scenario_geography, model,
        sector, technology, indicator ORDER BY year
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY scenario, scenario_geography, model, sector,
        technology, indicator ORDER BY year
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
flt AS (SELECT * FROM interp WHERE year >= 2030)
SELECT 'NGFS2023' || model || '_' || scenario AS scenario,
    scenario_geography, sector, technology, indicator,
    CASE WHEN sector = 'Oil&Gas' THEN '$/GJ' ELSE '$/tonnes' END
        AS unit,
    year,
    CASE WHEN sector = 'Coal' THEN value / 0.03414368
         ELSE value END AS price
FROM flt
""",
)
def pr2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NGFS price chain (prepare_price_data_long_NGFS2023, :247-309):
    vocabulary recodes, per-series spine + interpolation, the
    Oil&Gas/$-per-GJ vs Coal/$-per-tonne unit split, and the
    model-prefixed scenario key."""
    from trisk_datawrangle_spark.plans.price_sources import (
        wrangle_prices_ngfs,
    )

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    raw = (
        n.select(
            "n_nationkey",
            "n_name",
            F.explode(
                F.array(F.lit("Oil"), F.lit("Gas"), F.lit("Coal"))
            ).alias("fuel"),
        )
        .select(
            "*",
            F.explode(F.array(F.lit(2030), F.lit(2032))).alias("year"),
        )
        .select(
            F.when(k % 3 == 0, F.lit("GCAM 6.0 NGFS"))
            .when(k % 3 == 1, F.lit("REMIND-MAgPIE 3.2-4.6"))
            .otherwise(F.lit("MESSAGEix-GLOBIOM 1.1-M-R12"))
            .alias("Model"),
            F.when(k % 2 == 0, F.lit("Net Zero 2050"))
            .otherwise(F.lit("Current Policies"))
            .alias("Scenario"),
            F.when(k % 5 == 0, F.lit("World")).otherwise(F.col("n_name")).alias("Region"),
            F.lit("$/GJ").alias("Unit"),
            F.lit("price").alias("category_a"),
            F.col("fuel").alias("category_c"),
            "year",
            ((k * 7 + F.col("year") + F.length("fuel") * 5) % 50 + 2)
            .cast("double")
            .alias("value"),
        )
    )
    out = wrangle_prices_ngfs(raw, start_year=2030)
    return out.select(
        "scenario",
        "scenario_geography",
        "sector",
        "technology",
        "indicator",
        "unit",
        "year",
        "price",
    )


# ------------------------------------------------------------------ #
# pr3 — IPR price chain (:376-483)                                    #
# ------------------------------------------------------------------ #


@q(
    "pr3_ipr_prices",
    """
WITH parts AS (
    SELECT * FROM (VALUES
        ('Coal', 'price'), ('Natural gas', 'high price'),
        ('Natural gas', 'low price'), ('Oil', 'high price'),
        ('Oil', 'low price')
    ) AS t(fuel, vclass)
),
yr AS (SELECT * FROM (VALUES (2030), (2031)) AS t(year)),
raw AS (
    SELECT fuel, vclass,
        CASE WHEN n_nationkey % 2 = 0 THEN 'IPR2023_RPS'
             ELSE 'IPR2023_FPS' END AS scenario,
        year,
        CAST((n_nationkey * 9 + year + length(vclass) * 3) % 80 + 4
             AS DOUBLE) AS price
    FROM nation CROSS JOIN parts CROSS JOIN yr
),
coal AS (
    SELECT scenario, 'price' AS indicator, year, AVG(price) AS price,
        'Global' AS scenario_geography, 'Coal' AS sector,
        'Coal' AS technology, 'USD / tonne' AS unit
    FROM raw WHERE fuel = 'Coal'
    GROUP BY scenario, vclass, year
),
gas1 AS (
    SELECT scenario, vclass, year, AVG(price) AS price
    FROM raw WHERE fuel = 'Natural gas'
    GROUP BY scenario, vclass, year
),
gas AS (
    SELECT scenario, 'price' AS indicator, year, AVG(price) AS price,
        'Global' AS scenario_geography, 'Oil&Gas' AS sector,
        'Gas' AS technology, 'USD / MMBtu' AS unit
    FROM gas1 GROUP BY scenario, year
),
oil AS (
    SELECT scenario, 'price' AS indicator, year, AVG(price) AS price,
        'Global' AS scenario_geography, 'Oil&Gas' AS sector,
        'Oil' AS technology, 'USD / Barrel' AS unit
    FROM raw WHERE fuel = 'Oil'
    GROUP BY scenario, year
),
merged AS (
    SELECT * FROM coal UNION ALL SELECT * FROM gas
    UNION ALL SELECT * FROM oil
)
SELECT scenario, indicator, year,
    CASE unit WHEN 'USD / Barrel' THEN price * 0.16
        WHEN 'USD / MMBtu' THEN price * 0.9478171203
        ELSE price END AS price,
    scenario_geography, sector, technology,
    CASE unit WHEN 'USD / Barrel' THEN 'GJ'
        WHEN 'USD / MMBtu' THEN 'GJ' ELSE 'usd/tonne' END AS unit
FROM merged WHERE year >= 2030
""",
)
def pr3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPR price chain (prepare_price_data_long_IPR2023, :376-483):
    global coal mean, two-stage gas high/low mean, pooled oil mean,
    barrel/MMBtu conversions. All means pool integers, so the sums
    are order-independent."""
    from trisk_datawrangle_spark.plans.price_sources import (
        wrangle_prices_ipr,
    )

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    parts = [
        ("Coal", "price"),
        ("Natural gas", "high price"),
        ("Natural gas", "low price"),
        ("Oil", "high price"),
        ("Oil", "low price"),
    ]
    part_struct = F.array(
        *[
            F.struct(F.lit(f).alias("fuel"), F.lit(v).alias("vclass"))
            for f, v in parts
        ]
    )
    raw = (
        n.select("n_nationkey", "n_name", F.explode(part_struct).alias("p"))
        .select(
            "*",
            F.explode(F.array(F.lit(2030), F.lit(2031))).alias("year"),
        )
        .select(
            F.col("p.fuel").alias("Sub_variable_class_1"),
            F.col("p.vclass").alias("Variable_class"),
            F.when(k % 2 == 0, F.lit("RPS")).otherwise(F.lit("FPS")).alias("Scenario"),
            F.col("n_name").alias("Region"),
            F.lit("USD").alias("Units"),
            "year",
            ((k * 9 + F.col("year") + F.length("p.vclass") * 3) % 80 + 4)
            .cast("double")
            .alias("value"),
        )
    )
    out = wrangle_prices_ipr(raw, start_year=2030)
    return out.select(
        "scenario",
        "indicator",
        "year",
        "price",
        "scenario_geography",
        "sector",
        "technology",
        "unit",
    )


# ------------------------------------------------------------------ #
# pr4 — Oxford price chain (:640-747)                                 #
# ------------------------------------------------------------------ #


@q(
    "pr4_oxford_prices",
    """
WITH techs AS (
    SELECT * FROM (VALUES
        ('Oil', 4, 2), ('Gas', 6, 1), ('Coal', 8, 3)
    ) AS t(tech, base, slope)
),
scens AS (
    SELECT * FROM (VALUES
        ('Oxford - fast_transition', 'Oxford2021_fast', 0),
        ('Oxford - no_transition', 'Oxford2021_base', 5)
    ) AS t(scen0, scen, off)
),
raw AS (
    SELECT tech, scen,
        CAST(unnest(generate_series(2045, 2069)) AS INTEGER) AS year,
        base, slope, off
    FROM techs CROSS JOIN scens
),
conv AS (
    SELECT tech AS technology, scen AS scenario,
        'Global' AS scenario_geography,
        CASE WHEN tech = 'Coal' THEN 'Coal' ELSE 'Oil&Gas' END
            AS sector,
        CASE WHEN tech = 'Coal' THEN 'usd/tonne' ELSE 'GJ' END
            AS unit,
        'price' AS indicator, year,
        CAST(base + off + slope * (year - 2049) AS DOUBLE) AS price
    FROM raw
),
extension AS (
    SELECT technology, scenario, scenario_geography, sector, unit,
        indicator,
        CAST(unnest(generate_series(2070, 2080)) AS INTEGER) AS year,
        CAST(NULL AS DOUBLE) AS price
    FROM (SELECT DISTINCT technology, scenario, scenario_geography,
          sector, unit, indicator FROM conv)
),
dense AS (
    SELECT * FROM conv UNION ALL SELECT * FROM extension
),
fit AS (
    SELECT technology, scenario,
        COUNT(*) AS n,
        SUM(CAST(year AS DOUBLE)) AS sx,
        SUM(price) AS sy,
        SUM(year * price) AS sxy,
        SUM(CAST(year * year AS DOUBLE)) AS sxx
    FROM conv WHERE year BETWEEN 2049 AND 2069
    GROUP BY 1, 2
),
coef AS (
    SELECT technology, scenario,
        (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_f,
        (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
            AS icept_f
    FROM fit
)
SELECT d.technology, d.scenario, d.scenario_geography, d.sector,
    d.unit, d.indicator, d.year,
    COALESCE(d.price, c.slope_f * d.year + c.icept_f) AS price
FROM dense d LEFT JOIN coef c
    ON c.technology = d.technology AND c.scenario = d.scenario
""",
)
def pr4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oxford price chain (prepare_price_data_long_Oxf2021,
    :640-747): $/MWh conversions, slow-scenario drop, and the
    2070+ extension from an OLS line over the 2049-2069 window.
    Fixture prices are exactly linear, so the normal equations
    recover integer coefficients and the extension is exact."""
    from trisk_datawrangle_spark.plans.price_sources import (
        wrangle_prices_oxford,
    )

    techs = [("Oil", 4, 2), ("Gas", 6, 1), ("Coal", 8, 3)]
    scens = [
        ("Oxford - fast_transition", 0),
        ("Oxford - no_transition", 5),
        ("Oxford - slow_transition", 9),  # dropped by the chain
    ]
    tech_struct = F.array(
        *[
            F.struct(
                F.lit(t).alias("tech"),
                F.lit(b).alias("base"),
                F.lit(s).alias("slope"),
            )
            for t, b, s in techs
        ]
    )
    scen_struct = F.array(
        *[
            F.struct(F.lit(s).alias("scen0"), F.lit(o).alias("off"))
            for s, o in scens
        ]
    )
    spark_df = (
        spark.range(1)
        .select(F.explode(tech_struct).alias("t"))
        .select("t", F.explode(scen_struct).alias("s"))
        .select(
            "*",
            F.explode(F.sequence(F.lit(2045), F.lit(2069))).alias("Year"),
        )
        .select(
            F.col("t.tech").alias("Technology"),
            F.lit("Fossil Fuels").alias("Sector"),
            F.col("s.scen0").alias("Scenario"),
            F.lit("World").alias("Region"),
            "Year",
            # LCOE in $/MWh such that the converted price is exactly
            # base + off + slope*(year-2049)
            (
                (
                    F.col("t.base")
                    + F.col("s.off")
                    + F.col("t.slope") * (F.col("Year") - 2049)
                ).cast("double")
                * F.when(F.col("t.tech") == "Coal", F.lit(0.122835))
                .otherwise(F.lit(3.6))
            ).alias("LCOE"),
        )
    )
    out = wrangle_prices_oxford(
        spark_df, start_year=2045, fit_lo=2049, fit_hi=2069, end_year=2080
    )
    return out.select(
        "technology",
        "scenario",
        "scenario_geography",
        "sector",
        "unit",
        "indicator",
        "year",
        "price",
    )


# ------------------------------------------------------------------ #
# pr5 — IPR baseline prices (:629-637) / pr6 — automotive (:750-767)  #
# ------------------------------------------------------------------ #


@q(
    "pr5_ipr_baseline_prices",
    """
SELECT 'IPR2023_baseline' AS scenario, n_name AS scenario_geography,
    'Oil&Gas' AS sector, 'Oil' AS technology, 'GJ' AS unit,
    CAST(2030 + n_nationkey % 3 AS INTEGER) AS year,
    CAST(n_nationkey * 2 + 7 AS DOUBLE) AS price
FROM nation WHERE n_nationkey % 2 = 0
""",
)
def pr5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPR baseline prices (prepare_price_data_long_IPR2023_baseline,
    :629-637): the WEO2021 STEPS table relabeled, everything else
    filtered away."""
    from trisk_datawrangle_spark.plans.price_sources import (
        ipr_prices_baseline,
    )

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    weo = n.select(
        F.when(k % 2 == 0, F.lit("WEO2021_STEPS"))
        .otherwise(F.lit("WEO2021_SDS"))
        .alias("scenario"),
        F.col("n_name").alias("scenario_geography"),
        F.lit("Oil&Gas").alias("sector"),
        F.lit("Oil").alias("technology"),
        F.lit("GJ").alias("unit"),
        (F.lit(2030) + k % 3).cast("int").alias("year"),
        (k * 2 + 7).cast("double").alias("price"),
    )
    return ipr_prices_baseline(weo)


@q(
    "pr6_automotive_prices",
    """
SELECT DISTINCT
    CASE WHEN n_nationkey % 2 = 0 THEN 'GECO2021_CurPol'
         ELSE 'GECO2021_NDC-LTS' END AS scenario,
    'Automotive' AS sector,
    CASE WHEN n_nationkey % 3 = 0 THEN 'Electric' ELSE 'ICE' END
        AS technology,
    CAST(2030 + n_nationkey % 2 AS INTEGER) AS year,
    CAST(1.0 AS DOUBLE) AS price,
    'Global' AS scenario_geography,
    'price' AS indicator, 'dummy' AS unit
FROM nation WHERE n_nationkey % 4 <> 0
""",
)
def pr6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automotive unit prices (create_automotive_prices, :750-767):
    price 1 for every Automotive (scenario, business unit, year) in
    the scenario data; non-Automotive rows contribute nothing."""
    from trisk_datawrangle_spark.plans.price_sources import (
        create_automotive_prices,
    )

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    scen = n.select(
        F.when(k % 2 == 0, F.lit("GECO2021_CurPol"))
        .otherwise(F.lit("GECO2021_NDC-LTS"))
        .alias("scenario"),
        F.when(k % 4 == 0, F.lit("Power"))
        .otherwise(F.lit("Automotive"))
        .alias("ald_sector"),
        F.when(k % 3 == 0, F.lit("Electric"))
        .otherwise(F.lit("ICE"))
        .alias("ald_business_unit"),
        (F.lit(2030) + k % 2).cast("int").alias("year"),
        (k % 10).cast("double").alias("fair_share_perc"),
    )
    return create_automotive_prices(scen)


# ------------------------------------------------------------------ #
# lc1-lc3 — LCOE/LC adjustment variants                               #
# (prepare_LCOE_adjusted_price_data.R)                                #
# ------------------------------------------------------------------ #


@q(
    "lc1_mp_steel_lc_prices",
    """
WITH routes AS (
    SELECT * FROM (VALUES
        ('Avg BF-BOF'), ('DRI-Melt-BOF'), ('EAF'), ('DRI-EAF'), ('Scrap')
    ) AS t(route)
),
scens AS (
    SELECT * FROM (VALUES ('baseline'), ('carbon_cost'), ('other'))
        AS t(scen)
),
yr AS (SELECT * FROM (VALUES (2030), (2040)) AS t(year)),
raw AS (
    SELECT scen AS scenario, n_name AS region, route AS technology,
        year,
        CAST((n_nationkey * 3 + year + length(route) * 7) % 200 + 100
             AS DOUBLE) AS levelized_cost
    FROM nation CROSS JOIN routes CROSS JOIN scens CROSS JOIN yr
),
global_rows AS (
    SELECT scenario, 'Global' AS region, technology, year,
        AVG(levelized_cost) AS levelized_cost
    FROM raw GROUP BY scenario, technology, year
),
allrows AS (
    SELECT * FROM raw UNION ALL SELECT * FROM global_rows
),
shaped AS (
    SELECT scenario, region AS scenario_geography,
        CASE technology WHEN 'Avg BF-BOF' THEN 'BF-BOF'
            WHEN 'DRI-Melt-BOF' THEN 'DRI-BOF'
            ELSE technology END AS technology,
        year, levelized_cost AS price
    FROM allrows
    WHERE technology IN ('Avg BF-BOF', 'DRI-Melt-BOF', 'EAF', 'DRI-EAF')
      AND scenario IN ('baseline', 'carbon_cost')
),
fanned AS (
    SELECT scenario, scenario_geography, technology, year, price
    FROM shaped
    UNION ALL SELECT scenario, scenario_geography, 'BF-EAF', year, price
    FROM shaped WHERE technology = 'EAF'
    UNION ALL SELECT scenario, scenario_geography, 'BOF', year, price
    FROM shaped WHERE technology = 'BF-BOF'
    UNION ALL SELECT scenario, scenario_geography, 'BF-OHF', year, price
    FROM shaped WHERE technology = 'BF-BOF'
),
adjusted AS (
    SELECT scenario, scenario_geography, 'Steel' AS sector, technology,
        '$/ton' AS unit, 'price' AS indicator, year,
        (FIRST_VALUE(price) OVER w / 0.8)
            * (FIRST_VALUE(price) OVER w / price) AS price
    FROM fanned
    WINDOW w AS (PARTITION BY scenario, scenario_geography, technology
        ORDER BY year
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT CASE scenario WHEN 'baseline' THEN 'Steel_baseline'
       ELSE 'Steel_NZ' END AS scenario,
    scenario_geography, sector, technology, unit, indicator, year,
    price
FROM adjusted
""",
)
def lc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mission Possible steel levelized-cost chain
    (MP_LC_steel_wrangling + prepare_lc_adjusted_price_data_steel,
    :333-448): global means, route recodes + clone fan-out, and the
    implied-price adjustment with the Steel_* relabel."""
    from trisk_datawrangle_spark.plans.lcoe_sources import (
        lc_adjust_steel,
        mp_lc_steel_wrangling,
    )

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    routes = ["Avg BF-BOF", "DRI-Melt-BOF", "EAF", "DRI-EAF", "Scrap"]
    scens = ["baseline", "carbon_cost", "other"]
    raw = (
        n.select(
            "n_nationkey",
            "n_name",
            F.explode(F.array(*[F.lit(r) for r in routes])).alias("route"),
        )
        .select(
            "*",
            F.explode(F.array(*[F.lit(s) for s in scens])).alias("scen"),
        )
        .select(
            "*",
            F.explode(F.array(F.lit(2030), F.lit(2040))).alias("year"),
        )
        .select(
            F.col("scen").alias("scenario"),
            F.col("n_name").alias("region"),
            F.col("route").alias("technology"),
            "year",
            ((k * 3 + F.col("year") + F.length("route") * 7) % 200 + 100)
            .cast("double")
            .alias("levelized_cost"),
        )
    )
    wrangled = mp_lc_steel_wrangling(raw)
    out = lc_adjust_steel(wrangled, average_npm_steel=0.2, start_year=2030)
    return out.select(
        "scenario",
        "scenario_geography",
        "sector",
        "technology",
        "unit",
        "indicator",
        "year",
        "price",
    )


@q(
    "lc2_ipr_lcoe_prices",
    """
WITH techs AS (
    SELECT * FROM (VALUES ('CoalCap'), ('GasCap')) AS t(technology)
),
yr AS (SELECT * FROM (VALUES (2021), (2030)) AS t(year)),
raw AS (
    SELECT 'WEO2021' AS source,
        CASE WHEN n_nationkey % 2 = 0 THEN 'SDS' ELSE 'STEPS' END
            AS scenario,
        CASE WHEN n_nationkey % 5 = 0 THEN 'Global' ELSE n_name END
            AS scenario_geography,
        'Power' AS sector, technology, 'LCOE' AS indicator,
        '$/MWh' AS unit, year,
        CAST((n_nationkey * 7 + year + length(technology)) % 80 + 20
             AS DOUBLE) AS price
    FROM nation CROSS JOIN techs CROSS JOIN yr
),
adjusted AS (
    SELECT source, scenario, scenario_geography, sector, technology,
        'price' AS indicator, unit, year,
        (FIRST_VALUE(price) OVER w / 0.8)
            * (FIRST_VALUE(price) OVER w / price) AS price
    FROM raw
    WINDOW w AS (PARTITION BY source, scenario, scenario_geography,
        sector, technology, unit ORDER BY year
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
pruned AS (
    SELECT * FROM adjusted
    WHERE scenario_geography = 'Global' AND scenario = 'SDS'
)
SELECT source, 'IPR2023_FPS' AS scenario, scenario_geography, sector,
    technology, indicator, unit, year, price
FROM pruned
UNION ALL
SELECT source, 'IPR2023_RPS' AS scenario, scenario_geography, sector,
    technology, indicator, unit, year, price
FROM pruned
""",
)
def lc2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPR LCOE adjustment (prepare_lcoe_adjusted_price_data_IPR2023,
    :260-331): the WEO adjustment pruned to Global with the SDS
    series cloned to both IPR scenarios."""
    from trisk_datawrangle_spark.plans.lcoe_sources import lcoe_adjust_ipr

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    raw = (
        n.select(
            "n_nationkey",
            "n_name",
            F.explode(F.array(F.lit("CoalCap"), F.lit("GasCap"))).alias(
                "technology"
            ),
        )
        .select(
            "*",
            F.explode(F.array(F.lit(2021), F.lit(2030))).alias("year"),
        )
        .select(
            F.lit("WEO2021").alias("source"),
            F.when(k % 2 == 0, F.lit("SDS")).otherwise(F.lit("STEPS")).alias("scenario"),
            F.when(k % 5 == 0, F.lit("Global")).otherwise(F.col("n_name")).alias("scenario_geography"),
            F.lit("Power").alias("sector"),
            "technology",
            F.lit("LCOE").alias("indicator"),
            F.lit("$/MWh").alias("unit"),
            "year",
            ((k * 7 + F.col("year") + F.length("technology")) % 80 + 20)
            .cast("double")
            .alias("price"),
        )
    )
    out = lcoe_adjust_ipr(raw, average_npm_power=0.2, start_year=2021)
    return out.select(
        "source",
        "scenario",
        "scenario_geography",
        "sector",
        "technology",
        "indicator",
        "unit",
        "year",
        "price",
    )


@q(
    "lc3_oxford_lcoe_ngfs_prices",
    """
WITH techs AS (
    SELECT * FROM (VALUES
        ('Coal', 'none', 1), ('Natural gas', 'none', 2),
        ('Nuclear', 'none', 4), ('Renewables', 'Solar PV', 8),
        ('Renewables', 'Wind', 16)
    ) AS t(tech0, sub0, scale)
),
scens AS (
    SELECT * FROM (VALUES
        ('Oxford - fast_transition', 'fast_transition_oxford'),
        ('Oxford - no_transition', 'no_transition_oxford'),
        ('Oxford - slow_transition', 'slow_transition_oxford')
    ) AS t(scen0, scen)
),
raw AS (
    SELECT tech0, sub0, scale, scen,
        CAST(unnest(generate_series(2049, 2069)) AS INTEGER) AS year
    FROM techs CROSS JOIN scens
),
base AS (
    SELECT
        CASE WHEN tech0 = 'Natural gas' THEN 'GasCap'
            WHEN tech0 = 'Coal' THEN 'CoalCap'
            WHEN sub0 = 'Hydro' THEN 'HydroCap'
            WHEN tech0 = 'Nuclear' THEN 'NuclearCap'
            WHEN tech0 = 'Renewables' AND sub0 <> 'HydroCap'
                THEN 'RenewablesCap'
            ELSE tech0 END AS technology,
        'Global' AS scenario_geography, '$/MWh' AS unit, scen AS scenario,
        'Power' AS sector, year,
        CAST(scale * (CASE (year - 2049) % 5 WHEN 0 THEN 40
            WHEN 1 THEN 50 WHEN 2 THEN 25 WHEN 3 THEN 100
            ELSE 20 END) AS DOUBLE) AS price
    FROM raw
    WHERE scen <> 'slow_transition_oxford'
),
renew AS (
    SELECT scenario, scenario_geography, sector, year, technology, unit,
        AVG(price) AS price
    FROM base WHERE technology = 'RenewablesCap'
    GROUP BY scenario, scenario_geography, sector, year, technology, unit
),
rest AS (SELECT * FROM base WHERE technology <> 'RenewablesCap'),
oil AS (
    SELECT 'OilCap' AS technology, scenario_geography, unit, scenario,
        sector, year, price
    FROM base WHERE technology = 'GasCap'
),
merged AS (
    SELECT technology, scenario_geography, unit, scenario, sector,
        year, price FROM rest
    UNION ALL
    SELECT technology, scenario_geography, unit, scenario, sector,
        year, price FROM renew
    UNION ALL SELECT * FROM oil
),
adjusted AS (
    SELECT scenario, scenario_geography, sector, technology, unit,
        'price' AS indicator, year,
        (FIRST_VALUE(price) OVER w / 0.8)
            * (FIRST_VALUE(price) OVER w / price) AS price
    FROM merged
    WINDOW w AS (PARTITION BY scenario, scenario_geography, sector,
        technology, unit ORDER BY year
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
extension AS (
    SELECT scenario, scenario_geography, sector, technology, unit,
        indicator,
        CAST(unnest(generate_series(2070, 2080)) AS INTEGER) AS year,
        CAST(NULL AS DOUBLE) AS price
    FROM (SELECT DISTINCT scenario, scenario_geography, sector,
          technology, unit, indicator FROM adjusted)
),
dense AS (
    SELECT * FROM adjusted UNION ALL SELECT * FROM extension
),
fit AS (
    SELECT technology, scenario,
        COUNT(*) AS n,
        SUM(CAST(year AS DOUBLE)) AS sx,
        SUM(price) AS sy,
        SUM(year * price) AS sxy,
        SUM(CAST(year * year AS DOUBLE)) AS sxx
    FROM adjusted WHERE year BETWEEN 2049 AND 2069
    GROUP BY 1, 2
),
coef AS (
    SELECT technology, scenario,
        (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_f,
        (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
            AS icept_f
    FROM fit
),
extended AS (
    SELECT d.scenario, d.scenario_geography, d.sector, d.technology,
        d.unit, d.indicator, d.year,
        COALESCE(d.price, c.slope_f * d.year + c.icept_f) AS price
    FROM dense d LEFT JOIN coef c
        ON c.technology = d.technology AND c.scenario = d.scenario
),
oxford AS (
    SELECT CASE scenario
           WHEN 'fast_transition_oxford' THEN 'Oxford2021_fast'
           WHEN 'no_transition_oxford' THEN 'Oxford2021_base'
           ELSE scenario END AS scenario,
        scenario_geography, sector, technology, unit, indicator, year,
        price
    FROM extended
),
models AS (SELECT * FROM (VALUES ('GCAM'), ('REMIND'), ('MESSAGE'))
    AS t(model)),
fastn AS (SELECT * FROM (VALUES ('NZ2050'), ('LD'), ('B2DS'), ('DT'))
    AS t(ngfs)),
slown AS (SELECT * FROM (VALUES ('NDC'), ('FW'), ('CP')) AS t(ngfs)),
ngfs AS (
    SELECT 'NGFS2023' || m.model || '_' || f.ngfs AS scenario,
        e.scenario_geography, e.sector, e.technology, e.unit,
        e.indicator, e.year, e.price
    FROM extended e CROSS JOIN models m CROSS JOIN fastn f
    WHERE e.scenario = 'fast_transition_oxford'
    UNION ALL
    SELECT 'NGFS2023' || m.model || '_' || s.ngfs AS scenario,
        e.scenario_geography, e.sector, e.technology, e.unit,
        e.indicator, e.year, e.price
    FROM extended e CROSS JOIN models m CROSS JOIN slown s
    WHERE e.scenario = 'no_transition_oxford'
)
SELECT * FROM ngfs
UNION ALL
SELECT * FROM oxford
""",
)
def lc3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oxford power LCOE → NGFS/Oxford price matrix
    (prepare_lcoe_adjusted_price_data_oxford2022, :81-258): recodes,
    renewables mean fan-in, OilCap clone, implied-price adjustment,
    OLS extension to 2080, and the model × scenario label fan-out.
    Fixture LCOEs cycle divisors of the implied numerator so every
    adjusted price is an exact integer — the OLS sums are
    order-independent."""
    from trisk_datawrangle_spark.plans.lcoe_sources import (
        oxford_lcoe_power,
    )

    techs = [
        ("Coal", "none", 1),
        ("Natural gas", "none", 2),
        ("Nuclear", "none", 4),
        ("Renewables", "Solar PV", 8),
        ("Renewables", "Wind", 16),
    ]
    scens = [
        "Oxford - fast_transition",
        "Oxford - no_transition",
        "Oxford - slow_transition",
    ]
    tech_struct = F.array(
        *[
            F.struct(
                F.lit(t).alias("tech0"),
                F.lit(s).alias("sub0"),
                F.lit(sc).alias("scale"),
            )
            for t, s, sc in techs
        ]
    )
    cyc = F.col("Year") - 2049
    base_cost = (
        F.when(cyc % 5 == 0, F.lit(40))
        .when(cyc % 5 == 1, F.lit(50))
        .when(cyc % 5 == 2, F.lit(25))
        .when(cyc % 5 == 3, F.lit(100))
        .otherwise(F.lit(20))
    )
    raw = (
        spark.range(1)
        .select(F.explode(tech_struct).alias("t"))
        .select(
            "t",
            F.explode(F.array(*[F.lit(s) for s in scens])).alias("Scenario"),
        )
        .select(
            "*",
            F.explode(F.sequence(F.lit(2049), F.lit(2069))).alias("Year"),
        )
        .select(
            F.lit("Power").alias("Sector"),
            "Scenario",
            "Year",
            F.col("t.tech0").alias("Technology"),
            F.col("t.sub0").alias("Sub_Technology"),
            F.lit("World").alias("Region"),
            (F.col("t.scale") * base_cost).cast("double").alias("LCOE"),
        )
    )
    out = oxford_lcoe_power(
        raw,
        average_npm_power=0.2,
        start_year=2021,
        ngfs_vintage=2023,
        end_year=2080,
    )
    return out.select(
        "scenario",
        "scenario_geography",
        "sector",
        "technology",
        "unit",
        "indicator",
        "year",
        "price",
    )


# ------------------------------------------------------------------ #
# w2 — optional country scoping of Asset-Impact data                  #
# (R/prepare_asset_impact_data.R:156-195,                             #
#  vignettes/country_specific_dataprep.Rmd:84-99)                     #
# ------------------------------------------------------------------ #


@q(
    "w2_asset_country_filters",
    """
WITH ti AS (SELECT * FROM (VALUES (0), (1)) AS t(ti)),
li AS (SELECT * FROM (VALUES (0), (1)) AS t(li)),
yr AS (SELECT * FROM (VALUES (2025), (2026)) AS t(year)),
base AS (
    SELECT n_nationkey AS k, n_nationkey + 1 AS cid,
        CASE WHEN n_nationkey = 7 THEN 'Unknown Owner'
             ELSE 'Co ' || (n_nationkey + 1) END AS company_name
    FROM nation
),
-- prepare_asset_impact_data: melt + dedup-sum (one row per key here)
acts AS (
    SELECT cid AS company_id, company_name, 'Power' AS ald_sector,
        CASE WHEN ti = 0 THEN 'CoalCap' ELSE 'RenewablesCap' END
            AS ald_business_unit,
        CASE WHEN li = 0 THEN 'AA' ELSE 'BB' END AS ald_location,
        'MW' AS activity_unit, year,
        CAST((k * 7 + ti * 3 + li * 5 + year) % 50 + 1 AS DOUBLE)
            AS plan_tech_prod
    FROM base CROSS JOIN ti CROSS JOIN li CROSS JOIN yr
    WHERE company_name <> 'Unknown Owner'
),
-- company information sheet: HQ location + ultimate-parent flag
cinfo AS (
    SELECT cid AS company_id,
        CASE WHEN k % 3 = 0 THEN 'AA' ELSE 'BB' END AS ald_location,
        k % 3 <> 2 AS is_ultimate_parent
    FROM base
),
hqs AS (
    SELECT DISTINCT company_id FROM cinfo
    WHERE ald_location = 'AA' AND is_ultimate_parent
),
modes AS (
    SELECT 'hq' AS mode, a.* FROM acts a
    WHERE a.company_id IN (SELECT company_id FROM hqs)
    UNION ALL
    SELECT 'asset' AS mode, a.* FROM acts a
    WHERE a.ald_location = 'AA'
    UNION ALL
    SELECT 'both' AS mode, a.* FROM acts a
    WHERE a.company_id IN (SELECT company_id FROM hqs)
      AND a.ald_location = 'AA'
)
SELECT mode, company_id, ald_business_unit, ald_location, year,
    plan_tech_prod
FROM modes
""",
)
def w2_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Country-scoping parity entry: a nation-derived wide activity
    table flows through prepare_asset_impact_data, then
    filter_countries_coverage in each of its three modes (HQ-only /
    assets-only / both) for country_filter=['AA']; the oracle replays
    the HQ semi-join (ultimate parents only — subsidiaries excluded)
    and the location filter in SQL. Covers
    R/prepare_asset_impact_data.R:156-195 exactly: empty-filter
    passthrough is unit-tested in tests/test_plans.py."""
    from trisk_datawrangle_spark.plans.abcd import (
        filter_countries_coverage,
        prepare_asset_impact_data,
    )

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    cid = (k + 1).alias("company_id")
    cname = (
        F.when(k == 7, F.lit("Unknown Owner"))
        .otherwise(F.concat(F.lit("Co "), (k + 1).cast("string")))
        .alias("company_name")
    )
    years = (2025, 2026)
    wide = (
        n.select(
            "n_nationkey",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("ti"),
        )
        .select("*", F.explode(F.array(F.lit(0), F.lit(1))).alias("li"))
        .select(
            cid,
            cname,
            F.lit("Power").alias("ald_sector"),
            F.when(F.col("ti") == 0, F.lit("CoalCap"))
            .otherwise(F.lit("RenewablesCap"))
            .alias("ald_business_unit"),
            F.when(F.col("li") == 0, F.lit("AA"))
            .otherwise(F.lit("BB"))
            .alias("ald_location"),
            F.lit("MW").alias("activity_unit"),
            *[
                ((k * 7 + F.col("ti") * 3 + F.col("li") * 5 + F.lit(y)) % 50 + 1)
                .cast("double")
                .alias(f"Equity Ownership {y}")
                for y in years
            ],
        )
    )
    cinfo = n.select(
        cid,
        F.when(k % 3 == 0, F.lit("AA")).otherwise(F.lit("BB")).alias(
            "ald_location"
        ),
        (k % 3 != 2).alias("is_ultimate_parent"),
    )
    # stage boundary: all three filter modes reuse the melted frame
    acts = prepare_asset_impact_data(wide, "plan_tech_prod").cache()
    parts = []
    for mode, hq, asset in (
        ("hq", True, False),
        ("asset", False, True),
        ("both", True, True),
    ):
        parts.append(
            filter_countries_coverage(
                acts, cinfo, ["AA"], filter_hqs=hq, filter_assets=asset
            ).withColumn("mode", F.lit(mode))
        )
    out = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return out.select(
        "mode",
        "company_id",
        "ald_business_unit",
        "ald_location",
        "year",
        "plan_tech_prod",
    )


# ------------------------------------------------------------------ #
# cp1 — NGFS carbon-price chain (prepare_ngfs_carbon_price.R:17-174)  #
# ------------------------------------------------------------------ #

_CP1_SERIES = """
    SELECT
        CASE WHEN n_nationkey % 2 = 0 THEN 'GCAM 6.0'
             ELSE 'REMIND-MAgPIE 3.2-4.6' END AS model,
        CASE WHEN n_nationkey % 3 = 0 THEN 'NetZero2050'
             WHEN n_nationkey % 3 = 1 THEN 'DelayedTransition'
             ELSE 'CurrentPolicies' END AS scenario,
        n_name AS scenario_geography,
        'Price|Carbon' AS variable,
        'USD2010/tCO2' AS unit,
        n_nationkey
    FROM nation
"""


@q(
    "cp1_ngfs_carbon_price",
    f"""
WITH yr AS (SELECT * FROM (VALUES (2020), (2025), (2030), (2035),
                                  (2040), (2045), (2050)) AS t(y)),
series AS ({_CP1_SERIES}),
knots AS (
    SELECT model, scenario, scenario_geography, variable, unit,
        y AS year,
        CASE WHEN (y = 2030 AND n_nationkey % 3 = 1)
              OR (y = 2035 AND n_nationkey % 4 = 2)
              OR (y = 2040 AND n_nationkey % 5 = 3) THEN NULL
             ELSE CAST((n_nationkey * 7 + (y - 2020) * 3) % 97 AS DOUBLE)
        END AS carbon_tax
    FROM series CROSS JOIN yr
),
spine AS (
    SELECT s.model, s.scenario, s.scenario_geography, s.variable, s.unit,
        CAST(unnest(generate_series(2020, 2050)) AS INTEGER) AS year
    FROM (SELECT DISTINCT model, scenario, scenario_geography,
                 variable, unit FROM knots) s
),
dense AS (
    SELECT s.model, s.scenario, s.scenario_geography, s.variable,
           s.unit, s.year, k.carbon_tax
    FROM spine s LEFT JOIN knots k
    USING (model, scenario, scenario_geography, variable, unit, year)
),
marked AS (
    SELECT model, scenario, scenario_geography, variable, unit, year,
        carbon_tax,
        last_value(carbon_tax IGNORE NULLS) OVER wback AS prev_v,
        last_value(CASE WHEN carbon_tax IS NOT NULL THEN year END
                   IGNORE NULLS) OVER wback AS prev_x,
        first_value(carbon_tax IGNORE NULLS) OVER wfwd AS next_v,
        first_value(CASE WHEN carbon_tax IS NOT NULL THEN year END
                    IGNORE NULLS) OVER wfwd AS next_x
    FROM dense
    WINDOW wback AS (PARTITION BY model, scenario, scenario_geography,
                     variable, unit ORDER BY year
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wfwd AS (PARTITION BY model, scenario, scenario_geography,
                    variable, unit ORDER BY year
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT model, scenario, scenario_geography, variable, unit, year,
    ROUND(CASE WHEN carbon_tax IS NOT NULL THEN carbon_tax
         WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
         THEN prev_v + (next_v - prev_v) * (year - prev_x)
              / (next_x - prev_x)
    END, 6) AS carbon_tax
FROM marked
""",
)
def cp1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NGFS carbon-price chain (R/prepare_ngfs_carbon_price.R:17-174;
    run daily by run_workflow.R:8-30): a wide 5-year-step NGFS-shaped
    frame — synthesized deterministically from ``nation``, with
    interior NULL knots — is melted (R1), completed to a yearly
    per-series spine (T1, bounds=group), and linearly interpolated
    with published edges kept (W8, na_rm=False). The oracle replays
    melt → spine → interpolation in DuckDB; knot values are
    integer-valued doubles and both engines compute the identical
    ``prev + (next-prev)*(y-x0)/(x1-x0)`` expression, so values
    hash-match at 6 decimals. The w0 composite also exercises this
    stage; this entry gates it in isolation."""
    from trisk_datawrangle_spark.plans.prices import (
        prepare_ngfs_carbon_price,
    )

    n = _nation(spark, sf_dir)
    k = F.col("n_nationkey")
    years = [2020, 2025, 2030, 2035, 2040, 2045, 2050]
    null_at = {2030: (k % 3 == 1), 2035: (k % 4 == 2), 2040: (k % 5 == 3)}
    raw = n.select(
        F.when(k % 2 == 0, F.lit("GCAM 6.0"))
        .otherwise(F.lit("REMIND-MAgPIE 3.2-4.6"))
        .alias("Model"),
        F.when(k % 3 == 0, F.lit("NetZero2050"))
        .when(k % 3 == 1, F.lit("DelayedTransition"))
        .otherwise(F.lit("CurrentPolicies"))
        .alias("Scenario"),
        F.col("n_name").alias("Region"),
        F.lit("Price|Carbon").alias("Variable"),
        F.lit("USD2010/tCO2").alias("Unit"),
        *[
            F.when(
                null_at.get(y, F.lit(False)), F.lit(None).cast("double")
            )
            .otherwise(((k * 7 + F.lit((y - 2020) * 3)) % 97).cast("double"))
            .alias(str(y))
            for y in years
        ],
    )
    out = prepare_ngfs_carbon_price(raw)
    return out.select(
        "model",
        "scenario",
        "scenario_geography",
        "variable",
        "unit",
        "year",
        F.round("carbon_tax", 6).alias("carbon_tax"),
    )
