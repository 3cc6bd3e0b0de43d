"""Eikon + ownership → ``prewrangled_financial_data_stress_test``
(SURVEY.md §3.2; reference entry ``prepare_financial_data``,
R/prepare_prewrangled_financial_data_stress_test.R:528-607, driver
params at run_prepare_prewrangled_financial_data_stress_test.R:35-41).

Input shape (FIXTURES.md §2-3): isin-level ``eikon`` indicators, a
(company_id, ald_sector) production-company list, and the precomputed
ownership edge list. Output: one row per company with median-imputed
indicators plus ``*_rawdata_ratio`` provenance columns
(README.md:179-186).

Scale design: everything aggregates toward (company, sector, region)
— medians are the only exact-percentile shuffle; the three layered
average tables are tiny aggregates broadcast back (never a wide
shuffle); the ownership closest-parent match is one join + one
window on the subsidiary key. Two stage boundaries
(``operators.persist.stage_boundary``) cut the plan at the
company-grain frames read more than once, the firm-level medians and
the pool with inherited parents: the output's executed plan is about
14 KB with 8 Exchanges on the 600-company benchmark input (166 KB and
85 Exchanges with ``.cache()`` at those points).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from trisk_datawrangle_spark.functions.aggregates import median
from trisk_datawrangle_spark.operators.joins import closest_parent
from trisk_datawrangle_spark.operators.persist import stage_boundary

INDICATORS = ("pd", "net_profit_margin", "debt_equity_ratio", "volatility")


def company_indicator_medians(
    eikon: DataFrame,
    companies: DataFrame,
    npm_range: tuple[float, float] = (0.0, 1.0),
    indicators: Sequence[str] = INDICATORS,
) -> DataFrame:
    """ISIN-level indicators → (company_id, ald_sector, region)
    medians (A4, ``create_averages_eikon``
    R/prepare_prewrangled_financial_data_stress_test.R:61-108).

    ``companies`` (company_id, ald_sector) attaches sector with the
    reference's intended many-to-many duplication (:10-14 —
    multi-sector companies contribute to every sector's pool).
    Implausible net profit margins are nulled before aggregation
    (:464-474, F12 ``between`` gate).
    """
    lo, hi = npm_range
    gated = eikon.withColumn(
        "net_profit_margin",
        F.when(
            F.col("net_profit_margin").between(lo, hi),
            F.col("net_profit_margin"),
        ),
    )
    with_sector = gated.join(
        F.broadcast(companies.select("company_id", "ald_sector").distinct()),
        "company_id",
        "inner",
    )
    return with_sector.groupBy("company_id", "ald_sector", "region").agg(
        *[median(i).alias(i) for i in indicators]
    )


def layered_averages(
    firm_level: DataFrame,
    min_sample_size: int = 50,
    indicators: Sequence[str] = INDICATORS,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three imputation layers (A4×3, :246-291): medians over
    firms at (sector, region) — kept only when the pool has at least
    ``min_sample_size`` firms — then per sector, then one global row.
    All three are small enough to broadcast at any input scale."""
    by_sector_region = (
        firm_level.groupBy("ald_sector", "region")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            *[median(i).alias(f"avg_{i}") for i in indicators],
        )
        # strict >, matching the reference's sample_sufficient gate
        # (create_averages_eikon, :71: size_sample > minimum_sample_size)
        .filter(F.col("__n") > min_sample_size)
        .drop("__n")
    )
    by_sector = firm_level.groupBy("ald_sector").agg(
        *[median(i).alias(f"avg_{i}") for i in indicators]
    )
    global_row = firm_level.agg(
        *[median(i).alias(f"avg_{i}") for i in indicators]
    )
    return by_sector_region, by_sector, global_row


def attach_averages(
    firm_level: DataFrame,
    by_sector_region: DataFrame,
    by_sector: DataFrame,
    global_row: DataFrame,
    indicators: Sequence[str] = INDICATORS,
) -> DataFrame:
    """Granularity cascade (J2+J4+J8, :303-339): each firm gets the
    finest average layer available — (sector, region) when that pool
    passed the sample gate, else sector, else global. One pass:
    broadcast-left-join all three layers, coalesce finest-first."""
    sr = F.broadcast(
        by_sector_region.select(
            "ald_sector",
            "region",
            *[F.col(f"avg_{i}").alias(f"__sr_{i}") for i in indicators],
        )
    )
    s = F.broadcast(
        by_sector.select(
            "ald_sector",
            *[F.col(f"avg_{i}").alias(f"__s_{i}") for i in indicators],
        )
    )
    g = F.broadcast(
        global_row.select(
            *[F.col(f"avg_{i}").alias(f"__g_{i}") for i in indicators]
        )
    )
    out = (
        firm_level.join(sr, ["ald_sector", "region"], "left")
        .join(s, "ald_sector", "left")
        .crossJoin(g)
    )
    # ONE select, not a withColumn-per-indicator loop: each withColumn
    # re-analyzes the whole upstream logical plan, which is quadratic
    # in chain depth (this function sat on top of the full abcd plan
    # in the e2e path and cost ~20s of pure analysis)
    keep = [
        c
        for c in out.columns
        if not c.startswith(("__sr_", "__s_", "__g_"))
    ]
    return out.select(
        *keep,
        *[
            F.coalesce(f"__sr_{i}", f"__s_{i}", f"__g_{i}").alias(f"avg_{i}")
            for i in indicators
        ],
    )


def impute_with_provenance(
    with_avgs: DataFrame, indicators: Sequence[str] = INDICATORS
) -> DataFrame:
    """Eikon-else-average fill + provenance tagging (R2+F11+R3,
    :348-441). The reference melts indicators and averages long,
    coalesces, tags the source, and pivots back; columnar Spark does
    the same per indicator as pure projections (no shuffle at all —
    the melt/pivot round-trip exists in R only because dplyr mutate
    can't loop columns)."""
    # one select (see attach_averages: withColumn loops are quadratic
    # in plan depth)
    avg_cols = {f"avg_{i}" for i in indicators}
    passthrough = [
        c
        for c in with_avgs.columns
        if c not in set(indicators) and c not in avg_cols
    ]
    return with_avgs.select(
        *passthrough,
        *[F.coalesce(F.col(i), F.col(f"avg_{i}")).alias(i) for i in indicators],
        *[
            F.when(F.col(i).isNotNull(), 1.0)
            .otherwise(0.0)
            .alias(f"{i}_rawdata_ratio")
            for i in indicators
        ],
    )


def prepare_financial_data(
    eikon: DataFrame,
    companies: DataFrame,
    ownership_tree: DataFrame,
    min_sample_size: int = 50,
    npm_range: tuple[float, float] = (0.0, 1.0),
    indicators: Sequence[str] = INDICATORS,
) -> DataFrame:
    """Full §3.2 chain. Companies present in production but absent
    from Eikon (J4, :227-232) inherit their closest parent's firm-
    level record through the ownership tree (J9, :172-217) before the
    layered imputation cascade runs; companies still uncovered fall
    through to the cascade averages. Output: one row per
    (company_id, ald_sector) with indicators + provenance ratios
    (:586-603)."""
    # Stage boundaries: firm is read by the missing-company probe and
    # the parent-inheritance join; pool by the three average layers,
    # the cascade attach and the uncovered probe. Both frames are
    # company-grain (tiny next to the isin-level input).
    firm = stage_boundary(
        company_indicator_medians(eikon, companies, npm_range, indicators)
    )

    # production companies with no financial record → closest parent
    prod_pairs = companies.select("company_id", "ald_sector").distinct()
    missing = prod_pairs.join(
        firm.select("company_id").distinct(), "company_id", "left_anti"
    )
    parents = closest_parent(
        missing,
        ownership_tree.select(
            F.col("subsidiary_company_id"),
            F.col("parent_company_id"),
            "ownership_level",
        ),
        child_key="company_id",
        edge_child_key="subsidiary_company_id",
        tie_cols=["parent_company_id"],
        # one keep-one window PER (company, sector) pair — keyed by
        # company alone, a multi-sector company kept an arbitrary
        # single sector and the others vanished from the output
        group_cols=["company_id", "ald_sector"],
    )
    inherited = (
        parents.join(
            firm.select(
                F.col("company_id").alias("parent_company_id"),
                F.col("ald_sector").alias("__psector"),
                "region",
                *indicators,
            ),
            "parent_company_id",
            "inner",
        )
        .filter(F.col("ald_sector") == F.col("__psector"))
        .select("company_id", "ald_sector", "region", *indicators)
    )
    pool = stage_boundary(firm.unionByName(inherited))

    sr, s, g = layered_averages(pool, min_sample_size, indicators)
    filled = impute_with_provenance(attach_averages(pool, sr, s, g, indicators))

    # still-missing production companies: cascade averages only,
    # provenance 0 (the reference reaches the same rows through its
    # bind_cols fallback, :319-322)
    # anti-join on BOTH keys: a company covered for one sector must
    # still fall back to cascade averages for its other sectors
    uncovered = (
        prod_pairs.join(
            pool.select("company_id", "ald_sector").distinct(),
            ["company_id", "ald_sector"],
            "left_anti",
        )
        .withColumn("region", F.lit(None).cast("string"))
    )
    uncovered = attach_averages(uncovered, sr, s, g, indicators)
    uncovered = uncovered.select(
        *[
            c
            for c in uncovered.columns
            if c not in {f"avg_{i}" for i in indicators}
        ],
        *[F.col(f"avg_{i}").alias(i) for i in indicators],
        *[F.lit(0.0).alias(f"{i}_rawdata_ratio") for i in indicators],
    )

    all_rows = filled.unionByName(uncovered)

    # company-level rollup (A4, :586-593) + overall provenance ratio
    # (F13, :484-500)
    ratio_cols = [f"{i}_rawdata_ratio" for i in indicators]
    out = all_rows.groupBy("company_id", "ald_sector").agg(
        *[median(i).alias(i) for i in indicators],
        *[F.avg(rc).alias(rc) for rc in ratio_cols],
    )
    n = len(indicators)
    overall = sum((F.col(rc) for rc in ratio_cols), F.lit(0.0)) / F.lit(float(n))
    return out.withColumn("rawdata_ratio", overall)
