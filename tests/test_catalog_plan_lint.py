"""Catalog-wide physical-plan lint: no entry may plan a shuffled
CartesianProduct — every cross-table combination must be an equi-join
(hash/sort-merge), a broadcast, or an explicitly-bounded
broadcast-nested-loop (the 1-row-scalar pattern). A CartesianProduct
is the plan shape that turns a 100 TB query into |A|·|B| work; this
sweep catches one introduced anywhere in the 170+ entries, not just
where a reviewer happens to look."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR as SF_DIR_SMALL


def _physical(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_cartesian_product_anywhere(spark):
    from trisk_datawrangle_spark.catalog import QUERIES

    offenders: dict[str, str] = {}
    errors: dict[str, str] = {}
    for name, fn in QUERIES.items():
        try:
            plan = _physical(fn(spark, SF_DIR_SMALL))
        except Exception as ex:  # noqa: BLE001 — lint must see every entry
            errors[name] = str(ex).splitlines()[0][:160]
            continue
        if "CartesianProduct" in plan:
            offenders[name] = next(
                ln.strip()
                for ln in plan.splitlines()
                if "CartesianProduct" in ln
            )
    assert not errors, f"entries failed to plan: {errors}"
    assert not offenders, (
        "shuffled cartesian products planned (use an equi-join key, "
        f"broadcast, or bounded BNLJ): {offenders}"
    )


@pytest.mark.parametrize("probe", ["flagship_market_share", "q3_shipping_priority"])
def test_lint_catches_what_it_should(spark, probe):
    """Sanity: the lint string really is absent from known-good plans
    and present in a deliberately cartesian one."""
    from pyspark.sql import functions as F

    from trisk_datawrangle_spark.catalog import QUERIES

    good = _physical(QUERIES[probe](spark, SF_DIR_SMALL))
    assert "CartesianProduct" not in good

    # positive control: with auto-broadcast disabled the deliberately
    # cartesian plan must show the EXACT string the lint greps for —
    # accepting BroadcastNestedLoopJoin here would leave the lint
    # unvalidated (a 100k-row side is typically auto-broadcast)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(100_000).withColumn("x", F.col("id") % 7)
        b = spark.range(100_000).withColumn("y", F.col("id") % 5)
        bad = _physical(a.crossJoin(b))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" in bad


def test_html_extract_fuses_into_scan(spark):
    """x46's strip chain claims zero Python and no OPERATOR-required
    shuffle — pin it: no Python/Arrow eval node, and the only
    Exchange allowed is the byte-gated fan-out's explicit
    REPARTITION_BY_COL (r12 — fires only on small unsplittable
    local fixtures like this sf0.001 file; structurally inert on
    split/production inputs, tests/test_fanout.py). An
    ENSURE_REQUIREMENTS exchange would mean the chain itself
    started demanding a distribution — that is what must stay
    impossible."""
    import re

    from trisk_datawrangle_spark.catalog import QUERIES

    df = QUERIES["x46_html_extract"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ENSURE_REQUIREMENTS" not in plan, plan[:1500]
    n_ex = len(re.findall(r"\bExchange\b", plan))
    assert n_ex <= 1, plan[:1500]
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


#: Executed-plan size bound for the crawl composites. A filter above
#: the staged URL projection chain gets predicate-pushed through every
#: step, substituting the whole canonicalization into each one; the
#: plan then grows by two orders of magnitude. The eager checkpoint
#: boundaries in w5/w6/x57 keep their plans at a few KB.
_CRAWL_PLAN_BOUND = 16 * 1024


@pytest.mark.parametrize(
    "name",
    ["w5_crawl_frontier_e2e", "w6_crawl_loop_e2e", "x57_politeness_schedule"],
)
def test_crawl_plans_stay_flat(spark, name):
    from trisk_datawrangle_spark.catalog import QUERIES

    plan = _physical(QUERIES[name](spark, SF_DIR_SMALL))
    assert len(plan) < _CRAWL_PLAN_BOUND, (name, len(plan))


def test_crawl_plan_bound_catches_reinlining(spark):
    """Positive control: the w5 frontier shape with the '' drop
    placed directly above the resolve+canonicalize chain must exceed
    the bound; the same drop below an eager checkpoint stays under."""
    from pyspark.sql import functions as F

    from trisk_datawrangle_spark.llm.urls import (
        with_canonical_url,
        with_resolved_url,
    )

    refs = spark.range(4).select(
        F.lit("https://Host.Example.com/dir/page.html").alias("base"),
        F.concat(F.lit("../q/"), F.col("id").cast("string")).alias("ref"),
    )
    canon = with_canonical_url(
        with_resolved_url(refs, "base", "ref", "raw"), "raw", "canon"
    )
    keep = F.col("canon") != ""
    assert len(_physical(canon.where(keep))) > _CRAWL_PLAN_BOUND
    cut = canon.localCheckpoint(eager=True).where(keep)
    assert len(_physical(cut)) < _CRAWL_PLAN_BOUND
