"""The benchmark's workload components.

Each component drives one family of the library's public entry points
over inputs from :mod:`perfbench.gen`:

* ``setup()`` — everything before timing: input generation and, for
  serving, the index build and publish;
* ``run_pass(out_dir)`` — the timed work, one pass of the component's
  op sequence; returns what the checks need;
* ``check(result)`` — the output checks, run outside every timed
  window; returns ``(attempted, failed, notes, digests)``;
* ``breakdown()`` — traced runs only: each layer call on its own,
  materialized, so its cost shows as its own span.

Spans named ``<layer module>.<function>`` wrap the calls into the
library (see ``spec.json`` for the layer → metric → workload map).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import re
import shutil

import numpy as np
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.spans import plan_stats


def _norm(v):
    """Doubles to 6 significant digits: float sums differ in the last
    bits between partitionings and between equal-valued groups."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    return v


def _digest(rows: list[dict]) -> str:
    """Order-independent digest of a table's distinct normalized rows:
    every row hashed, hashes summed mod 2**64."""
    acc = 0
    distinct = {
        "\x1f".join(f"{k}={_norm(r[k])}" for k in sorted(r)) for r in rows
    }
    for row in distinct:
        h = hashlib.blake2b(row.encode(), digest_size=8)
        acc = (acc + int.from_bytes(h.digest(), "little")) % 2**64
    return f"{len(distinct)}:{acc:016x}"


def _read_rows(path: str) -> list[dict]:
    """Rows of a (possibly hive-partitioned) parquet output."""
    return ds.dataset(path, format="parquet", partitioning="hive") \
        .to_table().to_pylist()


def _count_files(path: str) -> int:
    return sum(len(fs) for _, _, fs in os.walk(path))


class Component:
    name = ""

    def __init__(self, spark, tracer, data_dir: str, seed: int, toy: bool,
                 scrub: str):
        self.spark, self.tracer = spark, tracer
        self.data = os.path.join(data_dir, self.name)
        self.seed, self.toy, self.scrub = seed, toy, scrub
        self.sizes = (gen.TOY_SIZES if toy else gen.SIZES)[self.name]
        self.items = 0  # input items one pass processes

    def setup(self) -> None:
        shutil.rmtree(self.data, ignore_errors=True)
        self.info = gen.generate(self.name, self.seed, self.data, self.toy)

    def plan(self, df) -> dict:
        if not self.tracer.enabled:
            return {}
        with self.tracer.untimed():
            return plan_stats(df, self.scrub)

    def breakdown(self) -> None:
        pass


# ------------------------------------------------------------------ #
# workflow                                                            #
# ------------------------------------------------------------------ #


class Workflow(Component):
    """All eight ``run_workflow`` stages in dependency order, each pass
    into a fresh output directory."""

    name = "workflow"

    def setup(self) -> None:
        super().setup()
        self.items = self.info["rows"]

    def run_pass(self, out: str):
        from trisk_datawrangle_spark.run_workflow import ALL_STAGES, run_stage

        with self.tracer.span("run_workflow.all") as sp:
            for stage in ALL_STAGES:
                with self.tracer.span(f"run_workflow.{stage}"):
                    run_stage(self.spark, stage, self.data, out,
                              gen.START_YEAR, gen.TIME_HORIZON)
            if self.tracer.enabled:
                sp.extra["output_files"] = _count_files(out)
        return out

    def check(self, out: str):
        """One op per output table (it must exist and hold rows; for the
        pinned seed its digest must match) plus one per invariant below.
        The ``verify_fk`` stage has already raised if a hard FK gate
        failed."""
        present = {n for n in os.listdir(out) if n.endswith(".parquet")}
        t = {n[:-len(".parquet")]: _read_rows(f"{out}/{n}")
             for n in sorted(present)}
        digests = {n: _digest(rows) for n, rows in t.items()}
        pinned = _pinned("workflow", self.seed, self.toy) or {}
        ok = {}
        for name in WORKFLOW_TABLES:
            d = digests.get(name)
            ok[name] = d is not None and not d.startswith("0:") and (
                name not in pinned or d == pinned[name])
        if all(ok.values()):
            ok.update(_workflow_invariants(t))
        notes = [f"workflow check failed: {k} ({digests.get(k)}; rows "
                 f"{ {n: len(r) for n, r in t.items()} })"
                 for k, good in ok.items() if not good]
        return len(ok), len(notes), notes, digests


def _workflow_invariants(t: dict) -> dict:
    """Seed-independent properties of the canonical outputs."""
    years = set(range(gen.START_YEAR, gen.START_YEAR + gen.TIME_HORIZON + 1))
    abcd = t["abcd_stress_test_input"]
    fin = t["prewrangled_financial_data_stress_test"]
    scen = t["Scenarios_AnalysisInput"]
    sd = t["scenarios_data"]
    asset_years: dict = {}
    for r in abcd:
        asset_years.setdefault(r["asset_id"], []).append(r["year"])
    companies = {(r["company_id"], r["ald_sector"]) for r in abcd}
    fin_keys = [(r["company_id"], r["ald_sector"]) for r in fin]
    indicators = ("pd", "net_profit_margin", "debt_equity_ratio",
                  "volatility")
    return {
        "abcd_dense_spine": all(
            len(ys) == len(years) and set(ys) == years
            for ys in asset_years.values()),
        "abcd_production_not_null": all(
            r["plan_tech_prod"] is not None for r in abcd),
        "financial_one_row_per_company": (
            len(fin_keys) == len(set(fin_keys))
            and set(fin_keys) == companies),
        "financial_indicators_not_null": all(
            r[k] is not None for r in fin for k in indicators),
        "assets_one_row_per_abcd_row": (
            len(t["assets_data"]) == len(abcd)),
        "capacity_factor_in_unit_range": all(
            r["capacity_factor"] is None or 0 <= r["capacity_factor"] <= 1
            for r in t["prewrangled_capacity_factors"]),
        "scenarios_classified": all(
            r["scenario_type"] in ("baseline", "shock") for r in scen),
        # every pathway row gets one price: rows of a key may differ
        # only in a price's last bits
        "scenarios_data_one_price_per_row": _keys(sd) == _keys(scen) and all(
            max(ps) - min(ps) <= 1e-9 * max(abs(max(ps)), 1.0)
            for ps in _prices(sd).values()),
    }


def _prices(rows) -> dict:
    out: dict = {}
    for r in rows:
        if r["price"] is not None:
            out.setdefault((r["scenario"], r["scenario_geography"],
                            r["ald_business_unit"], r["year"]),
                           []).append(r["price"])
    return out


def _keys(rows):
    return {(r["scenario"], r["scenario_geography"], r["ald_business_unit"],
             r["year"]) for r in rows}


WORKFLOW_TABLES = (
    "Scenarios_AnalysisInput", "abcd_stress_test_input", "assets_data",
    "ngfs_carbon_price", "price_data_long", "prewrangled_capacity_factors",
    "prewrangled_financial_data_stress_test", "scenarios_data",
)


def _pinned(workload: str, seed: int, toy: bool):
    """Digests pinned in expected.json for one seed at full size, or
    None for any other run."""
    with open(os.path.join(os.path.dirname(__file__), "expected.json")) as f:
        expected = json.load(f)
    if toy or seed != expected["seed"]:
        return None
    return expected[workload]


# ------------------------------------------------------------------ #
# curate                                                              #
# ------------------------------------------------------------------ #

W4_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


class Curate(Component):
    """``curate_to_splits`` called as the ``w4`` catalog entry calls
    it: docs below ``eval_docs`` are the eval set."""

    name = "curate"

    def setup(self) -> None:
        super().setup()
        self.items = self.info["docs"]
        self.docs = self.spark.read.parquet(f"{self.data}/documents.parquet")

    def _split(self):
        ev = self.sizes["eval_docs"]
        d = self.docs
        return d.filter(F.col("doc_id") >= ev), d.filter(F.col("doc_id") < ev)

    def run_pass(self, out: str):
        from trisk_datawrangle_spark.llm.curate import curate_to_splits

        corpus, bench = self._split()
        with self.tracer.span("llm.curate.curate_to_splits") as sp:
            df = curate_to_splits(corpus, bench, fractions=W4_FRACTIONS,
                                  seed=7)
            sp.built()
            sp.extra.update(self.plan(df))
            rows = [r.asDict() for r in df.collect()]
        return rows

    def check(self, rows):
        """One op: the split table equals DuckDB running the ``w4``
        oracle over the generated documents."""
        import duckdb

        from trisk_datawrangle_spark.catalog import ORACLES

        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory = '{self.scrub}/duckdb'")
            con.read_parquet(f"{self.data}/documents.parquet") \
                .create_view("documents")
            cur = con.execute(ORACLES["w4_curation_e2e"])
            cols = [c[0] for c in cur.description]
            want = sorted(tuple(r) for r in cur.fetchall())
        finally:
            con.close()
        got = sorted(tuple(r[c] for c in cols) for r in rows)
        ok = got == want
        return 1, int(not ok), [] if ok else [f"{got} != {want}"], None

    def breakdown(self) -> None:
        """The decontamination and split stages on their own, over the
        pass's inputs (curate() alone is left out: re-running it costs
        as much as the whole pass)."""
        from trisk_datawrangle_spark.llm.dedup import contamination_overlap
        from trisk_datawrangle_spark.llm.sampling import deterministic_split

        corpus, bench = self._split()
        with self.tracer.span("llm.dedup.contamination_overlap"):
            contamination_overlap(corpus, bench, n=4) \
                .write.format("noop").mode("overwrite").save()
        with self.tracer.span("llm.sampling.deterministic_split"):
            deterministic_split(corpus, "doc_id", W4_FRACTIONS, 7) \
                .write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------------ #
# crawl                                                               #
# ------------------------------------------------------------------ #


class Crawl(Component):
    """The crawl front end over a page batch: strip + anchors →
    resolve → canonicalize → canonical-key frontier dedup → robots
    verdict → politeness schedule."""

    name = "crawl"

    def setup(self) -> None:
        super().setup()
        self.items = self.info["pages"]
        self.pages = self.spark.read.parquet(f"{self.data}/pages.parquet")
        self.robots = self.spark.read.parquet(f"{self.data}/robots.parquet")
        with open(f"{self.data}/truth.json") as f:
            self.truth = json.load(f)

    # each step is one layer call; the pass chains them lazily and the
    # traced breakdown materializes them one at a time

    def _anchors(self, pages):
        from trisk_datawrangle_spark.llm.extract import anchor_hrefs_expr

        return pages.select("url", F.explode(anchor_hrefs_expr("html"))
                            .alias("ref"))

    def _frontier(self, canon):
        return canon.groupBy("canon").agg(
            F.count(F.lit(1)).alias("n_discoveries")
        ).select(
            "canon", "n_discoveries",
            F.nullif(F.regexp_extract("canon", r"^[a-z]+://host([0-9]+)\.",
                                      1), F.lit("")).cast("long").alias("h"),
            F.regexp_extract("canon", "^[a-z]+://[^/]+(/.*)", 1)
            .alias("path"),
        )

    def _verdict(self, frontier):
        from trisk_datawrangle_spark.llm.robots import (
            parse_robots_full, robots_rules,
        )

        rules, delays = [], []
        for r in self.robots.collect():
            for verb, pat, plen, rx in robots_rules(r["body"], gen.AGENT):
                rules.append((r["h"], verb, pat, plen, rx))
            delays.append((r["h"], parse_robots_full(
                r["body"], gen.AGENT)["crawl_delay"]))
        rules = self.spark.createDataFrame(
            rules, "h long, verb string, pattern string, plen int, rx string")
        delays = self.spark.createDataFrame(
            delays, "h long, crawl_delay double")
        best = (
            frontier.join(F.broadcast(rules), "h")
            .where(F.expr("regexp_like(path, rx)"))
            .groupBy("canon")
            .agg(F.max(F.struct(
                "plen", (F.col("verb") == "allow").cast("int").alias("a"),
                "pattern", "verb")).alias("w"))
            .select("canon", F.col("w.verb").alias("verb"))
        )
        return (
            frontier.join(best, "canon", "left")
            .join(F.broadcast(delays), "h", "left")
            .select("canon", "h", "crawl_delay",
                    (F.coalesce("verb", F.lit("allow")) == "allow")
                    .alias("allowed"))
        )

    def _schedule(self, verdict):
        from trisk_datawrangle_spark.llm.politeness import politeness_schedule

        return politeness_schedule(
            verdict.where("allowed"), host="h", key="canon",
            delay="crawl_delay")

    def run_pass(self, out: str):
        from trisk_datawrangle_spark.llm.extract import strip_html_expr
        from trisk_datawrangle_spark.llm.urls import (
            with_canonical_url, with_resolved_url,
        )

        with self.tracer.span("crawl.all") as sp:
            text = self.pages.select(
                "page_id", strip_html_expr("html").alias("text"))
            resolved = with_resolved_url(
                self._anchors(self.pages), "url", "ref", "raw")
            canon = with_canonical_url(resolved, "raw", "canon")
            frontier = self._frontier(canon)
            stats = self.plan(frontier)
            # the frontier feeds the rules match and the final join:
            # checkpoint it, as the w5 catalog entry does
            frontier = frontier.localCheckpoint(eager=True).where(
                F.col("canon") != "")
            sched = self._schedule(self._verdict(frontier))
            for k, v in self.plan(sched).items():
                stats[k] = stats.get(k, 0) + v
            sp.extra.update(stats)
            sched.write.parquet(f"{out}/schedule")
            text.write.parquet(f"{out}/text")
        return out

    def check(self, out: str):
        """Four ops: (1) no duplicate canonical key and the scheduled
        set equals the planted frontier minus robots-disallowed URLs,
        (2) no robots-disallowed URL is scheduled, (3) per-host ETA
        gaps are at least the host's crawl delay, (4) every page's
        text is extracted with no anchor tag left; plus, for the
        pinned seed, the schedule digest."""
        from trisk_datawrangle_spark.llm.politeness import (
            DEFAULT_CRAWL_DELAY,
        )

        sched = _read_rows(f"{out}/schedule")
        text = _read_rows(f"{out}/text")
        rules = {int(h): r for h, r in self.truth["rules"].items()}

        def allowed(url):
            h = int(re.match(r"^[a-z]+://host(\d+)\.", url).group(1))
            path = re.match(r"^[a-z]+://[^/]+(/.*)", url).group(1)
            return gen.robots_allowed(rules[h], path)

        canons = [r["canon"] for r in sched]
        expected = {u for u in self.truth["frontier"] if allowed(u)}
        notes = []
        ok_set = len(canons) == len(set(canons)) and set(canons) == expected
        if not ok_set:
            notes.append(f"frontier: {len(canons)} scheduled, "
                         f"{len(set(canons))} distinct, {len(expected)} "
                         "expected")
        ok_robots = all(allowed(u) for u in canons)
        delays = {int(h): d for h, d in self.truth["delays"].items()}
        ok_gaps = True
        by_host: dict[int, list] = {}
        for r in sched:
            by_host.setdefault(r["h"], []).append(r)
        for h, rs in by_host.items():
            rs.sort(key=lambda r: r["slot"])
            d = delays[h] if delays[h] is not None else DEFAULT_CRAWL_DELAY
            for a, b in zip(rs, rs[1:]):
                if b["eta_sec"] - a["eta_sec"] < d - 1e-9:
                    ok_gaps = False
        ok_text = len(text) == self.items and not any(
            "<a " in (r["text"] or "") for r in text)
        ok = [ok_set, ok_robots, ok_gaps, ok_text]
        digest = _digest(sched)
        pinned = _pinned("crawl", self.seed, self.toy)
        if pinned:
            ok.append(digest == pinned["schedule"])
        for name, good in zip(("frontier", "robots", "gaps", "text",
                               "digest"), ok):
            if not good:
                notes.append(f"crawl check failed: {name}")
        return len(ok), ok.count(False), notes, {"schedule": digest}

    def breakdown(self) -> None:
        from trisk_datawrangle_spark.llm.extract import strip_html_expr
        from trisk_datawrangle_spark.llm.urls import (
            with_canonical_url, with_resolved_url,
        )

        def ckpt(df):
            return df.localCheckpoint(eager=True)

        with self.tracer.span("llm.extract.strip"):
            self.pages.select(strip_html_expr("html")) \
                .write.format("noop").mode("overwrite").save()
        with self.tracer.span("llm.extract.anchors"):
            links = ckpt(self._anchors(self.pages))
        with self.tracer.span("llm.urls.resolve"):
            resolved = ckpt(with_resolved_url(links, "url", "ref", "raw"))
        with self.tracer.span("llm.urls.canonicalize"):
            canon = ckpt(with_canonical_url(resolved, "raw", "canon"))
        frontier = ckpt(self._frontier(canon)).where(F.col("canon") != "")
        with self.tracer.span("llm.robots.verdict"):
            verdict = ckpt(self._verdict(frontier))
        with self.tracer.span("llm.politeness.schedule"):
            self._schedule(verdict).write.format("noop") \
                .mode("overwrite").save()


# ------------------------------------------------------------------ #
# serve                                                               #
# ------------------------------------------------------------------ #

SERVE_OPS = ("pq", "append", "lsh")
LSH_THRESHOLD = 0.5
PQ_K = 10
PQ_CELLS = 16


class Serve(Component):
    """A closed loop with one client over published indexes: LSH probes
    of request batches, IVF-PQ requests (full probe + exact rescore)
    and an ``lsh_index_append`` between probes. The op kinds are fixed
    (``SERVE_OPS``), the request batches drawn from the seed; appends
    cycle over a fixed set of batches, so index growth is fixed."""

    name = "serve"

    def setup(self) -> None:
        from trisk_datawrangle_spark.llm.lsh_index import (
            publish_index_versioned, write_lsh_index,
        )
        from trisk_datawrangle_spark.llm.pq_index import write_ivf_pq_index

        super().setup()
        s, sp = self.sizes, self.spark
        self.corpus = sp.read.parquet(f"{self.data}/corpus.parquet")
        self.requests = sp.read.parquet(f"{self.data}/requests.parquet")
        self.appends = sp.read.parquet(f"{self.data}/appends.parquet")
        self.emb = sp.read.parquet(f"{self.data}/embeddings.parquet")
        self.queries = sp.read.parquet(f"{self.data}/queries.parquet")
        idx = os.path.join(self.data, "index")
        self.lsh_root, self.pq_root = f"{idx}/lsh", f"{idx}/pq"
        with self.tracer.span("llm.lsh_index.build"):
            write_lsh_index(self.corpus, f"{idx}/lsh.staged", num_hashes=64,
                            bands=32, n_shards=8)
        with self.tracer.span("llm.lsh_index.publish"):
            publish_index_versioned(sp, f"{idx}/lsh.staged", self.lsh_root)
        with self.tracer.span("llm.pq_index.build"):
            write_ivf_pq_index(self.emb, f"{idx}/pq.staged",
                               n_cells=PQ_CELLS, m=8)
        with self.tracer.span("llm.lsh_index.publish"):
            publish_index_versioned(sp, f"{idx}/pq.staged", self.pq_root)
        rng = random.Random(self.seed)
        self.ops = [
            (kind, i % s["append_batches"] if kind == "append"
             else rng.randrange(s["request_batches"]))
            for i, kind in enumerate(SERVE_OPS)
        ]
        self.items = len(self.ops)
        self.appended: list[int] = []  # append batches in the index

    def _batch(self, df, b, cols):
        return df.filter(F.col("batch") == b).select(*cols)

    def run_pass(self, out: str):
        from trisk_datawrangle_spark.llm.lsh_index import (
            lsh_index_append, minhash_lsh_index_pairs,
        )
        from trisk_datawrangle_spark.llm.pq_index import ivf_pq_index_topk
        from trisk_datawrangle_spark.llm.similarity import (
            collect_query_batch, rescore_topk,
        )

        results = []
        for i, (kind, b) in enumerate(self.ops):
            self.tracer.op = i
            if kind == "lsh":
                batch = self._batch(self.requests, b, ["doc_id", "text"])
                with self.tracer.span("llm.lsh_index.probe") as sp:
                    df = minhash_lsh_index_pairs(
                        self.spark, self.lsh_root, batch,
                        threshold=LSH_THRESHOLD)
                    sp.built()
                    rows = [(r["id_a"], r["id_b"], r["jaccard"])
                            for r in df.collect()]
                results.append((kind, b, tuple(self.appended), rows))
            elif kind == "pq":
                q = self._batch(self.queries, b, ["vec_id", "embedding"])
                with self.tracer.span("llm.pq_index.topk") as sp:
                    q_rows = collect_query_batch(q, "vec_id", "embedding")
                    cand = ivf_pq_index_topk(
                        self.spark, self.pq_root, q, k=2_000_000_000,
                        n_probe=PQ_CELLS, ranked=False, q_rows=q_rows)
                    sp.built()
                    if self.tracer.enabled:
                        with self.tracer.untimed():
                            sp.extra["candidates_per_result"] = (
                                cand.count() / (PQ_K * len(q_rows)))
                with self.tracer.span("llm.similarity.rescore") as sp:
                    res = rescore_topk(cand, self.emb, q, k=PQ_K,
                                       q_rows=q_rows)
                    sp.built()
                    rows = [(r["query_id"], r["neighbor_id"], r["cosine"])
                            for r in res.collect()]
                results.append((kind, b, (), rows))
            else:
                batch = self._batch(self.appends, b, ["doc_id", "text"])
                with self.tracer.span("llm.lsh_index.append") as sp:
                    lsh_index_append(batch, self.lsh_root)
                    sp.extra["docs"] = self.sizes["append_docs"]
                if b not in self.appended:
                    self.appended.append(b)
                results.append((kind, b, tuple(self.appended), None))
        self.tracer.op = None
        return results

    # -- oracles -------------------------------------------------------

    def _oracle_inputs(self):
        import pyarrow.parquet as pq

        def grams(text):
            w = [x for x in re.split("[^a-z0-9]+", text.lower()) if x]
            return frozenset(" ".join(w[i:i + 3]) for i in range(len(w) - 2))

        c = pq.read_table(f"{self.data}/corpus.parquet").to_pylist()
        a = pq.read_table(f"{self.data}/appends.parquet").to_pylist()
        r = pq.read_table(f"{self.data}/requests.parquet").to_pylist()
        self._index_docs = {d["doc_id"]: (None, grams(d["text"])) for d in c}
        self._index_docs.update(
            {d["doc_id"]: (d["batch"], grams(d["text"])) for d in a})
        self._requests = {}
        for d in r:
            self._requests.setdefault(d["batch"], []).append(
                (d["doc_id"], grams(d["text"])))
        self._gram_index: dict[str, list[int]] = {}
        for did, (_, gs) in self._index_docs.items():
            for g in gs:
                self._gram_index.setdefault(g, []).append(did)
        e = pq.read_table(f"{self.data}/embeddings.parquet")
        self._vec_ids = np.asarray(e["vec_id"].to_pylist(), dtype=np.int64)
        self._vecs = np.asarray(e["embedding"].to_pylist(), dtype=np.float32)
        qt = pq.read_table(f"{self.data}/queries.parquet").to_pylist()
        self._queries = {}
        for d in qt:
            self._queries.setdefault(d["batch"], []).append(
                (d["vec_id"], np.asarray(d["embedding"], dtype=np.float32)))

    def _lsh_expected(self, b, appended):
        out = set()
        for rid, gs in self._requests[b]:
            cands = {i for g in gs for i in self._gram_index.get(g, ())}
            for did in cands:
                src, ig = self._index_docs[did]
                if src is not None and src not in appended:
                    continue
                j = len(gs & ig) / len(gs | ig)
                if j >= LSH_THRESHOLD:
                    out.add((did, rid, round(j, 6)))
        return out

    def _pq_matches(self, b, rows) -> bool:
        v = self._vecs.astype(np.float64)
        vn = np.linalg.norm(v, axis=1)
        got: dict[int, list] = {}
        for qid, nid, cos in rows:
            got.setdefault(qid, []).append((nid, cos))
        if set(got) != {qid for qid, _ in self._queries[b]}:
            return False
        for qid, qv in self._queries[b]:
            q = qv.astype(np.float64)
            cos = (v @ q) / np.maximum(vn * np.linalg.norm(q), 1e-12)
            order = np.lexsort((self._vec_ids, -cos))[:PQ_K]
            want = [(int(self._vec_ids[i]), float(cos[i])) for i in order]
            have = sorted(got[qid], key=lambda t: (-t[1], t[0]))
            if len(have) != len(want):
                return False
            for (hi, hc), (wi, wc) in zip(have, want):
                if abs(hc - wc) > 1e-6:
                    return False
                # an id mismatch is only allowed between exact ties
                if hi != wi and abs(cos[self._vec_ids == hi][0] - wc) > 1e-9:
                    return False
        return True

    def check(self, results):
        """One op per request: LSH probe pairs equal the exact-Jaccard
        pairs of the batch against the index as it stood (corpus plus
        the appends made so far); PQ results equal a numpy brute-force
        top-k (ties by id); an append is checked by the probes after
        it."""
        self._oracle_inputs()
        failed, notes = 0, []
        for kind, b, appended, rows in results:
            if kind == "lsh":
                got = {(a, i, round(j, 6)) for a, i, j in rows}
                want = self._lsh_expected(b, set(appended))
                if got != want or len(got) != len(rows):
                    failed += 1
                    notes.append(f"lsh batch {b}: {len(got)} pairs, "
                                 f"{len(want)} expected")
            elif kind == "pq" and not self._pq_matches(b, rows):
                failed += 1
                notes.append(f"pq batch {b}: top-{PQ_K} mismatch")
        return len(results), failed, notes, None


COMPONENTS = {c.name: c for c in (Workflow, Curate, Crawl, Serve)}
