"""Seeded input generators, one per benchmark workload.

Each generator takes a seed and an output directory and writes the
workload's inputs there as parquet (plus, for ``serve`` and ``crawl``,
a JSON sidecar with the planted ground truth the output checks use).
The same seed always writes the same files. Sizes live in ``SIZES``
so the benchmark, its self-test and ``spec.json`` agree.

Run one alone::

    python3 perfbench/gen.py --workload crawl --seed 1 --out /tmp/crawl
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Default input sizes per workload (the benchmark's stated sizes).
SIZES = {
    "workflow": {"companies": 600},
    "curate": {"docs": 2000, "eval_docs": 20},
    "serve": {
        "lsh_docs": 1000, "vectors": 2000, "dim": 32, "batch": 32,
        "request_batches": 4, "append_batches": 1, "append_docs": 50,
    },
    "crawl": {"pages": 2000, "hosts": 40},
}

#: Self-test sizes: every workload in seconds, same code paths.
TOY_SIZES = {
    "workflow": {"companies": 60},
    "curate": {"docs": 300, "eval_docs": 20},
    "serve": {
        "lsh_docs": 120, "vectors": 300, "dim": 16, "batch": 8,
        "request_batches": 2, "append_batches": 1, "append_docs": 10,
    },
    "crawl": {"pages": 200, "hosts": 12},
}

VOCAB = (
    "spark scan shuffle stage task join window batch index probe query "
    "table column value order sort hash bucket band shard merge write "
    "read plan cache spill memory driver worker frame row page link host "
    "crawl fetch robots delay queue frontier token corpus split train "
    "model vector cell code score rank result energy carbon price power "
    "coal gas oil scenario company asset sector year growth market share "
    "the the and and of of"
).split()
FRENCH = "le la et le la et des une pour avec dans sur".split()


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path)


def _table(rows: list[tuple], names: list[str], types: list) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in names]
    return pa.table(
        {n: pa.array(list(c), type=t) for n, c, t in zip(names, cols, types)}
    )


# ------------------------------------------------------------------ #
# workflow: the run_workflow raw inputs (FIXTURES.md shapes)          #
# ------------------------------------------------------------------ #

SECTOR_TECHS = {
    "Power": (
        ("CoalCap", "Capacity", "GW"),
        ("GasCap", "Capacity", "GW"),
        ("RenewablesCap", "Capacity", "GW"),
    ),
    "Oil&Gas": (("Oil", "Production", "GJ"),),
    "Coal": (("Coal", "Production", "tonnes"),),
    "Automotive": (
        ("ICE", "Sales", "# vehicles"),
        ("Electric", "Sales", "# vehicles"),
    ),
}
ACTIVITY_UNITS = {
    "Power": ("MW", "MWh"), "Oil&Gas": ("GJ",), "Coal": ("tonnes",),
    "Automotive": ("# vehicles",),
}
SCENARIOS = ("WEO_STEPS", "WEO_APS", "WEO_SDS", "WEO_NZE")
GEOGRAPHIES = (
    "Global", "Europe", "NorthAmerica", "Asia", "Africa", "LatinAmerica"
)
COUNTRIES = ("DE", "FR", "GB", "US", "CA", "JP", "CN", "IN", "BR", "ZA",
             "AU", "MX")
WIDE_YEARS = tuple(range(2022, 2028))
PATHWAY_YEARS = (2022, 2025, 2030, 2035, 2040)
START_YEAR, TIME_HORIZON = 2022, 5


def gen_workflow(seed: int, out: str, companies: int) -> dict:
    """Raw inputs for every ``run_workflow`` stage. Company tables
    have ~30% NULL year cells, some all-NULL series and duplicated key
    rows; pathways have sparse years per series."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    n_rows = {}

    def put(name, rows, names, types):
        _write(f"{out}/{name}.parquet", _table(rows, names, types))
        n_rows[name] = len(rows)

    wide_names = ["company_id", "company_name", "ald_sector",
                  "ald_business_unit", "ald_location", "activity_unit",
                  *[f"Equity Ownership {y}" for y in WIDE_YEARS]]
    wide_types = [pa.int64()] + [pa.string()] * 5 + [pa.float64()] * len(
        WIDE_YEARS)
    sectors = list(SECTOR_TECHS)
    plan = []
    for cid in range(1, companies + 1):
        sector = rng.choice(sectors)
        techs = [t for t, _, _ in SECTOR_TECHS[sector]]
        plan.append((
            cid, sector,
            rng.sample(techs, rng.randint(1, min(2, len(techs)))),
            rng.sample(COUNTRIES, rng.randint(1, 2)),
        ))

    def wide(emissions: bool):
        rows = []
        for cid, sector, techs, countries in plan:
            dead = rng.random() < 0.02
            for tech in techs:
                for country in countries:
                    units = ("tCO2",) if emissions else ACTIVITY_UNITS[sector]
                    for unit in units:
                        vals = [
                            None if dead or rng.random() < 0.3
                            else round(rng.uniform(1, 1000), 2)
                            for _ in WIDE_YEARS
                        ]
                        row = (cid, f"Company {cid}", sector, tech, country,
                               unit, *vals)
                        rows.append(row)
                        if rng.random() < 0.05:  # duplicated key row
                            rows.append(row)
        return rows

    put("company_activities", wide(False), wide_names, wide_types)
    put("company_emissions", wide(True), wide_names, wide_types)

    scen_rows = []
    for scenario in SCENARIOS:
        for geo in GEOGRAPHIES:
            for sector, techs in SECTOR_TECHS.items():
                for tech, indicator, units in techs:
                    years = [PATHWAY_YEARS[0], PATHWAY_YEARS[-1]] + [
                        y for y in PATHWAY_YEARS[1:-1] if rng.random() < 0.6
                    ]
                    for year in sorted(years):
                        scen_rows.append((
                            "WEO2023", scenario, geo, sector, tech,
                            indicator, units, year,
                            round(rng.uniform(10, 500), 3),
                        ))
    put("scenario_analysis_input", scen_rows,
        ["source", "scenario", "scenario_geography", "sector",
         "technology", "indicator", "units", "year", "value"],
        [pa.string()] * 7 + [pa.int32(), pa.float64()])
    put("sector_tech_lookup",
        [(s, t) for s, ts in SECTOR_TECHS.items() for t, _, _ in ts],
        ["ald_sector", "ald_business_unit"], [pa.string()] * 2)
    put("scenario_types",
        [(s, "baseline" if i == 0 else "shock")
         for i, s in enumerate(SCENARIOS)],
        ["scenario", "scenario_type"], [pa.string()] * 2)

    cf_years = (2022, 2025, 2030, 2040)
    cf_rows = []
    for scenario in SCENARIOS:
        for geo in GEOGRAPHIES:
            for tech in ("Coal", "Gas", "Renewables"):
                cap = [round(rng.uniform(50, 150), 2) for _ in cf_years]
                gen = [None if rng.random() < 0.1
                       else round(c * rng.uniform(0.2, 0.9), 2) for c in cap]
                cf_rows.append(("WEO2023", scenario, geo, tech, "Capacity",
                                *cap))
                cf_rows.append(("WEO2023", scenario, geo, tech,
                                "Generation", *gen))
    put("capacity_factors_raw", cf_rows,
        ["Source", "Scenario", "ScenarioGeography", "Technology",
         "Indicator", *[str(y) for y in cf_years]],
        [pa.string()] * 5 + [pa.float64()] * len(cf_years))

    price_years = (2022, 2025, 2030, 2040)
    price_units = {"Power": "usd/MWh", "Oil&Gas": "usd/barrel",
                   "Coal": "usd/tonne", "Automotive": "usd/Mbtu"}
    # one curve per (scenario, sector), the same in every region: the
    # assembly joins prices on (scenario, sector, year) without the
    # geography, so curves that differ by region fan rows out
    price_rows = []
    for scenario in SCENARIOS:
        for sector, unit in price_units.items():
            curve = [None if rng.random() < 0.15
                     else round(rng.uniform(5, 120), 2)
                     for _ in price_years]
            curve[0] = curve[0] or 50.0
            for geo in GEOGRAPHIES[1:]:
                price_rows.append((scenario, geo, sector, unit, *curve))
    put("price_raw", price_rows,
        ["scenario", "scenario_geography", "sector", "unit",
         *[str(y) for y in price_years]],
        [pa.string()] * 4 + [pa.float64()] * len(price_years))

    carbon_years = tuple(range(2020, 2055, 5))
    carbon_rows = []
    for model in ("GCAM", "REMIND", "MESSAGE"):
        for scenario in SCENARIOS[1:]:
            for region in ("World", "Europe", "Asia"):
                base = rng.uniform(5, 60)
                carbon_rows.append((
                    model, scenario, region, "Price|Carbon", "US$/t",
                    *[round(base * (1 + 0.2 * i), 2)
                      for i in range(len(carbon_years))],
                ))
    put("ngfs_carbon_price_raw", carbon_rows,
        ["Model", "Scenario", "Region", "Variable", "Unit",
         *[str(y) for y in carbon_years]],
        [pa.string()] * 5 + [pa.float64()] * len(carbon_years))

    ids = [cid for cid, *_ in plan]
    covered = set(rng.sample(ids, len(ids) // 2))
    eikon_rows = []
    for cid in sorted(covered):
        for k in range(rng.randint(1, 3)):
            country = rng.choice(COUNTRIES)
            eikon_rows.append((
                f"{country}{cid:07d}{k}", cid, country,
                "EU" if country in ("DE", "FR", "GB") else "OTHER",
                None if rng.random() < 0.1 else rng.uniform(0, 1),
                rng.uniform(-0.5, 1.5), rng.uniform(0, 5), rng.uniform(0, 1),
            ))
    for i in range(max(companies // 20, 5)):  # orphan ISINs
        eikon_rows.append((f"XX{i:08d}", None, "XX", "OTHER",
                           0.5, 0.5, 1.0, 0.5))
    put("eikon_data", eikon_rows,
        ["isin", "company_id", "ald_location", "region", "pd",
         "net_profit_margin", "debt_equity_ratio", "volatility"],
        [pa.string(), pa.int64(), pa.string(), pa.string()]
        + [pa.float64()] * 4)
    covered_list = sorted(covered)
    tree = [
        (rng.choice(covered_list), cid, None if rng.random() < 0.3
         else round(rng.uniform(0.3, 1.0), 3), 1)
        for cid in ids if cid not in covered and rng.random() < 0.6
    ]
    put("ownership_tree", tree,
        ["parent_company_id", "subsidiary_company_id", "linking_stake",
         "ownership_level"],
        [pa.int64(), pa.int64(), pa.float64(), pa.int32()])
    return {"rows": sum(n_rows.values()), "tables": n_rows}


# ------------------------------------------------------------------ #
# curate: documents with planted duplicates and eval overlap          #
# ------------------------------------------------------------------ #


def _sentence(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n_words))


def _near_copy(rng: random.Random, text: str, edits: int) -> str:
    words = text.split(" ")
    for _ in range(edits):
        words[rng.randrange(len(words))] = rng.choice(VOCAB)
    return " ".join(words)


def gen_curate(seed: int, out: str, docs: int, eval_docs: int) -> dict:
    """``documents(doc_id, text)``: ids below ``eval_docs`` are the
    eval set; ~15% of corpus docs are exact copies and ~10% near
    copies (a few words edited) of earlier docs; ~5% plant a 4-gram
    run taken from an eval doc; ~5% are short and punctuation-heavy
    (they fail the quality gate) and ~3% are not English."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    texts: list[str] = []
    kinds = {"exact": 0, "near": 0, "contaminated": 0, "low_quality": 0,
             "foreign": 0}
    for i in range(eval_docs):
        texts.append(_sentence(rng, rng.randint(40, 80)))
    for i in range(eval_docs, docs):
        r = rng.random()
        originals = len(texts) - eval_docs
        if r < 0.15 and originals > 0:
            texts.append(texts[rng.randrange(eval_docs, len(texts))])
            kinds["exact"] += 1
        elif r < 0.25 and originals > 0:
            src = texts[rng.randrange(eval_docs, len(texts))]
            texts.append(_near_copy(rng, src, rng.randint(1, 2)))
            kinds["near"] += 1
        elif r < 0.30:
            ev = texts[rng.randrange(eval_docs)].split(" ")
            at = rng.randrange(len(ev) - 4)
            texts.append(
                _sentence(rng, rng.randint(20, 40)) + " "
                + " ".join(ev[at:at + 4]) + " "
                + _sentence(rng, rng.randint(20, 40))
            )
            kinds["contaminated"] += 1
        elif r < 0.35:  # short and punctuation-heavy
            texts.append(_sentence(rng, 3) + " !!! ?? ### $$$ ... ***")
            kinds["low_quality"] += 1
        elif r < 0.38:  # not English
            texts.append(" ".join(
                rng.choice(FRENCH) for _ in range(rng.randint(30, 60))))
            kinds["foreign"] += 1
        else:
            texts.append(_sentence(rng, rng.randint(30, 120)))
    _write(f"{out}/documents.parquet", pa.table({
        "doc_id": pa.array(range(len(texts)), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
    }))
    return {"docs": len(texts), "planted": kinds}


# ------------------------------------------------------------------ #
# serve: LSH corpus + request/append batches, vectors + queries       #
# ------------------------------------------------------------------ #


def gen_serve(seed: int, out: str, lsh_docs: int, vectors: int, dim: int,
              batch: int, request_batches: int, append_batches: int,
              append_docs: int) -> dict:
    """LSH side: ``corpus`` docs (ids from 0), ``requests`` batches
    (ids from 10**6, ~1/4 near copies of corpus or append docs —
    the planted hits — and the rest fresh text, the misses) and
    ``appends`` batches (ids from 2*10**6). Vector side: ``vectors``
    clustered unit-ish float32 vectors and ``queries`` batches of
    ``batch`` vectors each (ids from 10**6)."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    corpus = [_sentence(rng, rng.randint(30, 80)) for _ in range(lsh_docs)]
    appends = []
    for b in range(append_batches):
        for j in range(append_docs):
            appends.append((b, 2 * 10**6 + b * append_docs + j,
                            _sentence(rng, rng.randint(30, 80))))
    requests = []
    next_id = 10**6
    for b in range(request_batches):
        for j in range(batch):
            r = rng.random()
            if r < 0.2:
                text = _near_copy(rng, rng.choice(corpus), rng.randint(0, 2))
            elif r < 0.25:
                text = _near_copy(rng, rng.choice(appends)[2], 1)
            else:
                text = _sentence(rng, rng.randint(30, 80))
            requests.append((b, next_id, text))
            next_id += 1
    _write(f"{out}/corpus.parquet", pa.table({
        "doc_id": pa.array(range(lsh_docs), type=pa.int64()),
        "text": pa.array(corpus, type=pa.string()),
    }))
    for name, rows in (("requests", requests), ("appends", appends)):
        _write(f"{out}/{name}.parquet", pa.table({
            "batch": pa.array([r[0] for r in rows], type=pa.int32()),
            "doc_id": pa.array([r[1] for r in rows], type=pa.int64()),
            "text": pa.array([r[2] for r in rows], type=pa.string()),
        }))

    centers = nrng.standard_normal((24, dim))
    assign = nrng.integers(0, len(centers), vectors)
    emb = (centers[assign] + 0.35 * nrng.standard_normal((vectors, dim)))
    emb = emb.astype(np.float32)
    qassign = nrng.integers(0, len(centers), request_batches * batch)
    qv = (centers[qassign] + 0.35 * nrng.standard_normal(
        (len(qassign), dim))).astype(np.float32)
    emb_type = pa.list_(pa.float32())
    _write(f"{out}/embeddings.parquet", pa.table({
        "vec_id": pa.array(range(vectors), type=pa.int64()),
        "embedding": pa.array(list(emb), type=emb_type),
    }))
    _write(f"{out}/queries.parquet", pa.table({
        "batch": pa.array(np.repeat(np.arange(request_batches), batch),
                          type=pa.int32()),
        "vec_id": pa.array(range(10**6, 10**6 + len(qv)), type=pa.int64()),
        "embedding": pa.array(list(qv), type=emb_type),
    }))
    return {"lsh_docs": lsh_docs, "requests": len(requests),
            "appends": len(appends), "vectors": vectors,
            "queries": len(qv)}


# ------------------------------------------------------------------ #
# crawl: HTML pages with noisy links, per-host robots.txt             #
# ------------------------------------------------------------------ #

AGENT = "perfbench-crawler"
_UNRESERVED_NOISE = "abcdefghijklmnopqrstuvwxyz0123456789-._~"


def _pct_noise(rng: random.Random, path: str) -> str:
    """Percent-encode a few unreserved characters (lowercase hex):
    canonicalization must decode them back."""
    out = []
    for ch in path:
        if ch in _UNRESERVED_NOISE and rng.random() < 0.15:
            out.append("%" + format(ord(ch), "02x"))
        else:
            out.append(ch)
    return "".join(out)


def _robots_body(rng: random.Random, h: int):
    """A robots.txt body, the rules it sets for ``AGENT`` (the ``*``
    group; a decoy group for another agent must not apply) and its
    crawl delay (None on every fifth host)."""
    delay = None if h % 5 == 4 else float(rng.choice((0.5, 1, 2, 3)))
    rules = [("disallow", "/private/"), ("allow", "/private/open"),
             ("disallow", "/*.pdf$"), ("disallow", f"/s{h % 3}/")]
    lines = ["User-agent: otherbot", "Disallow: /", "Crawl-delay: 99", "",
             "User-agent: *"]
    lines += [f"{verb.capitalize()}: {path}" for verb, path in rules]
    if delay is not None:
        lines.append(f"Crawl-delay: {delay:g}")
    return "\n".join(lines) + "\n", rules, delay


def robots_allowed(rules: list[tuple[str, str]], path: str) -> bool:
    """Reference RFC 9309 matcher for the check: the longest matching
    rule wins, allow wins a tie, no match means allowed."""
    best = None
    for verb, pat in rules:
        anchored = pat.endswith("$")
        body = pat[:-1] if anchored else pat
        rx = "^" + ".*".join(re.escape(p) for p in body.split("*"))
        if anchored:
            rx += "$"
        if re.match(rx, path, re.S):
            key = (len(pat), verb == "allow")
            if best is None or key > best[0]:
                best = (key, verb)
    return best is None or best[1] == "allow"


def gen_crawl(seed: int, out: str, pages: int, hosts: int) -> dict:
    """``pages(page_id, host, url, html)`` with Zipf-skewed hosts and
    ~6 anchors per page: absolute links with scheme/host case, default
    ports and fragments; ``../`` and root-relative links; percent-
    encoded unreserved characters; ``rel=nofollow`` anchors and
    ``mailto:`` links that must not reach the frontier. ``robots(h,
    body)`` carries one robots.txt per host. ``truth.json`` holds the
    expected frontier (canonical URL → host) and each host's planted
    rules and crawl delay."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    cum, acc = [], 0.0
    for i in range(hosts):
        acc += 1.0 / (i + 1) ** 1.1
        cum.append(acc)

    def pick_host() -> int:
        return rng.choices(range(hosts), cum_weights=cum)[0]

    sections = ("a", "b", "private", "s0", "s1", "s2", "docs")

    def canon_path() -> str:
        sec = rng.choice(sections)
        if sec == "private" and rng.random() < 0.4:
            leaf = f"open{rng.randrange(50)}"
        else:
            leaf = f"p{rng.randrange(400)}" + (
                ".pdf" if rng.random() < 0.1 else "")
        q = f"?q={rng.randrange(9)}" if rng.random() < 0.15 else ""
        return f"/{sec}/{leaf}{q}"

    expected: dict[str, int] = {}
    rows = []
    for pid in range(pages):
        h = pick_host()
        dir_ = f"d{rng.randrange(20)}"
        url = f"https://host{h}.example.com/{dir_}/sub/page{pid}.html"
        anchors = []
        for _ in range(rng.randint(4, 8)):
            kind = rng.random()
            th = pick_host()
            cpath = canon_path()
            if kind < 0.35:  # absolute, noisy spelling
                scheme = rng.choice(("http", "https"))
                port = {"http": ":80", "https": ":443"}[scheme] if (
                    rng.random() < 0.3) else ""
                host = f"Host{th}.Example.COM" if rng.random() < 0.5 else (
                    f"host{th}.example.com")
                sch = scheme.upper() if rng.random() < 0.3 else scheme
                frag = "#top" if rng.random() < 0.2 else ""
                href = f"{sch}://{host}{port}{_pct_noise(rng, cpath)}{frag}"
                target = f"{scheme}://host{th}.example.com{cpath}"
            elif kind < 0.55:  # ../ relative to the page's directory
                leaf = f"r{rng.randrange(300)}"
                href = f"../{leaf}"
                target = f"https://host{h}.example.com/{dir_}/{leaf}"
            elif kind < 0.75:  # root-relative
                href = _pct_noise(rng, cpath)
                target = f"https://host{h}.example.com{cpath}"
            elif kind < 0.85:  # nofollow: never enters the frontier
                href = f"https://host{th}.example.com{cpath}"
                anchors.append(f'<a rel="nofollow" href="{href}">x</a>')
                continue
            elif kind < 0.9:
                anchors.append('<a href="mailto:team@example.com">m</a>')
                continue
            else:  # same-directory relative
                leaf = f"n{rng.randrange(200)}.html"
                href = leaf
                target = f"https://host{h}.example.com/{dir_}/sub/{leaf}"
            quote = '"' if rng.random() < 0.8 else "'"
            anchors.append(f"<a class=l href={quote}{href}{quote}>link</a>")
            expected[target] = int(target.split("://host")[1].split(".")[0])
        body = " ".join(
            f"<p>{_sentence(rng, rng.randint(8, 20))}</p>{a}" for a in anchors
        )
        html = (f"<html><head><title>page {pid}</title><style>p{{}}</style>"
                f"</head><body>{body}<script>var x=1;</script></body></html>")
        rows.append((pid, h, url, html))
    _write(f"{out}/pages.parquet", _table(
        rows, ["page_id", "h", "url", "html"],
        [pa.int64(), pa.int64(), pa.string(), pa.string()]))
    robots, rules, delays = [], {}, {}
    for h in range(hosts):
        body, rules[h], delays[h] = _robots_body(rng, h)
        robots.append((h, f"host{h}.example.com", body))
    _write(f"{out}/robots.parquet", _table(
        robots, ["h", "host", "body"], [pa.int64(), pa.string(), pa.string()]
    ))
    with open(f"{out}/truth.json", "w") as f:
        json.dump({"frontier": expected, "rules": rules, "delays": delays,
                   "agent": AGENT}, f)
    return {"pages": pages, "hosts": hosts, "frontier": len(expected)}


GENERATORS = {
    "workflow": gen_workflow,
    "curate": gen_curate,
    "serve": gen_serve,
    "crawl": gen_crawl,
}


def generate(workload: str, seed: int, out: str, toy: bool = False) -> dict:
    sizes = (TOY_SIZES if toy else SIZES)[workload]
    return GENERATORS[workload](seed, out, **sizes)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--toy", action="store_true")
    args = ap.parse_args(argv)
    print(json.dumps(generate(args.workload, args.seed, args.out, args.toy)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
