"""The repo benchmark: one command, one seeded workload per run.

    python3 perfbench/run.py --workload workflow --seed 1 --seconds 10 \\
        --trace 0

Runs from any working directory; everything it writes (inputs,
warehouse, indexes, outputs, Spark scratch) goes under a temp root
inside the checkout that is removed at exit. The last line of
standard output is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: with ``--trace 0`` the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of a traced run (whose spans
also go to ``.perfbench_traces/<workload>-seed<n>.jsonl``). The line
before it is a report with every metric of the run, the failure notes
and the run's context (load average, ``bench.calibrate()``).

Protocol: start Spark, set up (generate inputs, build indexes), then
run passes of the workload's op sequence until ``--seconds`` have gone
by (at least one), each pass from the same state (caches cleared, a
fresh output directory); then check every pass's outputs. See
``spec.json`` for the workloads, metrics and layers.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "trisk_datawrangle_spark"

#: workload → components (perfbench/workloads.py), run in this order.
WORKLOADS = {
    "llm": ("curate", "crawl"),
    "workflow": ("workflow",),
}
#: components a workload runs in traced runs only, after its passes:
#: serving's per-op cost does not fit the untraced runs' time budget
#: (see spec.json "left_out").
TRACED_ONLY = {"llm": ("serve",)}


def _spec() -> dict:
    """spec.json (session settings, layer map) plus the metric lists
    of BENCHMARK.json, which name what a run must print."""
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec["end_to_end"], spec["per_layer"] = (
        bench["end_to_end"], bench["per_layer"])
    return spec


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help="self-test sizes (perfbench/gen.py TOY_SIZES)")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test only: damage one output before the "
                    "checks, which must then count a failed op")
    return ap.parse_args(argv)


def _environment(tmp: str, spec: dict) -> None:
    """Environment for the driver JVM and the PySpark workers; must be
    set before pyspark starts the JVM."""
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_SERVING_DIR"] = os.path.join(tmp, "serving")
    os.environ["SPARK_GRAFT_ANSI"] = spec["session"]["ansi"]
    # the script directory would shadow top-level modules; import the
    # benchmark as the perfbench package from the checkout root instead
    sys.path[:] = [ROOT] + [
        p for p in sys.path if os.path.abspath(p or ".") not in (HERE, ROOT)
    ]


def _session(tmp: str, spec: dict):
    from trisk_datawrangle_spark import get_spark

    s = spec["session"]
    cpus = os.cpu_count() or 1
    conf = dict(s["conf"])
    conf["spark.sql.warehouse.dir"] = os.path.join(tmp, "warehouse")
    conf["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={tmp}"
    spark = get_spark(
        app_name="perfbench", master=f"local[{cpus}]",
        shuffle_partitions=s["shuffle_partitions"], extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and the Python workers
    it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _context() -> dict:
    """Box state, recorded next to the numbers and never gated."""
    ctx = {"loadavg": list(os.getloadavg()), "cpus": os.cpu_count()}
    try:
        from bench import calibrate

        ctx["calibrate_s"] = calibrate()
    except ImportError:
        pass
    return ctx


def _reset(spark) -> None:
    from trisk_datawrangle_spark.operators.persist import unpersist_all_rdds

    spark.catalog.clearCache()
    unpersist_all_rdds(spark, blocking=True)


def run(args, tmp: str, spec: dict) -> dict:
    from perfbench import spans as sp
    from perfbench.workloads import COMPONENTS

    t0 = time.perf_counter()
    spark = _session(tmp, spec)
    start_s = time.perf_counter() - t0
    try:
        pid = sp.jvm_pid(spark)
        tracer = sp.Tracer(spark, enabled=bool(args.trace))
        data = os.path.join(tmp, "data")
        comps = [COMPONENTS[n](spark, tracer, data, args.seed, args.toy, tmp)
                 for n in WORKLOADS[args.workload]]
        t = time.perf_counter()
        with tracer.span("setup"):
            for c in comps:
                c.setup()
        setup_s = start_s + time.perf_counter() - t

        # (wall_s, wall_s less trace-only work, per-component wall_s,
        #  per-component result)
        passes = []
        deadline = time.perf_counter() + args.seconds
        while not passes or time.perf_counter() < deadline:
            _reset(spark)
            n = len(passes)
            walls, results = {}, {}
            t = time.perf_counter()
            self_before = tracer.self_s
            with tracer.span("pass"):
                for c in comps:
                    out = os.path.join(tmp, "out", f"{c.name}-{n}")
                    tc = time.perf_counter()
                    results[c.name] = _attempt(c, out)
                    walls[c.name] = time.perf_counter() - tc
            wall = time.perf_counter() - t
            passes.append((wall, wall - (tracer.self_s - self_before),
                           walls, results))

        checks = [(c, p[3][c.name], i == 0)
                  for i, p in enumerate(passes) for c in comps]
        breakdown_s = 0.0
        if tracer.enabled:
            _reset(spark)
            t = time.perf_counter()
            with tracer.span("breakdown"):
                for c in comps:
                    c.breakdown()
                for name in TRACED_ONLY.get(args.workload, ()):
                    c = COMPONENTS[name](spark, tracer, data, args.seed,
                                         args.toy, tmp)
                    c.setup()
                    out = os.path.join(tmp, "out", c.name)
                    checks.append((c, _attempt(c, out), True))
            breakdown_s = time.perf_counter() - t

        attempted, failed, notes, digests = 0, 0, [], {}
        for c, result, first in checks:
            try:
                if isinstance(result, Raised):
                    raise RuntimeError(result)
                if args.corrupt and first:
                    result = _corrupt(result)
                a, f, nt, dg = c.check(result)
            except Exception:  # a pass or check that raised: a failed op
                a, f, dg = 1, 1, None
                nt = [f"{c.name}: {traceback.format_exc(limit=-2)}"]
            attempted, failed = attempted + a, failed + f
            notes += nt
            if dg and first:
                digests[c.name] = dg

        gc_s = sp.jvm_gc_s(spark)
        counters = tracer.counters() if tracer.enabled else {}
        jvm_rss = sp.peak_rss_mb(pid)
    finally:
        _stop(spark)
    py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

    items = sum(c.items for c in comps)
    pass_s = statistics.median(p[0] for p in passes)
    e2e = {"setup_s": setup_s, "items_per_s": items / pass_s}
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": len(passes), "pass_s": [p[0] for p in passes],
        "component_s": [p[2] for p in passes],
        "items": items, "fail_ratio": failed / max(attempted, 1),
        "session_start_s": start_s, "notes": notes[:20],
        "peak_rss_mb": jvm_rss + py_rss,
        "digests": digests, "breakdown_s": breakdown_s,
    }
    layer = {}
    if tracer.enabled:
        untraced = statistics.median(p[1] for p in passes)
        layer = _layer_metrics(spec, tracer, counters, {
            "session.start_s": start_s,
            "session.gc_s": gc_s,
            "session.jvm_peak_rss_mb": jvm_rss,
            "trace.overhead_ratio": pass_s / untraced,
        })
        os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
        tracer.write_jsonl(os.path.join(
            ROOT, ".perfbench_traces",
            f"{args.workload}-seed{args.seed}.jsonl"), counters)
    return {"e2e": e2e, "layer": layer, "report": report,
            "attempted": attempted, "failed": failed}


class Raised(str):
    """The traceback of a pass that raised; its check counts it failed."""


def _attempt(component, out: str):
    try:
        return component.run_pass(out)
    except Exception:
        return Raised(traceback.format_exc(limit=-3))


def _corrupt(result):
    """Damage a check input the way a wrong program output would."""
    if isinstance(result, str):  # an output directory: drop a table
        shutil.rmtree(os.path.join(result, sorted(os.listdir(result))[0]))
        return result
    if isinstance(result, list) and result:
        first = result[0]
        if isinstance(first, dict):  # curate split rows
            return [dict(first, n_docs=first["n_docs"] + 1)] + result[1:]
        kind, b, appended, rows = first  # serve: drop one result row
        return [(kind, b, appended, (rows or [])[1:] + [(-1, -1, 1.0)])] \
            + result[1:]
    return result


def _layer_metrics(spec, tracer, counters, fixed) -> dict:
    """``<span>.<counter>`` for every per-layer metric: the median over
    the spans of that name (zero when the workload never calls the
    layer)."""
    by_name: dict[str, list[dict]] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(counters[s.id])
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        if name in fixed:
            out[name] = fixed[name]
            continue
        span, counter = name.rsplit(".", 1)
        vals = []
        for c in by_name.get(span, ()):
            if counter == "bytes_written_per_doc":
                vals.append(c["output_bytes"] / max(c.get("docs", 1), 1))
            elif counter in c:
                vals.append(c[counter])
        out[name] = statistics.median(vals) if vals else 0
    return out


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found next to "
              f"{HERE}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    spec = _spec()
    tmp = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    _environment(tmp, spec)
    try:
        context = _context()
        res = run(args, tmp, spec)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    kind = "per_layer" if args.trace else "end_to_end"
    values = res["layer"] if args.trace else res["e2e"]
    metrics = {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
        for m in spec[kind]
    }
    report = dict(res["report"], context=context, end_to_end=res["e2e"])
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
