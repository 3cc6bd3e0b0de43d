"""Spans around calls into the library's layers, tagged with Spark's
own counters for each span.

The benchmark measures layers from outside: a span times one call
into a public function, and Spark's status store supplies the work
that call caused. Each span runs under its own Spark job group, so
the jobs (and through them the stages and tasks) a span started can
be looked up afterwards. Spans are kept in memory and written out as
JSON lines when the run ends.

A disabled tracer hands out inert spans: the workload code is the
same in traced and untraced runs.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

#: Counters summed over a span's non-skipped stages.
STAGE_COUNTERS = (
    "tasks", "failed_tasks", "input_bytes", "output_bytes",
    "shuffle_write_bytes", "spill_bytes", "executor_run_s",
)


class Span:
    """One timed call. ``built()`` marks the moment the call returned
    its DataFrame; the rest of the span is the action."""

    __slots__ = ("id", "parent", "name", "op", "group", "t0", "t1",
                 "t_built", "extra")

    def __init__(self, sid, parent, name, op, group):
        self.id, self.parent, self.name, self.op = sid, parent, name, op
        self.group = group
        self.t0 = time.time()
        self.t1 = None
        self.t_built = None
        self.extra: dict = {}

    def built(self) -> None:
        self.t_built = time.time()


class _NullSpan:
    def __init__(self):
        self.extra: dict = {}

    def built(self) -> None:
        pass


class Tracer:
    """Span recorder. ``enabled=False`` makes every span a no-op."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self.op = None  # shared id of the spans of one op
        # time the traced run spends on work an untraced run skips:
        # span bookkeeping and the counts made only for the trace
        self.self_s = 0.0

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name, False)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield _NullSpan()
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        sp = Span(self._next, parent.id if parent else None, name, self.op,
                  f"perfbench-{self._next}")
        self._stack.append(sp)
        self._set_group(sp)
        self.self_s += time.perf_counter() - t
        try:
            yield sp
        finally:
            t = time.perf_counter()
            sp.t1 = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(sp)
            self.self_s += time.perf_counter() - t

    @contextmanager
    def untimed(self):
        """Work done only because the run is traced."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.self_s += time.perf_counter() - t

    # ------------------------------------------------------------ #

    def counters(self) -> dict[int, dict]:
        """Per-span counters (inclusive of child spans), read from the
        status store once the listener bus has drained."""
        if not self.spans:
            return {}
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            children.setdefault(sp.parent, []).append(sp)

        job_cache: dict[int, tuple] = {}
        stage_cache: dict[int, dict] = {}

        def job(jid):
            if jid not in job_cache:
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                stage_ids = []
                it = jd.stageIds().iterator()
                while it.hasNext():
                    stage_ids.append(int(it.next()))
                job_cache[jid] = (
                    sub.get().getTime() / 1000 if sub.isDefined() else None,
                    done.get().getTime() / 1000 if done.isDefined() else None,
                    stage_ids,
                )
            return job_cache[jid]

        def stage(sid):
            if sid not in stage_cache:
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    stage_cache[sid] = None
                else:
                    stage_cache[sid] = {
                        "tasks": sd.numTasks(),
                        "failed_tasks": sd.numFailedTasks(),
                        "input_bytes": sd.inputBytes(),
                        "output_bytes": sd.outputBytes(),
                        "shuffle_write_bytes": sd.shuffleWriteBytes(),
                        "spill_bytes": sd.diskBytesSpilled(),
                        "executor_run_s": sd.executorRunTime() / 1000,
                    }
            return stage_cache[sid]

        own_jobs = {
            sp.id: [int(j) for j in tracker.getJobIdsForGroup(sp.group)]
            for sp in self.spans
        }

        def subtree_jobs(sp):
            out = list(own_jobs[sp.id])
            for ch in children.get(sp.id, ()):
                out += subtree_jobs(ch)
            return out

        result = {}
        for sp in self.spans:
            jobs = sorted(set(subtree_jobs(sp)))
            stages = sorted({s for j in jobs for s in job(j)[2]})
            live = [stage(s) for s in stages]
            live = [s for s in live if s is not None]
            c = {k: sum(s[k] for s in live) for k in STAGE_COUNTERS}
            c["jobs"] = len(jobs)
            c["stages"] = len(live)
            wall = sp.t1 - sp.t0
            busy = _covered(
                [(job(j)[0], job(j)[1]) for j in jobs
                 if job(j)[0] is not None and job(j)[1] is not None],
                sp.t0, sp.t1,
            )
            c["wall_s"] = wall
            c["driver_idle_s"] = max(wall - busy, 0.0)
            c["self_s"] = wall - _covered(
                [(ch.t0, ch.t1) for ch in children.get(sp.id, ())],
                sp.t0, sp.t1,
            )
            if sp.t_built is not None:
                c["build_s"] = sp.t_built - sp.t0
                c["exec_s"] = sp.t1 - sp.t_built
            c.update(sp.extra)
            result[sp.id] = c
        return result

    def write_jsonl(self, path: str, counters: dict[int, dict]) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.id, "parent": sp.parent, "name": sp.name,
                    "op": sp.op, "start": sp.t0, "end": sp.t1,
                    "counters": counters.get(sp.id, {}),
                }, sort_keys=True) + "\n")


def _covered(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, lo
    for a, b in segs:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ------------------------------------------------------------------ #
# plan shape                                                          #
# ------------------------------------------------------------------ #

_NODE_RX = re.compile(r"^[\s:+\-*|]*(?:\(\d+\)\s*)?([A-Za-z][A-Za-z0-9]*)")
_PYTHON_NODE_RX = re.compile(r"Python|InPandas|InArrow")


def plan_stats(df, scrub: str | None = None) -> dict:
    """Size and shape of ``df``'s executed physical plan: its string
    length (expression ids and ``scrub`` — the run's temp root — taken
    out, so the count repeats across runs), the number of exchanges and
    of Python-evaluation nodes."""
    text = df._jdf.queryExecution().executedPlan().toString()
    if scrub:
        text = text.replace(scrub, "")
    text = re.sub(r"#\d+L?", "#", text)
    text = re.sub(r"plan_id=\d+", "plan_id=", text)
    nodes = [m.group(1) for m in map(_NODE_RX.match, text.splitlines()) if m]
    return {
        "plan_bytes": len(text.encode()),
        "exchanges": sum(n.endswith("Exchange") for n in nodes),
        "python_nodes": sum(bool(_PYTHON_NODE_RX.search(n)) for n in nodes),
    }


# ------------------------------------------------------------------ #
# process-level probes                                                #
# ------------------------------------------------------------------ #


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000
