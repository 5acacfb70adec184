"""One benchmark process: start a Spark session, load a workload's
entry points, run its items pass after pass, and write what it measured
as JSON to ``--out``.

Modes:

- ``setup``: session start and entry-point load only.
- ``measure``: set-up, a cold pass, then warm passes for ``--seconds``
  (at least ``MIN_PASSES``). No status-store reads.
- ``trace``: as ``measure``, but the Spark jobs of every call in a
  traced pass are read back from the status store and attributed to
  the call's build or action span. Warm passes alternate untraced and
  traced (at least ``MIN_TRACED`` of each), so the process also
  reports what tracing cost. Spans are appended to ``--spans`` as JSON
  lines.
- ``selfcheck``: set-up and one traced pass, on every workload given.

Every call's output is checked against the expected output after its
pass ends, outside the timed region. Run by ``perfbench/run.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import statistics
import sys
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path

import sparkstats
import workloads as wl

# warm passes a run makes at least. On a busy 4-core host a catalog
# run spends 35-40 s in its cold pass and 12-17 s in each warm pass; a
# third pass would take most runs past 100 s
MIN_PASSES = 2
# traced and untraced warm passes a trace-mode run makes at least, each:
# per-layer medians and the tracing overhead rest on three samples
MIN_TRACED = 3
# never start another warm pass this long after the process was
# spawned: a run must end within 180 s
PASS_DEADLINE_S = 130.0


@dataclass
class Call:
    """One item call: a catalog query's builder then its collecting
    action, or one ``run_mapred`` call (no separate builder)."""

    item: str
    t0: float
    t1: float  # end of the builder (== t0 when there is none)
    t2: float
    error: str | None = None
    output: object = None
    ok: bool = False
    build: sparkstats.JobStats | None = None
    action: sparkstats.JobStats | None = None

    @property
    def total_s(self) -> float:
        return self.t2 - self.t0


@dataclass
class Pass:
    label: str
    traced: bool
    calls: list[Call] = field(default_factory=list)
    t0: float = 0.0
    t1: float = 0.0
    proc_cpu_s: float = 0.0
    worker_cpu_s: float = 0.0
    pinned_mb: float = 0.0


class Catalog:
    """Registered catalog queries: ``fn(spark, sf_dir)``, then
    ``toPandas()`` on the result."""

    name = "catalog"

    def __init__(self, spark, corpus: Path):
        self.spark, self.sf_dir = spark, str(corpus)
        self.expected_file = corpus / "expected.pkl"
        self.expected = None

    def load(self) -> None:
        from mapreducegcp_spark.registry import all_queries

        queries = all_queries()
        self.fns = {n: queries[n].fn for n in wl.CATALOG_QUERIES}

    def items(self) -> tuple[str, ...]:
        return wl.CATALOG_QUERIES

    def begin_pass(self) -> None:
        pass

    def end_pass(self) -> None:
        pass

    def call(self, item: str, jobs: list[int] | None) -> Call:
        t0 = time.time()
        df = self.fns[item](self.spark, self.sf_dir)
        t1 = time.time()
        if jobs is not None:
            jobs.append(sparkstats.jobs_started(self.spark))
        pdf = df.toPandas()
        return Call(item, t0, t1, time.time(), output=pdf)

    def check(self, item: str, pdf) -> bool:
        if self.expected is None:  # loaded here, outside the timed set-up
            self.expected = pickle.loads(self.expected_file.read_bytes())
            self.normalize = wl.normalize_fn()
        cols, vals = self.normalize(pdf)
        return (cols, [repr(v) for v in vals]) == self.expected[item]


class MapRed:
    """The ``run_mapred`` facade: one job handle per pass, one call per
    application, each writing its merged JSON to a file."""

    name = "mapred-text"

    def __init__(self, spark, corpus: Path):
        self.spark = spark
        self.docs = str(corpus / "docs")
        self.out_dir = corpus / "out"
        self.out_dir.mkdir(exist_ok=True)
        self.expected_file = corpus / "expected.json"
        self.expected = None

    def load(self) -> None:
        from mapreducegcp_spark.plans.run_mapred import MapReduceEngine

        self.engine = MapReduceEngine(self.spark)
        self.engine.register_application("PyWordCount", *wl.user_app())

    def items(self) -> tuple[str, ...]:
        return wl.MAPRED_APPS

    def begin_pass(self) -> None:
        self.uid = self.engine.init_cluster(wl.CPUS, wl.CPUS)

    def end_pass(self) -> None:
        self.engine.destroy_cluster(self.uid)

    def call(self, item: str, jobs: list[int] | None) -> Call:
        if jobs is not None:
            jobs.append(jobs[0])  # no builder: every job is the call's own
        t0 = time.time()
        out = self.engine.run_mapred(self.uid, self.docs, item, item,
                                     str(self.out_dir / f"{item}.json"))
        return Call(item, t0, t0, time.time(), output=out)

    def check(self, item: str, out: str) -> bool:
        if self.expected is None:  # loaded here, outside the timed set-up
            self.expected = json.loads(self.expected_file.read_text())
        return wl.mapred_output_ok(item, out, self.expected)


class Process:
    """One workload runner in this process and every pass it ran."""

    def __init__(self, runner, tree: sparkstats.ProcessTree, started: float):
        self.runner, self.tree, self.started = runner, tree, started
        self.spark = runner.spark
        self.run_id = uuid.uuid4().hex[:8]
        self.passes: list[Pass] = []
        self.spans: list[dict] = []

    def span(self, name: str, start: float, end: float, parent: str | None) -> str:
        sid = f"{self.run_id}-{len(self.spans)}"
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, "run": self.run_id})
        return sid

    def run_pass(self, label: str, traced: bool) -> Pass:
        p = Pass(label, traced)
        cpu0, wcpu0 = self.tree.cpu_s(), self.tree.worker_cpu_s()
        p.t0 = time.time()
        self.runner.begin_pass()
        for item in self.runner.items():
            # job counter readings: before the call, after its builder
            jobs = [sparkstats.jobs_started(self.spark)] if traced else None
            try:
                c = self.runner.call(item, jobs)
            except Exception as e:  # noqa: BLE001 -- a failing item is counted, not fatal
                now = time.time()
                c = Call(item, now, now, now, error=repr(e)[:300])
            if traced:
                end = sparkstats.jobs_started(self.spark)
                mid = jobs[1] if len(jobs) > 1 else end
                sparkstats.drain_listener_bus(self.spark)
                c.build = sparkstats.job_stats(self.spark, jobs[0], mid)
                c.action = sparkstats.job_stats(self.spark, mid, end)
            p.calls.append(c)
        self.runner.end_pass()
        p.t1 = time.time()
        p.proc_cpu_s = self.tree.cpu_s() - cpu0
        p.worker_cpu_s = self.tree.worker_cpu_s() - wcpu0
        self.tree.sample_rss()
        if traced:
            p.pinned_mb = sparkstats.pinned_mb(self.spark)
            self.record_spans(p)
        for c in p.calls:  # untimed output check
            c.ok = c.error is None and self.runner.check(c.item, c.output)
            c.output = None
            if not c.ok:
                print(f"perfbench: {self.runner.name}/{c.item} failed in pass {label}: "
                      f"{c.error or 'wrong output'}", file=sys.stderr)
        self.passes.append(p)
        return p

    def record_spans(self, p: Pass) -> None:
        pid = self.span(f"pass:{p.label}", p.t0, p.t1, None)
        for c in p.calls:
            cid = self.span(f"item:{c.item}", c.t0, c.t2, pid)
            if c.t1 > c.t0:
                bid = self.span(f"build:{c.item}", c.t0, c.t1, cid)
                for a, b in c.build.job_spans:
                    self.span("job", a, b, bid)
            aid = self.span(f"action:{c.item}", c.t1, c.t2, cid)
            for a, b in c.action.job_spans:
                self.span("job", a, b, aid)

    def warm_passes(self, seconds: float, trace: bool) -> None:
        """Run warm passes while the next one is expected to end within
        ``seconds`` of the first, and at least ``MIN_PASSES`` (when
        ``trace``: ``MIN_TRACED`` of each kind, alternating)."""
        t_w = last = time.monotonic()
        done = {False: 0, True: 0}
        while True:
            now = time.monotonic()
            fits = now + (now - last) - t_w <= seconds
            enough = (min(done.values()) >= MIN_TRACED if trace
                      else done[False] >= MIN_PASSES)
            late = now - self.started > PASS_DEADLINE_S
            if (late and sum(done.values())) or (enough and not fits):
                break
            last = now
            traced = trace and done[True] < done[False]
            self.run_pass(f"w{sum(done.values())}", traced)
            done[traced] += 1

    def summary(self) -> dict:
        """Per-item seconds of the cold pass and of each untraced warm
        pass (the cold pass stands in when there is none), and the
        output check's verdicts."""
        calls = [c for p in self.passes for c in p.calls]
        warm = [p for p in self.passes[1:] if not p.traced] or self.passes[:1]
        return {
            "cold": {c.item: c.total_s for c in self.passes[0].calls},
            "warm": [{c.item: c.total_s for c in p.calls} for p in warm],
            "bad_items": sorted({c.item for c in calls if not c.ok}),
            "attempted": len(calls),
            "failed": sum(not c.ok for c in calls),
        }


def item_split(c: Call) -> tuple[float, float, int]:
    """(build seconds, seconds covered by Spark jobs, jobs launched in
    the build phase) of one traced call."""
    spans = c.build.job_spans + c.action.job_spans
    jobs_s = sparkstats.union_seconds(spans, c.t0, c.t2)
    if c.t1 > c.t0:
        return c.t1 - c.t0, jobs_s, c.build.jobs
    # no builder call: the build phase is the call's time before its
    # first Spark job (input classification and plan construction)
    first = min((a for a, _ in c.action.job_spans), default=c.t2)
    return min(max(first - c.t0, 0.0), c.total_s), jobs_s, 0


def _med(values) -> float:
    return statistics.median(values) if values else 0.0


def per_item_sum(passes: list[Pass], fn) -> float:
    """Sum over items of each item's median of ``fn(call)`` across
    ``passes``."""
    by_item: dict[str, list[float]] = {}
    for p in passes:
        for c in p.calls:
            by_item.setdefault(c.item, []).append(fn(c))
    return sum(_med(v) for v in by_item.values())


def warm_s(passes: list[Pass]) -> float:
    return per_item_sum(passes, lambda c: c.total_s)


def layer_metrics(proc: Process, setup: dict, old_gen_mb: float) -> dict[str, float]:
    traced = [p for p in proc.passes[1:] if p.traced] or proc.passes[:1]
    untraced = [p for p in proc.passes[1:] if not p.traced]
    cold = proc.passes[0]

    def stat(name):
        return per_item_sum(traced, lambda c: getattr(c.build, name) + getattr(c.action, name))

    def item_s(*names):
        return per_item_sum(traced, lambda c: c.total_s if c.item in names else 0.0)

    run_s = stat("run_s")
    jobs_wall = per_item_sum(traced, lambda c: item_split(c)[1])
    return {
        "session.start_s": setup["session_s"],
        "entry.load_s": setup["entry_s"],
        "operators.build_s": per_item_sum(traced, lambda c: item_split(c)[0]),
        "operators.build_cold_s": per_item_sum([cold], lambda c: item_split(c)[0]),
        "operators.build_jobs": per_item_sum(traced, lambda c: item_split(c)[2]),
        "exec.action_s": per_item_sum(traced, lambda c: c.total_s - item_split(c)[0]),
        "exec.jobs": stat("jobs"),
        "exec.stages": stat("stages"),
        "exec.tasks": stat("tasks"),
        "exec.failed_tasks": stat("failed_tasks"),
        "exec.run_s": run_s,
        "exec.cpu_s": stat("cpu_s"),
        "exec.busy_frac": run_s / (jobs_wall * wl.CPUS) if jobs_wall else 0.0,
        "driver.self_s": per_item_sum(traced, lambda c: c.total_s - item_split(c)[1]),
        "sources.input_mb": stat("input_mb"),
        "sources.input_rows": stat("input_rows"),
        "sources.scan_tasks": stat("scan_tasks"),
        "shuffle.write_mb": stat("shuffle_write_mb"),
        "shuffle.read_mb": stat("shuffle_read_mb"),
        "shuffle.spill_mb": stat("spill_mb"),
        "functions.pinned_mb": _med([p.pinned_mb for p in traced]),
        "jvm.old_gen_peak_mb": old_gen_mb,
        "plans.wordcount_s": item_s("wordcount", "WordCount"),
        "plans.inverted_index_s": item_s("inverted_index", "InvertedIndex"),
        "pyworker.cpu_s": _med([p.worker_cpu_s for p in traced]),
        "proc.cpu_s": _med([p.proc_cpu_s for p in traced]),
        "trace.overhead_s": warm_s(traced) - warm_s(untraced) if untraced else 0.0,
    }


def layer_table(proc: Process) -> list[str]:
    """Per item, median over the traced warm passes: its share of the
    pass, self time of the build and action spans, time in the Spark
    jobs under each, and the item's job, stage and task counts."""
    traced = [p for p in proc.passes[1:] if p.traced] or proc.passes[:1]
    pass_s = warm_s(traced)
    rows = [f"{proc.runner.name}: item | share | build_self_s | build_jobs_s | action_self_s | "
            "action_jobs_s | jobs | stages | tasks"]
    for item in proc.runner.items():
        calls = [c for p in traced for c in p.calls if c.item == item]

        def med(fn):
            return _med([fn(c) for c in calls])

        def jobs_in(c, lo, hi):
            return sparkstats.union_seconds(c.build.job_spans + c.action.job_spans, lo, hi)

        build = med(lambda c: item_split(c)[0])
        b_jobs = med(lambda c: jobs_in(c, c.t0, c.t0 + item_split(c)[0]))
        a_jobs = med(lambda c: jobs_in(c, c.t0 + item_split(c)[0], c.t2))
        total = med(lambda c: c.total_s)
        action = total - build
        rows.append(
            f"{item} | {total / pass_s:.1%} | {build - b_jobs:.3f} | {b_jobs:.3f} | "
            f"{action - a_jobs:.3f} | "
            f"{a_jobs:.3f} | {med(lambda c: c.build.jobs + c.action.jobs):.0f} | "
            f"{med(lambda c: c.build.stages + c.action.stages):.0f} | "
            f"{med(lambda c: c.build.tasks + c.action.tasks):.0f}"
        )
    return rows


def start(args) -> tuple[list, sparkstats.ProcessTree, dict]:
    """Time the set-up: session start, then the workloads' entry points."""
    sys.path.insert(0, str(wl.repo_root()))
    t_a, e_a = time.monotonic(), time.time()
    from mapreducegcp_spark.session import get_spark

    spark = get_spark("perfbench", cpus=wl.CPUS, extra_conf=wl.spark_conf())
    t_b, e_b = time.monotonic(), time.time()
    runners = []
    for name, corpus in zip(args.workload, args.corpus):
        runner = (Catalog if name == "catalog" else MapRed)(spark, Path(corpus))
        runner.load()
        runners.append(runner)
    t_c, e_c = time.monotonic(), time.time()
    setup = {"setup_s": t_c - args.t0, "session_s": t_b - t_a, "entry_s": t_c - t_b,
             "spans": [("get_spark", e_a, e_b), ("entry", e_b, e_c)]}
    return runners, sparkstats.ProcessTree(spark), setup


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("setup", "measure", "trace", "selfcheck"), required=True)
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--corpus", action="append", required=True)
    ap.add_argument("--t0", type=float, required=True, help="parent's monotonic clock at spawn")
    ap.add_argument("--seconds", type=float, required=True, help="warm-pass time")
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans")
    args = ap.parse_args()

    runners, tree, setup = start(args)
    result = {"setup": setup, "workloads": {}}
    trace = args.mode in ("trace", "selfcheck")
    if args.mode != "setup":
        for runner in runners:
            proc = Process(runner, tree, started=args.t0)
            for name, a, b in setup["spans"]:
                proc.span(name, a, b, None)
            proc.run_pass("cold", traced=trace)
            if args.mode != "selfcheck":
                proc.warm_passes(args.seconds, trace)
            res = proc.summary()
            res["peak_rss_mb"] = tree.peak_rss_mb()
            res["rss"] = tree.peak_by_role()
            res["rss"]["jvm_old_gen_peak"] = sparkstats.old_gen_peak_mb(runner.spark)
            if trace:
                res["layers"] = layer_metrics(proc, setup, res["rss"]["jvm_old_gen_peak"])
                res["table"] = layer_table(proc)
                if args.spans:
                    with open(args.spans, "a") as fh:
                        for s in proc.spans:
                            fh.write(json.dumps(s) + "\n")
            result["workloads"][runner.name] = res
    Path(args.out).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # skip the session's orderly shutdown: the parent kills this
    # process group (the JVM and its Python workers) once we are gone
    os._exit(code)
