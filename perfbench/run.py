#!/usr/bin/env python3
"""Benchmark of the spark-graft engine, run from the repository root:

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload mapred-text --seed 1 --seconds 15 --trace 1
    python3 perfbench/run.py --selfcheck

One run generates the workload's input from ``--seed`` (cached per
seed under ``.perfbench/``), computes the expected outputs, then starts
one fresh Spark process (``perfbench/child.py``) that times its set-up,
runs a cold pass and warm passes for ``--seconds`` and checks every
output. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``, a separate traced run that also prints the per-layer
table and its own overhead). ``--selfcheck`` runs every workload on a
tiny input and prints every metric of both kinds.

Each run also records host steal and iowait shares and a fixed-work CPU
probe before and after it, in ``.perfbench/runs/``, to explain outlier
runs; they never cause a run to be dropped or repeated.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import sparkstats
import workloads as wl

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
ARTIFACTS = ROOT / "mapreducegcp_spark" / "artifacts"
RUN_LIMIT_S = 170.0


def child_env(tmp: Path) -> dict[str, str]:
    """Every file the engine writes (shuffle, streaming checkpoints,
    temp files, warehouse) lands under ``.perfbench/``."""
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_DRIVER_MEM": wl.DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(wl.CPUS),
        "SPARK_LOCAL_DIRS": str(tmp / "spark"),
        "SPARK_GRAFT_STREAM_CKPT_ROOT": str(tmp),
        "TMPDIR": str(tmp),
        # no /tmp/hsperfdata_* files from the launcher or driver JVM
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    # a thread cap inherited from the caller would throttle NumPy and
    # Arrow in the driver and the Python workers
    env.pop("OMP_NUM_THREADS", None)
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Kill the child's process group (its JVM and Python workers share
    it) and wait until every member has gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(200):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    raise RuntimeError(f"processes of group {proc.pid} outlived SIGKILL")


def spawn(mode: str, workloads: list[tuple[str, Path]], deadline: float,
          seconds: float = 0.0, spans: Path | None = None) -> dict:
    """Run one child process to completion and return what it wrote."""
    tmp = WORK / "tmp"
    (tmp / "spark").mkdir(parents=True, exist_ok=True)
    out = tmp / f"child-{os.getpid()}.json"
    out.unlink(missing_ok=True)
    cmd = [sys.executable, str(HERE / "child.py"), "--mode", mode, "--seconds", str(seconds),
           "--out", str(out)]
    for name, corpus in workloads:
        cmd += ["--workload", name, "--corpus", str(corpus)]
    if spans:
        cmd += ["--spans", str(spans)]
    log = WORK / "child.log"
    t0 = time.monotonic()
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=tmp, env=child_env(tmp),
                                stdout=fh, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
    if code != 0 or not out.exists():
        tail = log.read_text(errors="replace").splitlines()[-25:]
        raise RuntimeError(f"{mode} process failed (exit {code}):\n" + "\n".join(tail))
    result = json.loads(out.read_text())
    out.unlink()
    return result


def prepare(workload: str, seed: int, sizes: wl.Sizes) -> Path:
    """Generate (once) the input for ``seed`` and ``sizes``; the
    directory name holds both, so a change of sizes never reuses an old
    corpus."""
    if workload == "catalog":
        corpus = WORK / "corpus" / f"catalog-sf{sizes.catalog_sf}-s{seed}"
        wl.prepare_catalog(corpus, seed, sizes.catalog_sf)
    else:
        corpus = WORK / "corpus" / (f"mapred-text-{sizes.text_files}x{sizes.text_words_per_file}"
                                    f"-v{sizes.text_vocab}-z{sizes.text_zipf}-s{seed}")
        wl.prepare_text(corpus, seed, sizes)
    return corpus


def clear_artifacts(corpus: Path) -> None:
    """Remove index artifacts the engine trained for ``corpus`` (they
    are keyed by its directory name), so every run's cold pass trains
    them as on a freshly ingested corpus."""
    if ARTIFACTS.is_dir():
        for f in ARTIFACTS.glob(f"*_{corpus.name}_*"):
            f.unlink()


def warm_page_cache(deadline: float) -> None:
    """One untimed process per boot, so the first timed run does not
    pay for loading jars and modules from disk."""
    boot = Path("/proc/sys/kernel/random/boot_id").read_text().strip()
    marker = WORK / f"warm-{boot}"
    if not marker.exists():
        corpus = prepare("mapred-text", 0, wl.SELFCHECK)
        spawn("setup", [("mapred-text", corpus)], deadline)
        marker.touch()


def metric_block(spec: list[dict], values: dict[str, float]) -> dict:
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


def combine(main: dict, workload: str) -> dict:
    """End-to-end values of one measuring process."""
    res = main["workloads"][workload]
    items = wl.CATALOG_QUERIES if workload == "catalog" else wl.MAPRED_APPS
    warm = {i: statistics.median(p[i] for p in res["warm"]) for i in items}
    return {
        "setup_s": main["setup"]["setup_s"],
        "cold_s": sum(res["cold"].values()),
        "warm_s": sum(warm.values()),
        "peak_rss_mb": res["peak_rss_mb"],
        "ok_frac": 1.0 - len(res["bad_items"]) / len(items),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "items_warm_s": warm,
        **res.get("layers", {}),
    }


def measure(args, bench: dict, deadline: float) -> dict:
    shutil.rmtree(WORK / "tmp", ignore_errors=True)  # left by killed sessions
    corpus = prepare(args.workload, args.seed, wl.FULL)
    warm_page_cache(deadline)
    clear_artifacts(corpus)
    (WORK / "runs").mkdir(parents=True, exist_ok=True)
    ticks0, probe0 = sparkstats.host_ticks(), sparkstats.cpu_probe_s()
    spans = (WORK / "runs" / f"spans-{args.workload}-s{args.seed}-{int(time.time())}.jsonl"
             if args.trace else None)
    main = spawn("trace" if args.trace else "measure", [(args.workload, corpus)], deadline,
                 args.seconds or bench["run_seconds"], spans)
    clear_artifacts(corpus)
    quality = {
        **sparkstats.host_shares(ticks0, sparkstats.host_ticks()),
        "cpu_probe_before_s": probe0,
        "cpu_probe_after_s": sparkstats.cpu_probe_s(),
    }
    res = main["workloads"][args.workload]
    values = combine(main, args.workload)
    spec = bench["per_layer"] if args.trace else bench["end_to_end"]
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "warm_passes": len(res["warm"]),
              "warm_pass_s": [sum(p.values()) for p in res["warm"]],
              "rss": res["rss"], "cold": res["cold"],
              "items_warm_s": values["items_warm_s"], "quality": quality,
              "metrics": metric_block(spec, values)}
    with open(WORK / "runs" / "runs.jsonl", "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(f"perfbench: host steal {quality['steal']:.1%}, iowait {quality['iowait']:.1%}, "
          f"cpu probe {probe0:.3f}/{quality['cpu_probe_after_s']:.3f} s", file=sys.stderr)
    if args.trace:
        print("\n".join(res["table"]))
        print(f"tracing overhead: {values['trace.overhead_s']:+.3f} s per warm pass")
    return {
        "correct": values["ok_frac"] == 1.0 and values["failed"] == 0,
        "attempted": values["attempted"],
        "failed": values["failed"],
        "metrics": record["metrics"],
    }


def selfcheck(bench: dict, deadline: float) -> dict:
    shutil.rmtree(WORK / "tmp", ignore_errors=True)
    jobs = [(name, prepare(name, 0, wl.SELFCHECK))
            for name in ("catalog", "mapred-text")]
    for _, corpus in jobs:
        clear_artifacts(corpus)
    main = spawn("selfcheck", jobs, deadline)
    for _, corpus in jobs:
        clear_artifacts(corpus)
    out = {}
    for name, res in main["workloads"].items():
        values = combine(main, name)
        out[name] = {
            "end_to_end": metric_block(bench["end_to_end"], values),
            "per_layer": metric_block(bench["per_layer"], values),
            "attempted": values["attempted"],
            "failed": values["failed"],
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("catalog", "mapred-text"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, help="warm-pass time (default: run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()
    if not args.selfcheck and not args.workload:
        ap.error("--workload is required")
    if not (ROOT / "mapreducegcp_spark").is_dir() or not (ROOT / "BENCHMARK.json").is_file():
        print(f"perfbench: {ROOT} holds no engine checkout", file=sys.stderr)
        return 2
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    deadline = time.monotonic() + RUN_LIMIT_S
    WORK.mkdir(exist_ok=True)
    result = selfcheck(bench, deadline) if args.selfcheck else measure(args, bench, deadline)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
