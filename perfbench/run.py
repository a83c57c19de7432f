"""Benchmark entry point: one run of one workload, from the checkout root.

    python3 perfbench/run.py --workload reference_pipeline --seed 1 --seconds 10 --trace 0

A run generates the seeded input tables under ``.perfbench/`` (cached
by seed), gives the run its own ``TMPDIR`` and ``SPARK_LOCAL_DIRS``,
starts ``perfbench/worker.py`` as a fresh Python + JVM with
``SPARK_GRAFT_CPUS`` set to the usable core count, and waits for it.
After the worker exits it counts the ``dtt-*`` dirs the session left
in its ``TMPDIR`` and deletes the run's scratch dirs.

It prints a readable report, then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The workloads, their query lists and memo policies live in
``perfbench/workloads.json``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
WORKER_TIMEOUT_S = 165
LOG_TAIL = 40
TAIL_BEYOND = 10  # runs a tail percentile must leave beyond it


def load_config() -> dict:
    """``workloads.json``: query lists, memo policies and run settings."""
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _group_alive(pgid: int) -> bool:
    """Whether a process of group ``pgid`` still runs (zombies do not count:
    the worker stays one until it is reaped)."""
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    state, _, pgrp = fh.read().rsplit(")", 1)[1].split()[:3]
            except OSError:
                continue
            if state != "Z" and int(pgrp) == pgid:
                return True
    return False


def _stop_group(pgid: int) -> None:
    """Kill whatever the worker left in its process group and wait for it to go."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 5
        while time.time() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def query_runs(res: dict, key: str) -> list[float]:
    """``key`` ("latencies" or "query_cpu") of every query run in the
    untraced steady passes."""
    return [v for runs in res[key].values() for v in runs]


def query_tail(runs: list[float]) -> tuple[int, float] | None:
    """(percentile, value): the highest percentile with ``TAIL_BEYOND``
    runs beyond it, or None when that percentile is not above p50."""
    pct = int(100 * (1 - TAIL_BEYOND / len(runs)))
    if pct <= 50:
        return None
    return pct, statistics.quantiles(runs, n=100, method="inclusive")[pct - 1]


def end_to_end(res: dict) -> dict:
    """The bounded metrics. Set-up, pass and query costs are CPU seconds
    of the worker's whole process tree, not wall time: on a shared 4-vCPU
    VM, hypervisor steal of 1-36% per run moved the wall times by 20-40%
    (IQR/median over five to ten seeds), the CPU times by 4-16%.
    ``setup_s`` is the CPU the tree used from the worker's start until
    ``session.get_spark`` returned."""
    steady = [p for p in res["steady"] if not p["traced"]]
    return {
        "setup_s": (res["setup_cpu_s"], "s"),
        "cold_pass_cpu_s": (res["cold_pass_cpu_s"], "s"),
        "pass_cpu_s": (statistics.median(p["pass_cpu_s"] for p in steady), "s"),
        "query_p50_cpu_s": (statistics.median(query_runs(res, "query_cpu")), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def wall_times(res: dict) -> dict:
    """The same costs in wall time, for the report only."""
    return {
        "setup_wall_s": (res["setup_wall_s"], "s"),
        "cold_pass_s": (res["cold_pass_s"], "s"),
        "pass_s": (statistics.median(p["pass_s"] for p in res["steady"] if not p["traced"]), "s"),
        "query_p50_s": (statistics.median(query_runs(res, "latencies")), "s"),
    }


def per_layer(res: dict) -> dict:
    from layers import layer_metrics

    out = layer_metrics([p for p in res["pass_layers"] if not p["cold"]], res["setup_wall_s"])
    traced = [p["pass_s"] for p in res["steady"] if p["traced"]]
    plain = [p["pass_s"] for p in res["steady"] if not p["traced"]]
    out["trace.overhead_s"] = (statistics.median(traced) - statistics.median(plain), "s")
    out["trace.span_coverage_min"] = (res["coverage_min"], "ratio")
    out["tmp_dirs_left"] = (res["tmp_dirs_left"], "count")
    out["trace.stages_missing"] = (sum(p["stages_missing"] for p in res["pass_layers"]), "count")
    out["failed_frac"] = (res["failed"] / res["attempted"], "ratio")
    return out


def execute(workload: str, seed: int | None, seconds: float, trace: int) -> dict:
    """One run of ``workload``: the worker's result plus the derived metrics."""
    cfg = load_config()
    root = os.getcwd()
    for need in ("datatransformertools_spark/registry.py", "tools/canon.py"):
        if not os.path.isfile(os.path.join(root, need)):
            _fail(f"{need} not found; run from the root of a checkout of the repository")
    if workload not in cfg["workloads"]:
        _fail(f"unknown workload {workload!r}; expected one of {sorted(cfg['workloads'])}")
    if seed is None:
        seed = cfg["workloads"][workload]["default_seed"]

    sys.path.insert(0, HERE)
    import gen

    sf = cfg["sf"]
    work = os.path.join(root, ".perfbench")
    data = gen.write(os.path.join(work, "data", f"seed{seed}-sf{sf}"), seed, sf)
    run_dir = os.path.join(work, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=cpus,
        # The package's 16g default lets G1 grow the heap as it likes, so
        # peak_rss_mb measured when it last collected: 3.4-5.2 GB over five
        # seeds on a 4-vCPU VM (IQR/median 29%), against 1.2 GB (3%) with
        # 512m. The benchmark's inputs need far less than 512m.
        SPARK_GRAFT_DRIVER_MEM="512m",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join([root, HERE]),
    )
    out_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--root", root, "--workload", workload,
           "--data", data, "--out", out_path, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--spawned-at", repr(time.time())]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if rc != 0 or not os.path.exists(out_path):
        with open(log_path) as fh:
            tail = fh.readlines()[-LOG_TAIL:]
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.stderr.write("".join(tail))
        _fail("worker timed out" if rc is None else f"worker exited with code {rc}")

    with open(out_path) as fh:
        res = json.load(fh)
    if trace:
        res["trace_path"] = os.path.join(work, "traces", f"{workload}-seed{seed}.json")
        os.makedirs(os.path.dirname(res["trace_path"]), exist_ok=True)
        shutil.move(os.path.join(run_dir, "trace.json"), res["trace_path"])
    res["tmp_dirs_left"] = sum(1 for n in os.listdir(tmp) if n.startswith("dtt-"))
    shutil.rmtree(run_dir, ignore_errors=True)

    res.update(seed=seed, sf=sf, cpus=cpus)
    res["bad_checks"] = {q: why for q, why in res["checks"].items() if why != "ok"}
    res["failed"] = len(res["errors"]) + len(res["bad_checks"])
    res["e2e"] = end_to_end(res)
    res["layers"] = per_layer(res) if trace else {}
    return res


def main() -> None:
    ap = argparse.ArgumentParser(description="datatransformertools-spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=None, help="default: the workload's default_seed")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # On SIGTERM, unwind through execute()'s cleanup so the worker's JVM is stopped too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    res = execute(args.workload, args.seed, args.seconds, args.trace)
    metrics = res["layers"] if args.trace else res["e2e"]

    print(f"workload {args.workload} seed {res['seed']} sf {res['sf']} cpus {res['cpus']} trace {args.trace}")
    for err in res["errors"]:
        print(f"  error {err}")
    for q, why in res["bad_checks"].items():
        print(f"  check {q}: {why}")
    print(f"  checked {len(res['checks'])} queries against DuckDB, {len(res['bad_checks'])} mismatched")
    print("  steady pass_s " + " ".join(f"{p['pass_s']:.3f}{' (traced)' if p['traced'] else ''}" for p in res["steady"]))
    runs = query_runs(res, "latencies")
    tail = query_tail(runs)
    print(f"  query latency over {len(runs)} runs in the untraced steady passes: "
          + (f"p{tail[0]} {tail[1]:.4f} s" if tail else f"no percentile above p50 has {TAIL_BEYOND} runs beyond it"))
    for q, lat in sorted(res["latencies"].items()):
        print(f"  {q:32s} " + " ".join(f"{v:.3f}" for v in lat))
    shown = res["e2e"] | wall_times(res)
    shown["failed_frac"] = (res["failed"] / res["attempted"], "ratio")
    shown["tmp_dirs_left"] = (res["tmp_dirs_left"], "count")
    shown.update(res["layers"])
    for name, (value, unit) in shown.items():
        print(f"  {name:32s} {value:12.4f} {unit}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
