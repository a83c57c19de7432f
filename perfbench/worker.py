"""One benchmark run inside a fresh Python process (and so a fresh JVM).

Started by ``perfbench/run.py``; writes its raw measurements as JSON to
``--out``. It drives the package from outside only: it times
``session.get_spark``, each registered query function, the noop sink,
``caching.release_caches()`` and ``caching.clear_all_memos()``, in
wall time and in CPU time of the worker's session (itself, its JVM and
the JVM's Python workers).

Phases: set-up; one cold pass whose results are collected for the
output check; steady passes with the noop sink until ``--seconds``
have passed (at least ``min_steady_passes``); then the output check
against each query's DuckDB oracle. With ``--trace 1`` the cold pass
and every second steady pass are traced, the rest are not, and the
difference between the two kinds of steady pass is the tracing
overhead.
"""

from __future__ import annotations

import time

T_IMPORT = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")
HARD_CAP_S = 120  # stop starting new passes after this long in the worker
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _session_cpu_s() -> float:
    """CPU seconds used so far by this process's session: the worker, its
    JVM and the JVM's Python workers, with their reaped children. Unlike
    wall time, it does not grow while the hypervisor steals the CPU."""
    sid = os.getsid(0)
    ticks = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(f[3]) == sid:
                ticks += sum(map(int, f[11:15]))  # utime stime cutime cstime
    return ticks / CLK_TCK


def _dtt_dirs() -> int:
    tmp = os.environ.get("TMPDIR", "/tmp")
    return sum(1 for n in os.listdir(tmp) if n.startswith("dtt-"))


class Runner:
    def __init__(self, args, spec, cfg):
        sys.path.insert(0, args.root)
        from datatransformertools_spark import caching, registry, session

        self.caching = caching
        self.registry = registry
        self.fns = registry.queries()
        missing = [q for q in spec["queries"] if q not in self.fns]
        if missing:
            raise SystemExit(f"queries not in the registry: {missing}")
        self.spark = session.get_spark("perfbench")
        self.setup_wall_s = time.time() - args.spawned_at
        self.setup_cpu_s = _session_cpu_s()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.args = args
        self.queries = list(spec["queries"])
        self.clear = spec["memo_policy"] == "clear"
        # At least 2, so a traced run has a traced and an untraced steady pass.
        self.min_passes = cfg["min_steady_passes"]
        self.tracer = None
        self.pass_layers: list[dict] = []
        self.coverage: list[float] = []
        if args.trace:
            from layers import Tracer

            self.tracer = Tracer(self.spark)
            self.run_span = self.tracer.span("run", None, T_IMPORT, None, workload=args.workload, seed=args.seed)

    def run_query(self, name: str, collect: bool, traced: bool) -> dict:
        tr = self.tracer if traced else None
        rec: dict = {"query": name}
        ids = {}
        rec["t0"] = t = time.time()
        try:
            if self.clear:
                rec["cleared"] = self.caching.clear_all_memos()
                rec["clear"] = (t, time.time())
                t = rec["clear"][1]
            if tr:
                ids["build"] = tr.ids()
            cpu0 = _session_cpu_s()
            df = self.fns[name](self.spark, self.args.data)
            rec["build"] = (t, time.time())
            t = rec["build"][1]
            if tr:
                ids["exec"] = tr.ids()
            if collect:
                rec["result"] = (df.columns, df.dtypes, df.collect())
            else:
                df.write.format("noop").mode("overwrite").save()
            rec["exec"] = (t, time.time())
            rec["cpu_s"] = _session_cpu_s() - cpu0
            t = rec["exec"][1]
            if tr:
                ids["end"] = tr.ids()
        except Exception as exc:  # counted as a failed query run
            rec["error"] = f"{type(exc).__name__}: {exc}"[:800]
        finally:
            rec["released"] = self.caching.release_caches()
            rec["release"] = (t, time.time())
            rec["t1"] = rec["release"][1]
        if "exec" in rec:
            rec["latency_s"] = rec["exec"][1] - rec["build"][0]
        return rec | {"ids": ids}

    def run_pass(self, idx: int, collect: bool, traced: bool) -> dict:
        order = list(self.queries)
        random.Random(self.args.seed * 1009 + idx).shuffle(order)
        tr = self.tracer if traced else None
        if tr:
            tr.discard_stream_progress()
        pspan = tr.span("pass", self.run_span, time.time(), None, index=idx, cold=collect) if tr else None
        p0, cpu0 = time.time(), _session_cpu_s()
        recs = []
        totals: list[dict] = []
        for name in order:
            before = _dtt_dirs() if tr else 0
            rec = self.run_query(name, collect, traced)
            recs.append(rec)
            if tr and "error" not in rec:
                qspan = tr.span("query", pspan, rec["t0"], rec["t1"], query=name)
                t = tr.record_query(qspan, rec, rec["ids"], _dtt_dirs() - before)
                self.coverage.append(t["coverage"])
                totals.append(t)
        p1, cpu1 = time.time(), _session_cpu_s()
        if tr:
            tr.spans[pspan]["t1"] = p1
            if totals:
                self.pass_layers.append(
                    {"cold": collect} | {k: sum(t[k] for t in totals) for k in totals[0] if k != "coverage"}
                )
        return {"pass_s": p1 - p0, "pass_cpu_s": cpu1 - cpu0, "traced": traced, "recs": recs}

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)


def check(data: str, oracles: dict, results: dict) -> dict[str, str]:
    """Compare each collected result with its DuckDB oracle; name → 'ok' or why not."""
    import duckdb
    from tools.canon import canon_rows, dtype_mismatches

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out = {}
    for name, (cols, dtypes, rows) in results.items():
        if name not in oracles:
            out[name] = "no oracle"
            continue
        try:
            rel = con.sql(oracles[name])
            drows = rel.fetchall()
        except Exception as exc:
            out[name] = f"oracle error: {exc}"[:300]
            continue
        if sorted(cols) != sorted(rel.columns):
            out[name] = f"columns differ: {sorted(cols)} vs {sorted(rel.columns)}"
        elif bad := dtype_mismatches(dtypes, rel.columns, rel.types):
            out[name] = f"dtypes differ: {bad}"
        elif canon_rows(cols, rows) != canon_rows(rel.columns, drows):
            out[name] = f"values differ ({len(rows)} vs {len(drows)} rows)"
        else:
            out[name] = "ok"
    con.close()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    for flag in ("--root", "--workload", "--data", "--out"):
        ap.add_argument(flag, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        cfg = json.load(fh)
    spec = cfg["workloads"][args.workload]

    r = Runner(args, spec, cfg)
    cold = r.run_pass(0, collect=True, traced=bool(args.trace))
    steady = []
    t_meas = time.time()
    while len(steady) < r.min_passes or (time.time() - t_meas < args.seconds and time.time() - T_IMPORT < HARD_CAP_S):
        # Traced runs alternate untraced and traced steady passes, starting
        # untraced, so the warm-up trend does not bias the overhead.
        steady.append(r.run_pass(len(steady) + 1, collect=False, traced=bool(args.trace) and len(steady) % 2 == 1))
    rss = r.peak_rss_mb()
    results = {rec["query"]: rec.pop("result") for rec in cold["recs"] if "result" in rec}
    checks = check(args.data, r.registry.oracle_sql(), results)
    if r.tracer:
        r.tracer.spans[r.run_span]["t1"] = time.time()
        r.tracer.write(os.path.join(os.path.dirname(args.out), "trace.json"))
    r.spark.stop()

    runs = [rec for p in [cold, *steady] for rec in p["recs"]]
    latencies: dict[str, list[float]] = {}
    query_cpu: dict[str, list[float]] = {}
    for rec in (rec for p in steady if not p["traced"] for rec in p["recs"] if "latency_s" in rec):
        latencies.setdefault(rec["query"], []).append(rec["latency_s"])
        query_cpu.setdefault(rec["query"], []).append(rec["cpu_s"])
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "setup_wall_s": r.setup_wall_s,
        "setup_cpu_s": r.setup_cpu_s,
        "cold_pass_s": cold["pass_s"],
        "cold_pass_cpu_s": cold["pass_cpu_s"],
        "steady": [{k: p[k] for k in ("pass_s", "pass_cpu_s", "traced")} for p in steady],
        "latencies": latencies,
        "query_cpu": query_cpu,
        "peak_rss_mb": rss,
        "attempted": len(runs) + len(checks),
        "errors": [f"{rec['query']}: {rec['error']}" for rec in runs if "error" in rec],
        "checks": checks,
        "pass_layers": r.pass_layers,
        "coverage_min": min(r.coverage) if r.coverage else None,
    }
    with open(args.out, "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main()
