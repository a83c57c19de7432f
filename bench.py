#!/usr/bin/env python3
"""Benchmark harness: run every registered query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

Each query is forced through a noop sink (`format("noop")`), which
executes the full plan — scan, shuffles, windows — without
collecting to the driver, so the numbers measure the engine, not
py4j serialization.

Besides stdout, the FULL per-query map is rewritten each run to
BENCH_DETAIL.json at the repo root (the driver keeps only the last
~2000 stdout chars, which truncates the detail line once the
registry passed ~140 queries — the file is the round-over-round
diffable artifact).

`--isolate q1 [q2 ...]` times each named query in a FRESH
subprocess/JVM instead: the in-suite numbers for iterative queries
(pagerank/kcore/semdedup/BPE) are dominated by codegen + GC
pressure from 200+ plans sharing one JVM, so regressions in that
family are only measurable isolated. bench-with-no-args also runs
the isolated pass for _ISOLATE_DEFAULT after the suite and stores
results under "isolated" in BENCH_DETAIL.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

# Fixed-workload calibration (VERDICT r7 #6): a constant synthetic
# scan→hash→shuffle→agg with NO data dependence, timed alongside the
# registry so round-over-round container drift is measured directly
# instead of adjudicated post-hoc from plan-unchanged queries.
# CAL_REF_SEC pins the r8 IDLE steady-state median on the reference
# container (three idle 4-run trials: medians 0.50-0.54 s; a
# concurrently-loaded container measures ~2 s — 4× — which is
# exactly the contention signal the calibration exists to expose);
# `drift` = median / CAL_REF_SEC, and the normalized totals in
# BENCH_DETAIL.json divide ambient drift back out so per-query
# diffs read net-of-container.
CAL_ROWS = 64_000_000
CAL_REF_SEC = 0.5
# Runs per calibration block; the FIRST run of each block pays
# codegen/arrival effects and is excluded from the drift median.
# Shared between _run_calibration and the steady-state slicing
# (ADVICE r9: the slicing used to hard-code stride 4 — changing the
# block size in one place silently misaligned the other).
CAL_RUNS_PER_BLOCK = 4

# Effective-cores burn — the SECOND calibration channel (VERDICT r9
# #5): r9 proved the fixed Spark workload under-measures contention
# that specifically hits wide stages (drift said 1.24 while
# same-code totals moved 1.65×). The burn measures multi-core
# throughput directly: one fixed CPU-bound task alone (t1), then
# CPUS copies concurrently in separate processes (no GIL, wall
# t_par) → effective cores = CPUS·t1/t_par. CORES_REF_EFFECTIVE pins
# the healthy idle reading on the reference container (the r9
# adjudication measured 16.3-20.6 effective cores minutes apart on
# "32 CPUs" — ~16 physical cores with SMT; 20.6 is the uncontended
# ceiling). cores_drift = ref/measured, so a degraded container
# reads > 1 exactly like the fixed-workload drift. The reference is
# calibrated at 32 workers and scales linearly with the configured
# worker count (an 8-CPU local loop compares against 20·8/32 = 5).
BURN_ITERS = 4_000_000
CORES_REF_EFFECTIVE = 20.0
CORES_REF_CPUS = 32


def _burn_task(_: int = 0) -> float:
    """Fixed CPU-bound work unit (integer LCG chain — no memory
    pressure, no syscalls); module-level so ProcessPoolExecutor can
    pickle it under any start method."""
    t0 = time.perf_counter()
    x = 1
    for _i in range(BURN_ITERS):
        x = (x * 1103515245 + 12345) % 2147483648
    return time.perf_counter() - t0


def _measure_effective_cores(cpus: int) -> float:
    """CPUS concurrent copies of the burn vs one alone: the ratio of
    aggregate to single-task throughput is the container's effective
    core count for a CPU-saturating stage (the r9 ad-hoc burn,
    PLANS.md r9 adjudication, as a first-class channel)."""
    from concurrent.futures import ProcessPoolExecutor

    t1 = min(_burn_task(), _burn_task())  # best-of-2 single baseline
    with ProcessPoolExecutor(max_workers=cpus) as pool:
        t0 = time.perf_counter()
        list(pool.map(_burn_task, range(cpus)))
        t_par = time.perf_counter() - t0
    return round(min(cpus * t1 / t_par, float(cpus)), 1)


def _run_calibration(spark) -> list[float]:
    """One block (CAL_RUNS_PER_BLOCK back-to-back runs) of the fixed
    workload; the first run of the block pays its own codegen
    (reported but excluded from the median by the block slicing)."""
    from pyspark.sql import functions as F

    runs: list[float] = []
    for _ in range(CAL_RUNS_PER_BLOCK):
        t0 = time.perf_counter()
        (
            spark.range(0, CAL_ROWS, 1, 32)
            .select(
                (F.col("id") % 4096).alias("k"),
                (F.xxhash64("id") % 1_000_003).alias("h"),
            )
            .groupBy("k")
            .agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("n"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        runs.append(round(time.perf_counter() - t0, 3))
    return runs


# the iterative family: multi-round jobs whose in-suite timings are
# dominated by shared-JVM codegen/GC, re-timed isolated each run
_ISOLATE_DEFAULT = [
    "part_pagerank",
    "part_kcore",
    "part_label_propagation",
    "part_similar_parts",
    "semdedup",
    "bpe_train_merges",
    "bpe_segment_stats",
    # the two >1s r4 in-suite movers (VERDICT r4 #5): isolated
    # cold/warm is the noise-vs-regression verdict for both.
    # dedup_embedding also joined the iterative family in r5 (its
    # blocking now runs the Lloyd's loop).
    "dedup_embedding",
    "lineitem_orc_roundtrip",
    # r6 (VERDICT r5 #5): 3 of the 4 slowest r5 queries, all
    # iterative/memo-sensitive — in-suite numbers are memo-order
    # artifacts; isolated cold/warm is the honest timing.
    "emb_blocking_curve",
    "dedup_embedding_components",
    "quality_logreg_score",
    # r7 (VERDICT r6 #3): the new top of the cost table — every
    # member of the slowest-5 now has honest cold/warm numbers.
    "simhash_hamming_curve",
    "embedding_knn_graph",
    # r11 (VERDICT r10 polish (a)): extend to the whole top of the
    # in-suite cost table so ambience adjudication never needs the
    # in-suite number — the streaming pair that spiked in r9/r10
    # (micro-batch + checkpoint IO under contention), the shared
    # Lloyd-fit payer, the kNN-memo consumer, and the next
    # non-iterative heavies.
    "events_stream_top_k_per_window",
    "events_stream_tumbling",
    "kmeans_embeddings",
    "embedding_intrinsic_dim",
    "part_price_index",
    "detection_eval",
    # the new composed chain: its cold number pays the CC loop +
    # stage-table builds — the honest timing is isolated, not the
    # memo-order-dependent in-suite slot
    "corpus_curation_pipeline",
]


def _prev_name_drift(old: dict, prev_run_drift: float, tag: str | None = None) -> float:
    """Drift the previous committed numbers for one isolated entry
    were measured under: the per-TAG `iso_drift_tags` stamped into
    r12+ artifacts (ADVICE r11: a kept row can mix passes — cold
    from the first pass, warm from the rerun — so one scalar
    mislabels one of them), then the per-name `iso_drift` (r11),
    then the run-wide `drift_used` for older artifacts."""
    tags = old.get("iso_drift_tags") or {}
    if tag is not None and tag in tags:
        return float(tags[tag])
    return float(old.get("iso_drift") or prev_run_drift)


def _band_moved_tags(
    old: dict[str, float], new: dict[str, float], band_by_tag
) -> list[str]:
    """Tags (cold/warm) whose new isolated timing exceeds 2× the
    prior committed timing after drift adjustment (`band_by_tag(t)`
    = drift_now / drift the prior tag was measured under) — the
    re-run trigger of the ambience gate (VERDICT r9 #2)."""
    return [
        tag
        for tag in ("cold", "warm")
        if tag in old
        and old[tag] > 0
        and new.get(tag, 0.0) / (old[tag] * band_by_tag(tag)) > 2.0
    ]


def _child_cpu_s(stat_path: str) -> float:
    """CPU seconds of the reaped children of a process (cutime + cstime
    of its ``/proc/<pid>/stat``)."""
    with open(stat_path) as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return (int(f[13]) + int(f[14])) / os.sysconf("SC_CLK_TCK")


def _run_one_isolated(name: str, sf_dir: str, cpus: str) -> dict[str, float]:
    """Time one query in a fresh python/JVM, twice: `cold` includes
    first-plan codegen/JIT of that query's operator family, `warm`
    (caches released, plan rebuilt) is the steady-state number to
    diff round-over-round — cold JIT dominated the single-number
    variant (2-3× the in-suite timing) and hid real regressions."""
    code = f"""
import sys, time, os
sys.path.insert(0, {_REPO_ROOT!r})
os.environ["SPARK_GRAFT_CPUS"] = {cpus!r}
from datatransformertools_spark import get_spark, registry
from datatransformertools_spark.caching import clear_all_memos, release_caches
spark = get_spark("dtt-bench-iso")
spark.sparkContext.setLogLevel("ERROR")
q = registry.queries()[{name!r}]
# one throwaway run of a trivial plan to pay session/scan init
spark.read.parquet({sf_dir!r} + "/nation.parquet").write.format("noop").mode("overwrite").save()
for tag in ("cold", "warm"):
    t0 = time.perf_counter()
    q(spark, {sf_dir!r}).write.format("noop").mode("overwrite").save()
    print("ISO_SEC_" + tag, round(time.perf_counter() - t0, 3))
    release_caches()
# memo-cold (r13, VERDICT r12 #2): cross-query memos cleared, JIT
# warm — times the query PAYING its own memo builds, vs `warm`
# which rides whatever the cold pass memoized. Additions-only: the
# cold/warm tags above are unchanged and stay the round-over-round
# comparison keys.
clear_all_memos()
release_caches()
t0 = time.perf_counter()
q(spark, {sf_dir!r}).write.format("noop").mode("overwrite").save()
print("ISO_SEC_warm_memo_cold", round(time.perf_counter() - t0, 3))
"""
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=1800
    )
    times: dict[str, float] = {}
    for line in out.stdout.splitlines():
        if line.startswith("ISO_SEC_"):
            tag, val = line.split()
            times[tag.removeprefix("ISO_SEC_")] = float(val)
    if "warm" not in times:
        raise RuntimeError(f"isolated run of {name} failed:\n{out.stderr[-2000:]}")
    return times


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    if len(sys.argv) > 1 and sys.argv[1] == "--isolate":
        if len(sys.argv) < 3:
            print("usage: bench.py --isolate QUERY [QUERY ...]", file=sys.stderr)
            sys.exit(2)
        iso = {n: _run_one_isolated(n, sf_dir, cpus) for n in sys.argv[2:]}
        print(json.dumps({"isolated": iso, "sf": sf_val}))
        return

    from datatransformertools_spark import get_spark, registry

    spark = get_spark("dtt-bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = registry.queries()

    # warm-up: JVM/codegen/parquet-footer caches — one trivial
    # relational plan plus one documents/text plan so first-query
    # timings measure the operator, not cold JIT of the scan+regex
    # pipeline every text/dedup query shares
    queries["q6_forecast_revenue"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    queries["text_stats"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # spin up the Arrow Python worker pool so the first mapInPandas
    # query isn't charged the one-time fork/import cost
    spark.range(64).repartition(int(cpus)).mapInArrow(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()

    # calibration BEFORE the suite (post-warm-up): ambient container
    # speed this run, on a workload that can never change with the
    # registry — both channels: the fixed Spark workload and the
    # effective-cores burn
    cal_runs = _run_calibration(spark)
    cores_samples = [_measure_effective_cores(int(cpus))]

    from datatransformertools_spark.caching import codegen_compiles, release_caches

    timings: dict[str, float] = {}
    # Janino compiles per query (additions-only key): a query that
    # compiles again in a warm session misses the codegen class cache
    compiles: dict[str, int] = {}
    # Spark jobs each query function starts before its plan executes
    # (additions-only key): schema probes, driver loops, checkpoints
    # and drains, counted by the DAG scheduler's job-id delta
    build_jobs: dict[str, int] = {}
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    # CPU of the shell commands the JVM forks and reaps during each
    # query (additions-only key): without libhadoop, Hadoop's local
    # file system runs chmod/readlink as child processes
    jvm_child_cpu_s: dict[str, float] = {}
    jvm_stat = f"/proc/{spark._jvm.java.lang.ProcessHandle.current().pid()}/stat"
    names = sorted(queries)
    mid = len(names) // 2
    for i, name in enumerate(names):
        # interleave a mid-suite calibration sample: a one-shot
        # start-of-run sample misses bursty shared-host contention
        # that only the 8-minute suite integrates (r9 measured
        # drift 0.88 on a run whose SAME-CODE control was 1.65×
        # slower than the round-start window — the ambience moved
        # AFTER the calibration ran). Start + middle + end samples
        # make `drift` an integral over the suite's actual window.
        if i == mid:
            cal_runs += _run_calibration(spark)
            cores_samples.append(_measure_effective_cores(int(cpus)))
        c0 = codegen_compiles(spark)
        k0 = _child_cpu_s(jvm_stat)
        t0 = time.perf_counter()
        j0 = dag.numTotalJobs()
        df = queries[name](spark, sf_dir)
        build_jobs[name] = dag.numTotalJobs() - j0
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        compiles[name] = codegen_compiles(spark) - c0
        jvm_child_cpu_s[name] = round(_child_cpu_s(jvm_stat) - k0, 3)
        # per-query release (the caching.track contract): each query
        # pays for its own stage tables and no cached blocks leak GC
        # pressure into later queries
        release_caches()
        # 100+ plans in one JVM accumulate codegen classes and young-
        # gen garbage; without an explicit collection, late heavy
        # queries pay 2-3× their isolated time in GC stalls. A full
        # GC every few queries keeps each measurement close to what
        # the query costs in a fresh session.
        if i % 8 == 7:
            spark._jvm.System.gc()

    # end-of-suite calibration sample, then the drift statistics:
    # fixed-workload median over every steady-state run (each
    # block's first run pays codegen/arrival effects and is
    # excluded; block size shared with _run_calibration — ADVICE r9)
    cal_runs += _run_calibration(spark)
    cores_samples.append(_measure_effective_cores(int(cpus)))
    steady = [
        r
        for b in range(0, len(cal_runs), CAL_RUNS_PER_BLOCK)
        for r in cal_runs[b + 1 : b + CAL_RUNS_PER_BLOCK]
    ]
    cal_median = sorted(steady)[len(steady) // 2]
    drift = round(cal_median / CAL_REF_SEC, 3)
    # second channel: effective-cores deficit vs the idle reference.
    # The normalization uses WHICHEVER channel moved more (VERDICT
    # r9 #5: wide stages can degrade 1.65× while the fixed workload
    # reads 1.24 — the burn sees the multi-core loss directly).
    cores_median = sorted(cores_samples)[len(cores_samples) // 2]
    cores_ref = CORES_REF_EFFECTIVE * int(cpus) / CORES_REF_CPUS
    cores_drift = round(cores_ref / max(cores_median, 0.1), 3)
    drift_used = max(drift, cores_drift)

    # Previous committed detail — the ambience band the isolated
    # entries are gated against (VERDICT r9 "What's wrong" #2: the
    # committed artifact carried 3× ambient-inflated isolated rows a
    # future round would misread as regressions; now any entry whose
    # drift-adjusted cold/warm moved >2× is re-run once and the
    # adjudication travels IN the artifact).
    prev_path = Path(_REPO_ROOT) / "BENCH_DETAIL.json"
    prev: dict = {}
    if prev_path.exists():
        try:
            prev = json.loads(prev_path.read_text())
        except Exception:  # noqa: BLE001 — a corrupt old artifact shouldn't kill the bench
            prev = {}
    prev_iso: dict = prev.get("isolated", {})
    prev_drift = float(prev.get("calibration", {}).get("drift_used",
                       prev.get("calibration", {}).get("drift", 1.0)) or 1.0)

    # isolated re-timings for the iterative family (fresh JVM each;
    # see module docstring). Skippable for quick local loops.
    #
    # Isolation-time drift (VERDICT r10 "What's wrong" #1): the
    # isolated pass runs at END of suite — exactly when a shared
    # host is most degraded — so banding its movers with the
    # RUN-WIDE drift median systematically misreads end-of-suite
    # contention as regressions (r10 needed hand-math in PLANS.md
    # for dedup_embedding_components cold 42.4 s: cores samples
    # [17.8, 15.7, 8.0] — 8 effective cores AT isolation time vs the
    # 15.7 median the band used). Fix: sample the cores channel
    # immediately before EACH isolated entry, band that entry with
    # max(fixed-workload drift, isolation-time cores drift), and
    # stamp the per-name `iso_drift` into the artifact so the next
    # run bands against the drift its numbers were measured under.
    isolated: dict[str, dict[str, float]] = {}
    iso_adjudication: dict[str, dict] = {}
    iso_cores_samples: list[float] = []
    if os.environ.get("SPARK_GRAFT_SKIP_ISOLATED") != "1":
        spark.stop()  # free the 32-thread JVM before forking fresh ones

        def _iso_drift_now() -> float:
            """Fresh cores sample → drift at THIS moment of the
            isolated pass (the fixed-workload channel can't re-run —
            its SparkSession is stopped — so it floors the value
            from the suite window)."""
            iso_cores_samples.append(_measure_effective_cores(int(cpus)))
            return round(max(drift, cores_ref / max(iso_cores_samples[-1], 0.1)), 3)

        for name in _ISOLATE_DEFAULT:
            if name in queries:
                iso_drift = _iso_drift_now()
                old = prev_iso.get(name) or {}
                # band vs the drift the PREVIOUS numbers were
                # measured under, PER TAG (ADVICE r11: the prior kept
                # row can mix passes, so each tag carries its own
                # drift; per-name/run-wide fallbacks for older
                # artifacts)
                def band_by_tag(tag, _d=iso_drift, _old=old):
                    return max(_d, 1e-9) / max(
                        _prev_name_drift(_old, prev_drift, tag), 1e-9
                    )

                try:
                    isolated[name] = _run_one_isolated(name, sf_dir, cpus)
                except Exception as e:  # noqa: BLE001 — a broken iso run shouldn't kill the bench
                    isolated[name] = {}
                    print(f"isolated {name} failed: {e}", file=sys.stderr)
                    continue
                drift_tags = {tag: iso_drift for tag in isolated[name]}
                # ambience-band gate: if a tag moved >2× vs the prior
                # committed run AFTER drift adjustment, re-run once;
                # keep the faster pass PER TAG (a spike that vanishes
                # on re-run is scheduler noise, not the plan) and
                # record both so the artifact adjudicates itself.
                moved = _band_moved_tags(old, isolated[name], band_by_tag)
                if moved:
                    # re-sample before the re-run: the whole point is
                    # that ambience moves within the isolated block
                    rerun_drift = _iso_drift_now()

                    def rerun_band_by_tag(tag, _d=rerun_drift, _old=old):
                        return max(_d, 1e-9) / max(
                            _prev_name_drift(_old, prev_drift, tag), 1e-9
                        )

                    try:
                        rerun = _run_one_isolated(name, sf_dir, cpus)
                    except Exception as e:  # noqa: BLE001
                        # the suspect first numbers stay, but the
                        # artifact must still carry the flag — an
                        # unadjudicated inflated row is exactly the
                        # defect this gate exists to prevent
                        isolated[name]["iso_drift"] = iso_drift
                        isolated[name]["iso_drift_tags"] = drift_tags
                        iso_adjudication[name] = {
                            "moved_tags": moved,
                            "first": dict(isolated[name]),
                            "rerun": None,
                            "prev": {t: old.get(t) for t in ("cold", "warm")},
                            "drift_band": {t: round(band_by_tag(t), 3) for t in moved},
                            "verdict": "rerun-failed (first numbers suspect)",
                        }
                        print(f"isolated rerun {name} failed: {e}", file=sys.stderr)
                        continue
                    first = dict(isolated[name])
                    # union of tags: a cold timing only the first pass
                    # produced must not be dropped (ADVICE r11); each
                    # kept tag remembers which pass (= which drift)
                    # supplied it.
                    kept: dict[str, float] = {}
                    drift_tags = {}
                    for tag in set(first) | set(rerun):
                        fv, rv = first.get(tag), rerun.get(tag)
                        if rv is None or (fv is not None and fv <= rv):
                            kept[tag], drift_tags[tag] = fv, iso_drift
                        else:
                            kept[tag], drift_tags[tag] = rv, rerun_drift
                    verdict = (
                        "ambient-spike"
                        if all(
                            rerun.get(t, 0.0) / (old[t] * rerun_band_by_tag(t)) <= 2.0
                            for t in moved
                        )
                        else "confirmed-mover"
                    )
                    isolated[name] = kept
                    iso_adjudication[name] = {
                        "moved_tags": moved,
                        "first": first,
                        "rerun": rerun,
                        "prev": {t: old.get(t) for t in ("cold", "warm")},
                        "drift_band": {t: round(band_by_tag(t), 3) for t in moved},
                        "rerun_band": {
                            t: round(rerun_band_by_tag(t), 3) for t in moved
                        },
                        "verdict": verdict,
                    }
                # stamp the drift these numbers were measured under —
                # next run's per-tag band denominators (scalar kept
                # for backward compatibility: the warm tag's drift)
                isolated[name]["iso_drift"] = drift_tags.get(
                    "warm", min(drift_tags.values()) if drift_tags else iso_drift
                )
                isolated[name]["iso_drift_tags"] = drift_tags

    # Full per-query detail: one JSON line for automation reading the
    # whole log, AND rewritten to a repo artifact (driver stdout is
    # truncated to ~2000 chars; the file survives for round diffs).
    calibration = {
        "runs": cal_runs,
        "median": cal_median,
        "ref_sec": CAL_REF_SEC,
        "drift": drift,
        "cores_samples": cores_samples,
        "cores_median": cores_median,
        "cores_ref": cores_ref,
        "cores_drift": cores_drift,
        "drift_used": drift_used,
        # cores channel re-sampled before each isolated entry (the
        # isolation-time drift each entry was banded with — VERDICT
        # r10 #1; per-name iso_drift sits in each isolated row)
        "iso_cores_samples": iso_cores_samples,
        "normalized_total_sec": round(sum(timings.values()) / max(drift_used, 1e-9), 1),
    }
    detail = {
        "detail": timings,
        "codegen_compiles": compiles,
        "build_jobs": build_jobs,
        "jvm_child_cpu_s": jvm_child_cpu_s,
        "isolated": isolated,
        "isolated_adjudication": iso_adjudication,
        "calibration": calibration,
        "sf": sf_val,
        "cpus": int(cpus),
    }
    print(json.dumps(detail))
    (Path(_REPO_ROOT) / "BENCH_DETAIL.json").write_text(json.dumps(detail, indent=1, sort_keys=True))
    # …then the headline LAST and COMPACT: the driver records only the
    # final ~2000 chars of stdout, so the parseable summary line must
    # fit that window regardless of how many queries the registry
    # grows to (r2's 142-query line overflowed it). `queries` carries
    # the slowest 25 (the ones worth reading in a summary); the full
    # map is in BENCH_DETAIL.json.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:25])
    # per-family rollup: always fits the driver's 2000-char stdout
    # tail even as the per-query map outgrows it (VERDICT r5 #8)
    fam_map = registry.families()
    fams: dict[str, float] = {}
    for name, sec in timings.items():
        fams[fam_map.get(name, "?")] = fams.get(fam_map.get(name, "?"), 0.0) + sec
    out = {
        "metric": "total_runtime_all_queries",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in sorted(slowest.items())},
        "queries_note": f"25 slowest of {len(timings)}; full map in BENCH_DETAIL.json",
        "families": {k: round(v, 1) for k, v in sorted(fams.items())},
        "calibration": {
            "median": cal_median,
            "drift": drift,
            "cores": cores_median,
            "cores_drift": cores_drift,
            "drift_used": drift_used,
        },
        "sf": sf_val,
        "n_queries": len(timings),
        "cpus": int(cpus),
    }
    line = json.dumps(out)
    assert len(line) < 1900, f"headline line too long ({len(line)})"
    print(line, flush=True)


if __name__ == "__main__":
    main()
