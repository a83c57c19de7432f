"""Fast self-test of the benchmark itself, run from the checkout root:

    python3 perfbench/selftest.py

One traced run of each workload in ``BENCHMARK.json`` at the smallest
scale, with the fewest steady passes a traced run makes. It asserts that
every end-to-end and per-layer metric is emitted with its declared
unit, that every output check passed, and that in the trace each
query's build, exec, release and clear spans sit inside its query span
and cover at least 95% of it.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402

MIN_COVERAGE = 0.95
SLACK_S = 0.002  # job times in the status store have millisecond resolution


def _units(got: dict, want: dict, kind: str) -> None:
    assert set(got) == set(want), f"{kind} metrics differ: missing {set(want) - set(got)}, extra {set(got) - set(want)}"
    for name, (value, unit) in got.items():
        assert unit == want[name], f"{name}: unit {unit!r}, declared {want[name]!r}"
        assert isinstance(value, (int, float)), f"{name}: {value!r} is not a number"


def _spans_nest(spans: list[dict]) -> int:
    by_id = {s["id"]: s for s in spans}
    queries = [s for s in spans if s["name"] == "query"]
    assert queries, "trace has no query spans"
    for q in queries:
        kids = [s for s in spans if s["parent"] == q["id"]]
        names = {k["name"] for k in kids}
        assert {"build", "exec", "release"} <= names, f"{q['query']}: children {names}"
        for k in kids:
            assert q["t0"] <= k["t0"] <= k["t1"] <= q["t1"], f"{q['query']}: {k['name']} span outside its query"
        covered = sum(k["t1"] - k["t0"] for k in kids)
        assert covered >= MIN_COVERAGE * (q["t1"] - q["t0"]), f"{q['query']}: children cover {covered:.4f} s"
    for job in (s for s in spans if s["name"] == "job"):
        parent = by_id[job["parent"]]
        assert parent["name"] in ("build", "exec"), f"job {job['job_id']} under {parent['name']}"
        assert parent["t0"] - SLACK_S <= job["t0"], f"job {job['job_id']} starts before its {parent['name']} span"
    return len(queries)


def main() -> None:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in spec["workloads"]:
        res = bench.execute(w["name"], seed=0, seconds=0, trace=1)
        assert res["failed"] == 0, f"{w['name']}: errors {res['errors']} checks {res['bad_checks']}"
        _units(res["e2e"], e2e_units, "end-to-end")
        _units(res["layers"], layer_units, "per-layer")
        with open(res["trace_path"]) as fh:
            n = _spans_nest(json.load(fh)["spans"])
        print(f"{w['name']}: {len(res['e2e'])} end-to-end and {len(res['layers'])} per-layer metrics, "
              f"{n} traced queries nest", flush=True)
    print("selftest ok")


if __name__ == "__main__":
    main()
