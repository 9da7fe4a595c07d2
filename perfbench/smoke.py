"""Smoke test of the benchmark itself (not of the program).

    python3 perfbench/smoke.py

For each workload kind it runs one traced run at sf0.001 and checks that
the result line has exactly its four keys, that every metric
BENCHMARK.json names is printed with its unit (per-layer metrics on the
result line, end-to-end metrics in the record), that the spans nest
(children inside their parent, self times ≥ 0 and adding up to each
unit's wall time), and that each workload touches the layers it should.
Last, it checks that the benchmark fails, without a result line, in a
directory that holds only BENCHMARK.json and perfbench/.
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans  # noqa: E402

#: layers each workload must (True) or must not (False) produce spans for
LAYERS = {
    "datacube": {"sinks": True, "operators": True, "sources": True,
                 "queries": False},
    "query_mix": {"queries": True, "operators": True, "sources": True,
                  "sinks": False},
}


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def check_workload(kind: str, spec: dict) -> list[str]:
    workload = f"{kind}_sf0.001"
    p = run(ROOT, workload, 1)
    if p.returncode != 0:
        return [f"{workload}: exit {p.returncode}: {p.stderr[-2000:]}"]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    record = json.loads(next(x for x in reversed(lines)
                             if x.startswith("perfbench-record "))
                        .split(" ", 1)[1])
    problems = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"not correct: {record['problems'][:5]}")
    for key, printed in (("per_layer", result["metrics"]),
                         ("end_to_end", record["end_to_end"])):
        for m in spec[key]:
            got = printed.get(m["name"])
            if got is None or got.get("unit") != m["unit"] \
                    or not isinstance(got.get("value"), (int, float)):
                problems.append(f"{key} metric {m['name']} printed as {got}")
    idle = "sinks." if kind == "query_mix" else "queries."
    busy = [k for k, v in result["metrics"].items()
            if k.startswith(idle) and v["value"]]
    if busy:
        problems.append(f"layer metrics of a layer it never calls are not 0: {busy}")
    with open(os.path.join(ROOT, record["context"]["span_file"])) as fh:
        trace = json.load(fh)
    problems += spans.check_spans(trace)
    seen = {s["layer"] for s in trace}
    for layer, wanted in LAYERS[kind].items():
        if (layer in seen) != wanted:
            problems.append(f"layer {layer} {'missing' if wanted else 'present'}")
    return [f"{workload}: {x}" for x in problems]


def check_without_program() -> list[str]:
    bare = os.path.join(HERE, "_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("_work", "_results",
                                                      "__pycache__"))
        p = run(bare, "datacube_sf0.001", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    out = p.stdout.strip().splitlines()
    if p.returncode == 0 or (out and out[-1].startswith("{")):
        return [f"without the program: exit {p.returncode}, stdout {out[-1:]}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = check_without_program()
    for kind in LAYERS:
        problems += check_workload(kind, spec)
    for p in problems:
        print("FAIL", p)
    print("smoke: ok" if not problems else f"smoke: {len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
