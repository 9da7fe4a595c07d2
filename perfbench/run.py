"""Benchmark of the slow_tortoise_spark engine: one client, closed loop, on
``local[nproc]`` with ``nproc`` shuffle partitions.

    python3 perfbench/run.py --workload datacube_sf0.001 --seed 1 --seconds 10 --trace 0

Run from the repository root.  The workload name is ``<kind>_sf<scale>``
with kind ``datacube`` or ``query_mix`` (see perfbench/README.md).  The
run generates its inputs from ``--seed``, starts one Spark session, stages
the inputs, runs the untimed warm-up units, then times units until
``--seconds`` have been measured and the workload's minimum ran, checking
each unit's outputs outside the timed region.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of traced units, which
alternate with untraced ones so the tracing overhead is measured in the
same run.  The line before it (``perfbench-record``) is the full record,
stamped with git HEAD (when there is one), a digest of the program
sources, core counts, scale, seed and the load average at start; the
same record and every span are written to perfbench/_results/.
Inputs and outputs live in perfbench/_work/, removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: workload kind -> (untimed warm-up units, minimum untraced timed units)
#: per run.  A query-mix pass is 18 samples; two leave 10 samples beyond
#: p70.  The datacube's JIT is still compiling through the unit after the
#: first (~9 s of compiler CPU in it, ~5 s later), which makes that unit
#: the one a busy host slows most, so it is a second warm-up.
UNITS = {"datacube": (2, 1), "query_mix": (1, 2)}
STAGE_REPEATS = 3


def parse_workload(name: str) -> tuple[str, float]:
    kind, _, sf = name.rpartition("_sf")
    if kind not in UNITS:
        raise ValueError(f"unknown workload {name!r}")
    return kind, float(sf)


def source_digest() -> str:
    """sha256 over the program's Python sources (a checkout may not be a
    git repository, so this identifies the code measured)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "slow_tortoise_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_head() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (q in 10..90 by tens) of ``values``."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[q // 10 - 1]


def start_session(cores: int, work: str, trace: bool):
    from slow_tortoise_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    if trace:
        # One datacube unit issues ~600 stages; the status store keeps
        # 1,000 by default.  Traced runs keep them all.
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.range(1).collect()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, close the JVM's stdin (the gateway exits on EOF) and
    wait until every process this run started has ended."""
    import proc
    from pyspark import SparkContext

    pids = [p for p in proc.tree_pids() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        jvm = getattr(gateway, "proc", None)
        if jvm is not None and jvm.stdin is not None:
            jvm.stdin.close()
    proc.stop_processes(pids)


def with_units(values: dict, declared: list[dict]) -> dict:
    """The metrics BENCHMARK.json declares, with their declared units."""
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in declared if m["name"] in values}


def run(args, kind: str, sf: float, work: str, spec: dict) -> dict:
    import duckdb

    import proc
    import workloads

    cores = len(os.sched_getaffinity(0))
    context = {
        "workload": args.workload, "seed": args.seed, "sf": sf,
        "trace": args.trace, "seconds": args.seconds,
        "git_head": git_head(), "source_sha256": source_digest(),
        "nproc": cores, "spark_cores": cores, "shuffle_partitions": cores,
        "load_1m_at_start": os.getloadavg()[0],
        "started_unix": time.time(),
    }
    run_t0 = time.perf_counter()
    spark = start_session(cores, work, args.trace)
    session_s = time.perf_counter() - run_t0
    try:
        context["spark_version"] = spark.version
        tracer = None
        if args.trace:
            import spans

            tracer = spans.Tracer(spark)
            context["traced_functions"] = tracer.install()
        w = workloads.WORKLOADS[kind](spark, work, args.seed, sf)

        stage_s = []
        for i in range(STAGE_REPEATS):
            t0 = time.perf_counter()
            w.stage(i)
            stage_s.append(time.perf_counter() - t0)
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{work}/duckdb'")
        w.oracle(con)
        con.close()

        order_rng = random.Random(args.seed)
        attempted = failed = 0
        problems: list[str] = []
        n_warm, min_units = UNITS[kind]
        t0 = time.perf_counter()
        try:
            for _ in range(n_warm):
                w.before_unit()
                problems += w.warm_up(order_rng)
        except Exception as e:  # noqa: BLE001 — a failing unit is a result
            attempted, failed = 1, 1
            problems.append(f"warm-up: {type(e).__name__}: {e}")
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(stage_s) + warm_s

        units = []
        measured = 0.0
        min_plain = 1 if args.trace else min_units
        i = 0
        while not failed:
            traced = bool(args.trace) and i % 2 == 1
            w.before_unit()
            span = tracer.span if traced else workloads.null_span
            ctx = tracer.traced_unit(i) if traced else nullcontext()
            u = {"unit": i, "traced": traced, "problems": []}
            cpu0 = proc.tree_cpu_seconds()
            t0 = time.perf_counter()
            try:
                with ctx:
                    out = w.unit(order_rng, span)
                u["wall_s"] = out.get("wall_s", time.perf_counter() - t0)
                u["cpu_s"] = proc.tree_cpu_seconds() - cpu0
                u["latencies"] = out.get("latencies") or [u["wall_s"]]
                u["problems"] = w.check(out)
                u["files"], u["bytes"] = out.get("files", 0), out.get("bytes", 0)
                if "per_query" in out:
                    u["per_query_s"] = out["per_query"]
                n_items = len(u["latencies"])
                n_bad = out.get("failed_queries", 1 if u["problems"] else 0)
                if traced:
                    u["layers"] = tracer.account(i, cores)
            except Exception as e:  # noqa: BLE001 — a failing unit is a result
                u.setdefault("wall_s", time.perf_counter() - t0)
                u["problems"].append(f"{type(e).__name__}: {e}")
                n_items = n_bad = len(workloads.QUERY_MIX) if kind == "query_mix" else 1
            attempted += n_items
            failed += n_bad
            problems += [f"unit {i}: {p}" for p in u["problems"]]
            units.append(u)
            measured += u["wall_s"]
            i += 1
            plain = [x for x in units if not x["traced"]]
            enough = len(plain) >= min_plain and (
                not args.trace or any(x["traced"] for x in units))
            if measured >= args.seconds and enough:
                break
        rss = proc.tree_peak_rss_mb()
        context["peak_rss_mb"] = sum(rss.values())
        context["peak_rss_by_process_mb"] = rss
        if tracer is not None:
            os.makedirs(os.path.join(HERE, "_results"), exist_ok=True)
            span_file = os.path.join(
                HERE, "_results", f"{args.workload}-seed{args.seed}-spans.json")
            tracer.dump(span_file, run_t0)
            context["span_file"] = os.path.relpath(span_file, ROOT)
    finally:
        stop_session(spark)

    plain = [u for u in units if not u["traced"] and "cpu_s" in u]
    if not plain:  # every unit failed: report what was measured
        plain = units or [{"wall_s": warm_s, "cpu_s": 0.0,
                           "latencies": [warm_s]}]
    samples = [x for u in plain for x in u.get("latencies", [u["wall_s"]])]
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(u["wall_s"] for u in plain),
        "query_p50_s": quantile(samples, 50),
        "query_p70_s": quantile(samples, 70),
        "cpu_s": statistics.median(u.get("cpu_s", 0.0) for u in plain),
        "success_frac": 1.0 - failed / max(1, attempted),
    }
    record = {
        "context": context,
        "correct": failed == 0 and not problems,
        "attempted": attempted, "failed": failed, "problems": problems[:50],
        "setup": {"session_s": session_s, "stage_s": stage_s, "warm_s": warm_s},
        "end_to_end": with_units(e2e, spec["end_to_end"]),
        "samples": {"units": len(plain), "query_latencies": len(samples)},
        "units": [{k: v for k, v in u.items() if k != "latencies"} for u in units],
    }
    traced = [u for u in units if u["traced"] and "layers" in u]
    if args.trace:
        layers = {}
        for name in (traced[0]["layers"] if traced else {}):
            layers[name] = statistics.median(u["layers"][name] for u in traced)
        if traced:
            layers["trace.overhead_s"] = (
                statistics.median(u["wall_s"] for u in traced)
                - e2e["wall_s"])
            layers["sinks.files"] = float(statistics.median(u["files"] for u in traced))
            layers["sinks.mb"] = statistics.median(u["bytes"] for u in traced) / 2**20
        record["per_layer"] = with_units(layers, spec["per_layer"])
    return record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    kind, sf = parse_workload(args.workload)
    # a terminated run still stops Spark and waits for its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "slow_tortoise_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "tests", "oracle_harness.py"))):
        print(f"perfbench: the program (slow_tortoise_spark/, tests/) is not "
              f"under {ROOT}", file=sys.stderr)
        return 2

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        record = run(args, kind, sf, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(HERE, "_results"), exist_ok=True)
    with open(os.path.join(HERE, "_results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1)
    print("perfbench-record " + json.dumps(record))
    metrics = record["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({"correct": record["correct"], "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
