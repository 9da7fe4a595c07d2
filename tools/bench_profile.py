"""Per-query profiling for the headline bench set (guide §1: measure first).

For each bench query at $SPARK_GRAFT_SF_DIR this script separates the
three cost pools that bench.py's single wall number mixes together:

* ``build_s``   — DataFrame construction (query-function body: driver
  round-trips, any eager .first()/pricing jobs, plan assembly),
* ``exec_s``    — the noop write itself (analysis+optimize+codegen+run),
  min over ``--reps`` repetitions after one warm-up,
* ``jobs``      — Spark jobs triggered by one noop write (job-round-trip
  latency is a fixed ~15-40 ms/job in local mode, so the count bounds
  the latency floor),
* ``first_s``   — the cold first write (codegen compile + page cache).

Usage: python tools/bench_profile.py [query ...] [--reps N] [--plans DIR]
Writes one JSON line per query to stdout; with --plans also saves
``<query>_before.txt`` explain("formatted") files.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES, _make_session  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:]]
    reps = 3
    plans_dir = None
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    if "--plans" in args:
        i = args.index("--plans")
        plans_dir = args[i + 1]
        del args[i : i + 2]
        os.makedirs(plans_dir, exist_ok=True)
    names = args or list(BENCH_QUERIES)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _make_session(sf_dir)
    sc = spark.sparkContext
    from slow_tortoise_spark.queries import REGISTRY

    rows = []
    for name in names:
        fn = REGISTRY[name][0]
        sc.setJobDescription(f"profile:{name}")
        # cold pass: build + first write (codegen compile, cache warm)
        t0 = time.time()
        df = fn(spark, sf_dir)
        build_first = time.time() - t0
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        first_s = time.time() - t0

        # steady state: rebuild each rep like bench.py does
        build_s = None
        exec_s = None
        jobs = None
        for r in range(reps):
            t0 = time.time()
            df = fn(spark, sf_dir)
            b = time.time() - t0
            group = f"prof-{name}-{r}"
            sc.setJobGroup(group, name)
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            e = time.time() - t0
            sc.setJobGroup(None, None)  # type: ignore[arg-type]
            ids = sc.statusTracker().getJobIdsForGroup(group)
            build_s = b if build_s is None else min(build_s, b)
            exec_s = e if exec_s is None else min(exec_s, e)
            jobs = len(ids)
        rec = {
            "query": name,
            "build_s": round(build_s, 3),
            "exec_s": round(exec_s, 3),
            "total_s": round(build_s + exec_s, 3),
            "jobs": jobs,
            "first_s": round(first_s, 3),
            "build_first_s": round(build_first, 3),
        }
        rows.append(rec)
        print(json.dumps(rec), flush=True)
        if plans_dir:
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_before.txt"), "w") as fh:
                fh.write(plan)
    total = sum(r["total_s"] for r in rows)
    print(json.dumps({"profile_total": round(total, 3),
                      "sum_exec": round(sum(r["exec_s"] for r in rows), 3),
                      "sum_build": round(sum(r["build_s"] for r in rows), 3),
                      "sum_jobs": sum(r["jobs"] for r in rows)}))


if __name__ == "__main__":
    main()
