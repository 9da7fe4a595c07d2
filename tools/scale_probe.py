"""Probe arbitrary catalog/verifier queries at a scaled dataset.

The headline bench covers 18 queries; this tool times any other
operator at the 10× dataset (tools/make_sf_scale.py) the same way the
bench does — noop-format write so every output column is computed, min
of ``reps`` passes — and prints one JSON line per query plus a total.
Used in round 8 to sweep the heavy NON-bench operators for the same
class of scale cliff the bench caught in jaccard_pairs (lexicographic
PPJoin prefixes).

``--all`` sweeps the ENTIRE merged catalog (all 120 catalog + verifier
queries, sorted) instead of an explicit name list — the whole-repo
scale regression net.  ``--no-rows`` skips the row-count pass (timing
only, halves a full sweep's cost).

Usage: python tools/scale_probe.py [sf_dir] name [name ...]
       python tools/scale_probe.py --reps 1 /tmp/sfdata/sf1 semdedup_pairs
       python tools/scale_probe.py --all --reps 1 --no-rows /root/testdata/sf0.1
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = [a for a in sys.argv[1:]]
    reps = 2
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i:i + 2]
    sweep_all = "--all" in args
    if sweep_all:
        args.remove("--all")
    count_rows = "--no-rows" not in args
    if not count_rows:
        args.remove("--no-rows")
    sf_dir = args.pop(0) if args and os.path.isdir(args[0]) else \
        "/tmp/sfdata/sf1"
    names = args

    from slow_tortoise_spark.operators.cachectl import (
        release_local_checkpoints,
        release_operator_caches,
    )
    from slow_tortoise_spark.queries import REGISTRY
    from slow_tortoise_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="scale_probe", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.range(1000).selectExpr("sum(id)").collect()
    if sweep_all:
        names = sorted(REGISTRY)
    out = {}
    for name in names:
        fn = REGISTRY[name][0]
        best = None
        for _ in range(reps):
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            el = time.time() - t0
            best = el if best is None else min(best, el)
            release_operator_caches()
            release_local_checkpoints()
        out[name] = {"sec": round(best, 2)}
        if count_rows:
            out[name]["rows"] = fn(spark, sf_dir).count()
            release_operator_caches()
            release_local_checkpoints()
        print(json.dumps({"query": name, **out[name]}), flush=True)
    print(json.dumps({"sf_dir": sf_dir, "queries": out,
                      "total_sec": round(sum(v["sec"] for v in out.values()), 2)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
