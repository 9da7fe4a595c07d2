"""Standalone oracle harness — mimics the driver's correctness gate.

Runs every registered query (the driver catalog of ``__spark_entry__``
plus the verifier tier) against its oracle SQL in DuckDB at sf0.01
(override with argv[1] / env SPARK_GRAFT_SF_DIR) and compares row
count, column names, and values (order-insensitive, exact equality
after canonicalization).

Usage:  python tests/oracle_harness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(rows, columns):
    """Canonical sorted multiset of rows (column-name order, stringified)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v):
        if v is None:
            return "∅"
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            # exact repr: we expect bit-identical floats by construction
            return repr(v)
        return repr(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def main() -> int:
    import duckdb

    import __spark_entry__  # noqa: F401  (pins the process timezone)
    from slow_tortoise_spark.queries import REGISTRY
    from slow_tortoise_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else \
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only = set(a for a in sys.argv[1:] if not os.path.isdir(a))

    spark = get_spark(app_name="oracle_harness")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    n_run = 0
    for name, (fn, sql) in REGISTRY.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        try:
            # relation API (not DBAPI cursor): .types exposes the real
            # DuckDB types — cursor.description only says 'NUMBER'.
            rel = con.sql(sql)
            ocols = list(rel.columns)
            otypes = [str(t) for t in rel.types]
            orows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failures.append(name)
            continue
        problems = []
        # Oracle output types must be representable by Spark's type system
        # bit-for-bit: DuckDB silently widens SUM(int) / COUNT(*) FILTER to
        # HUGEINT (int128), which hash-mismatches against Spark's BIGINT in
        # the driver even when every value is identical (round-4 lesson:
        # dup_ngram_stats was red for two rounds on exactly this). Force a
        # CAST(... AS BIGINT) in the oracle SQL instead.
        bad_types = [
            f"{c}:{t}" for c, t in zip(ocols, otypes)
            if "HUGEINT" in t.upper() or "INT128" in t.upper()
        ]
        if bad_types:
            problems.append(f"oracle emits int128 column(s) {bad_types} — "
                            f"CAST to BIGINT in the SQL")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
            problems.append(f"columns {sorted(scols)} != {sorted(ocols)}")
        if not problems:
            a = canon(srows, scols)
            b = canon(orows, ocols)
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diffs}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"ok   {name}: {len(srows)} rows match "
                  f"({time.time()-t0:.1f}s)")

    print(f"\n{n_run - len(failures)}/{n_run} queries pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
