"""The benchmark workloads.  Each is one client in a closed loop: the next
unit starts when the previous one has finished.

A workload generates its inputs from the seed (``stage``), runs one unit
(``unit``, the timed call) and checks a unit's outputs (``check``, outside
the timed region).  The first units of a run are the untimed warm-up
(``warm_up``): they pay codegen, JIT, Python-worker start and the
program's process-wide memos, and the first one's outputs become the
reference later units must reproduce.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time
from contextlib import nullcontext

import pyarrow.parquet as pq

import gen

#: The 18 catalog queries of the query mix: one or more per operator
#: family, weighted toward the heavy ones.
QUERY_MIX = (
    "pricing_summary",      # scan + hash agg
    "top_orders",           # fact-fact join + topk
    "region_revenue",       # 6-table join
    "window_running",       # big window
    "global_timeseries",    # two-stage datacube agg
    "regional_rollup",      # ROLLUP all levels
    "regional_extrema",     # window min/max + ties
    "qualifier_pivot",      # pivot
    "tile_rollup",          # tile geometry + agg
    "grid_stats",           # exploded zooms
    "minhash_lsh_pairs",    # dedup scale path
    "jaccard_pairs",        # dedup exact path
    "simhash",              # bit-math fingerprints
    "ann_cosine_topk",      # similarity scan
    "token_stats",          # text metrics
    "asof_join",            # union+window as-of join
    "rolling_window",       # time-range window frames
    "salted_agg",           # two-phase skew aggregation
)

#: relative tolerance for engine-vs-DuckDB float aggregates, whose
#: summation order differs between the two engines
AGG_RTOL = 1e-9


def null_span(name, layer):
    return nullcontext()


class Datacube:
    """One unit = one ``run_pipeline`` over the staged cube with default
    ``PipelineParams`` except ``time_resolutions=("month",)``, writing
    file artifacts into a directory emptied before each unit."""

    def __init__(self, spark, work: str, seed: int, sf: float):
        self.spark, self.work, self.seed, self.sf = spark, work, seed, sf
        self.dest = os.path.join(work, "artifacts")
        self.cube = ""
        self.ref_tree = None
        self.expected = {}

    def stage(self, i: int) -> None:
        self.cube = os.path.join(self.work, f"cube-{i}.parquet")
        pq.write_table(gen.datacube_events(self.seed, self.sf), self.cube)

    def oracle(self, con) -> None:
        """Per-feature all-time summary of the staged cube, in DuckDB."""
        keys = "feature, country, admin1, lat, lng, qual1, w"
        rows = con.sql(f"""
            SELECT feature, min(t_sum), max(t_sum), sum(t_sum), avg(t_sum),
                   min(t_mean), max(t_mean), sum(t_mean), avg(t_mean)
            FROM (SELECT {keys}, sum(value) AS t_sum, avg(value) AS t_mean
                  FROM '{self.cube}' GROUP BY {keys})
            GROUP BY feature""").fetchall()
        cols = [f"s_{g}_{t}" for t in ("t_sum", "t_mean")
                for g in ("min", "max", "sum", "mean")]
        self.expected = {r[0]: dict(zip(cols, r[1:])) for r in rows}

    def before_unit(self) -> None:
        shutil.rmtree(self.dest, ignore_errors=True)

    def warm_up(self, order_rng) -> list[str]:
        """Untimed unit; the first one's artifact tree becomes the
        reference."""
        return self.check(self.unit(order_rng))

    def unit(self, order_rng, span=null_span) -> dict:
        from slow_tortoise_spark.pipeline import PipelineParams, run_pipeline

        results = run_pipeline(self.spark, PipelineParams(
            data_id="bench", run_id="unit", data_paths=[self.cube],
            dest_root=self.dest, time_resolutions=("month",)))
        return {"results": results}

    def artifact_tree(self) -> tuple[int, int, str]:
        """(file count, bytes, order-insensitive digest of path + content)."""
        entries, size = [], 0
        for d, _, files in os.walk(self.dest):
            for f in files:
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    body = fh.read()
                size += len(body)
                entries.append(os.path.relpath(p, self.dest) + "\0"
                               + hashlib.sha256(body).hexdigest())
        digest = hashlib.sha256("\n".join(sorted(entries)).encode()).hexdigest()
        return len(entries), size, digest

    def check(self, out: dict) -> list[str]:
        problems = []
        n, size, digest = self.artifact_tree()
        out["files"], out["bytes"] = n, size
        if self.ref_tree is None:
            self.ref_tree = (n, digest)
        elif (n, digest) != self.ref_tree:
            problems.append(f"artifact tree differs from the warm-up unit: "
                            f"{n} files, digest {digest[:12]} vs "
                            f"{self.ref_tree[0]} files, {self.ref_tree[1][:12]}")
        got = {r["feature"]: r for r in out["results"]["output_agg_values"]}
        if set(got) != set(self.expected):
            problems.append(f"output_agg_values features {sorted(got)} != "
                            f"{sorted(self.expected)}")
        for feat, exp in self.expected.items():
            for col, v in exp.items():
                g = got.get(feat, {}).get(col)
                if g is None or not math.isclose(g, v, rel_tol=AGG_RTOL):
                    problems.append(f"output_agg_values[{feat}][{col}] = {g}, "
                                    f"DuckDB says {v}")
        return problems


class QueryMix:
    """One unit = one pass over the 18 catalog queries in a seeded order,
    each built by its catalog callable and materialised by a noop write;
    the unit's wall time is the sum of its query latencies.  Cached
    operator intermediates are released after every pass, so each pass
    computes its queries afresh."""

    def __init__(self, spark, work: str, seed: int, sf: float):
        self.spark, self.work, self.seed, self.sf = spark, work, seed, sf
        self.data = ""
        self.ref: dict[str, tuple] = {}
        self.bad: set[str] = set()
        self.oracle_rows: dict[str, list] = {}
        from slow_tortoise_spark.queries import QUERIES, VERIFIER_QUERIES
        catalog = {**VERIFIER_QUERIES, **QUERIES}
        self.fns = {q: catalog[q] for q in QUERY_MIX}

    def stage(self, i: int) -> None:
        self.data = gen.write_star(os.path.join(self.work, f"star-{i}"),
                                   self.seed, self.sf)

    def oracle(self, con) -> None:
        """Each query's rows from its DuckDB oracle, canonicalised."""
        from oracle_harness import canon

        from slow_tortoise_spark.queries import ORACLE_SQL, VERIFIER_ORACLE_SQL
        from slow_tortoise_spark.sources.reader import STAR_TABLES
        sql = {**VERIFIER_ORACLE_SQL, **ORACLE_SQL}
        for t in STAR_TABLES:
            con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                        f"SELECT * FROM '{self.data}/{t}.parquet'")
        for q in QUERY_MIX:
            rel = con.sql(sql[q])
            self.oracle_rows[q] = canon(rel.fetchall(), list(rel.columns))

    def before_unit(self) -> None:
        pass

    @staticmethod
    def _observed(df):
        """``df`` with an observed (row count, 64-bit order-insensitive
        row-hash sum), filled in by whatever action runs ``df`` — no
        extra Spark job."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
        return df.observe(
            obs, F.count(F.lit(1)).alias("n"),
            F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
            F.sum(F.shiftrightunsigned(h, 32)).alias("hi")), obs

    def unit(self, order_rng, span=null_span, collect=False) -> dict:
        """A query's latency is its build plus its execution; setting up
        its digest in between is not timed."""
        order = list(QUERY_MIX)
        order_rng.shuffle(order)
        lat, digests, rows = {}, {}, {}
        for q in order:
            t0 = time.perf_counter()
            with span(f"queries.build.{q}", "queries"):
                df = self.fns[q](self.spark, self.data)
            t1 = time.perf_counter()
            observed, obs = self._observed(df)
            t2 = time.perf_counter()
            with span(f"queries.exec.{q}", "queries"):
                if collect:
                    rows[q] = ([tuple(r) for r in observed.collect()], df.columns)
                else:
                    observed.write.format("noop").mode("overwrite").save()
            lat[q] = (t1 - t0) + (time.perf_counter() - t2)
            d = obs.get
            digests[q] = (d["n"], d["lo"], d["hi"])
        return {"latencies": [lat[q] for q in order], "per_query": lat,
                "wall_s": sum(lat.values()), "digests": digests, "rows": rows}

    def warm_up(self, order_rng) -> list[str]:
        """Untimed first pass, collecting each query: its rows must equal
        the DuckDB oracle's, and its count + digest become the reference
        every timed pass must reproduce."""
        from oracle_harness import canon

        from slow_tortoise_spark.operators.cachectl import release_operator_caches
        try:
            out = self.unit(order_rng, collect=True)
        finally:
            release_operator_caches()
        self.ref = out["digests"]
        for q, (rows, cols) in sorted(out["rows"].items()):
            if canon(rows, cols) != self.oracle_rows[q]:
                self.bad.add(q)
        return [f"{q}: rows differ from the DuckDB oracle" for q in sorted(self.bad)]

    def check(self, out: dict) -> list[str]:
        """A query fails a pass if its count + digest differ from the
        reference or its reference rows failed the oracle check."""
        from slow_tortoise_spark.operators.cachectl import release_operator_caches
        release_operator_caches()
        got = out["digests"]
        failed = {q for q in QUERY_MIX if got.get(q) != self.ref.get(q)}
        out["failed_queries"] = len(failed | self.bad)
        return [f"{q}: rows/digest {got.get(q)} != reference {self.ref.get(q)}"
                for q in sorted(failed)]


WORKLOADS = {"datacube": Datacube, "query_mix": QueryMix}
