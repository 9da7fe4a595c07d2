"""Span tracing for the traced benchmark run, from outside the program.

The tracer wraps public functions of the program's layer modules (sinks,
sources, operators) so each call records a span: name, layer, start,
end, parent span and unit id.  The benchmark opens the unit span and the
``queries`` spans itself.  Spans stay in memory and are written out when
the run ends.

Every span runs its Spark jobs under its own job group, so after a unit
the jobs and stages each span issued are read back from Spark's status
store (one JSON snapshot per unit) and summed per layer.  Span and stage
bookkeeping happens only while a traced unit runs; between traced units
the wrappers pass straight through.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import sys
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0

#: module -> functions wrapped as the ``sinks`` / ``sources`` layers.
#: ``operators`` is every public function of every operators module
#: except the cache registry, which is sampled as its own layer.
SINKS = ("slow_tortoise_spark.sinks.writers", (
    "write_grouped_csv", "write_grouped_csv_bundles", "write_grouped_json",
    "write_json", "write_tiles", "write_tile_bundles"))
SOURCES = ("slow_tortoise_spark.sources.reader", ("read_datacube", "read_table"))
OPERATORS_PKG = "slow_tortoise_spark.operators"
NOT_OPERATORS = ("slow_tortoise_spark.operators.cachectl",)

_GROUP = "spark.jobGroup.id"


class _Traced:
    """Callable stand-in for a program function that opens a span per call.

    It pickles as the original function, so a closure shipped to Python
    workers never carries the tracer."""

    def __init__(self, fn, tracer: "Tracer", layer: str):
        functools.update_wrapper(self, fn)
        self._fn, self._tracer = fn, tracer
        self._name = f"{layer}.{fn.__name__}"
        self._layer = layer

    def __call__(self, *args, **kwargs):
        if self._tracer.unit is None:
            return self._fn(*args, **kwargs)
        with self._tracer.span(self._name, self._layer):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(getattr(getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$"))
        self._list = jvm.java.util.ArrayList
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.unit: int | None = None
        self._peaks: dict[str, float] = {}
        self._cachectl = importlib.import_module(
            "slow_tortoise_spark.operators.cachectl")

    # -- wrapping ------------------------------------------------------

    def install(self) -> int:
        """Wrap every layer function where it is defined and wherever a
        program module imported it by name.  Returns how many were wrapped."""
        targets = [(SINKS[0], SINKS[1], "sinks"),
                   (SOURCES[0], SOURCES[1], "sources")]
        pkg = importlib.import_module(OPERATORS_PKG)
        for info in pkgutil.iter_modules(pkg.__path__, OPERATORS_PKG + "."):
            if info.name in NOT_OPERATORS:
                continue
            mod = importlib.import_module(info.name)
            names = tuple(
                n for n, f in vars(mod).items()
                if inspect.isfunction(f) and not n.startswith("_")
                and f.__module__ == mod.__name__
                and not hasattr(f, "evalType"))
            targets.append((info.name, names, "operators"))
        # Bind-by-name importers must be loaded before their names are
        # rebound; the lazy in-body imports resolve to the defining module.
        for m in ("slow_tortoise_spark.pipeline", "slow_tortoise_spark.queries"):
            importlib.import_module(m)
        originals = {}
        for modname, names, layer in targets:
            mod = sys.modules[modname]
            for n in names:
                fn = getattr(mod, n)
                originals[id(fn)] = (fn, _Traced(fn, self, layer))
        program = [m for k, m in list(sys.modules.items())
                   if m is not None and k.split(".")[0] == "slow_tortoise_spark"]
        for mod in program:
            for attr, value in list(vars(mod).items()):
                hit = originals.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(mod, attr, hit[1])
        return len(originals)

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "unit": self.unit, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setLocalProperty(_GROUP, f"pb-{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                _GROUP, f"pb-{self._stack[-1]}" if self._stack else None)
            self._sample()

    @contextmanager
    def traced_unit(self, unit: int):
        """Root span of one unit; spans opened inside belong to ``unit``."""
        self.unit = unit
        self._peaks = {"cache.mem_mb_peak": 0.0, "cachectl.tracked_frames": 0,
                       "cachectl.local_checkpoints": 0}
        try:
            with self.span("unit", "pipeline") as root:
                yield root
        finally:
            self.unit = None

    def _sample(self) -> None:
        """Peak cache occupancy, sampled at every span end."""
        ex = json.loads(self._json.writeValueAsString(
            self._store.executorList(True)))
        p = self._peaks
        p["cache.mem_mb_peak"] = max(
            p["cache.mem_mb_peak"], sum(e["memoryUsed"] for e in ex) / MB)
        p["cachectl.tracked_frames"] = max(
            p["cachectl.tracked_frames"], self._cachectl.tracked_count())
        p["cachectl.local_checkpoints"] = max(
            p["cachectl.local_checkpoints"],
            self._cachectl.tracked_checkpoint_count())

    # -- per-unit accounting --------------------------------------------

    def _status(self):
        jobs = json.loads(self._json.writeValueAsString(
            self._store.jobsList(self._list())))
        stages = json.loads(self._json.writeValueAsString(self._store.stageList(
            self._list(), False, False, self._no_quantiles, self._list())))
        return jobs, stages

    def account(self, unit: int, cores: int) -> dict[str, float]:
        """Attribute the unit's jobs and stages to its spans and return
        the unit's per-layer metrics.  Raises if the status store lost a
        job or stage the unit issued."""
        spans = [s for s in self.spans if s["unit"] == unit]
        by_id = {s["id"]: s for s in spans}
        for s in spans:
            s.update(jobs=[], stages=0, stages_skipped=0)
        jobs, stages = self._status()
        mine = sorted((j for j in jobs if (j.get("jobGroup") or "").startswith("pb-")
                       and int(j["jobGroup"][3:]) in by_id),
                      key=lambda j: j["jobId"])
        ids = [j["jobId"] for j in mine]
        if ids and ids != list(range(ids[0], ids[-1] + 1)):
            raise RuntimeError(f"unit {unit}: job ids missing from the status "
                               f"store: {sorted(set(range(ids[0], ids[-1] + 1)) - set(ids))}")
        stage_rows: dict[int, list[dict]] = {}
        for st in stages:
            stage_rows.setdefault(st["stageId"], []).append(st)
        totals = dict.fromkeys(("task_run_s", "task_cpu_s", "gc_s",
                                "shuffle_read_mb", "shuffle_write_mb",
                                "spill_mb", "input_mb", "input_records",
                                "failed_tasks"), 0.0)
        seen: set[int] = set()
        missing = []
        for j in mine:
            owner = by_id[int(j["jobGroup"][3:])]
            owner["jobs"].append(j["jobId"])
            for sid in j["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                rows = stage_rows.get(sid)
                if not rows:
                    missing.append(sid)
                    continue
                for st in rows:
                    if st["status"] == "SKIPPED":
                        owner["stages_skipped"] += 1
                        continue
                    owner["stages"] += 1
                    totals["task_run_s"] += st["executorRunTime"] / 1e3
                    totals["task_cpu_s"] += st["executorCpuTime"] / 1e9
                    totals["gc_s"] += st["jvmGcTime"] / 1e3
                    totals["shuffle_read_mb"] += st["shuffleReadBytes"] / MB
                    totals["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
                    totals["spill_mb"] += st["diskBytesSpilled"] / MB
                    totals["input_mb"] += st["inputBytes"] / MB
                    totals["input_records"] += st["inputRecords"]
                    totals["failed_tasks"] += st["numFailedTasks"]
        if missing:
            raise RuntimeError(f"unit {unit}: stages missing from the status "
                               f"store: {missing[:10]}")
        self_times(spans)
        root = next(s for s in spans if s["parent"] is None)
        wall = root["end"] - root["start"]

        def layer(name):
            return [s for s in spans if s["layer"] == name and s is not root]

        def jobs_of(ss):
            return float(sum(len(s["jobs"]) for s in ss))

        n_stages = sum(s["stages"] for s in spans)
        n_skipped = sum(s["stages_skipped"] for s in spans)
        builds = [s for s in layer("queries") if s["name"].startswith("queries.build")]
        execs = [s for s in layer("queries") if s["name"].startswith("queries.exec")]
        m = {
            "spark.jobs": float(len(mine)),
            "spark.stages": float(n_stages),
            "spark.stages_skipped": float(n_skipped),
            "spark.task_run_s": totals["task_run_s"],
            "spark.task_cpu_s": totals["task_cpu_s"],
            "spark.gc_s": totals["gc_s"],
            "spark.shuffle_read_mb": totals["shuffle_read_mb"],
            "spark.shuffle_write_mb": totals["shuffle_write_mb"],
            "spark.spill_mb": totals["spill_mb"],
            "spark.failed_tasks": totals["failed_tasks"],
            "spark.core_busy_frac": totals["task_run_s"] / (wall * cores),
            "spark.stage_reuse_frac": n_skipped / max(1, n_stages + n_skipped),
            "sinks.calls": float(len(layer("sinks"))),
            "sinks.wall_s": sum(s["self_s"] for s in layer("sinks")),
            "sinks.jobs": jobs_of(layer("sinks")),
            "queries.build_s": sum(s["self_s"] for s in builds),
            "queries.build_jobs": jobs_of(builds),
            "queries.exec_s": sum(s["self_s"] for s in execs),
            "queries.exec_jobs": jobs_of(execs),
            "operators.calls": float(len(layer("operators"))),
            "operators.build_s": sum(s["self_s"] for s in layer("operators")),
            "operators.eager_jobs": jobs_of(layer("operators")),
            "sources.build_s": sum(s["self_s"] for s in layer("sources")),
            "sources.input_mb": totals["input_mb"],
            "sources.input_records": totals["input_records"],
            "pipeline.self_s": root["self_s"],
            "pipeline.driver_jobs": float(len(root["jobs"])),
        }
        m.update({k: float(v) for k, v in self._peaks.items()})
        return m

    def dump(self, path: str, t0: float) -> None:
        """Write every span, times relative to ``t0`` (seconds)."""
        out = []
        for s in self.spans:
            r = dict(s)
            r["start"] -= t0
            r["end"] -= t0
            out.append(r)
        with open(path, "w") as fh:
            json.dump(out, fh)


def self_times(spans: list[dict]) -> None:
    """Set ``self_s`` = duration minus the children's durations (children
    of one span run one after another on the single driver thread)."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] in child:
            child[s["parent"]] += s["end"] - s["start"]
    for s in spans:
        s["self_s"] = (s["end"] - s["start"]) - child[s["id"]]


def check_spans(spans: list[dict], tol: float = 1e-6) -> list[str]:
    """Structural checks: children lie inside their parent, self times
    are ≥ 0, and per unit the self times add up to the root's wall."""
    problems = []
    by_id = {s["id"]: s for s in spans}
    self_times(spans)
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None and not (p["start"] <= s["start"] <= s["end"] <= p["end"]):
            problems.append(f"span {s['id']} {s['name']} outside its parent")
        if s["self_s"] < -tol:
            problems.append(f"span {s['id']} {s['name']} self time {s['self_s']}")
    for root in (s for s in spans if s["parent"] is None):
        total = sum(s["self_s"] for s in spans if s["unit"] == root["unit"])
        wall = root["end"] - root["start"]
        if abs(total - wall) > tol * max(1.0, wall) + 1e-9 * len(spans):
            problems.append(f"unit {root['unit']}: self times sum {total} != wall {wall}")
    return problems
