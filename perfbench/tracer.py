"""In-memory span tracing around the engine's layer entry points, and
per-operation Spark counters read from the status store by job group.

Spans are recorded only when the tracer is enabled; the wrappers are
installed from the benchmark's side (no engine code changes) and removed
again by ``uninstall``.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from stats import self_time, spark_ratios

# (module, owner attribute or None for a module function, function, span name)
LAYER_FUNCTIONS = (
    ("icenetetl_spark.session", None, "get_spark", "session.get_spark"),
    ("icenetetl_spark.sources.netcdf", None, "file_attrs", "sources.route"),
    ("icenetetl_spark.sources.netcdf", None, "read_binary_files", "sources.read"),
    ("icenetetl_spark.sources.netcdf", None, "melt_netcdf_files", "sources.melt"),
    ("icenetetl_spark.plans.icenet", "IceNetPipeline", "run", "plans.run"),
    ("icenetetl_spark.plans.icenet", "IceNetPipeline", "update_geometries",
     "plans.update_geometries"),
    ("icenetetl_spark.plans.icenet", "IceNetPipeline", "update_forecasts",
     "plans.update_forecasts"),
    ("icenetetl_spark.plans.icenet", "IceNetPipeline", "update_latest",
     "plans.update_latest"),
    ("icenetetl_spark.plans.icenet", "IceNetPipeline", "update_meta",
     "plans.update_meta"),
    ("icenetetl_spark.catalog", "ParquetCatalog", "append_missing",
     "catalog.append_missing"),
    ("icenetetl_spark.catalog", "ParquetCatalog", "upsert", "catalog.upsert"),
    ("icenetetl_spark.catalog", "ParquetCatalog", "overwrite", "catalog.overwrite"),
    ("icenetetl_spark.txn", "TxnParquetCatalog", "append_missing",
     "catalog.append_missing"),
    ("icenetetl_spark.txn", "TxnParquetCatalog", "upsert", "catalog.upsert"),
    ("icenetetl_spark.txn", "TxnParquetCatalog", "overwrite", "catalog.overwrite"),
)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self.overhead_s: dict[str | None, float] = defaultdict(float)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_enter = time.perf_counter()
        stack = self._stack()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": stack[-1] if stack else None,
            "op": self.op,
            "start": 0.0,
            "end": 0.0,
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.overhead_s[rec["op"]] += (rec["start"] - t_enter) + (
                time.perf_counter() - rec["end"]
            )

    def install(self) -> None:
        import importlib

        for mod_name, owner_name, attr, span_name in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if owner_name else mod
            fn = getattr(owner, attr)
            setattr(owner, attr, self._wrap(fn, span_name))
            self._patched.append((owner, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[str | None, dict[str, float]]:
        """op -> {span name: summed self time, "<name>#calls": count}."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str | None, dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        for s in self.spans:
            per_op = out[s["op"]]
            per_op[s["name"]] += self_time((s["start"], s["end"]), children[s["id"]])
            per_op[s["name"] + "#calls"] += 1
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


_STAGE_COUNTERS = {
    "spark.executor_run_s": lambda sd: sd.executorRunTime() / 1e3,
    "spark.executor_cpu_s": lambda sd: sd.executorCpuTime() / 1e9,
    "spark.gc_s": lambda sd: sd.jvmGcTime() / 1e3,
    "spark.shuffle_read_bytes": lambda sd: sd.shuffleReadBytes(),
    "spark.shuffle_write_bytes": lambda sd: sd.shuffleWriteBytes(),
    "spark.spill_bytes": lambda sd: sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
    "spark.input_bytes": lambda sd: sd.inputBytes(),
    "spark.output_bytes": lambda sd: sd.outputBytes(),
    "spark.tasks": lambda sd: sd.numCompleteTasks() + sd.numFailedTasks(),
}


def group_jobs(sc, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))


def spark_counters(sc, groups, wall_s: float, cores: int) -> dict[str, float]:
    """Counters of every job launched under ``groups``, read from the status
    store after the listener bus has drained. Reading by job group (not as a
    delta of the global job list) stays exact however many jobs the store
    retains."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    intervals: list[tuple[float, float]] = []
    stage_ids: set[int] = set()
    n_jobs = 0
    for g in groups:
        for jid in group_jobs(sc, g):
            jd = store.job(jid)
            n_jobs += 1
            start, end = jd.submissionTime(), jd.completionTime()
            if start.isDefined() and end.isDefined():
                intervals.append(
                    (start.get().getTime() / 1e3, end.get().getTime() / 1e3)
                )
            ids = jd.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
    out = dict.fromkeys(_STAGE_COUNTERS, 0.0)
    out["spark.jobs"] = float(n_jobs)
    out["spark.stages"] = 0.0
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # a stage of a failed job that never ran
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["spark.stages"] += 1
        for key, read in _STAGE_COUNTERS.items():
            out[key] += read(sd)
    out.update(spark_ratios(wall_s, intervals, out["spark.executor_run_s"], cores))
    return out
