#!/usr/bin/env python3
"""Benchmark runner.

    python3 perfbench/run.py --workload ingest|llm_dataprep|warehouse_sql|all \
        --seed N --seconds S --trace 0|1

Run from the repository root. Each workload is a closed loop with one client
in one process on ``local[<cpus>]``:

- ``ingest``: seeded NetCDF-3 forecast files fed one at a time through the
  CLI ``ingest`` entry into a fresh warehouse; every fourth operation
  re-ingests an earlier file. The first file of each hemisphere is warm-up.
- ``llm_dataprep`` / ``warehouse_sql``: a fixed query list (see
  ``workloads.py``) over seeded tables, each query run to a noop sink, in a
  seeded order per pass. The first pass is warm-up; its outputs are checked
  against the DuckDB oracles.

The timed phase runs operations until ``--seconds`` of operation time have
passed and at least one unit of work is done: one whole pass for query
workloads, a new file and a replay for ``ingest``. Input generation and
output checks are excluded from every timing. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
from a traced run with ``--trace 1``). A readable table goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "llm_dataprep", "warehouse_sql")

E2E_UNITS = {"setup_s": "s", "ops_per_min": "1/min", "latency_p50_s": "s"}


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


T_START = time.perf_counter() - process_age_s()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: host contention shows as steal."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def configure_env(work: str) -> None:
    """Set before pyspark starts: workers inherit it."""
    os.environ["ICENETETL_FIT_CACHE_DIR"] = ""  # no fit artifacts across runs
    # Python workers import the engine from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


class Run:
    """State shared by the workload loops of one benchmark process."""

    def __init__(self, args, work: str):
        from tracer import Tracer

        self.args = args
        self.work = work
        self.tracer = Tracer(bool(args.trace))
        self.excluded_s = 0.0  # input generation and oracle evaluation
        self.spark = None
        self.sc = None
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.setup: dict[str, float] = {}
        self.ops: list[dict] = []
        self.setup_failures: list[str] = []
        self.extra: dict[str, float] = {}
        self.ticks0 = cpu_ticks()

    @contextlib.contextmanager
    def excluded(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - t

    def start_session(self) -> None:
        if self.args.trace:
            self.tracer.install()
        from icenetetl_spark import session

        self.tracer.op = "setup"
        t = time.perf_counter()
        self.spark = session.get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
                + os.environ["TMPDIR"],
            },
        )
        self.setup["session.start_s"] = time.perf_counter() - t
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")

    def timed_op(self, op_id: str, fn) -> dict:
        """Run one operation under its own job group; ``fn(rec)`` does the
        work and may set ``rec["groups"]``/``rec["ok"]``."""
        from tracer import spark_counters

        self.tracer.op = op_id
        rec = {"id": op_id, "ok": True, "groups": [op_id]}
        self.sc.setJobGroup(op_id, op_id, False)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op"):
                fn(rec)
        except Exception as e:
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {e}"
            print(f"perfbench: {op_id} failed: {rec['error']}", file=sys.stderr)
        rec["latency_s"] = time.perf_counter() - t0
        self.tracer.op = None
        if self.args.trace:
            t = time.perf_counter()
            rec["spark"] = spark_counters(
                self.sc, rec["groups"], rec["latency_s"], self.cores
            )
            rec["collect_s"] = time.perf_counter() - t
        return rec

    def done(self, min_ops: int) -> bool:
        measured = sum(op["latency_s"] for op in self.ops)
        return len(self.ops) >= min_ops and measured >= self.args.seconds

    def peak_rss_mb(self) -> float:
        jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (vm_hwm_kb("self") + vm_hwm_kb(jvm)) / 1024.0

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None


# -- query workloads -----------------------------------------------------------
def run_queries(run: Run) -> None:
    import datagen
    from checks import OracleCheck
    from workloads import QUERY_WORKLOADS

    wl = QUERY_WORKLOADS[run.args.workload]
    seed = run.args.seed
    data_dir = os.path.join(run.work, "data", f"sf{wl.sf:g}")
    with run.excluded():
        datagen.write_tables(data_dir, seed, wl.sf, wl.tables)

    run.start_session()
    spark, tracer = run.spark, run.tracer
    tracer.op = "setup"
    t = time.perf_counter()
    with tracer.span("queries.registry"):
        from icenetetl_spark.queries import all_oracles, all_queries

        registry, oracles = all_queries(), all_oracles()
    run.setup["queries.registry_s"] = time.perf_counter() - t

    with run.excluded():
        oracle = OracleCheck(ROOT, data_dir, wl.tables)
    mismatched: set[str] = set()
    t = time.perf_counter()
    excluded_before = run.excluded_s
    with tracer.span("setup.warmup"):
        for name in wl.order(seed, 0):
            run.sc.setJobGroup(f"warmup:{name}", name, False)
            try:
                df = registry[name](spark, data_dir)
                pdf = df.toPandas()
            except Exception as e:
                mismatched.add(name)
                run.setup_failures.append(f"{name}: {type(e).__name__}: {e}")
                continue
            with run.excluded():
                problems = oracle.check(name, oracles[name], df.columns, pdf)
            if problems:
                mismatched.add(name)
                run.setup_failures.append(f"{name}: {problems[0]}")
    run.setup["setup.warmup_s"] = (
        time.perf_counter() - t - (run.excluded_s - excluded_before)
    )
    run.setup["setup_s"] = time.perf_counter() - T_START - run.excluded_s

    def query_op(name: str):
        def op(rec):
            c, x = rec["id"] + ":c", rec["id"] + ":x"
            rec["groups"] = [c, x]
            run.sc.setJobGroup(c, name, False)
            t0 = time.perf_counter()
            with tracer.span("queries.construct"):
                df = registry[name](spark, data_dir)
            t1 = time.perf_counter()
            run.sc.setJobGroup(x, name, False)
            with tracer.span("queries.execute"):
                df.write.format("noop").mode("overwrite").save()
            rec["construct_s"] = t1 - t0
            rec["execute_s"] = time.perf_counter() - t1
            # an output that failed its oracle check fails every run of it
            rec["ok"] = name not in mismatched

        return op

    pass_no = 1
    while not run.done(len(wl.queries)):
        for name in wl.order(seed, pass_no):
            rec = run.timed_op(f"op{len(run.ops)}", query_op(name))
            rec["query"] = name
            if run.args.trace:
                from tracer import group_jobs

                rec["construct_jobs"] = len(group_jobs(run.sc, rec["groups"][0]))
            run.ops.append(rec)
            if run.done(len(wl.queries)):
                break
        pass_no += 1


# -- ingest ------------------------------------------------------------------
def warehouse_files(wh: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _dirs, files in os.walk(wh):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def run_ingest(run: Run) -> None:
    from checks import check_ingest, expected_rows, raw_frame
    from workloads import (
        DRIVER_MEMORY, GRID_SIDE, LEADTIMES, MIN_TIMED_OPS, WARMUP_OPS,
        ingest_schedule,
    )

    seed = run.args.seed
    files_dir = os.path.join(run.work, "files")
    wh = os.path.join(run.work, "warehouse")
    os.makedirs(files_dir)
    rows_of: dict[int, object] = {}  # distinct file index -> expected rows
    ingested: dict[int, object] = {}  # the same, for the files fed so far
    input_bytes = 0
    schedule = ingest_schedule(seed)

    def prepare(f) -> str:
        """Write the file's bytes once (input generation, excluded)."""
        nonlocal input_bytes
        path = os.path.join(files_dir, f"{f.hemisphere}_{f.generated}.nc")
        if f.index not in rows_of:
            with run.excluded():
                from icenetetl_spark.sources.fixtures import make_netcdf_bytes

                data = make_netcdf_bytes(
                    f.generated, f.hemisphere, GRID_SIDE, LEADTIMES, seed=f.seed
                )
                with open(path, "wb") as fh:
                    fh.write(data)
                input_bytes += len(data)
                rows_of[f.index] = expected_rows(f, raw_frame(f))
        return path

    def ingest(op_id: str, f) -> dict:
        path = prepare(f)

        def op(rec):
            from icenetetl_spark import cli

            with contextlib.redirect_stdout(sys.stderr):
                rc = cli.main(["ingest", path, "--warehouse", wh])
            rec["ok"] = rc == 0

        rec = run.timed_op(op_id, op)
        ingested[f.index] = rows_of[f.index]
        with run.excluded():
            problems, rec["rows_after"] = check_ingest(wh, ingested)
        if problems:
            rec["ok"] = False
            print(f"perfbench: {op_id} check: {problems}", file=sys.stderr)
        return rec

    warmup = [next(schedule)[0] for _ in range(WARMUP_OPS)]
    for f in warmup:
        prepare(f)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    run.start_session()
    t = time.perf_counter()
    excluded_before = run.excluded_s
    with run.tracer.span("setup.warmup"):
        for i, f in enumerate(warmup):
            rec = ingest(f"warmup{i}", f)
            if not rec["ok"]:
                run.setup_failures.append(f"warm-up file {f}")
    run.setup["setup.warmup_s"] = (
        time.perf_counter() - t - (run.excluded_s - excluded_before)
    )
    run.setup["setup_s"] = time.perf_counter() - T_START - run.excluded_s

    rows = rec["rows_after"]
    while not run.done(MIN_TIMED_OPS):
        f, replay = next(schedule)
        snapshot = warehouse_files(wh) if run.args.trace else None
        rec = ingest(f"op{len(run.ops)}", f)
        rec["replay"] = replay
        if snapshot is not None:
            # files the operation left new or rewritten in the warehouse;
            # staging files it created and removed again are not counted
            after = warehouse_files(wh)
            new = [p for p, s in after.items() if snapshot.get(p) != s]
            rec["bytes_written"] = sum(after[p][0] for p in new)
            rec["files_written"] = len(new)
            rec["insert_yield"] = (rec["rows_after"] - rows) / len(rows_of[f.index])
        rows = rec["rows_after"]
        run.ops.append(rec)

    stored = sum(s for s, _ in warehouse_files(wh).values())
    run.extra["ingest.stored_bytes_per_input_byte"] = stored / input_bytes


# -- reporting ----------------------------------------------------------------
PER_OP_SPANS = (
    "sources.route",
    "plans.update_geometries",
    "plans.update_forecasts",
    "plans.update_latest",
    "plans.update_meta",
    "catalog.append_missing",
    "catalog.upsert",
    "catalog.overwrite",
)
SPARK_UNITS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.in_jobs_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.executor_busy_ratio": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
}


def end_to_end(run: Run) -> dict[str, float]:
    from stats import median

    lat = [op["latency_s"] for op in run.ops]
    return {
        "setup_s": run.setup["setup_s"],
        "ops_per_min": 60.0 * len(lat) / sum(lat),
        "latency_p50_s": median(lat),
    }


def per_layer(run: Run) -> dict[str, tuple[float, str]]:
    """Per-layer metrics: medians per timed operation from the traced run."""
    from stats import median

    selfs = run.tracer.self_times()
    ops = run.ops

    def med(get) -> float:
        return median([get(op) for op in ops])

    out: dict[str, tuple[float, str]] = {
        "session.start_s": (run.setup["session.start_s"], "s"),
        "queries.registry_s": (run.setup.get("queries.registry_s", 0.0), "s"),
        "setup.warmup_s": (run.setup["setup.warmup_s"], "s"),
        "queries.construct_s": (med(lambda o: o.get("construct_s", 0.0)), "s"),
        "queries.construct_jobs": (med(lambda o: o.get("construct_jobs", 0)), "count"),
        "queries.execute_s": (med(lambda o: o.get("execute_s", 0.0)), "s"),
    }
    for key, unit in SPARK_UNITS.items():
        out[key] = (med(lambda o: o["spark"][key]), unit)
    for name in PER_OP_SPANS:
        out[name + "_s"] = (med(lambda o: selfs[o["id"]].get(name, 0.0)), "s")
        if name.startswith("catalog."):
            out[name + "_calls"] = (
                med(lambda o: selfs[o["id"]].get(name + "#calls", 0.0)),
                "count",
            )
    replays = [op["latency_s"] for op in ops if op.get("replay")]
    out.update(
        {
            "catalog.bytes_written": (med(lambda o: o.get("bytes_written", 0)), "bytes"),
            "catalog.files_written": (med(lambda o: o.get("files_written", 0)), "count"),
            "catalog.insert_yield": (med(lambda o: o.get("insert_yield", 0.0)), "ratio"),
            "ingest.replay_p50_s": (median(replays), "s"),
            "ingest.stored_bytes_per_input_byte": (
                run.extra.get("ingest.stored_bytes_per_input_byte", 0.0),
                "ratio",
            ),
            "peak_rss_mb": (run.extra["peak_rss_mb"], "MB"),
            "host.steal_ratio": (run.extra["host.steal_ratio"], "ratio"),
            "failed_op_ratio": (
                sum(not op["ok"] for op in ops) / len(ops),
                "ratio",
            ),
            "trace.latency_p50_s": (med(lambda o: o["latency_s"]), "s"),
            "trace.overhead_s": (med(lambda o: run.tracer.overhead_s[o["id"]]), "s"),
            "trace.collect_s": (med(lambda o: o["collect_s"]), "s"),
        }
    )
    return out


def run_one(args) -> int:
    from stats import percentile, tail_percentile

    if not os.path.isfile(os.path.join(ROOT, "icenetetl_spark", "__init__.py")):
        print(
            "perfbench: engine package icenetetl_spark/ not found at the "
            "repository root; run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    sys.path.insert(0, ROOT)
    run = Run(args, work)
    try:
        (run_ingest if args.workload == "ingest" else run_queries)(run)
        run.extra["peak_rss_mb"] = run.peak_rss_mb()
        (steal0, total0), (steal1, total1) = run.ticks0, cpu_ticks()
        run.extra["host.steal_ratio"] = (steal1 - steal0) / max(1, total1 - total0)
    finally:
        run.stop()
        run.tracer.uninstall()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not op["ok"] for op in run.ops)
    for msg in run.setup_failures:
        print(f"perfbench: warm-up check failed: {msg}", file=sys.stderr)
    if args.trace:
        metrics = per_layer(run)
        spans = os.path.join(HERE, ".work", f"spans-{args.workload}-{args.seed}.jsonl")
        run.tracer.write(spans)
        print(f"perfbench: {len(run.tracer.spans)} spans -> {spans}", file=sys.stderr)
    else:
        metrics = {k: (v, E2E_UNITS[k]) for k, v in end_to_end(run).items()}
    print(f"perfbench: {args.workload} seed={args.seed} trace={args.trace}", file=sys.stderr)
    for k, (v, unit) in metrics.items():
        print(f"  {k:40s} {v:16.6g} {unit}", file=sys.stderr)
    print(
        f"  {'attempted':40s} {len(run.ops):16d}\n  {'failed':40s} {failed:16d}",
        file=sys.stderr,
    )
    lat = [op["latency_s"] for op in run.ops]
    tail = tail_percentile(len(lat))
    if tail and tail > 50:
        print(f"  {f'latency_p{tail}_s':40s} {percentile(lat, tail):16.6g} s",
              file=sys.stderr)
    print(f"  op latencies (s): {[round(x, 3) for x in lat]}", file=sys.stderr)
    print(
        f"  input generation and checks: {run.excluded_s:.1f} s; "
        f"process wall: {time.perf_counter() - T_START:.1f} s; "
        f"host steal: {run.extra['host.steal_ratio']:.1%}",
        file=sys.stderr,
    )
    result = {
        "correct": failed == 0 and not run.setup_failures,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; prints one JSON object of all."""
    results = {}
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        if out.returncode != 0:
            return out.returncode
        results[wl] = json.loads(out.stdout.strip().splitlines()[-1])
    print(json.dumps(results))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
