"""Interleaved A/B of a QUERY SUBSET between two git commits (r14).

tools/bench_ab.py runs the full 29-query bench per rep — too coarse/slow
for per-change adoption decisions on a host with multi-minute degradation
bursts. This harness A/Bs only the named queries: it checks the base
commit into a throwaway worktree and alternates SUBPROCESS runs
base,head,base,head,... of ONE shared runner script (so both sides run
identical measurement code against their own icenetetl_spark), each run
being bench-methodology medians-of-3 (warmup tables + construction +
noop sink per pass). Per-side per-query medians-of-runs and the
head/base ratio are reported, next to each query's codegen compile count:
the JVM's CodegenMetrics compilation count over its three timed reps
(classes Janino compiled, i.e. codegen-cache misses).

Usage:
    python tools/focused_ab.py BASE_COMMIT REPS query [query ...]
Output: human table on stderr, one JSON line on stdout.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile

RUNNER = r'''
import json, os, statistics, sys, time
tree = sys.argv[1]
names = sys.argv[2:]
sys.path.insert(0, tree)
os.environ["ICENETETL_FIT_CACHE_DIR"] = ""
from icenetetl_spark.queries import all_queries
from icenetetl_spark.session import get_spark
from icenetetl_spark.sources.testdata import TABLES, load_table
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("focused-ab")
for t in TABLES:
    load_table(spark, SF_DIR, t).count()
from pyspark.sql import functions as F
li = load_table(spark, SF_DIR, "lineitem")
li.groupBy("l_returnflag").count().count()
spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long").count()
spark.range(128).localCheckpoint(eager=True).count()
qs = all_queries()
codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
out = {}
for name in names:
    fn = qs[name]
    walls = []
    c0 = codegen.METRIC_COMPILATION_TIME().getCount()
    for _ in range(3):
        t0 = time.time()
        df = fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        walls.append(time.time() - t0)
    out[name] = {
        "wall": round(statistics.median(walls), 3),
        "compiles": codegen.METRIC_COMPILATION_TIME().getCount() - c0,
    }
spark.stop()
print("FOCUSED_AB " + json.dumps(out))
'''


def run_side(runner: str, tree: str, names: list[str]) -> dict:
    proc = subprocess.run(
        [sys.executable, runner, tree, *names],
        capture_output=True,
        text=True,
        timeout=1800,
        env=dict(os.environ),
    )
    if proc.returncode != 0:
        raise RuntimeError(f"runner failed in {tree}: {proc.stderr[-2000:]}")
    for line in reversed(proc.stdout.strip().splitlines()):
        if line.startswith("FOCUSED_AB "):
            return json.loads(line[len("FOCUSED_AB "):])
    raise RuntimeError(f"no result line from {tree}")


def main() -> None:
    base, reps_s, *names = sys.argv[1:]
    reps = int(reps_s)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with tempfile.TemporaryDirectory(prefix="focused_ab_") as tmp:
        runner = os.path.join(tmp, "runner.py")
        with open(runner, "w") as f:
            f.write(RUNNER)
        base_tree = os.path.join(tmp, "base")
        subprocess.run(
            ["git", "worktree", "add", "--detach", base_tree, base],
            cwd=repo, check=True, capture_output=True,
        )
        try:
            results: dict[str, list[dict]] = {"base": [], "head": []}
            for i in range(reps):
                for side, tree in (("base", base_tree), ("head", repo)):
                    r = run_side(runner, tree, names)
                    results[side].append(r)
                    print(f"rep {i+1}/{reps} {side}: {r}", file=sys.stderr,
                          flush=True)
        finally:
            subprocess.run(
                ["git", "worktree", "remove", "--force", base_tree],
                cwd=repo, capture_output=True,
            )
    out: dict = {"base_commit": base, "reps": reps, "queries": {}}
    for q in names:
        walls = {s: [r[q]["wall"] for r in results[s]] for s in results}
        comps = {s: [r[q]["compiles"] for r in results[s]] for s in results}
        med = {s: statistics.median(walls[s]) for s in results}
        cmed = {s: statistics.median(comps[s]) for s in results}
        out["queries"][q] = {
            "base": round(med["base"], 3),
            "head": round(med["head"], 3),
            "ratio": round(med["head"] / med["base"], 3) if med["base"] else None,
            "base_all": walls["base"],
            "head_all": walls["head"],
            "base_compiles": cmed["base"],
            "head_compiles": cmed["head"],
            "base_compiles_all": comps["base"],
            "head_compiles_all": comps["head"],
        }
        print(
            f"{q}: base {med['base']:.3f} head {med['head']:.3f} "
            f"ratio {med['head']/med['base']:.3f}  "
            f"compiles base {cmed['base']:g} head {cmed['head']:g}",
            file=sys.stderr,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
