"""Driver-contract invariants — cheap guards that future rounds can't
accidentally break the __spark_entry__ surface."""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import subprocess
import sys

from icenetetl_spark import queries as qreg

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test", os.path.join(_REPO_ROOT, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_oracle_has_a_query():
    mod = _load_entry()
    q, o = mod.queries(), mod.oracle_sql()
    assert set(o) <= set(q), f"orphan oracles: {set(o) - set(q)}"


def test_rows_only_queries_are_documented():
    """Queries without an oracle must say why in their docstring."""
    mod = _load_entry()
    q, o = mod.queries(), mod.oracle_sql()
    for name in set(q) - set(o):
        doc = (q[name].__doc__ or "").lower()
        assert "rows-only" in doc or "oracle" in doc, (
            f"{name} has no oracle and no docstring justification"
        )


def test_query_callables_take_spark_and_sfdir():
    import inspect

    mod = _load_entry()
    for name, fn in mod.queries().items():
        params = list(inspect.signature(fn).parameters)
        assert len(params) == 2, f"{name} must take (spark, sf_dir), got {params}"


def test_oracle_sql_is_nonempty_select():
    mod = _load_entry()
    for name, sql in mod.oracle_sql().items():
        s = sql.strip().upper()
        assert s.startswith(("SELECT", "WITH")), f"{name}: not a query"


def test_bench_queries_are_registered():
    """bench.py's headline list must stay a subset of the registry —
    retiring a query from the registry without updating BENCH_QUERIES
    would crash the driver's per-round bench run (the round-6 stub
    retirement nearly did)."""
    import bench

    mod = _load_entry()
    missing = set(bench.BENCH_QUERIES) - set(mod.queries())
    assert not missing, f"bench queries not in registry: {missing}"


def test_entry_importable_without_repo_on_path(tmp_path):
    """A driver loads the entry file by path, from its own working
    directory, with the repo nowhere on sys.path (a fresh interpreter: in
    this one the package is already imported)."""
    code = (
        "import importlib.util, sys\n"
        "spec = importlib.util.spec_from_file_location('entry', sys.argv[1])\n"
        "mod = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(mod)\n"
        "assert len(mod.queries()) > 0\n"
    )
    entry = os.path.join(_REPO_ROOT, "__spark_entry__.py")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    subprocess.run(
        [sys.executable, "-c", code, entry],
        cwd=tmp_path,
        env=env,
        check=True,
        timeout=300,
    )


def test_oracles_are_colocated_with_their_queries():
    """Each oracle lives in the module that defines its query, which is
    what lets ``all_oracles()`` follow ``all_queries()`` order."""
    for m in qreg._MODULES:
        missing = set(m.ORACLES) - set(m.QUERIES)
        assert not missing, (
            f"{m.__name__} registers oracles for queries it does not "
            f"define: {sorted(missing)}"
        )


def test_oracle_order_matches_query_order_on_common_keys():
    qnames = [n for n in qreg.all_queries() if n in qreg.all_oracles()]
    onames = list(qreg.all_oracles())
    assert qnames == [n for n in onames if n in set(qnames)]


def test_registry_order_is_module_order(tmp_path, monkeypatch):
    """The registry lists each module's QUERIES in ``_MODULES`` order. A
    driver correctness record at the repo root (here every query green but
    the last) moves nothing."""
    expected = [n for m in qreg._MODULES for n in m.QUERIES]
    green = {"err": None, "rows_match": True, "schema_match": True,
             "hash_match": True}
    record = {n: green for n in expected} | {expected[-1]: {"err": "boom"}}
    path = tmp_path / "CORRECTNESS_r01.json"
    path.write_text(json.dumps(record))
    real_glob = glob.glob
    monkeypatch.setattr(
        glob,
        "glob",
        lambda pat, **kw: (
            [str(path)] if "CORRECTNESS_r" in pat else real_glob(pat, **kw)
        ),
    )
    assert list(qreg.all_queries()) == expected


def test_cli_sql_and_list(spark, capsys):
    from icenetetl_spark.cli import main

    assert main(["list"]) == 0
    assert (
        main(
            [
                "sql",
                "SELECT r_name, count(*) AS n FROM region GROUP BY r_name",
                "--sf-dir",
                "/root/testdata/sf0.001",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "ASIA" in out
