"""Local stand-in for the driver's t2 correctness gate.

Runs every query in icenetetl_spark.queries against sf0.01 via Spark AND its
DuckDB oracle, then compares row count, column-name set, and order-insensitive
values (rows sorted, columns sorted by name — like the driver). Floats are
compared exactly first, then with rel-tol fallback reported separately so we
can see *how* close a mismatch is.

Usage: python tools/check_oracle.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def duck_connection():
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def pinned_elsewhere(name):
    """True for a query whose oracle embeds a model pinned at sf0.01 (the
    trained-BPE VALUES literal, fixed-encode reuse) while SF_DIR is another
    SF: there the comparison is trainer-on-this-corpus vs the sf0.01
    constant, a guaranteed false red (ADVICE r8)."""
    from icenetetl_spark.queries.tokenizer import PINNED_AT_SF001

    return name in PINNED_AT_SF001 and not os.path.normpath(SF_DIR).endswith(
        "sf0.01"
    )


def normalize(df):
    """pandas frame -> sorted list of tuples with normalized cell values."""
    import datetime

    import numpy as np
    import pandas as pd

    df = df[sorted(df.columns)]

    def norm(v):
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return None
        if isinstance(v, (np.integer,)):
            return int(v)
        if isinstance(v, (np.floating,)):
            return float(v)
        if isinstance(v, pd.Timestamp):
            return v.to_pydatetime().replace(tzinfo=None)
        if isinstance(v, datetime.datetime):
            return v.replace(tzinfo=None)
        if isinstance(v, datetime.date):
            # DuckDB's .df() renders DATE as datetime64 midnight; Spark gives
            # datetime.date. Arrow-level both are date32 — normalize here.
            return datetime.datetime(v.year, v.month, v.day)
        if isinstance(v, np.ndarray):
            return tuple(v.tolist())
        if isinstance(v, list):
            return tuple(v)
        return v

    rows = [tuple(norm(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def compare(name, spark_df, duck_df):
    issues = []
    sc = sorted(c.lower() for c in spark_df.columns)
    dc = sorted(c.lower() for c in duck_df.columns)
    if sc != dc:
        issues.append(f"columns differ: spark={sc} duck={dc}")
        return issues
    spark_pdf = spark_df.toPandas()
    # The driver's value hash is DTYPE-sensitive (round-5 lesson: a float32
    # column widened to float64 passed the float()-normalizing comparison
    # below but failed the driver). Flag float-width mismatches explicitly.
    for c in spark_pdf.columns:
        sk = spark_pdf[c].dtype
        dk = duck_df[c].dtype if c in duck_df.columns else None
        if dk is not None and sk.kind == "f" and dk.kind == "f" and sk != dk:
            issues.append(
                f"float width differs on {c!r}: spark={sk} duck={dk} "
                "(driver hash is dtype-sensitive)"
            )
    if issues:
        return issues
    a, b = normalize(spark_pdf), normalize(duck_df)
    if len(a) != len(b):
        issues.append(f"row count differs: spark={len(a)} duck={len(b)}")
        return issues
    n_bad = 0
    first = None
    for ra, rb in zip(a, b):
        if ra != rb:
            # check approx equality for floats
            approx = all(
                (x == y)
                or (
                    isinstance(x, float)
                    and isinstance(y, float)
                    and abs(x - y) <= 1e-9 * max(1.0, abs(x), abs(y))
                )
                for x, y in zip(ra, rb)
            )
            n_bad += 1
            if first is None:
                first = (ra, rb, "approx-equal" if approx else "DIFFERENT")
    if n_bad:
        issues.append(f"{n_bad}/{len(a)} rows mismatch; first: {first}")
    return issues


def main():
    only = set(sys.argv[1:])
    from icenetetl_spark.queries import all_oracles, all_queries
    from icenetetl_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duck_connection()
    queries, oracles = all_queries(), all_oracles()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        if pinned_elsewhere(name):
            print(f"  {name:28s} skipped: oracle pinned at sf0.01, SF={SF_DIR}")
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            if name not in oracles:
                n = sdf.count()
                print(f"  {name:28s} rows-only: {n} rows  [{time.time()-t0:.1f}s]")
                continue
            ddf = con.execute(oracles[name]).df()
            issues = compare(name, sdf, ddf)
        except Exception as e:
            issues = [f"EXCEPTION: {type(e).__name__}: {e}"]
        dt = time.time() - t0
        if issues:
            failures += 1
            print(f"✗ {name:28s} [{dt:.1f}s]")
            for i in issues:
                print(f"    {i}")
        else:
            print(f"✓ {name:28s} [{dt:.1f}s]")
    print(f"\n{failures} failures")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
