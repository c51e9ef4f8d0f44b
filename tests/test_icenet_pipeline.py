"""End-to-end tests of the five-stage IceNet pipeline (plans/icenet.py)
against the reference's documented semantics, including the core operational
invariant: idempotency under replay (README.md:42-51)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from icenetetl_spark.catalog import ParquetCatalog
from icenetetl_spark.plans.icenet import (
    FileAttrs,
    IceNetPipeline,
    classify_hemisphere,
    normalize_forecasts,
)
from icenetetl_spark.sources.fixtures import make_raw_file


def table_fingerprint(df, ignore=("forecast_id", "forecast_meta_id")):
    cols = sorted(c for c in df.columns if c not in ignore)
    rows = [tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect()]
    return sorted(rows)


def test_classify_hemisphere():
    assert classify_hemisphere(FileAttrs(geospatial_lat_max=85.0)) == "north"
    assert classify_hemisphere(FileAttrs(geospatial_lat_min=-85.0)) == "south"
    assert classify_hemisphere(FileAttrs(keywords="Sea ice > North")) == "north"
    assert classify_hemisphere(FileAttrs(keywords="antarctic SOUTH ice")) == "south"
    from icenetetl_spark.errors import HemisphereUnresolvedError, IceNetInputError

    with pytest.raises(HemisphereUnresolvedError):
        classify_hemisphere(FileAttrs(keywords="equatorial"))
    with pytest.raises(IceNetInputError):  # typed-hierarchy catch, __init__.py:21-28
        classify_hemisphere(FileAttrs())
    # exclusivity (processor.py:145-148): both hemispheres named -> ambiguous
    with pytest.raises(HemisphereUnresolvedError):
        classify_hemisphere(FileAttrs(keywords="north and south comparison"))


def test_normalize_filters_and_derives(spark):
    raw, _ = make_raw_file(spark, "2024-03-01", seed=7)
    out = normalize_forecasts(raw, "north")
    rows = out.count()
    # sic_mean <= 0 filtered AND null-stddev rows dropped ('any' semantics)
    raw_n = raw.count()
    kept = raw.filter(
        (F.col("sic_mean") > 0) & F.col("sic_stddev").isNotNull()
    ).count()
    assert rows == kept < raw_n
    # metre coords and forecast-date arithmetic
    sample = out.filter((F.col("xc_m") == 25000) & (F.col("yc_m") == 50000)).first()
    assert sample is not None
    r = out.select(
        F.min(F.to_date("time_forecast")).alias("lo"),
        F.max(F.to_date("time_forecast")).alias("hi"),
    ).first()
    assert str(r["lo"]) == "2024-03-02" and str(r["hi"]) == "2024-03-06"
    # dropped passthrough columns
    assert not {"lat", "lon", "Lambert_Azimuthal_Grid", "leadtime"} & set(out.columns)


def test_old_format_rename(spark):
    raw_old, _ = make_raw_file(spark, "2024-03-01", seed=7, old_format=True)
    out = normalize_forecasts(raw_old, "north")
    assert "sic_mean" in out.columns and "sic_stddev" in out.columns


def test_pipeline_end_to_end_and_idempotent(spark, warehouse):
    cat = ParquetCatalog(spark, warehouse)
    pipe = IceNetPipeline(cat)

    f1, a1 = make_raw_file(spark, "2024-03-01", "north", seed=1)
    f2, a2 = make_raw_file(spark, "2024-03-08", "north", seed=2)
    f3, a3 = make_raw_file(spark, "2024-03-05", "south", seed=3)
    for f, a in [(f1, a1), (f2, a2), (f3, a3)]:
        pipe.run(f, a)

    cells = cat.read("cells")
    forecasts = cat.read("forecasts")
    latest = cat.read("forecast_latest")
    meta = cat.read("forecast_meta")

    # grid: 16x16 per hemisphere, unique per (hemisphere, centroid)
    assert cells.count() == 2 * 16 * 16
    assert (
        cells.select("hemisphere", "centroid_x", "centroid_y").distinct().count()
        == cells.count()
    )
    # every fact found its cell (left join hit) and has unique key
    assert forecasts.filter(F.col("cell_id").isNull()).count() == 0
    key = ["hemisphere", "date_forecast_generated", "date_forecast_for", "cell_id"]
    assert forecasts.select(*key).distinct().count() == forecasts.count()
    # WKT shape: centroid 0,0 with 25km step -> +/-12500m ring
    wkt = cells.filter(
        (F.col("centroid_x") == 0)
        & (F.col("centroid_y") == 0)
        & (F.col("hemisphere") == "north")
    ).first()["geom_laea_wkt"]
    assert wkt == (
        "POLYGON((-12500 12500, 12500 12500, 12500 -12500, "
        "-12500 -12500, -12500 12500))"
    )

    # latest view: per-hemisphere max generation date only
    gen = {
        (r["hemisphere"], str(r["date_forecast_generated"]))
        for r in latest.select("hemisphere", "date_forecast_generated")
        .distinct()
        .collect()
    }
    assert gen == {("north", "2024-03-08"), ("south", "2024-03-05")}
    # forecast_id is a dense deterministic sequence
    n = latest.count()
    ids = {r["forecast_id"] for r in latest.select("forecast_id").collect()}
    assert ids == set(range(1, n + 1))

    # meta rollup: one row per (generation date, hemisphere), counts match
    assert meta.count() == 3
    m = {
        (str(r["date_forecast_generated"]), r["hemisphere"]): r["n_records"]
        for r in meta.collect()
    }
    fc = {
        (str(r["date_forecast_generated"]), r["hemisphere"]): r["cnt"]
        for r in forecasts.groupBy("date_forecast_generated", "hemisphere")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert m == fc

    # IDEMPOTENCY: replay every file -> every table is a fixed point
    before = {
        t: table_fingerprint(cat.read(t))
        for t in ["cells", "forecasts", "forecast_latest", "forecast_meta"]
    }
    for f, a in [(f1, a1), (f2, a2), (f3, a3)]:
        pipe.run(f, a)
    after = {
        t: table_fingerprint(cat.read(t))
        for t in ["cells", "forecasts", "forecast_latest", "forecast_meta"]
    }
    assert before == after


def test_latest_recompute_prunes_to_max_date_partitions(spark, warehouse):
    """The latest-view recompute must reach the forecasts scan with LITERAL
    partition filters on (hemisphere, date_forecast_generated) — i.e. the
    file index prunes to the max-date partitions instead of scanning the
    full history (the reference's scalar-subquery J3, processor.py:430,
    turned into static pruning metadata)."""
    cat = ParquetCatalog(spark, warehouse)
    pipe = IceNetPipeline(cat)
    for date, hemi, seed in [
        ("2024-03-01", "north", 1),
        ("2024-03-08", "north", 2),
        ("2024-03-05", "south", 3),
    ]:
        f, a = make_raw_file(spark, date, hemi, grid_side=6, seed=seed)
        pipe.run(f, a)

    lf = pipe.latest_pruned()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = lf._jdf.queryExecution().explainString(mode)
    pf_lines = [
        ln for ln in plan.splitlines() if ln.strip().startswith("PartitionFilters")
    ]
    assert pf_lines, plan
    for ln in pf_lines:
        # the partition filter must be the literal max-date equality, not a
        # bare isnotnull residue of a post-scan join
        assert "2024-03-08" in ln and "2024-03-05" in ln, ln
    # and the pruned frame still matches the naive full-scan answer
    forecasts = cat.read("forecasts")
    w_max = forecasts.groupBy("hemisphere").agg(
        F.max("date_forecast_generated").alias("mx")
    )
    naive = forecasts.join(w_max, "hemisphere").filter(
        F.col("date_forecast_generated") == F.col("mx")
    )
    assert lf.count() == naive.count()


def test_meta_upsert_updates_counts(spark, warehouse):
    """New file for an EXISTING generation date must update (not duplicate)
    the rollup row — ON CONFLICT DO UPDATE semantics (processor.py:395-401)."""
    cat = ParquetCatalog(spark, warehouse)
    pipe = IceNetPipeline(cat)
    f1, a1 = make_raw_file(spark, "2024-03-01", "north", grid_side=8, seed=1)
    pipe.run(f1, a1)
    n1 = cat.read("forecast_meta").first()["n_records"]
    # second file, same generation date, disjoint grid (offset by 8 cells)
    f2, a2 = make_raw_file(spark, "2024-03-01", "north", grid_side=8, seed=2)
    f2 = (
        f2.withColumn("xc", F.col("xc") + 8 * 25.0)
        .withColumn("yc", F.col("yc") + 8 * 25.0)
    )
    pipe.run(f2, a2)
    meta = cat.read("forecast_meta")
    assert meta.count() == 1  # still one rollup row for the (date, hemi) key
    assert meta.first()["n_records"] > n1


def test_incremental_meta_equivalent(spark, tmp_path):
    """Incremental rollup (scan only touched partitions) must reach the same
    final meta table as the reference-parity full recompute."""
    from icenetetl_spark.catalog import ParquetCatalog
    from icenetetl_spark.plans.icenet import IceNetPipeline

    files = [
        make_raw_file(spark, "2024-03-01", "north", grid_side=6, seed=1),
        make_raw_file(spark, "2024-03-08", "north", grid_side=6, seed=2),
        make_raw_file(spark, "2024-03-05", "south", grid_side=6, seed=3),
    ]
    cats = {
        mode: ParquetCatalog(spark, str(tmp_path / mode)) for mode in ("full", "inc")
    }
    for mode, cat in cats.items():
        pipe = IceNetPipeline(cat)
        for f, a in files:
            pipe.run(f, a, incremental_meta=(mode == "inc"))
    assert table_fingerprint(cats["full"].read("forecast_meta")) == table_fingerprint(
        cats["inc"].read("forecast_meta")
    )


def test_txn_pipeline_e2e_matches_plain_catalog(spark, tmp_path):
    """The five-stage pipeline over the manifest-logged TxnParquetCatalog
    (make_txn_catalog) produces value-identical tables to the plain
    directory-swap catalog — the txn layer is a drop-in sink."""
    from icenetetl_spark.plans.icenet import make_txn_catalog

    files = [
        make_raw_file(spark, "2024-03-01", "north", grid_side=6, seed=1),
        make_raw_file(spark, "2024-03-08", "north", grid_side=6, seed=2),
        make_raw_file(spark, "2024-03-05", "south", grid_side=6, seed=3),
    ]
    plain = ParquetCatalog(spark, str(tmp_path / "plain"))
    txn = make_txn_catalog(spark, str(tmp_path / "txn"))
    for cat in (plain, txn):
        pipe = IceNetPipeline(cat)
        for f, a in files:
            pipe.run(f, a)
    tables = ["cells", "forecasts", "forecast_latest", "forecast_meta"]
    for t in tables:
        assert table_fingerprint(plain.read(t)) == table_fingerprint(
            txn.read(t)
        ), t
    # replay through the txn catalog is also a fixed point
    pipe = IceNetPipeline(txn)
    before = {t: table_fingerprint(txn.read(t)) for t in tables}
    for f, a in files:
        pipe.run(f, a)
    after = {t: table_fingerprint(txn.read(t)) for t in tables}
    assert before == after
    # manifest-level skipping is wired: forecasts write sets carry stats
    # on the layout keys, and the latest recompute's read prunes on them
    m = txn._load_manifest("forecasts", txn.current_version("forecasts"))
    assert all(
        set(st) >= {"hemisphere", "date_forecast_generated"}
        for st in m["stats"].values()
    )


def test_txn_pipeline_concurrent_ingest_loses_no_rows(spark, tmp_path):
    """Two writers ingest DIFFERENT files plus one SHARED file into the
    same txn warehouse concurrently (reference semantics: row-atomic ON
    CONFLICT DO NOTHING, processor.py:249-256): after both finish, the
    fact tables hold exactly the union — no lost rows, no duplicate keys,
    the shared file landed once — and a final derived-table refresh
    converges to the serial result."""
    import threading

    from icenetetl_spark.plans.icenet import make_txn_catalog

    f_north, a_north = make_raw_file(spark, "2024-03-01", "north", grid_side=6, seed=1)
    f_south, a_south = make_raw_file(spark, "2024-03-05", "south", grid_side=6, seed=3)
    f_shared, a_shared = make_raw_file(spark, "2024-03-08", "north", grid_side=6, seed=2)

    wh = str(tmp_path / "txn-conc")
    errors = []

    def writer(own_file, own_attrs):
        try:
            pipe = IceNetPipeline(make_txn_catalog(spark, wh))
            pipe.run(own_file, own_attrs)
            pipe.run(f_shared, a_shared)
        except Exception as e:  # pragma: no cover - surfaced by assert
            errors.append(e)

    t1 = threading.Thread(target=writer, args=(f_north, a_north))
    t2 = threading.Thread(target=writer, args=(f_south, a_south))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors

    cat = make_txn_catalog(spark, wh)
    pipe = IceNetPipeline(cat)
    # derived tables are eventually consistent across tables; one final
    # refresh must converge them (see IceNetPipeline docstring)
    pipe.update_latest()
    pipe.update_meta()

    # serial reference run
    ref = ParquetCatalog(spark, str(tmp_path / "serial"))
    rpipe = IceNetPipeline(ref)
    for f, a in [(f_north, a_north), (f_south, a_south), (f_shared, a_shared)]:
        rpipe.run(f, a)

    for t in ["cells", "forecasts", "forecast_latest", "forecast_meta"]:
        assert table_fingerprint(cat.read(t)) == table_fingerprint(
            ref.read(t)
        ), t
    key = ["hemisphere", "date_forecast_generated", "date_forecast_for", "cell_id"]
    forecasts = cat.read("forecasts")
    assert forecasts.select(*key).distinct().count() == forecasts.count()


TABLES = ["cells", "forecasts", "forecast_latest", "forecast_meta"]


def _jobs_launched(spark, fn):
    """(number of Spark jobs ``fn()`` launched, its result), counted by a
    fresh job group through the status tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


# Measured: 36 jobs for a steady-state file of make_raw_file's default
# 16x16 grid, plus a small margin.
SECOND_FILE_JOB_BUDGET = 38


def test_ingest_job_budget_and_job_free_reads(spark, warehouse):
    """Fixed per-file overhead stays bounded: reading a catalog-written
    table plans from its stored schema (no footer-inference job), and a
    second same-hemisphere file ingests within a measured job budget."""
    cat = ParquetCatalog(spark, warehouse)
    pipe = IceNetPipeline(cat)
    f1, a1 = make_raw_file(spark, "2024-03-01", "north", seed=1)
    f2, a2 = make_raw_file(spark, "2024-03-08", "north", seed=2)
    pipe.run(f1, a1)
    n_jobs, _ = _jobs_launched(spark, lambda: pipe.run(f2, a2))
    assert n_jobs <= SECOND_FILE_JOB_BUDGET
    for t in TABLES:
        n_read, df = _jobs_launched(spark, lambda: cat.read(t))
        assert n_read == 0, t
        assert df.columns  # the schema is there without an action


def test_stored_schema_round_trips(spark, warehouse):
    """The stored schema is exactly what inference would return, after
    every kind of catalog write: pipeline create/append, upsert, compact
    and the unpartitioned cluster_by layout. A table directory without
    the schema file still reads, by inference."""
    import os

    from icenetetl_spark.catalog import SCHEMA_FILE

    cat = ParquetCatalog(spark, warehouse)
    pipe = IceNetPipeline(cat)

    def check(step):
        for t in TABLES:
            assert os.path.isfile(os.path.join(cat.path(t), SCHEMA_FILE)), (step, t)
            inferred = spark.read.parquet(cat.path(t)).schema
            assert cat.read(t).schema == inferred, (step, t)

    for date, seed in [("2024-03-01", 1), ("2024-03-08", 2)]:
        f, a = make_raw_file(spark, date, "north", grid_side=6, seed=seed)
        pipe.run(f, a)  # the second run upserts forecast_meta
    check("pipeline")
    pipe.update_meta()  # upsert against an existing table
    check("upsert")
    rows = {t: table_fingerprint(cat.read(t)) for t in TABLES}
    for t in TABLES:
        cat.compact(t)
    check("compact")
    for t, cols in [
        ("cells", ["centroid_x"]),
        ("forecasts", ["date_forecast_for", "cell_id"]),
        ("forecast_latest", ["cell_id"]),
        ("forecast_meta", ["date_forecast_generated"]),
    ]:
        cat.cluster_by(t, cols, num_files=2)
    check("cluster_by")
    assert {t: table_fingerprint(cat.read(t)) for t in TABLES} == rows

    os.remove(os.path.join(cat.path("forecasts"), SCHEMA_FILE))
    assert cat.read("forecasts").schema == spark.read.parquet(
        cat.path("forecasts")
    ).schema
    assert table_fingerprint(cat.read("forecasts")) == rows["forecasts"]


def test_append_missing_counts_and_leaves_no_staging(spark, warehouse):
    """append_missing returns exactly the rows it added, a replay adds
    nothing (not even an empty data file), and no staging directory is
    ever left behind. Appended files keep the table's column order."""
    import os

    import pyarrow.parquet as pq

    cat = ParquetCatalog(spark, warehouse)
    keys = ["hemisphere", "date_forecast_generated", "date_forecast_for", "cell_id"]

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("forecast_id"),
            F.lit("north").alias("hemisphere"),
            F.lit("2024-03-01").cast("date").alias("date_forecast_generated"),
            F.lit("2024-03-02").cast("date").alias("date_forecast_for"),
            F.col("id").alias("cell_id"),
            (F.col("id") / 100.0).cast("float").alias("sea_ice_concentration_mean"),
            F.lit(0.1).cast("float").alias("sea_ice_concentration_stddev"),
        )

    def data_files():
        return sorted(
            os.path.join(r, f)
            for r, _d, fs in os.walk(cat.path("forecasts"))
            for f in fs
            if f.endswith(".parquet")
        )

    def no_staging():
        return not [d for d in os.listdir(warehouse) if d.startswith(".staging-")]

    assert cat.append_missing("forecasts", batch(0, 30), keys) == -1  # create
    assert no_staging()
    for lo, hi in [(20, 50), (45, 90)]:
        before = cat.read("forecasts").count()
        n = cat.append_missing("forecasts", batch(lo, hi), keys)
        assert n == cat.read("forecasts").count() - before == hi - max(lo, before)
        assert no_staging()
    files = data_files()
    assert cat.append_missing("forecasts", batch(0, 90), keys) == 0  # replay
    assert no_staging()
    assert data_files() == files
    assert cat.read("forecasts").count() == 90
    layouts = {tuple(pq.read_schema(p).names) for p in files}
    assert layouts == {
        (
            "forecast_id",
            "date_forecast_for",
            "cell_id",
            "sea_ice_concentration_mean",
            "sea_ice_concentration_stddev",
        )
    }
