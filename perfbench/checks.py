"""Independent output checks.

``ingest``: the expected warehouse is computed in pandas from the
generator frames (``make_raw_pdf``) and compared with the tables on disk,
read with pyarrow rather than Spark.

Query workloads: each query's collected output is compared with its DuckDB
oracle twin using ``tools/check_oracle.py``'s comparison.
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pandas as pd

from workloads import GRID_SIDE, LEADTIMES, ForecastFile


def expected_rows(f: ForecastFile, raw: pd.DataFrame) -> pd.DataFrame:
    """Forecast rows one file should contribute: ``sic_mean > 0`` and no
    nulls, keyed by hemisphere, generation date, target date and cell."""
    keep = raw[(raw["sic_mean"] > 0) & raw.notna().all(axis=1)]
    gen = pd.Timestamp(f.generated)
    return pd.DataFrame(
        {
            "hemisphere": f.hemisphere,
            "generated": f.generated,
            "date_for": (
                gen + pd.to_timedelta(keep["leadtime"].to_numpy(), unit="D")
            ).strftime("%Y-%m-%d"),
            "cx": np.floor(keep["xc"].to_numpy() * 1000).astype(np.int64),
            "cy": np.floor(keep["yc"].to_numpy() * 1000).astype(np.int64),
            "mean": keep["sic_mean"].to_numpy(np.float32),
            "std": keep["sic_stddev"].to_numpy(np.float32),
        }
    )


def raw_frame(f: ForecastFile) -> pd.DataFrame:
    from icenetetl_spark.sources.fixtures import make_raw_pdf

    return make_raw_pdf(f.generated, GRID_SIDE, LEADTIMES, seed=f.seed)


def expected_state(files: dict[int, pd.DataFrame]) -> dict[str, pd.DataFrame]:
    """Final warehouse for the distinct files ingested (index -> expected
    rows). Replays are not in ``files``: they must add nothing."""
    fc = pd.concat(files.values(), ignore_index=True)
    newest = fc.groupby("hemisphere")["generated"].transform("max")
    meta = (
        fc.groupby(["generated", "hemisphere"])
        .agg(first=("date_for", "min"), last=("date_for", "max"), n=("cx", "size"))
        .reset_index()
    )
    return {
        "forecasts": _sorted(fc),
        "latest": _sorted(fc[fc["generated"] == newest]),
        "meta": _sorted(meta),
        "cells": pd.DataFrame({"n": [fc["hemisphere"].nunique() * GRID_SIDE**2]}),
    }


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _table(wh: str, name: str) -> pd.DataFrame:
    import pyarrow.dataset as ds

    return ds.dataset(
        os.path.join(wh, name), format="parquet", partitioning="hive"
    ).to_table().to_pandas()


def _as_day(s: pd.Series) -> pd.Series:
    return pd.to_datetime(s.astype(str)).dt.strftime("%Y-%m-%d")


def read_state(wh: str) -> dict[str, pd.DataFrame]:
    cells = _table(wh, "cells")
    centroids = cells.set_index("cell_id")[["centroid_x", "centroid_y"]]

    def facts(df: pd.DataFrame) -> pd.DataFrame:
        c = centroids.reindex(df["cell_id"].to_numpy())
        return _sorted(
            pd.DataFrame(
                {
                    "hemisphere": df["hemisphere"].astype(str).to_numpy(),
                    "generated": _as_day(df["date_forecast_generated"]).to_numpy(),
                    "date_for": _as_day(df["date_forecast_for"]).to_numpy(),
                    "cx": c["centroid_x"].to_numpy(np.int64),
                    "cy": c["centroid_y"].to_numpy(np.int64),
                    "mean": df["sea_ice_concentration_mean"].to_numpy(np.float32),
                    "std": df["sea_ice_concentration_stddev"].to_numpy(np.float32),
                }
            )
        )

    meta = _table(wh, "forecast_meta")
    return {
        "forecasts": facts(_table(wh, "forecasts")),
        "latest": facts(_table(wh, "forecast_latest")),
        "meta": _sorted(
            pd.DataFrame(
                {
                    "generated": _as_day(meta["date_forecast_generated"]),
                    "hemisphere": meta["hemisphere"].astype(str),
                    "first": _as_day(meta["date_forecast_first"]),
                    "last": _as_day(meta["date_forecast_last"]),
                    "n": meta["n_records"].astype(np.int64),
                }
            )
        ),
        "cells": pd.DataFrame(
            {"n": [len(cells.drop_duplicates(["hemisphere", "centroid_x", "centroid_y"]))]}
        ),
    }


def compare_state(expected: dict, actual: dict) -> list[str]:
    problems = []
    for name, exp in expected.items():
        act = actual[name]
        if len(exp) != len(act):
            problems.append(f"{name}: {len(act)} rows, expected {len(exp)}")
        elif not exp.equals(act.astype(exp.dtypes.to_dict())):
            problems.append(f"{name}: values differ from the expected state")
    return problems


def check_ingest(wh: str, files: dict[int, pd.DataFrame]) -> tuple[list[str], int]:
    """Problems found, and the forecasts row count on disk."""
    try:
        actual = read_state(wh)
    except Exception as e:  # unreadable or missing table
        return [f"warehouse unreadable: {type(e).__name__}: {e}"], 0
    return compare_state(expected_state(files), actual), len(actual["forecasts"])


# -- query workloads ----------------------------------------------------------
class _Collected:
    """The shape ``check_oracle.compare`` expects of a Spark frame."""

    def __init__(self, columns, pdf):
        self.columns = columns
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class OracleCheck:
    def __init__(self, root: str, data_dir: str, tables):
        import duckdb

        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(root, "tools", "check_oracle.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        self._compare = mod.compare
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )

    def check(self, name: str, sql: str, columns, pdf) -> list[str]:
        try:
            duck = self.con.execute(sql).df()
            return self._compare(name, _Collected(columns, pdf), duck)
        except Exception as e:
            return [f"oracle: {type(e).__name__}: {e}"]
