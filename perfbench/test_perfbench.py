"""Self-tests for the benchmark's arithmetic and input handling.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
from checks import compare_state, expected_rows, expected_state  # noqa: E402
from stats import (  # noqa: E402
    merge_intervals,
    quartile_spread,
    self_time,
    spark_ratios,
    tail_percentile,
)
from tracer import Tracer  # noqa: E402
from workloads import (  # noqa: E402
    QUERY_WORKLOADS,
    ForecastFile,
    forecast_file,
    ingest_schedule,
)


@pytest.mark.parametrize(
    "n, p",
    [(1, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75),
     (100, 90), (200, 95), (999, 95), (1000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p


def test_quartile_spread():
    assert quartile_spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    # quantiles([1, 2, 3, 4, 5], n=4) = [1.5, 3, 4.5]
    assert quartile_spread([5.0, 1.0, 3.0, 2.0, 4.0]) == pytest.approx(1.0)


def test_self_time_subtracts_union_of_children():
    assert merge_intervals([(2, 5), (1, 3), (8, 12), (6, 6)]) == [(1, 5), (8, 12)]
    # children cover 1..5 and 8..10 of the span (the part after 10 is clipped)
    assert self_time((0, 10), [(1, 3), (2, 5), (8, 12)]) == pytest.approx(4.0)
    assert self_time((0, 10), []) == pytest.approx(10.0)


def test_tracer_self_times_per_operation():
    tr = Tracer(True)
    spans = [
        # id, name, parent, op, start, end
        (0, "op", None, "op0", 0.0, 10.0),
        (1, "plans.update_latest", 0, "op0", 1.0, 6.0),
        (2, "catalog.overwrite", 1, "op0", 2.0, 5.0),
        (3, "catalog.overwrite", 0, "op0", 7.0, 8.0),
    ]
    for i, name, parent, op, a, b in spans:
        tr.spans.append(
            {"id": i, "name": name, "parent": parent, "op": op, "start": a, "end": b}
        )
    st = tr.self_times()["op0"]
    assert st["op"] == pytest.approx(4.0)
    assert st["plans.update_latest"] == pytest.approx(2.0)
    assert st["catalog.overwrite"] == pytest.approx(4.0)
    assert st["catalog.overwrite#calls"] == 2


def test_driver_gap_and_busy_ratio_on_synthetic_jobs():
    # jobs cover 0..3 and 5..6 (overlap counted once): 4 s inside jobs
    r = spark_ratios(10.0, [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)], 8.0, cores=4)
    assert r["spark.in_jobs_s"] == pytest.approx(4.0)
    assert r["spark.driver_gap_s"] == pytest.approx(6.0)
    assert r["spark.executor_busy_ratio"] == pytest.approx(0.5)  # 8 / (4 * 4)
    idle = spark_ratios(2.0, [], 0.0, cores=4)
    assert idle["spark.driver_gap_s"] == 2.0
    assert idle["spark.executor_busy_ratio"] == 0.0


def _raw(generated: str, mean, std) -> pd.DataFrame:
    """A 2x2 grid, 2 leadtimes, in make_raw_pdf's layout."""
    lead, yy, xx = np.meshgrid([1, 2], [0.0, 25.0], [0.0, 25.0], indexing="ij")
    n = lead.size
    return pd.DataFrame(
        {
            "time": pd.Series([pd.Timestamp(generated)] * n, dtype="datetime64[us]"),
            "leadtime": lead.ravel().astype(np.int32),
            "xc": xx.ravel(),
            "yc": yy.ravel(),
            "lat": np.full(n, 70.0),
            "lon": np.zeros(n),
            "Lambert_Azimuthal_Grid": np.int32(0),
            "sic_mean": np.asarray(mean, dtype=np.float32),
            "sic_stddev": np.asarray(std, dtype=np.float32),
        }
    )


def test_ingest_expected_state_two_files():
    f0 = ForecastFile(0, "north", "2024-03-01", 1)
    f1 = ForecastFile(2, "north", "2024-03-02", 2)
    # file 0 drops one row for sic_mean <= 0 and one for a null stddev
    r0 = expected_rows(
        f0, _raw(f0.generated, [0.5, 0.0, 0.4, 0.3, 0.2, 0.1, -0.2, 0.9],
                 [0.1, 0.1, np.nan, 0.1, 0.1, 0.1, 0.1, 0.1])
    )
    r1 = expected_rows(f1, _raw(f1.generated, [0.5] * 8, [0.1] * 8))
    assert len(r0) == 5 and len(r1) == 8
    first = r0.iloc[0]
    assert (first["date_for"], first["cx"], first["cy"]) == ("2024-03-02", 0, 0)
    assert r0["cx"].max() == 25_000

    st = expected_state({0: r0, 2: r1})
    assert len(st["forecasts"]) == 13
    # the latest view holds only the newest generation date of the hemisphere
    assert set(st["latest"]["generated"]) == {"2024-03-02"}
    assert len(st["latest"]) == 8
    meta = st["meta"].set_index("generated")
    assert meta.loc["2024-03-01", "n"] == 5
    assert meta.loc["2024-03-01", "first"] == "2024-03-02"
    assert meta.loc["2024-03-02", "last"] == "2024-03-04"
    assert st["cells"]["n"].item() == 48 * 48  # one hemisphere's grid

    # a replay adds nothing: the same state must compare clean ...
    same = {k: v.copy() for k, v in st.items()}
    assert compare_state(st, same) == []
    # ... and a lost or altered row is reported
    lost = dict(same, forecasts=same["forecasts"].iloc[1:].reset_index(drop=True))
    assert compare_state(st, lost) == ["forecasts: 12 rows, expected 13"]
    bad = same["latest"].copy()
    bad.loc[0, "mean"] = np.float32(0.25)
    assert compare_state(st, dict(same, latest=bad)) == [
        "latest: values differ from the expected state"
    ]


def test_ingest_schedule_replays_every_fourth_op():
    ops = []
    sched = ingest_schedule(7)
    for _ in range(12):
        ops.append(next(sched))
    assert [r for _, r in ops] == [False, False, False, True] * 3
    new = [f for f, r in ops if not r]
    assert [f.index for f in new] == list(range(9))
    assert [f.hemisphere for f in new[:4]] == ["north", "south", "north", "south"]
    assert new[2].generated > new[0].generated  # consecutive dates per hemisphere
    for f, r in ops:
        if r:
            assert f == forecast_file(7, f.index)  # the same file, re-uploaded
    again = ingest_schedule(7)
    assert [next(again) for _ in range(12)] == ops


def test_query_order_is_a_seeded_permutation():
    wl = QUERY_WORKLOADS["llm_dataprep"]
    a, b = wl.order(3, 1), wl.order(3, 2)
    assert sorted(a) == sorted(wl.queries) == sorted(b)
    assert a == wl.order(3, 1) and a != b


def test_datagen_is_deterministic():
    a = datagen.make_tables(5, 0.001, ("orders", "documents", "embeddings"))
    b = datagen.make_tables(5, 0.001, ("embeddings", "orders"))
    assert a["orders"].equals(b["orders"])
    assert a["embeddings"].equals(b["embeddings"])
    assert a["orders"].num_rows == 1500
    c = datagen.make_tables(6, 0.001, ("orders",))
    assert not a["orders"].equals(c["orders"])
