"""Workload definitions: query lists, ingest file shape, replay share and
seed handling. Everything a run feeds the engine is derived from here and
from ``--seed``; nothing is taken from the engine's own bench script."""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

# Relational queries: execution-bound, construction launches no jobs. The
# no-change control for driver-side and operator changes.
WAREHOUSE_SQL = (
    "q1_pricing_summary",
    "q3_top_revenue",
    "q5_local_supplier",
    "q6_revenue_delta",
    "q4_semi_join",
    "q13_cust_distribution",
    "q16_distinct_suppliers",
    "q18_large_orders",
    "j2_inner_enrich",
    "w1_row_number",
    "ev_window_rollup",
    "ev_sessionize",
)

# LLM data-prep operators: driver-bound (eager checkpoints, trained fits,
# several construction jobs per query).
LLM_DATAPREP = (
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_stats",
    "text_lang_id",
    "knn_bruteforce",
    "knn_sign_lsh",
    "mm_decode",
    "knn_ivfpq_fixed",
    "text_bm25_topk",
    "hybrid_search_rrf",
    "dedup_simhash_topn",
    "corpus_prep_pipeline",
    "dedup_substring_spans",
    "knn_pq_trained",
    "dedup_semantic_two_level",
)


@dataclass(frozen=True)
class QueryWorkload:
    name: str
    queries: tuple[str, ...]
    sf: float
    tables: tuple[str, ...]

    def order(self, seed: int, pass_no: int) -> list[str]:
        """The seed permutes the query order within each pass."""
        rng = np.random.default_rng([seed, pass_no])
        return [self.queries[i] for i in rng.permutation(len(self.queries))]


QUERY_WORKLOADS = {
    "warehouse_sql": QueryWorkload(
        "warehouse_sql",
        WAREHOUSE_SQL,
        0.1,
        ("region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events"),
    ),
    # sf0.01: the workload is driver-bound at either scale, and at sf0.1 one
    # run (cold pass + one timed pass) takes ~80 s on 4 cores.
    "llm_dataprep": QueryWorkload(
        "llm_dataprep", LLM_DATAPREP, 0.01, ("documents", "embeddings")
    ),
}

# -- ingest ------------------------------------------------------------------
GRID_SIDE = 48
LEADTIMES = 10
REPLAY_EVERY = 4  # op j with j % 4 == 3 re-uploads an earlier file
WARMUP_OPS = 2  # the first file of each hemisphere
MIN_TIMED_OPS = 2  # a new file and the first replay
# Ingest touches small tables only. With the engine's 16g default heap the
# run-to-run spread of its latency was 16-38% on a 4-core host, with 4g it
# was 4-12%. The query workloads collect and broadcast model artifacts; a 4g
# heap made them slower and less steady, so they keep the engine default.
DRIVER_MEMORY = "4g"
FIRST_DAY = pd.Timestamp("2024-01-01")


@dataclass(frozen=True)
class ForecastFile:
    index: int  # position among the distinct files of the run
    hemisphere: str
    generated: str  # YYYY-MM-DD
    seed: int


def forecast_file(seed: int, index: int) -> ForecastFile:
    """Distinct file ``index``: alternating hemispheres, consecutive
    generation dates per hemisphere, a per-file seed derived from the
    workload seed."""
    day = FIRST_DAY + pd.Timedelta(days=int(seed % 97) + index // 2)
    file_seed = int(np.random.SeedSequence([seed, index]).generate_state(1)[0])
    return ForecastFile(
        index,
        "north" if index % 2 == 0 else "south",
        day.strftime("%Y-%m-%d"),
        file_seed,
    )


def ingest_schedule(seed: int):
    """Endless op schedule: yields ``(file, is_replay)``. Every fourth op
    re-ingests a seeded choice among the files already ingested."""
    rng = np.random.default_rng([seed, 1 << 20])
    n_new = 0
    j = 0
    while True:
        if j % REPLAY_EVERY == REPLAY_EVERY - 1 and n_new:
            yield forecast_file(seed, int(rng.integers(0, n_new))), True
        else:
            yield forecast_file(seed, n_new), False
            n_new += 1
        j += 1
