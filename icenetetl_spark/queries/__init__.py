"""Query registry: every implemented operator exposed as a named query over
the driver testdata, each (where SQL-expressible) paired with a DuckDB oracle.

Modules contribute ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]``
and ``ORACLES: dict[str, str]``; this package merges them for
``__spark_entry__``.
"""

from __future__ import annotations

from icenetetl_spark.queries import (
    analytics,
    approx,
    core,
    database,
    dedup,
    events,
    extended,
    headline,
    icenet,
    multimodal,
    quantized,
    similarity,
    supply,
    text,
    tokenizer,
    warehouse,
)

_MODULES = [
    core, headline, extended, warehouse, supply, analytics, approx, events,
    dedup, text, tokenizer, similarity, quantized, multimodal, icenet,
    database,
]


def all_queries():
    out = {}
    for m in _MODULES:
        overlap = set(out) & set(m.QUERIES)
        assert not overlap, f"duplicate query names: {overlap}"
        out.update(m.QUERIES)
    return out


def all_oracles():
    """Oracles in ``all_queries()`` order; an oracle without a query is kept
    (after its module's others) so the contract tests can see it."""
    out = {}
    for m in _MODULES:
        out.update((n, m.ORACLES[n]) for n in m.QUERIES if n in m.ORACLES)
        out.update(m.ORACLES)
    return out
