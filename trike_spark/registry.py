"""Central query registry.

Every implemented operator from SURVEY.md §2 registers here as a
:class:`QuerySpec`: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus —
whenever the semantics are SQL-expressible — a DuckDB oracle SQL string the
driver runs side-by-side at sf0.01 (row-count + schema + order-insensitive
value-hash).

Determinism rules (so the value-hash matches across engines):
  * Money/measure aggregates are computed in exact DECIMAL arithmetic on
    BOTH sides, then ``round(_, N)`` and cast to DOUBLE — exact decimal sums
    are order-independent, so Spark's partial aggregation and DuckDB's
    single-threaded fold produce identical bits.
  * Every ORDER BY used for ranking/limiting carries a unique tie-break key.
  * Aggregate/computed columns are aliased identically in both dialects.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver records rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = "") -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def load_all_query_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    # Imports are side-effecting registrations.
    from trike_spark.queries import (  # noqa: F401
        aggregates,
        curation,
        dedup,
        events,
        graph_analytics,
        joins,
        multimodal,
        relational,
        scalars,
        scans,
        setops,
        sketches,
        text,
        training_pipeline,
        trike_pipeline,
        vectors,
        windows,
    )


def _interleave(families: dict[str, list[str]]) -> list[str]:
    """Round-robin across family buckets (each bucket already ordered)."""
    ordered: list[str] = []
    buckets = [families[k] for k in sorted(families)]
    depth = max((len(b) for b in buckets), default=0)
    for i in range(depth):
        for b in buckets:
            if i < len(b):
                ordered.append(b[i])
    return ordered


def interleaved_export_names() -> dict[str, str]:
    """Map registry name → export name ``{rank:0Nd}_{name}``.

    Ranks round-robin across families (the module a query registers from),
    each family in alphabetical order, so any first-N slice with N at least
    the family count holds one query of every family. Zero-padded ranks make
    sorted order equal rank order. The order depends only on the registry
    contents; docs/QUERY_ORDER.md describes it.
    """
    load_all_query_modules()
    families: dict[str, list[str]] = {}
    for name in sorted(REGISTRY):
        families.setdefault(REGISTRY[name].fn.__module__, []).append(name)
    ordered = _interleave(families)
    width = max(2, len(str(len(ordered) - 1)))
    return {name: f"{rank:0{width}d}_{name}" for rank, name in enumerate(ordered)}


def queries() -> dict[str, QueryFn]:
    load_all_query_modules()
    export = interleaved_export_names()
    return {export[name]: REGISTRY[name].fn for name in sorted(REGISTRY, key=lambda n: export[n])}


def oracle_sql() -> dict[str, str]:
    load_all_query_modules()
    export = interleaved_export_names()
    return {
        export[name]: REGISTRY[name].oracle
        for name in sorted(REGISTRY, key=lambda n: export[n])
        if REGISTRY[name].oracle is not None
    }
