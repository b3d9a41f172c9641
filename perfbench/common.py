"""Shared pieces of the benchmark: the run context, a workload's result,
and the statistics every workload reports."""

from __future__ import annotations

import math
from dataclasses import dataclass, field


@dataclass
class Result:
    """One workload run: operations attempted and failed, end-to-end and
    (traced runs) per-layer metrics by name, in the units BENCHMARK.json
    gives, sample counts and the first problems found."""

    attempted: int
    failed: int
    metrics: dict[str, float]
    layers: dict[str, float]
    samples: dict[str, int]
    problems: list[str] = field(default_factory=list)


@dataclass
class Context:
    """What a workload needs from the runner."""

    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    # callbacks run with the parsed event log once the SparkContext stopped
    after_stop: list = field(default_factory=list)
    # extra detail written next to the trace (per-face counts, batches)
    detail: dict = field(default_factory=dict)


def nearest_rank(sorted_values: list[float], q: float) -> float:
    """Nearest-rank percentile: the ceil(q*n)-th smallest value."""
    return sorted_values[max(0, math.ceil(q * len(sorted_values)) - 1)]
