"""Registration primitives for the declared query inventory.

Kept free of query imports so domain modules can import ``register``
without circularity; the package ``__init__`` wires everything
together and re-exports the public surface (SURVEY.md §7.3 names).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# Names of queries bench.py treats as the headline set.
BENCH_QUERIES: list[str] = []
# Names registered with ``materializes=True``.
MATERIALIZING: set[str] = set()


def register(
    name: str,
    oracle: str | None = None,
    bench: bool = False,
    materializes: bool = False,
):
    # ``materializes``: the builder launches Spark jobs while the
    # DataFrame is being built (streaming replays, temp-store writes,
    # eager checkpoints, driver collects). The REST registry never
    # serves such queries, because an unauthenticated GET must not run
    # jobs (ADVICE r5); tests/test_serving.py checks the flag against
    # the jobs each builder is measured to launch.
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if bench:
            BENCH_QUERIES.append(name)
        if materializes:
            MATERIALIZING.add(name)
        return fn

    return deco
