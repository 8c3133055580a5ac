"""Declared query inventory — the driver-facing contract.

Each entry pairs a Spark DataFrame program (``(spark, sf_dir) →
DataFrame``) with an ANSI-SQL oracle DuckDB runs over the same
parquet fixtures; the driver hash-compares the two at sf0.01
(SURVEY.md §5.1). Names are stable contract keys from SURVEY.md §7.3.

Conventions that keep the value-hash stable (SURVEY.md §4 note,
FIXTURES.md §3):

- every computed float is ``round(x, 6)`` on BOTH sides;
- no timestamp-typed output columns — epoch millis BIGINT instead
  (avoids tz / sub-ms representation drift between engines);
- aggregates/computed columns carry identical aliases on both sides;
- any top-k is tie-broken by id so the selected rowset is unique.

Layout (VERDICT r5 item 4 — split by domain; this package keeps
``inventory.QUERIES`` / ``ORACLES`` as the stable facade):

- ``_registry``  — QUERIES/ORACLES/BENCH_QUERIES/MATERIALIZING +
  ``register``
- ``_shared``    — fixture loader, ``_cents_sum``, the standing
  materialized view + its SQL CTE twin
- domain modules, imported below in registration order:
  ``core`` (reference §2.1–§2.8), ``relational`` (TPC-H capability),
  ``dedup_media`` (§2.9 dedup/similarity/text/media), ``windows``
  (sliding/session), ``corpus`` (text/corpus round-out),
  ``sketches_caps`` (sketches, caps, PQ, TPC-H shapes),
  ``streaming_rows`` (availableNow replays + round-5 additions).
"""

from __future__ import annotations

from kafka_streams_pipeline_spark.inventory._registry import (  # noqa: F401
    BENCH_QUERIES,
    MATERIALIZING,
    ORACLES,
    QUERIES,
    QueryFn,
    register,
)
from kafka_streams_pipeline_spark.inventory._shared import (  # noqa: F401
    VIEW_CTE,
    _cents_sum,
    _served_view,
    _t,
)

# Domain modules self-register on import; order here IS registration
# order (kept identical to the pre-split single-file order).
from kafka_streams_pipeline_spark.inventory import core  # noqa: E402,F401
from kafka_streams_pipeline_spark.inventory import relational  # noqa: E402,F401
from kafka_streams_pipeline_spark.inventory import dedup_media  # noqa: E402,F401
from kafka_streams_pipeline_spark.inventory import windows  # noqa: E402,F401
from kafka_streams_pipeline_spark.inventory import corpus  # noqa: E402,F401
from kafka_streams_pipeline_spark.inventory import sketches_caps  # noqa: E402,F401
from kafka_streams_pipeline_spark.inventory import streaming_rows  # noqa: E402,F401
from kafka_streams_pipeline_spark.inventory import timeseries  # noqa: E402,F401

# Symbols referenced by tests/serving through the facade.
from kafka_streams_pipeline_spark.inventory.corpus import (  # noqa: E402,F401
    interval_click_attribution,
)
from kafka_streams_pipeline_spark.inventory.streaming_rows import (  # noqa: E402,F401
    _RING_CELLS_EXPECTED,
    _RING_CENTER,
)
