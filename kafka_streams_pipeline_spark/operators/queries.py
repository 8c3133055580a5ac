"""Interactive query family over the materialized view.

Reference endpoints (SURVEY.md §3.2/§3.3):

- history: time-series of one aggregate over a set of geohash cells
  and a time range (querying/QueryingService.java:38-122,
  querying/QueryingController.java:45-79).
- snapshot: per-cell aggregate at one instant inside a lat/lon bbox
  (querying/QueryingService.java:124-203,
  querying/QueryingController.java:81-96).

The reference's scatter-gather over HTTP + TreeMap merge
(querying/QueryingController.java:98-167, querying/util/Aggregator.java:17-30)
collapses into a single groupBy here: Spark's partial/final hash
aggregation IS the merge (§2.3 A7) — over a shuffle in merge_views
and reaggregate_precision, inside one task for a served query.

All merges recompute avg from merged sums — sum(sum)/sum(count) —
never average the averages (Aggregator.java:20).

Scale posture: every query filters the view on (gh, window_start)
BEFORE aggregating, so with the view stored partitioned by
window_start date (the ws_date layout of sources/sinks.py) the scan
partition-prunes on time and min/max-skips on gh. A history, history
interval or snapshot request then runs as one job of one task (plus,
for history_interval with no ``to``, a one-task max job over the
newest partition): the pruned scan is coalesced to one partition, and the partial and final
aggregates and the ordering run in that task, with no exchange.
Spark's per-job and per-stage coordination, not the scan, is what
dominates a request, so that is where the plan saves. The price is
that the pruned scan is not parallel within a request; serving
parallelism comes from concurrent requests (the reference's
per-instance WindowStore fetch, querying/QueryingService.java:38-203,
is single-threaded too). The files one request reads are the ws_date
partitions its range prunes to:

- snapshot: 1;
- history_interval ``1day`` / ``1week`` / ``1month``: at most
  2 / 8 / 32;
- history with from/to: the days the range touches;
- history with no from/to, and history_interval ``all``: the whole
  store, in one task.

A served request (``serving.serve``) also runs without generated
code, in interpreted evaluation, which costs more per row. Measured
on 4 vCPU (in-process, one caller, median of 5 warm runs, two passes),
a whole-store history over 20 cells with no from/to took 178-266 ms
in the serving session against 194-212 ms in a session with codegen
(its classes already compiled) on the 87k-row, 21-file perfbench
serve store, and 442-474 ms against 239-251 ms on a 795k-row, 21-file
store. The one-task scan's cost grows with the rows the range
reaches, and at 10x codegen runs it about 1.8x faster: an unbounded
request over a much larger store pays its whole scan on one core,
interpreted. A typical request reads a few thousand rows, and there
the ~2 Janino compiles (~19 ms each) that a request with new literals
paid under codegen cost more than interpretation does.
"""

from __future__ import annotations

import calendar
import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_streams_pipeline_spark import geo
from kafka_streams_pipeline_spark.plans.validation import (
    AGGREGATE_OPS,
    validate_aggregate_op,
    validate_geohashes,
    validate_interval,
    validate_precision,
    validate_time_range,
)
from kafka_streams_pipeline_spark.sources.sinks import newest_ws_date

# Calendar arithmetic of querying/QueryingController.java:220-238:
# 1day → -1 DAY, 1week → -7 DAY, 1month → -1 MONTH, all → -30 YEAR.
_INTERVAL_EXPR = {
    "1day": "INTERVAL 1 DAY",
    "1week": "INTERVAL 7 DAY",
    "1month": "INTERVAL 1 MONTH",
    "all": "INTERVAL 30 YEAR",
}


def _epoch_ms(t: dt.datetime) -> int:
    """Epoch millis of a datetime, naive values read as UTC."""
    if t.tzinfo is not None:
        return int(t.timestamp() * 1000)
    return calendar.timegm(t.timetuple()) * 1000 + t.microsecond // 1000


def _utc_lit(t: dt.datetime) -> Column:
    """Timestamp literal from a datetime, naive values read as UTC.

    NEVER pass a datetime straight to F.lit: PySpark converts naive
    datetimes through the OS timezone, so the same query would select
    different windows on a non-UTC host. Epoch-millis literals are
    timezone-free.
    """
    return F.timestamp_millis(F.lit(_epoch_ms(t)))


#: Algebraic merge of partial aggregates (Aggregator.java:17-30), as
#: SQL: the served statements inline it and ``_merged`` wraps it.
#: View sums are exact micros multiples (operators/view.build_view),
#: so the merge recovers each group's micros-integer and re-sums as
#: exact longs — order-independent like the view build itself; the
#: divide back to double happens once, after the merge.
_MERGE_SQL = {
    "count": "sum(`count`)",
    "sum": "sum(CAST(round(`sum` * 1000000) AS BIGINT)) / 1000000D",
    "avg": "sum(CAST(round(`sum` * 1000000) AS BIGINT)) / 1000000D / sum(`count`)",
}


def _merged(op: str) -> Column:
    """The merge of ``op`` as a Column, for re-keyed views."""
    return F.expr(_MERGE_SQL[op])


def _merged_aggs() -> list[Column]:
    """All three merged aggregates, for re-keyed views."""
    return [_merged(op).alias(op) for op in AGGREGATE_OPS]


def _served(
    view: DataFrame,
    conds: list[str],
    args: dict,
    by: str,
    key: str,
    name: str,
    op: str,
) -> DataFrame:
    """The query family as ONE SQL statement over ``view``: the filter
    ``conds`` (SQL with named parameter markers bound from ``args``),
    the merge of the requested aggregate per ``by`` group, and the
    response projection (name, <op>) — QueryingService.java:205-229
    picks one field of the aggregate triple (by reflection there; a
    first-class column reference here, §2.7 F9) — ascending by
    ``name`` (O1/O2).

    The filtered scan is coalesced to one partition BEFORE the
    aggregate (the ``COALESCE(1)`` hint on the subquery), so the whole
    request is one stage of one task: the aggregate's clustering is
    already satisfied, no exchange or range-partition sampling job
    runs, and ``limit(n)`` still takes the first n keys (``SORT BY``
    orders within that one partition). Partition pruning and the
    pushed gh/window_start filters are unaffected (they sit below the
    coalesce); the bound is that the pruned scan runs in that one task
    (see "Scale posture"). One statement is analysed once, where five
    DataFrame steps were analysed one by one; the time bounds are
    parameter markers, the cells literals (``_cell_predicate``)."""
    sql = (
        f"SELECT {key} AS `{name}`, {_MERGE_SQL[op]} AS `{op}` "
        "FROM (SELECT /*+ COALESCE(1) */ * FROM {view} "
        f"WHERE {' AND '.join(conds)}) "
        f"GROUP BY {by} SORT BY `{name}`"
    )
    return view.sparkSession.sql(sql, args, view=view)


def _partition_bounds(
    view: DataFrame,
    from_ts: dt.datetime | None,
    to_ts: dt.datetime | None,
    args: dict,
) -> list[str]:
    """Materialized views carry a ws_date partition column
    (sources/sinks.write_view). Spark cannot infer ws_date bounds from
    window_start predicates, so derive them here — this is what turns
    a time-range query into a partition-pruned scan. Empty for
    in-memory views."""
    if "ws_date" not in view.columns:
        return []
    conds = []
    if from_ts is not None:
        args["lo_date"] = from_ts.date().isoformat()
        conds.append("ws_date >= :lo_date")
    if to_ts is not None:
        args["hi_date"] = to_ts.date().isoformat()
        conds.append("ws_date <= :hi_date")
    return conds


def _cell_predicate(cells: list[str], precision: int) -> str:
    """Cell predicate: cells at least ``precision`` long are truncated
    to it and matched exactly (one ``IN``, like the store-key lookups
    at querying/QueryingController.java:48-50); shorter ones are
    prefixes matching all their stored completions via ``startswith``
    (the documented generalization of SURVEY.md §2.2 P4). Both push
    down to the parquet scan.

    The cells are SQL string literals, not parameter markers: each
    marker costs PySpark two py4j round trips (about 0.8 ms on 4
    vCPU), and a request carries up to 20 cells or 64 cover prefixes.
    A geohash is base-32 text (validated, or made by ``geo``), so it
    needs no escaping."""
    terms = []
    exact = sorted({c[:precision] for c in cells if len(c) >= precision})
    if exact:
        terms.append("gh IN (" + ", ".join(f"'{c}'" for c in exact) + ")")
    for p in sorted({c for c in cells if len(c) < precision}):
        terms.append(f"startswith(gh, '{p}')")
    return f"({' OR '.join(terms)})"


def _history(
    view: DataFrame, op: str, conds: list[str], args: dict
) -> DataFrame:
    return _served(
        view, conds, args, "window_start", "unix_millis(window_start)",
        "timestamp", op,
    )


def history(
    view: DataFrame,
    op: str,
    geohashes: list[str],
    from_ts: dt.datetime | None = None,
    to_ts: dt.datetime | None = None,
    precision: int = 6,
) -> DataFrame:
    """History roll-up (A4): per window_start, merge the aggregates of
    all requested cells; ascending time order (O1).

    Cells are truncated to the view precision and matched exactly;
    shorter ones match as prefixes (``_cell_predicate``).

    Columns: (timestamp BIGINT epoch-millis, <op>) — the envelope
    shape of QueryingService.java:118-121.
    """
    validate_aggregate_op(op)
    validate_precision(precision)
    cells = validate_geohashes(geohashes)
    validate_time_range(from_ts, to_ts)
    args: dict = {}
    conds = _partition_bounds(view, from_ts, to_ts, args)
    conds.append(_cell_predicate(cells, precision))
    if from_ts is not None:
        args["lo_ms"] = _epoch_ms(from_ts)
        conds.append("window_start >= timestamp_millis(:lo_ms)")
    if to_ts is not None:
        args["hi_ms"] = _epoch_ms(to_ts)
        conds.append("window_start <= timestamp_millis(:hi_ms)")
    return _history(view, op, conds, args)


def _max_ms(view: DataFrame) -> int | None:
    """The view's newest event time, max(window_start), as tz-free
    epoch millis (collecting a timestamp would round-trip through the
    OS timezone); None for an empty view.

    Over a ws_date store the newest row sits in the newest partition,
    so only that partition is scanned, in one task: its date comes
    from the listing the view already holds (``newest_ws_date``, no
    job). When that partition holds none of the view's rows (a view
    filtered after the read), and for in-memory views, the whole view
    is scanned."""

    def newest(df: DataFrame) -> int | None:
        return df.agg(F.max(F.unix_millis("window_start"))).collect()[0][0]

    date = newest_ws_date(view) if "ws_date" in view.columns else None
    ms = None
    if date is not None:
        ms = newest(view.where(F.col("ws_date") == F.lit(date)).coalesce(1))
    return newest(view) if ms is None else ms


def history_interval(
    view: DataFrame,
    op: str,
    geohashes: list[str],
    interval: str,
    to_ts: dt.datetime | None = None,
    precision: int = 6,
) -> DataFrame:
    """Spatio-temporal history (A5): range = [to − interval, to].

    ``to`` defaults to the max event time in the view (``_max_ms``) —
    NOT wall-clock: the reference uses System.currentTimeMillis
    (querying/QueryingController.java:65), which is non-reproducible;
    data-derived "now" is the deterministic stand-in (SURVEY.md §7.1.3).
    An empty view has no max event time, and its answer is empty.
    """
    validate_aggregate_op(op)
    validate_interval(interval)
    validate_precision(precision)
    cells = validate_geohashes(geohashes)
    if to_ts is None:
        ms = _max_ms(view)
        to_ts = dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ms or 0)
    # partition lower bound: a safe over-approximation of to-interval
    _lower = {
        "1day": dt.timedelta(days=1),
        "1week": dt.timedelta(days=7),
        "1month": dt.timedelta(days=31),
        "all": dt.timedelta(days=30 * 366),
    }[interval]
    try:
        lower_ts = to_ts - _lower
    except OverflowError:  # "all" near the epoch — clamp, don't crash
        lower_ts = dt.datetime(1, 1, 1)
    args: dict = {"to_ms": _epoch_ms(to_ts)}
    conds = _partition_bounds(view, lower_ts, to_ts, args) + [
        f"window_start >= timestamp_millis(:to_ms) - {_INTERVAL_EXPR[interval]}",
        "window_start <= timestamp_millis(:to_ms)",
        _cell_predicate(cells, precision),
    ]
    return _history(view, op, conds, args)


def snapshot(
    view: DataFrame,
    op: str,
    ts: dt.datetime,
    bbox: tuple[float, float, float, float],
    precision: int = 6,
) -> DataFrame:
    """Snapshot roll-up (A6): per-cell aggregate at the 1-hour window
    containing ``ts``, over cells covering bbox (N, W, S, E).

    The reference truncates ts to the hour
    (querying/QueryingController.java:82,240-249 — UTC here, §2.7 F3),
    covers the bbox (GeoHash.coverBoundingBox, :192), then
    brute-force-enumerates all 32^(p-len) completions of each covering
    prefix for exact point fetches (:204-205). The enumeration is an
    anti-pattern at scale (§4): a PREFIX predicate selects exactly the
    stored completions, so we push `startswith(prefix)` instead —
    semantically identical, and it compiles to a native string-prefix
    filter the scan can min/max-skip on.

    Columns: (geohash, <op>), ascending by geohash (O2).
    """
    validate_aggregate_op(op)
    validate_precision(precision)
    north, west, south, east = bbox
    hour = ts.replace(minute=0, second=0, microsecond=0)
    cover = geo.cover_bbox_adaptive(north, west, south, east, max_precision=precision)
    args: dict = {"hour_ms": _epoch_ms(hour)}
    conds = _partition_bounds(view, hour, hour, args) + [
        "window_start = timestamp_millis(:hour_ms)",
        _cell_predicate(cover, precision),
    ]
    return _served(view, conds, args, "gh", "gh", "geohash", op)
def reaggregate_precision(view: DataFrame, precision: int) -> DataFrame:
    """Query-time precision re-aggregation: the precision-6 view
    re-keyed to a coarser geohash grid by prefix truncation + the A3
    algebraic merge.

    The reference materializes one store per configured precision and
    lets the caller pick via ``gh_precision``
    (ingestion/KafkaStreamsAggregator.java:39 store-per-precision,
    querying/QueryingService.java:58-60). Here one precision-6 store
    serves every coarser grid: geohash prefixes nest, so
    substring(gh, 1, p) + merge IS the coarser store — computed on
    ~cells × hours rows, never raw events. At 100 TB the input is the
    view (already ~10^6× smaller than raw), and the shuffle is keyed
    by the coarser (gh, window) with map-side partial merge.
    """
    validate_precision(precision)
    return (
        view.withColumn("gh", F.substring(F.col("gh"), 1, precision))
        .groupBy("gh", "window_start")
        .agg(*_merged_aggs())
        .select("gh", "window_start", "count", "sum", "avg")
    )


def merge_views(*views: DataFrame) -> DataFrame:
    """Union per-partition/per-host partial views and re-merge (A3/A7):
    the distributed-aggregation identity
    merge(agg(P1), agg(P2)) == agg(P1 ∪ P2)."""
    if not views:
        raise ValueError("merge_views needs at least one view")
    out = views[0]
    for v in views[1:]:
        out = out.unionByName(v)
    return (
        out.groupBy("gh", "window_start")
        .agg(*_merged_aggs())
        .select("gh", "window_start", "count", "sum", "avg")
    )
