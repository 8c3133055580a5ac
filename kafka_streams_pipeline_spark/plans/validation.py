"""Query-parameter validation (SURVEY.md §2.2 P7).

Mirrors the rejection rules of querying/QueryingService.java:46-101,
111-117,131-196: empty geohash list, unsupported aggregate op, bad
numbers, future `from`, from ≥ to, missing/invalid ts, missing bbox,
invalid interval, gh_precision outside [1, 12]. Raised BEFORE any
plan is built, like the reference's HTTP-400 paths
(model/ErrorMessage.java:3-14).
"""

from __future__ import annotations

import datetime as dt

from kafka_streams_pipeline_spark.geo import BASE32

AGGREGATE_OPS = ("count", "sum", "avg")  # querying/util/AppConfig.java:7
INTERVALS = ("1day", "1week", "1month", "all")  # querying/util/AppConfig.java:8


class QueryValidationError(ValueError):
    """Engine twin of ErrorMessage{errorMessage, errorCode=400}."""

    def __init__(self, message: str, code: int = 400):
        super().__init__(message)
        self.code = code


def validate_aggregate_op(op: str) -> str:
    if op not in AGGREGATE_OPS:
        raise QueryValidationError(
            f"unsupported aggregate operation {op!r}; expected one of {AGGREGATE_OPS}"
        )
    return op


def validate_geohashes(geohashes: list[str] | str) -> list[str]:
    """Comma-separated string or list; lowercased; must be non-empty
    valid base-32 geohashes (QueryingService.java:46,106)."""
    if isinstance(geohashes, str):
        geohashes = [g for g in geohashes.split(",") if g]
    cells = [g.strip().lower() for g in geohashes if g and g.strip()]
    if not cells:
        raise QueryValidationError("geohashes list must not be empty")
    for c in cells:
        bad = set(c) - set(BASE32)
        if bad:
            raise QueryValidationError(f"invalid geohash {c!r}: characters {sorted(bad)}")
    return cells


def validate_time_range(from_ts: dt.datetime | None, to_ts: dt.datetime | None) -> None:
    """from must precede to (QueryingService.java:64-91).

    Deviation: the reference also rejects a ``from`` in the future.
    The engine does not, since that check needs a wall clock per
    request (SURVEY.md §7.2(d)); a future ``from`` selects no window,
    so the request answers with empty ``data``."""
    if from_ts is not None and to_ts is not None and from_ts >= to_ts:
        raise QueryValidationError("`from` must be strictly before `to`")


def validate_interval(interval: str) -> str:
    if interval not in INTERVALS:
        raise QueryValidationError(
            f"invalid interval {interval!r}; expected one of {INTERVALS}"
        )
    return interval


def validate_precision(precision: int) -> int:
    """gh_precision must be an integer geohash length in [1, 12]
    (QueryingService.java:58-60 takes it as an int store selector)."""
    if isinstance(precision, bool) or not isinstance(precision, int):
        raise QueryValidationError(
            f"gh_precision must be an integer, got {precision!r}"
        )
    if not 1 <= precision <= 12:
        raise QueryValidationError(f"gh_precision must be in [1, 12], got {precision}")
    return precision


def validate_bbox(bbox: tuple[float, float, float, float] | str) -> tuple[float, float, float, float]:
    """bbox is N,W,S,E doubles (QueryingService.java:152-173)."""
    if isinstance(bbox, str):
        parts = bbox.split(",")
        if len(parts) != 4:
            raise QueryValidationError("bbox must be 'N,W,S,E'")
        try:
            bbox = tuple(float(p) for p in parts)  # type: ignore[assignment]
        except ValueError as e:
            raise QueryValidationError(f"bbox has a non-numeric component: {e}") from None
    north, west, south, east = bbox
    if not (-90.0 <= south <= north <= 90.0):
        raise QueryValidationError(f"invalid bbox latitudes: south={south} north={north}")
    if not (-180.0 <= west <= 180.0 and -180.0 <= east <= 180.0):
        raise QueryValidationError(f"invalid bbox longitudes: west={west} east={east}")
    return (north, west, south, east)
