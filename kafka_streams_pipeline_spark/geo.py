"""Pure-Python geohash toolkit: encode / decode / bounding-box cover.

Replaces the reference's JVM dependency ``com.github.davidmoten:geo``
(pom.xml:193-197), used at querying/QueryingController.java:192 for
``GeoHash.coverBoundingBox`` and :204-205 for base-32 cell
enumeration. Standard public geohash algorithm: interleaved
longitude/latitude bit refinement, base-32 alphabet.

Everything here runs DRIVER-SIDE at plan-build time (SURVEY.md §4):
bbox covers become literal prefix predicates in the DataFrame plan,
so the executed query stays whole-stage-codegen native — no Python
UDF in the hot path.
"""

from __future__ import annotations

import math

BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_DECODE = {c: i for i, c in enumerate(BASE32)}

MAX_PRECISION = 12
# Most prefixes a snapshot's bbox cover may produce: the bound that
# keeps a REST bbox from becoming an unbounded ``startswith`` disjunction.
MAX_COVER_CELLS = 64


def encode(lat: float, lon: float, precision: int = MAX_PRECISION) -> str:
    """Geohash of (lat, lon) at ``precision`` characters."""
    if not (-90.0 <= lat <= 90.0):
        raise ValueError(f"latitude out of range: {lat}")
    if not (-180.0 <= lon <= 180.0):
        raise ValueError(f"longitude out of range: {lon}")
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    chars: list[str] = []
    even = True  # even bit index → longitude
    ch = 0
    bit = 0
    while len(chars) < precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                ch = ch * 2 + 1
                lon_lo = mid
            else:
                ch = ch * 2
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                ch = ch * 2 + 1
                lat_lo = mid
            else:
                ch = ch * 2
                lat_hi = mid
        even = not even
        bit += 1
        if bit == 5:
            chars.append(BASE32[ch])
            bit = 0
            ch = 0
    return "".join(chars)


def decode_bbox(gh: str) -> tuple[float, float, float, float]:
    """Bounding box of a geohash cell: (south, west, north, east)."""
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    even = True
    for c in gh:
        try:
            cd = _DECODE[c]
        except KeyError:
            raise ValueError(f"invalid geohash character {c!r} in {gh!r}") from None
        for shift in range(4, -1, -1):
            bit = (cd >> shift) & 1
            if even:
                mid = (lon_lo + lon_hi) / 2
                if bit:
                    lon_lo = mid
                else:
                    lon_hi = mid
            else:
                mid = (lat_lo + lat_hi) / 2
                if bit:
                    lat_lo = mid
                else:
                    lat_hi = mid
            even = not even
    return (lat_lo, lon_lo, lat_hi, lon_hi)


def decode(gh: str) -> tuple[float, float]:
    """Center (lat, lon) of a geohash cell."""
    s, w, n, e = decode_bbox(gh)
    return ((s + n) / 2, (w + e) / 2)


def cell_dims(precision: int) -> tuple[float, float]:
    """(height_deg, width_deg) of a cell at ``precision``."""
    lon_bits = math.ceil(5 * precision / 2)
    lat_bits = 5 * precision - lon_bits
    return 180.0 / (1 << lat_bits), 360.0 / (1 << lon_bits)


def cover_bbox(
    north: float,
    west: float,
    south: float,
    east: float,
    precision: int,
    max_cells: int = 100_000,
) -> list[str]:
    """All geohash cells of length ``precision`` intersecting the box.

    Mirrors ``GeoHash.coverBoundingBox(n, w, s, e)`` used at
    querying/QueryingController.java:192 (same N,W,S,E argument
    order). Grid walk: snap to the cell containing the SW corner,
    step by exact cell dimensions. Sorted lexicographically.

    Dateline-crossing boxes (west > east) are split into two walks.
    """
    if south > north:
        raise ValueError(f"south {south} > north {north}")
    if west > east:  # crosses the antimeridian → split
        return sorted(
            set(cover_bbox(north, west, south, 180.0, precision, max_cells))
            | set(cover_bbox(north, -180.0, south, east, precision, max_cells))
        )
    height, width = cell_dims(precision)
    # Snap the walk origin to the grid cell containing the SW corner.
    # Derived via encode/decode rather than floor((south+90)/height):
    # the additive form loses the corner to float cancellation when
    # |south| is tiny (south+90.0 == 90.0 exactly), walking off by one
    # cell. Binary refinement keeps cell bounds exact (dyadic), so the
    # stepped sums below stay exact as well.
    cell0 = decode_bbox(
        encode(
            max(south, -90.0 + 1e-12),
            min(max(west, -180.0 + 1e-12), 180.0 - 1e-12),
            precision,
        )
    )
    lat0, lon0 = cell0[0], cell0[1]
    n_lat = int(math.floor((min(north, 90.0 - 1e-12) - lat0) / height)) + 1
    n_lon = int(math.floor((min(east, 180.0 - 1e-12) - lon0) / width)) + 1
    if n_lat * n_lon > max_cells:
        raise ValueError(
            f"bbox cover would produce {n_lat * n_lon} cells at precision "
            f"{precision} (max {max_cells}); lower the precision"
        )
    cells = []
    for i in range(n_lat):
        lat = lat0 + (i + 0.5) * height
        for j in range(n_lon):
            lon = lon0 + (j + 0.5) * width
            cells.append(encode(min(lat, 90.0 - 1e-12), min(lon, 180.0 - 1e-12), precision))
    return sorted(set(cells))


def cover_bbox_adaptive(
    north: float,
    west: float,
    south: float,
    east: float,
    max_precision: int,
) -> list[str]:
    """Cover at the finest precision ≤ ``max_precision`` that needs at
    most ``MAX_COVER_CELLS`` cells.

    Used by snapshot queries: the resulting (short) prefixes become
    ``startswith`` predicates over the stored cells, replacing the
    reference's brute-force 32^(p-len) completion enumeration
    (querying/QueryingController.java:204-205) with an equivalent
    prefix match that stays cheap at any store precision.
    """
    best = cover_bbox(north, west, south, east, 1)
    for p in range(2, max_precision + 1):
        height, width = cell_dims(p)
        approx = ((north - south) / height + 2) * ((east - west) % 360.0 / width + 2)
        if approx > MAX_COVER_CELLS * 4:
            break
        cells = cover_bbox(north, west, south, east, p, max_cells=MAX_COVER_CELLS * 4)
        if len(cells) > MAX_COVER_CELLS:
            break
        best = cells
    return best


def neighbors(gh: str) -> list[str]:
    """The up-to-8 adjacent cells of ``gh`` (same precision)."""
    s, w, n, e = decode_bbox(gh)
    clat, clon = (s + n) / 2, (w + e) / 2
    dh, dw = n - s, e - w
    out = []
    for di in (-1, 0, 1):
        for dj in (-1, 0, 1):
            if di == 0 and dj == 0:
                continue
            lat = clat + di * dh
            lon = clon + dj * dw
            if not (-90.0 <= lat <= 90.0):
                continue
            if lon < -180.0:
                lon += 360.0
            elif lon > 180.0:
                lon -= 360.0
            out.append(encode(lat, lon, len(gh)))
    return sorted(set(out))
