"""Geohash toolkit vs known public vectors + properties.

Known vectors are the classic geohash examples plus the reference's
own README reading (README.md:12-16: geohash u155mz82dv33).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_streams_pipeline_spark import geo


def test_encode_known_vectors():
    assert geo.encode(57.64911, 10.40744, 11) == "u4pruydqqvj"
    assert geo.encode(42.605, -5.603, 5) == "ezs42"
    assert geo.encode(0.0, 0.0, 1) == "s"
    assert geo.encode(90.0, 180.0, 4) == "zzzz"
    assert geo.encode(-90.0, -180.0, 4) == "0000"


def test_reference_readme_cell_roundtrip():
    # README.md:12-16 example reading cell
    gh = "u155mz82dv33"
    lat, lon = geo.decode(gh)
    assert geo.encode(lat, lon, 12) == gh


def test_decode_bbox_nesting():
    s, w, n, e = geo.decode_bbox("u155m")
    s2, w2, n2, e2 = geo.decode_bbox("u155mz")
    assert s <= s2 <= n2 <= n
    assert w <= w2 <= e2 <= e


@given(
    lat=st.floats(min_value=-89.999, max_value=89.999),
    lon=st.floats(min_value=-179.999, max_value=179.999),
    precision=st.integers(min_value=1, max_value=12),
)
@settings(max_examples=200, deadline=None)
def test_encode_decode_roundtrip(lat, lon, precision):
    gh = geo.encode(lat, lon, precision)
    assert len(gh) == precision
    s, w, n, e = geo.decode_bbox(gh)
    assert s <= lat <= n
    assert w <= lon <= e


def test_cell_dims():
    # precision 1: 4 lon bits x 45°, 1... actually 3 lon 2 lat? 5 bits: 3 lon, 2 lat
    h, w = geo.cell_dims(1)
    assert w == pytest.approx(45.0)
    assert h == pytest.approx(45.0)
    h6, w6 = geo.cell_dims(6)
    assert w6 == pytest.approx(360.0 / 2**15)
    assert h6 == pytest.approx(180.0 / 2**15)


def test_cover_bbox_single_cell():
    s, w, n, e = geo.decode_bbox("u155m")
    eps_lat = (n - s) * 0.01
    eps_lon = (e - w) * 0.01
    cells = geo.cover_bbox(n - eps_lat, w + eps_lon, s + eps_lat, e - eps_lon, 5)
    assert cells == ["u155m"]


def test_cover_bbox_contains_all_member_cells():
    # A box spanning several precision-4 cells must cover each cell
    # whose center lies inside it.
    north, west, south, east = 52.6, 13.2, 52.3, 13.7
    cells = set(geo.cover_bbox(north, west, south, east, 4))
    assert cells
    for gh in cells:
        s, w, n, e = geo.decode_bbox(gh)
        # the cell must intersect the bbox
        assert not (n < south or s > north or e < west or w > east)
    # membership: any point in the bbox encodes into a covered cell
    for lat, lon in [(52.31, 13.21), (52.59, 13.69), (52.45, 13.45)]:
        assert geo.encode(lat, lon, 4) in cells


@given(
    lat=st.floats(min_value=-60, max_value=60),
    lon=st.floats(min_value=-170, max_value=170),
    precision=st.integers(min_value=2, max_value=6),
)
@settings(max_examples=100, deadline=None)
def test_cover_membership_property(lat, lon, precision):
    """Random bbox around a point: the point's cell is in the cover
    (SURVEY.md §5.5 property)."""
    dlat, dlon = 0.3, 0.3
    cells = geo.cover_bbox(
        min(lat + dlat, 90), lon - dlon, max(lat - dlat, -90), lon + dlon, precision,
        max_cells=200_000,
    )
    assert geo.encode(lat, lon, precision) in cells


def test_cover_bbox_dateline_split():
    cells = geo.cover_bbox(1.0, 179.5, -1.0, -179.5, 2)
    assert cells
    for gh in cells:
        s, w, n, e = geo.decode_bbox(gh)
        assert not (n < -1.0 or s > 1.0)


def test_neighbors_adjacent():
    nbrs = geo.neighbors("u155m")
    assert len(nbrs) == 8
    assert "u155m" not in nbrs


def test_frozen_ring_tiles_3x3_grid():
    """The q_snapshot_ring oracle's FROZEN cell list must tile the
    exact 3x3 grid around the fixture cell — verified using ONLY
    decode_bbox (independent of neighbors() and encode()), so the
    oracle literals cannot silently track a broken neighbor table
    (VERDICT r5 item 2)."""
    from kafka_streams_pipeline_spark.inventory import (
        _RING_CELLS_EXPECTED,
        _RING_CENTER,
    )

    s, w, n, e = geo.decode_bbox(_RING_CENTER)
    dh, dw = n - s, e - w
    expected_centers = {
        (round((s + n) / 2 + di * dh, 9), round((w + e) / 2 + dj * dw, 9))
        for di in (-1, 0, 1)
        for dj in (-1, 0, 1)
    }
    got_centers = set()
    for gh in _RING_CELLS_EXPECTED:
        cs, cw, cn, ce = geo.decode_bbox(gh)
        assert abs((cn - cs) - dh) < 1e-12 and abs((ce - cw) - dw) < 1e-12
        got_centers.add((round((cs + cn) / 2, 9), round((cw + ce) / 2, 9)))
    assert got_centers == expected_centers


def test_neighbors_matches_frozen_ring():
    """geo.neighbors must reproduce the independently verified frozen
    ring — a regression in the neighbor math fails here AND turns the
    q_snapshot_ring driver row red (the oracle keeps the frozen
    list while the Spark side recomputes at call time)."""
    from kafka_streams_pipeline_spark.inventory import (
        _RING_CELLS_EXPECTED,
        _RING_CENTER,
    )

    ring = sorted({_RING_CENTER} | set(geo.neighbors(_RING_CENTER)))
    assert ring == sorted(_RING_CELLS_EXPECTED)


def test_broken_neighbors_turns_ring_row_red(monkeypatch, spark):
    """Mutation test: a deliberately broken neighbors() must change
    q_snapshot_ring's RESULT (not just its plan), proving the driver
    row certifies the ring membership math against the frozen
    oracle literals. Runs at the driver's certification scale
    (sf0.01) — the fixture window is empty at sf0.001."""
    from kafka_streams_pipeline_spark import inventory
    from tests.conftest import ORACLE_SF_DIR as sf_dir

    baseline = {
        tuple(r)
        for r in inventory.QUERIES["q_snapshot_ring"](
            spark, sf_dir
        ).collect()
    }
    assert baseline, "fixture must produce ring rows for the mutation to bite"
    monkeypatch.setattr(geo, "neighbors", lambda gh: [])
    mutated = {
        tuple(r)
        for r in inventory.QUERIES["q_snapshot_ring"](
            spark, sf_dir
        ).collect()
    }
    assert mutated != baseline
