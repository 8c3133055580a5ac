"""Property-based tests (SURVEY.md §5 item 5, hypothesis).

Pure-Python properties (geohash toolkit, algebraic merge) run at full
example counts; Spark-involving properties use a handful of examples
because each costs a job round-trip.
"""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kafka_streams_pipeline_spark import geo

# Stay strictly inside the poles/antimeridian so cell-boundary
# float-snap at the domain edge doesn't dominate the search space.
lat_s = st.floats(min_value=-89.9, max_value=89.9, allow_nan=False)
lon_s = st.floats(min_value=-179.9, max_value=179.9, allow_nan=False)


@given(lat=lat_s, lon=lon_s, precision=st.integers(min_value=1, max_value=12))
def test_encode_decode_roundtrip(lat, lon, precision):
    gh = geo.encode(lat, lon, precision)
    assert len(gh) == precision and all(c in geo.BASE32 for c in gh)
    s, w, n, e = geo.decode_bbox(gh)
    assert s <= lat <= n and w <= lon <= e
    h, wd = geo.cell_dims(precision)
    assert math.isclose(n - s, h, rel_tol=1e-9)
    assert math.isclose(e - w, wd, rel_tol=1e-9)
    # the center re-encodes to the same cell
    assert geo.encode(*geo.decode(gh), precision) == gh


@given(
    lat=lat_s,
    lon=lon_s,
    dlat=st.floats(min_value=1e-3, max_value=5.0),
    dlon=st.floats(min_value=1e-3, max_value=5.0),
    precision=st.integers(min_value=1, max_value=4),
    data=st.data(),
)
@settings(max_examples=60, suppress_health_check=[HealthCheck.too_slow])
def test_cover_bbox_contains_inner_points(lat, lon, dlat, dlon, precision, data):
    """Any point inside the bbox hashes to a cell in the cover
    (the property the snapshot query's prefix predicate relies on)."""
    south, north = lat, min(lat + dlat, 89.9)
    west, east = lon, min(lon + dlon, 179.9)
    try:
        cover = geo.cover_bbox(north, west, south, east, precision)
    except ValueError:
        return  # box too large for the precision's max_cells guard
    p_lat = data.draw(st.floats(min_value=south, max_value=north))
    p_lon = data.draw(st.floats(min_value=west, max_value=east))
    assert geo.encode(p_lat, p_lon, precision) in cover


@given(
    lat=lat_s,
    lon=lon_s,
    dlat=st.floats(min_value=1e-3, max_value=2.0),
    dlon=st.floats(min_value=1e-3, max_value=2.0),
)
@settings(max_examples=40, suppress_health_check=[HealthCheck.too_slow])
def test_cover_adaptive_is_prefix_cover(lat, lon, dlat, dlon):
    """Adaptive cover: every fine cell in the box has some adaptive
    prefix (what makes `startswith` equivalent to the reference's
    32^(p-len) completion enumeration)."""
    south, north = lat, min(lat + dlat, 89.9)
    west, east = lon, min(lon + dlon, 179.9)
    prefixes = geo.cover_bbox_adaptive(north, west, south, east, max_precision=5)
    assert 0 < len(prefixes) <= 64
    fine = geo.cover_bbox(north, west, south, east, min(5, max(len(p) for p in prefixes)))
    for cell in fine:
        assert any(cell.startswith(p) for p in prefixes)


readings_s = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=14 * 24 * 3600 * 1000),  # epoch ms
        st.sampled_from(["u155mz82dv33", "u155qxjf00zz", "u2fu1rd5kfzs"]),
        st.floats(min_value=-50.0, max_value=50.0, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=200,
)


@given(rows=readings_s, split=st.integers(min_value=2, max_value=5))
@settings(max_examples=100)
def test_merge_property_pandas(rows, split):
    """A3 algebraic identity (Aggregator.java:17-30):
    merge(agg(P1), ..., agg(Pk)) == agg(P1 ∪ ... ∪ Pk) for any
    partitioning — count/sum add, avg recomputed from merged sums."""
    df = pd.DataFrame(rows, columns=["ts_ms", "geohash", "val"])
    df["gh"] = df["geohash"].str[:6]
    df["hour"] = df["ts_ms"] // 3_600_000

    def agg(part: pd.DataFrame) -> pd.DataFrame:
        return part.groupby(["gh", "hour"]).agg(
            count=("val", "size"), sum=("val", "sum")
        )

    direct = agg(df)
    partials = [agg(df[df.index % split == i]) for i in range(split)]
    merged = (
        pd.concat(partials).groupby(level=["gh", "hour"]).sum()
    )  # count=Σcount, sum=Σsum
    joined = direct.join(merged, how="outer", lsuffix="_d", rsuffix="_m")
    assert (joined["count_d"] == joined["count_m"]).all()
    assert ((joined["sum_d"] - joined["sum_m"]).abs() < 1e-6).all()
    # avg from merged sums == avg from direct sums (never avg-of-avgs)
    assert (
        (joined["sum_d"] / joined["count_d"] - joined["sum_m"] / joined["count_m"])
        .abs()
        .fillna(0.0)
        < 1e-9
    ).all()


@given(rows=readings_s)
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_view_matches_pandas_groupby(spark, rows):
    """build_view == brute-force pandas groupby on (gh6, utc hour)."""
    from kafka_streams_pipeline_spark.operators.view import build_view

    pdf = pd.DataFrame(rows, columns=["timestamp", "geohash", "tempVal"])
    pdf["tempVal"] = pdf["tempVal"].astype(float)
    sdf = spark.createDataFrame(
        pdf, schema="timestamp long, geohash string, tempVal double"
    )
    got = {
        (r["gh"], r["window_start"]): (r["count"], r["sum"])
        for r in build_view(sdf).collect()
    }
    pdf["gh"] = pdf["geohash"].str[:6]
    pdf["hour_ms"] = pdf["timestamp"] // 3_600_000 * 3_600_000
    # mirror build_view's DECLARED semantic: each value rounded to
    # micros once (HALF_UP, away from zero — Spark round()), then
    # summed as exact integers. Summing raw doubles here instead
    # left a 1e-6 tolerance that n·5e-7 of legitimate per-value
    # rounding can exceed — hypothesis found a 3-row example at
    # 1.016e-6 (round 9); the mirrored form compares exactly.
    v = pdf["tempVal"].to_numpy() * 1_000_000
    pdf["micros"] = np.where(
        v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5)
    ).astype("int64")
    want_df = pdf.groupby(["gh", "hour_ms"]).agg(
        count=("tempVal", "size"), sum_u=("micros", "sum")
    )
    assert len(got) == len(want_df)
    for (gh, hour_ms), row in want_df.iterrows():
        ws = dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=int(hour_ms))
        assert (gh, ws) in got
        cnt, s = got[(gh, ws)]
        assert cnt == row["count"]
        assert abs(s - row["sum_u"] / 1_000_000.0) < 1e-9


# --- media codec round-trips (pure Python/numpy — full example counts) ---

import numpy as np

from kafka_streams_pipeline_spark.operators import multimodal as mm


@given(
    samples=st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=200
    ),
    rate=st.sampled_from([8000, 16000, 44100]),
    with_list=st.booleans(),
)
def test_wav_roundtrip_property(samples, rate, with_list):
    arr = np.array(samples, dtype=np.int16)
    ch, r, bits, decoded = mm.parse_wav(mm._wav_bytes(arr, rate, with_list))
    assert (ch, r, bits) == (1, rate, 16)
    assert np.array_equal(decoded, arr)


@given(
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_bmp_roundtrip_property(w, h, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    w2, h2, bpp, px2 = mm.parse_bmp(mm._bmp_bytes(px))
    assert (w2, h2, bpp) == (w, h, 24)
    assert np.array_equal(px2, px)


@given(
    nf=st.integers(min_value=1, max_value=6),
    w=st.integers(min_value=1, max_value=7),
    h=st.integers(min_value=1, max_value=7),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_avi_roundtrip_property(nf, w, h, seed):
    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, size=(nf, h, w, 3), dtype=np.uint8)
    w2, h2, us, got = mm.parse_avi(mm._avi_bytes(frames))
    assert (w2, h2, us, len(got)) == (w, h, mm.AVI_US_PER_FRAME, nf)
    for f in range(nf):
        assert np.array_equal(got[f], frames[f])


@given(
    ncomp=st.sampled_from([1, 3]),
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_roundtrip_property(ncomp, w, h, seed):
    """Baseline JPEG codec on ARBITRARY content with the near-lossless
    q=1 table: header fields exact, every pixel within the DCT
    float-rounding bound (±2). Exercises partial edge blocks, gray and
    4:4:4 color, ZRL/EOB runs, DC prediction, and byte stuffing."""
    rng = np.random.default_rng(seed)
    planes = rng.integers(0, 256, size=(ncomp, h, w), dtype=np.uint8)
    w2, h2, n2, out = mm.parse_jpeg(mm._jpeg_bytes(planes, q=1))
    assert (w2, h2, n2) == (w, h, ncomp)
    assert np.abs(out.astype(np.int64) - planes.astype(np.int64)).max() <= 2


@given(
    did=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_block_constant_exact(did):
    """The oracle-exactness contract: block-constant planes with the
    flat q=8 table round-trip BIT-EXACTLY (DC-only blocks, zero
    quantization loss) — the property q_media_jpeg_decode's SQL
    oracle relies on."""
    w, h = 8 * (did % 3 + 1), 8 * (did % 2 + 1)
    nbx, nby = w // 8, h // 8
    nb = nbx * nby
    planes = np.zeros((3, h, w), dtype=np.uint8)
    for c in range(3):
        for b in range(nb):
            v = (did * 31 + (c * nb + b) * 17) % 256
            by, bx = divmod(b, nbx)
            planes[c, by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = v
    w2, h2, n2, out = mm.parse_jpeg(mm._jpeg_bytes(planes, q=8))
    assert (w2, h2, n2) == (w, h, 3)
    assert np.array_equal(out, planes)


@given(
    nf=st.integers(min_value=1, max_value=4),
    ncomp=st.sampled_from([1, 3]),
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=16),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_mjpeg_avi_roundtrip_property(nf, ncomp, w, h, seed):
    """MJPEG-in-AVI: container fields exact, every JPEG frame within
    the q=1 quantization bound."""
    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, size=(nf, ncomp, h, w), dtype=np.uint8)
    w2, h2, us, got = mm.parse_mjpeg_avi(mm._mjpeg_avi_bytes(frames, q=1))
    assert (w2, h2, us, len(got)) == (w, h, mm.AVI_US_PER_FRAME, nf)
    for g, f in zip(got, frames):
        assert np.abs(g.astype(np.int64) - f.astype(np.int64)).max() <= 2


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    mode=st.sampled_from(["none", "cycle"]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_property(w, h, mode, seed):
    """PNG is lossless: bit-exact round-trip for arbitrary content
    under both the trivial filter and the all-five-predictors cycle."""
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    w2, h2, depth, out = mm.parse_png(mm._png_bytes(px, mode))
    assert (w2, h2, depth) == (w, h, 8)
    assert np.array_equal(out, px)


def test_jpeg_fill_bytes_between_segments():
    """T.81 B.1.1.2 allows runs of 0xFF fill bytes before any marker;
    the walk must skip them rather than desync (foreign encoders emit
    them as padding)."""
    planes = np.full((1, 8, 8), 42, dtype=np.uint8)
    raw = mm._jpeg_bytes(planes, q=8)
    # inject two fill bytes right after SOI, before the first segment
    padded = raw[:2] + b"\xff\xff" + raw[2:]
    w, h, n, out = mm.parse_jpeg(padded)
    assert (w, h, n) == (8, 8, 1)
    assert np.array_equal(out, planes)


def test_jpeg_trailing_fill_truncation_is_valueerror():
    """All-0xFF tail (truncated mid-fill) must raise the decoder's
    ValueError, not IndexError."""
    with pytest.raises(ValueError):
        mm.parse_jpeg(b"\xff\xd8" + b"\xff" * 6)


def test_png_truncated_chunk_is_valueerror():
    """A chunk whose declared length overruns the payload must raise
    ValueError (clean rejection of foreign/corrupt input), never
    struct.error from the CRC unpack."""
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    raw = mm._png_bytes(px, "none")
    with pytest.raises(ValueError, match="truncated PNG chunk"):
        mm.parse_png(raw[:-2])


@given(
    nf=st.integers(min_value=1, max_value=5),
    ncomp=st.sampled_from([1, 3]),
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=16),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_mp4_roundtrip_property(nf, ncomp, w, h, seed):
    """MJPEG-in-MP4: sample tables (two samples per chunk → real
    stsc/stco walking) and mdhd timing exact, every Photo-JPEG
    sample within the q=1 quantization bound."""
    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, size=(nf, ncomp, h, w), dtype=np.uint8)
    w2, h2, ts, got = mm.parse_mp4(mm._mp4_bytes(frames, q=1))
    assert (w2, h2, ts, len(got)) == (w, h, mm.MP4_TIMESCALE, nf)
    for i, (t, g) in enumerate(got):
        assert t == i * mm.MP4_SAMPLE_DELTA
        assert np.abs(g.astype(np.int64) - frames[i].astype(np.int64)).max() <= 2


def test_mp4_block_constant_exact():
    """Block-constant frames with the flat q=8 table round-trip
    BIT-EXACTLY — the property q_media_mp4_frames' oracle relies on."""
    frames = np.zeros((3, 3, 8, 16), dtype=np.uint8)
    for f in range(3):
        for c in range(3):
            for b in range(2):
                frames[f, c, :, b * 8 : b * 8 + 8] = (f * 131 + (c * 2 + b) * 19) % 256
    w, h, ts, got = mm.parse_mp4(mm._mp4_bytes(frames, q=8))
    assert (w, h, len(got)) == (16, 8, 3)
    for i, (_, g) in enumerate(got):
        assert np.array_equal(g, frames[i])


def test_mp4_rejects_foreign_and_truncated():
    frames = np.full((1, 3, 8, 8), 7, dtype=np.uint8)
    raw = mm._mp4_bytes(frames)
    # non-jpeg codec entry rejected by name
    hacked = raw.replace(b"jpeg", b"avc1", 1)
    with pytest.raises(ValueError, match="avc1"):
        mm.parse_mp4(hacked)
    # truncation inside mdat/moov → clean ValueError
    with pytest.raises(ValueError):
        mm.parse_mp4(raw[: len(raw) - 30])
    with pytest.raises(ValueError):
        mm.parse_mp4(b"\x00\x00\x00\x08ftyp")


# --- foreign-payload fuzz pass (VERDICT r4 item 6) ------------------------
# Hypothesis-driven truncations and byte mutations of VALID fixtures:
# every media walker must either parse the damaged payload or raise
# ValueError — never struct.error / IndexError / zlib.error / KeyError.
# (The r3 ADVICE fill-byte and truncated-chunk fixes are locked here.)


def _codec_fixtures() -> dict:
    rng = np.random.default_rng(20260814)
    frames = rng.integers(0, 256, size=(2, 3, 6, 5), dtype=np.uint8)
    gray = rng.integers(0, 256, size=(2, 1, 6, 5), dtype=np.uint8)
    px = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    wav = np.array(rng.integers(-32768, 32767, size=64), dtype=np.int16)
    return {
        "wav": (mm.parse_wav, mm._wav_bytes(wav, 16000, True)),
        "bmp": (mm.parse_bmp, mm._bmp_bytes(px)),
        "avi": (mm.parse_avi, mm._avi_bytes(frames.transpose(0, 2, 3, 1))),
        "jpeg": (mm.parse_jpeg, mm._jpeg_bytes(frames[0], q=4)),
        "png": (mm.parse_png, mm._png_bytes(px, "cycle")),
        "mjpeg": (mm.parse_mjpeg_avi, mm._mjpeg_avi_bytes(gray, q=2)),
        "mp4": (mm.parse_mp4, mm._mp4_bytes(frames, q=2)),
    }


_FIXTURES = _codec_fixtures()


def _must_parse_or_valueerror(parser, payload: bytes, what: str) -> None:
    try:
        parser(payload)
    except ValueError:
        pass  # the sanctioned rejection path
    except Exception as e:  # noqa: BLE001 — the property under test
        raise AssertionError(
            f"{what}: {type(e).__name__} escaped instead of ValueError: {e}"
        ) from e


@given(codec=st.sampled_from(sorted(_FIXTURES)), frac=st.floats(0.0, 1.0))
@settings(max_examples=200, deadline=None)
def test_truncated_payload_never_crashes(codec, frac):
    parser, raw = _FIXTURES[codec]
    cut = int(frac * (len(raw) - 1))
    _must_parse_or_valueerror(parser, raw[:cut], f"{codec} truncated@{cut}")


@given(
    codec=st.sampled_from(sorted(_FIXTURES)),
    frac=st.floats(0.0, 1.0),
    byte=st.integers(0, 255),
)
@settings(max_examples=300, deadline=None)
def test_mutated_payload_never_crashes(codec, frac, byte):
    parser, raw = _FIXTURES[codec]
    pos = int(frac * (len(raw) - 1))
    mutated = raw[:pos] + bytes([byte]) + raw[pos + 1 :]
    _must_parse_or_valueerror(parser, mutated, f"{codec} mutated@{pos}={byte}")


@given(
    codec=st.sampled_from(sorted(_FIXTURES)),
    junk=st.binary(min_size=0, max_size=64),
)
@settings(max_examples=100, deadline=None)
def test_junk_payload_never_crashes(codec, junk):
    parser, _ = _FIXTURES[codec]
    _must_parse_or_valueerror(parser, junk, f"{codec} junk[{len(junk)}]")


def test_container_prefixes_parse_or_raise_valueerror():
    """Every prefix of one small shard per container format either
    parses cleanly or raises ValueError — a truncated download must
    never surface as IndexError / struct.error from the walkers. An
    Avro blob cut inside its 16-byte header sync marker must raise,
    not parse as a clean zero-row file. The cuts that do parse clean
    (the parsers' carry-over contract) are pinned as explicit cases."""
    members = [("a.txt", b"hello" * 50), ("b.txt", b"x" * 700)]
    records = [("https://corpus.example/doc/1", b"hello" * 50)]
    schema = (
        '{"type":"record","name":"T","fields":['
        '{"name":"i","type":"long"},{"name":"s","type":"string"},'
        '{"name":"d","type":"double"},{"name":"b","type":"boolean"}]}'
    )
    avro = mm.avro_ocf_bytes(
        schema, [(1, "x", 0.5, True), (-300, "yz", -2.0, False)],
        rows_per_block=1,
    )
    shards = {
        "tar": (mm.parse_tar_members, mm.build_tar_shard(members)),
        "zip": (mm.parse_zip_members, mm.build_zip_shard(members)),
        "warc": (mm.parse_warc_records, mm.build_warc_shard(records)),
        "warc.gz": (mm.parse_warc_gz_records, mm.build_warc_gz_shard(records)),
        "avro": (mm.parse_avro_ocf, avro),
    }
    for fmt, (parser, blob) in shards.items():
        for cut in range(len(blob)):
            _must_parse_or_valueerror(parser, blob[:cut], f"{fmt}[:{cut}]")
    # every block ends with a copy of the header sync marker, so the
    # blob's last 16 bytes locate the header's
    sync_at = avro.index(avro[-16:])
    for cut in range(sync_at, sync_at + 16):
        with pytest.raises(ValueError):
            mm.parse_avro_ocf(avro[:cut])
    # The cuts that parse clean by contract, because a shorter file
    # looks the same. A tar cut after its first zero end block keeps
    # every member; one byte shorter raises.
    tar = shards["tar"][1]
    for cut in range(len(tar) - 512, len(tar)):
        assert mm.parse_tar_members(tar[:cut]) == members
    with pytest.raises(ValueError):
        mm.parse_tar_members(tar[: len(tar) - 513])
    # A WARC cut at a record boundary (after the warcinfo record)
    # parses as the shard of the records before it.
    warc = shards["warc"][1]
    info = mm.build_warc_shard([])
    assert warc.startswith(info) and len(info) < len(warc)
    assert mm.parse_warc_records(warc[: len(info)]) == mm.parse_warc_records(info)
    assert [t for t, _, _ in mm.parse_warc_records(info)] == ["warcinfo"]
    # An Avro cut at a block boundary (after the header, or after a
    # block) parses as the file of the rows before it.
    rows = mm.parse_avro_ocf(avro)[1]
    for k in range(len(rows)):
        shorter = mm.avro_ocf_bytes(schema, rows[:k], rows_per_block=1)
        assert avro.startswith(shorter) and len(shorter) < len(avro)
        assert mm.parse_avro_ocf(avro[: len(shorter)])[1] == rows[:k]


# --- union-find vs BFS reference (round-5 components fast path) -----------


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=0,
        max_size=80,
    )
)
@settings(max_examples=200, deadline=None)
def test_union_find_matches_bfs_components(edges):
    """_union_find_labels (the dedup_components small-graph fast
    path) must agree with a breadth-first transitive closure on
    arbitrary edge lists — duplicates, self-loops, reversed edges."""
    from collections import deque

    from kafka_streams_pipeline_spark.operators.dedup import (
        _union_find_labels,
    )

    adj: dict = {}
    nodes = set()
    for a, b in edges:
        nodes.update((a, b))
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected = {}
    seen: set = set()
    for start in sorted(nodes):
        if start in seen:
            continue
        comp, queue = [], deque([start])
        seen.add(start)
        while queue:
            u = queue.popleft()
            comp.append(u)
            for v in adj.get(u, ()):
                if v not in seen:
                    seen.add(v)
                    queue.append(v)
        label = min(comp)
        for u in comp:
            expected[u] = label
    assert dict(_union_find_labels(edges)) == expected


def test_spend_quartile_properties(spark):
    """q_spend_quartile_scalable semantics (round 7): quartile is
    MONOTONE in spend (equal spends share a bucket — the defining
    difference from ntile), every bucket 1-4 is inhabited at fixture
    scale, and each cutpoint is an actual element of the spend
    multiset with cume_dist >= its p (the SQL-standard
    percentile_disc contract)."""
    from kafka_streams_pipeline_spark.inventory import QUERIES

    rows = QUERIES["q_spend_quartile_scalable"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    by_spend = sorted(rows, key=lambda r: r["spend_cents"])
    qs = [r["quartile"] for r in by_spend]
    assert qs == sorted(qs)  # monotone
    assert set(qs) == {1, 2, 3, 4}
    spends = [r["spend_cents"] for r in by_spend]
    for k, v in zip((1, 2, 3), (0.25, 0.50, 0.75)):
        # cutpoint k = max spend in bucket <= k's region boundary:
        # smallest value with cume_dist >= p, and an actual element
        cut = max(r["spend_cents"] for r in by_spend if r["quartile"] <= k)
        assert cut in spends
        n_le = sum(1 for s in spends if s <= cut)
        assert n_le / len(spends) >= v
        # the next smaller distinct value must NOT satisfy p
        smaller = [s for s in spends if s < cut]
        if smaller:
            n_le2 = sum(1 for s in spends if s <= max(smaller))
            assert n_le2 / len(spends) < v
    # equal spends share a bucket
    seen = {}
    for r in rows:
        if r["spend_cents"] in seen:
            assert seen[r["spend_cents"]] == r["quartile"]
        seen[r["spend_cents"]] = r["quartile"]


@given(
    xy=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 16) - 1),
            st.integers(min_value=0, max_value=(1 << 16) - 1),
        ),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
@settings(max_examples=20, deadline=None)
def test_morton_key_is_a_bijection(spark, xy):
    """Z-order property: the interleave is invertible — every (x, y)
    pair maps to a distinct key whose bit de-interleave recovers
    exactly (x, y). A dropped/duplicated/misplaced bit anywhere in
    the 64-term expression breaks recovery for some input."""
    from pyspark.sql import functions as F

    from kafka_streams_pipeline_spark.operators.layout import morton_key

    df = spark.createDataFrame(xy, "x long, y long")
    rows = df.select(
        "x", "y", morton_key(F.col("x"), F.col("y")).alias("z")
    ).collect()
    assert len({r["z"] for r in rows}) == len(rows)
    for r in rows:
        x = y = 0
        for i in range(16):
            x |= ((r["z"] >> (2 * i)) & 1) << i
            y |= ((r["z"] >> (2 * i + 1)) & 1) << i
        assert (x, y) == (r["x"], r["y"]), r


# --- round 11: TSDB window-identity folds vs sequential references ----------

_series_s = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000_000),  # ts offset seconds
        st.integers(min_value=1, max_value=60_000),      # cents
    ),
    min_size=1,
    max_size=40,
)


@given(series=_series_s)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_cusum_window_identity_property(spark, series):
    """For ANY series, the prefix-sum/running-min window identity in
    cusum_alarms equals the clamped sequential recurrence — the
    property the plan rewrite rests on. k/h chosen mid-range so both
    branches (decay and accumulation) are exercised."""
    from kafka_streams_pipeline_spark.operators.timeseries import (
        cusum_alarms,
    )

    k_cents, h_cents = 30_000, 50_000
    base = dt.datetime(2024, 1, 1)
    rows = [
        (
            i,
            base + dt.timedelta(seconds=off),
            7,
            "click",
            c / 100.0,
            "{}",
        )
        for i, (off, c) in enumerate(series)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = cusum_alarms(df, k_cents=k_cents, h_cents=h_cents).collect()[0]

    ordered = [c for _, c in sorted(zip(
        [(r[1], r[0]) for r in rows], [c for _, c in series]
    ))]
    s, alarms, mx = 0, 0, 0
    for c in ordered:
        s = max(0, s + c - k_cents)
        mx = max(mx, s)
        if s > h_cents:
            alarms += 1
    assert got.n_samples == len(series)
    assert got.max_cusum == mx
    assert got.n_alarms == alarms
    assert got.ends_in_alarm == (1 if s > h_cents else 0)


@given(series=_series_s)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_counter_rate_fold_property(spark, series):
    """counter_rate's windowed reset fold equals the sequential
    reference on any series (wrap resets included)."""
    from kafka_streams_pipeline_spark.operators.timeseries import (
        RESET_MOD_CENTS,
        counter_rate,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=off), 7, "click", c / 100.0, "{}")
        for i, (off, c) in enumerate(series)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = counter_rate(df).collect()[0]

    order = sorted(range(len(rows)), key=lambda i: (rows[i][1], rows[i][0]))
    run, prev, inc, resets = 0, None, 0, 0
    for i in order:
        run += series[i][1]
        counter = run % RESET_MOD_CENTS
        if prev is not None:
            if counter >= prev:
                inc += counter - prev
            else:
                inc += counter
                resets += 1
        prev = counter
    assert got.n_samples == len(series)
    assert got.n_resets == resets
    assert got.increase_cents == inc


# --- round-13 operators ----------------------------------------------------

points_s = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ),
    min_size=1,
    max_size=60,
)


@given(pts=points_s, nb=st.integers(min_value=1, max_value=8))
@settings(
    max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
def test_skyline_matches_dominance_definition(spark, pts, nb):
    """The bucketed prefix-max scan equals the O(n²) dominance
    definition for ANY point multiset and bucket count — including
    duplicate points (both survive) and degenerate single-bucket
    collapses."""
    from kafka_streams_pipeline_spark.operators.pareto import skyline_2d

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    expect = sorted(
        k
        for k, x, y in rows
        if not any(
            qx <= x and qy >= y and (qx < x or qy > y) for _, qx, qy in rows
        )
    )
    df = spark.createDataFrame(rows, "key long, x long, y long")
    got = sorted(
        r["key"]
        for r in skyline_2d(df, "x", "y", "key", n_buckets=nb).collect()
    )
    assert got == expect


docs_s = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c"]), min_size=0, max_size=14
    ).map(" ".join),
    min_size=1,
    max_size=6,
)


@given(texts=docs_s)
@settings(
    max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
def test_duplicated_spans_matches_python_reference(spark, texts):
    """Span islands equal a direct python recompute for arbitrary
    tiny-alphabet corpora (3-token grams force heavy gram reuse, so
    island merging and corpus-frequency semantics are genuinely
    exercised)."""
    from collections import Counter

    from kafka_streams_pipeline_spark.operators.dedup import (
        duplicated_spans,
    )

    n = 3
    grams: list[tuple[int, int, str]] = []
    for d, text in enumerate(texts):
        ws = text.split(" ") if text else []
        for i in range(len(ws) - n + 1):
            grams.append((d, i + 1, " ".join(ws[i : i + n])))
    counts = Counter(g for _, _, g in grams)
    expect = set()
    for d in range(len(texts)):
        dups = sorted(p for dd, p, g in grams if dd == d and counts[g] > 1)
        run: list[int] = []
        for p in dups:
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    expect.add((d, run[0], run[-1] - run[0] + n))
                run = [p]
        if run:
            expect.add((d, run[0], run[-1] - run[0] + n))
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in duplicated_spans(df, n=n).collect()
    }
    assert got == expect


@given(
    stream=st.lists(
        st.sampled_from([f"t{i}" for i in range(12)]), min_size=1, max_size=300
    ),
    cuts=st.lists(st.integers(min_value=0, max_value=300), max_size=4),
    k=st.integers(min_value=3, max_value=8),
)
@settings(max_examples=200)
def test_mg_merge_preserves_heavy_hitter_superset(stream, cuts, k):
    """The Agarwal summed-counters + k-th-largest-decrement merge must
    keep every TRUE heavy hitter (freq·k > n) in the candidate set,
    for ANY batch split and ANY per-batch summary order — the
    guarantee q_streaming_heavy_hitters' exact verify pass relies on.
    Per-batch summaries here are exact counts (a valid MG summary),
    so the property isolates the MERGE rule itself."""
    from collections import Counter

    from kafka_streams_pipeline_spark.operators.sketches import mg_merge

    bounds = sorted({0, len(stream), *[c % (len(stream) + 1) for c in cuts]})
    state: dict = {}
    n_total = 0
    for lo, hi in zip(bounds, bounds[1:]):
        batch = stream[lo:hi]
        rows = [
            {"tok": t, "cnt": c} for t, c in Counter(batch).items()
        ] + [{"tok": None, "cnt": len(batch)}]
        state, n_batch = mg_merge(state, rows, k)
        n_total += n_batch
    assert n_total == len(stream)
    true_counts = Counter(stream)
    heavy = {t for t, c in true_counts.items() if c * k > len(stream)}
    assert heavy <= set(state), (heavy, state, k)
