"""Property-based tests (hypothesis) for the pure numpy kernels: grid
index, UTM/MGRS, projections, and codecs — fast, no Spark session."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from instageo_e2e_geospatial_ml_spark import codecs, grid, mgrs, projections as proj

LON = st.floats(min_value=-179.999, max_value=179.999, allow_nan=False)
LAT = st.floats(min_value=-79.9, max_value=83.9, allow_nan=False)
RES = st.integers(min_value=0, max_value=15)


@settings(max_examples=200, deadline=None)
@given(LON, LAT, RES)
def test_cell_encode_decode_bounds_contain_point(lon, lat, res):
    cell = grid.cell_encode(np.array([lon]), np.array([lat]), res)
    r, cx, cy = grid.cell_decode(cell)
    assert int(r[0]) == res
    lon_min, lat_min, lon_max, lat_max = grid.cell_bounds(cell)
    # floating floor can land a boundary point in the neighbor cell only
    # within one ulp of the edge
    eps = 1e-9 * (1 << res)
    assert lon_min[0] - eps <= lon <= lon_max[0] + eps
    assert lat_min[0] - eps <= lat <= lat_max[0] + eps


@settings(max_examples=200, deadline=None)
@given(LON, LAT)
def test_utm_roundtrip(lon, lat):
    e, n, zone = mgrs.latlon_to_utm(np.array([lat]), np.array([lon]))
    south = lat < 0
    lat2, lon2 = mgrs.utm_to_latlon(
        e, n - (10000000.0 if south else 0.0) + (10000000.0 if south else 0.0),
        int(zone[0]), south=south,
    )
    assert abs(lat2[0] - lat) < 1e-7
    assert abs(lon2[0] - lon) < 1e-7


@settings(max_examples=150, deadline=None)
@given(LON, LAT)
def test_mgrs_tile_contains_its_point(lon, lat):
    tile = mgrs.mgrs_precision0(np.array([lat]), np.array([lon]))[0]
    zone, south, e0, n0 = mgrs.mgrs_tile_utm_square(tile)
    e, n, _ = mgrs.latlon_to_utm(np.array([lat]), np.array([lon]), np.array([zone]))
    nv = n[0]
    if lat < 0 and not south:
        nv -= 10000000.0  # equator-boundary sliver: band is northern
    assert e0 <= e[0] < e0 + 100000.0
    assert n0 <= nv < n0 + 100000.0


@settings(max_examples=100, deadline=None)
@given(
    st.floats(min_value=42.2, max_value=49.8),
    st.floats(min_value=-3.8, max_value=7.8),
)
def test_lambert93_roundtrip(lat, lon):
    x, y = proj.EPSG_FORWARD[2154](np.array([lat]), np.array([lon]))
    lat2, lon2 = proj.EPSG_INVERSE[2154](x, y)
    assert abs(lat2[0] - lat) < 1e-9
    assert abs(lon2[0] - lon) < 1e-9


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_codec_roundtrips(seed):
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 10001, size=(1, 16, 16), dtype=np.uint16)
    for fmt in ("raw", "png"):
        got = codecs.decode(codecs.encode(a, fmt), 16, 16, 1, fmt)
        assert (got == a).all(), fmt
    lossy = codecs.decode(codecs.encode(a, "qdct"), 16, 16, 1, "qdct")
    assert codecs.psnr(lossy[0], a[0]) >= 40.0


# --- filter-spec parser fuzz (pure, no Spark) --------------------------------

_COLS = st.sampled_from(["label", "year", "x", "name"])
_NUM = st.one_of(
    st.integers(min_value=-10**6, max_value=10**6),
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
)
_VAL = st.one_of(
    _NUM,
    st.lists(st.integers(min_value=-100, max_value=100), min_size=1, max_size=4),
    st.text(alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")), min_size=1, max_size=8),
)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            _COLS,
            st.sampled_from(["==", ">", ">=", "<", "<=", "!=", "in", "not-in"]),
            _VAL,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_filter_spec_parse_roundtrip(clauses):
    from instageo_e2e_geospatial_ml_spark.functions.filters import parse_filters

    spec = "; ".join(f"('{c}' ? '{o}' ? {v!r})" for c, o, v in clauses)
    parsed = parse_filters(spec)
    assert len(parsed) == len(clauses)
    for (c, o, v), (pc, po, pv) in zip(clauses, parsed):
        assert (pc, po) == (c, o)
        assert pv == v


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=40))
def test_filter_spec_garbage_never_crashes_silently(garbage):
    # any non-empty unparseable spec raises ValueError; empty → []
    from instageo_e2e_geospatial_ml_spark.functions.filters import parse_filters

    try:
        out = parse_filters(garbage)
    except (ValueError, SyntaxError):
        return
    assert isinstance(out, list)


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_jp2_codec_roundtrip_property(seed):
    """Any int image round-trips bit-exactly through the JPEG-2000 codec,
    across random dims / levels / block sizes / precinct layouts /
    progression orders."""
    from instageo_e2e_geospatial_ml_spark.jp2 import jp2_decode, jp2_encode

    rng = np.random.default_rng(seed)
    h, w = int(rng.integers(1, 50)), int(rng.integers(1, 50))
    levels = int(rng.integers(0, 4))
    cblk = int(rng.choice([4, 16, 64]))
    depth = int(rng.integers(1, 15))
    img = rng.integers(0, 1 << depth, (h, w))
    if rng.random() < 0.3:
        img = img - (1 << (depth - 1))  # signed path
    kw = {}
    if rng.random() < 0.5:
        kw["precincts"] = [
            (int(rng.integers(1, 7)), int(rng.integers(1, 7)))
            for _ in range(levels + 1)
        ]
        kw["progression"] = int(rng.integers(0, 5))
    out = jp2_decode(jp2_encode(img, levels=levels, cblk=cblk, **kw))
    assert (out == img).all()


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_mq_coder_roundtrip_property(seed):
    from instageo_e2e_geospatial_ml_spark.jp2 import MQDecoder, MQEncoder

    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 1500))
    p = float(rng.choice([0.5, 0.05, 0.95, 0.01, 0.99]))
    bits = (rng.random(n) < p).astype(int).tolist()
    ctxs = rng.integers(0, 19, n).tolist()
    enc = MQEncoder()
    for b, c in zip(bits, ctxs):
        enc.encode(int(b), int(c))
    dec = MQDecoder(enc.flush())
    assert [dec.decode(int(c)) for c in ctxs] == bits


# --- round-7 pure-python kernels ------------------------------------------


@settings(max_examples=150, deadline=None)
@given(
    st.integers(min_value=1, max_value=7),
    st.integers(min_value=0, max_value=(1 << 7) - 1),
    st.integers(min_value=0, max_value=(1 << 7) - 1),
)
def test_hilbert_xy2d_bijective_prefix_property(bits, x, y):
    """xy2d is injective, in range, and truncating coordinates to the
    top L bits lands the key in the corresponding depth-L block —
    the contiguous-quadrant property hilbert_ranges relies on."""
    from instageo_e2e_geospatial_ml_spark.functions.zorder import (
        hilbert_xy2d,
    )

    n = 1 << bits
    x, y = x % n, y % n
    d = hilbert_xy2d(bits, x, y)
    assert 0 <= d < n * n
    for level in range(bits + 1):
        size = 1 << (bits - level)
        block = size * size
        d0 = (
            hilbert_xy2d(bits, (x // size) * size, (y // size) * size)
            // block
            * block
        )
        assert d0 <= d < d0 + block


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=63),
            st.integers(min_value=0, max_value=63),
        ),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=0, max_value=30),
)
def test_hilbert_ranges_property(pts, pad):
    """For ANY box, the planner's ranges contain exactly the box's
    keys (checked via the member points hypothesis generates)."""
    from instageo_e2e_geospatial_ml_spark.functions.zorder import (
        hilbert_ranges,
        hilbert_xy2d,
    )

    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    x0, x1 = min(xs), min(max(xs) + pad % 5, 63)
    y0, y1 = min(ys), min(max(ys) + pad // 5, 63)
    ranges = hilbert_ranges(6, x0, y0, x1, y1, max_ranges=10**9)
    inside = lambda x, y: x0 <= x <= x1 and y0 <= y <= y1  # noqa: E731
    for x, y in pts:
        d = hilbert_xy2d(6, x, y)
        covered = any(lo <= d <= hi for lo, hi in ranges)
        assert covered == inside(x, y)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=9),
    st.integers(min_value=0, max_value=500),
)
def test_largest_remainder_pure_property(weights, total):
    """Driver-side replica of the apportionment invariants for any
    weights/total: integer shares, exact sum, within-1-of-quota."""
    w_sum = sum(weights)
    if w_sum == 0:
        return
    floors = [total * w // w_sum for w in weights]
    rems = [total * w % w_sum for w in weights]
    left = total - sum(floors)
    order = sorted(range(len(weights)), key=lambda i: (-rems[i], i))
    shares = list(floors)
    for i in order[:left]:
        shares[i] += 1
    assert sum(shares) == total
    for i, w in enumerate(weights):
        exact = total * w / w_sum
        assert exact - 1 < shares[i] < exact + 1
