"""The SQL-text containment predicate (operators.spatial.containment_sql)
on hostile inputs, through both JVM-side PIP paths.

Points sit on polygon vertices and edges and at their +-1-ulp
neighbours, next to horizontal edges, and at NaN, +-inf, +-0.0 and
lon +-180.  Every verdict of ``bucketed_spatial_join`` and
``SqlEngine.transform_pip`` must equal the numpy ``_crossings`` kernel
and DuckDB running ``oracle.point_in_polygon_sql`` on the same
coordinates — the three dialects agree bit for bit on the edge formula
or these points expose it.

Two set-ups make every point reach the predicate:

* the bucketed join gets every point tagged with one meshcode that lies
  in every polygon's cover, so each (point, polygon) pair is a
  candidate and the join's output is exactly the refine verdict;
* transform_pip runs over an all-zero correction grid covering the
  polygons, so the forward transform keeps in-grid coordinates
  bit-identical (asserted) and the points land on the vertices and
  edges they were built on; out-of-grid points (NaN, inf, lon 180...)
  drop out with a non-zero status, as in the expected sets.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from jgdtrans_rs_spark.grid import MeshGrid
from jgdtrans_rs_spark.operators import spatial
from jgdtrans_rs_spark.plans import oracle
from jgdtrans_rs_spark.plans.spark_sql import SqlEngine

UNIT = 5

# all inside the zero grid below (36.0833..36.2083 N, 140.0625..140.25 E)
# and all overlapping its centre cell
POLYGONS = [
    # axis rectangle: two horizontal edges
    ("rect", [(36.1, 140.08), (36.1, 140.2), (36.17, 140.2), (36.17, 140.08)]),
    # concave L with a reflex vertex and horizontal edges at two heights
    ("ell", [(36.095, 140.1), (36.095, 140.23), (36.13, 140.23),
             (36.13, 140.16), (36.19, 140.16), (36.19, 140.1)]),
    # triangle: only slanted edges
    ("tri", [(36.09, 140.07), (36.2, 140.13), (36.12, 140.24)]),
    # slanted quadrilateral whose top vertices share a latitude
    ("quad", [(36.11, 140.09), (36.105, 140.21), (36.18, 140.19), (36.18, 140.12)]),
]
RINGS = [ring for _, ring in POLYGONS]


def _zero_grid() -> MeshGrid:
    """Unit-5 SemiDynaEXE nodes over lat digits (54,1..2,0|5) x lon
    digits (40,0..2,0|5), every correction 0.0."""
    lats = [(54, s, t) for s in (1, 2) for t in (0, 5)]
    lons = [(40, 0, 5), (40, 1, 0), (40, 1, 5), (40, 2, 0)]
    nodes = {}
    for f1, s1, t1 in lats:
        for f2, s2, t2 in lons:
            code = f1 * 1_000_000 + f2 * 10_000 + s1 * 1_000 + s2 * 100 + t1 * 10 + t2
            nodes[code] = (0.0, 0.0, 0.0)
    return MeshGrid.from_dict(nodes, "SemiDynaEXE")


def _ulp(v: float, k: int) -> float:
    for _ in range(abs(k)):
        v = float(np.nextafter(v, np.inf if k > 0 else -np.inf))
    return v


SPECIAL_LAT = [float("nan"), float("inf"), float("-inf"), 0.0, -0.0]
SPECIAL_LON = [float("nan"), float("inf"), float("-inf"), 0.0, -0.0, 180.0, -180.0]


def _on_edge(y1, x1, y2, x2, t):
    """The point at fraction t along an edge.  For a slanted edge its
    lon is the edge's crossing abscissa at that lat, computed with the
    predicate's own float64 ops — so a +-1-ulp lon step lands on either
    side of the exact boundary every engine must agree on."""
    la = y1 + t * (y2 - y1)
    if y1 == y2:
        return la, x1 + t * (x2 - x1)
    return la, (x2 - x1) * (la - y1) / (y2 - y1) + x1


def _order_sensitive(y1, x1, y2, x2, per_form: int = 4) -> list[float]:
    """Lats on a slanted edge where a reordered crossing formula —
    ``dx * ((lat-y1) / dy)`` or ``(dx / dy) * (lat-y1)`` — rounds to a
    different abscissa than the pinned ``(dx * (lat-y1)) / dy``.  Near
    lon 140 the final ``+ x1`` absorbs most of that difference, so such
    lats are rare (a few per 10^5); they are where an engine that
    reorders the ops would disagree."""
    if y1 == y2 or x1 == x2:
        return []
    la = y1 + np.linspace(0.0, 1.0, 100_001) * (y2 - y1)
    dx, dy = x2 - x1, y2 - y1
    pinned = dx * (la - y1) / dy + x1
    out = []
    for other in (dx * ((la - y1) / dy) + x1, dx / dy * (la - y1) + x1):
        out += la[pinned != other][:per_form].tolist()
    return out


def _fixed_points() -> list[tuple[float, float]]:
    """Every vertex, 15 points along every edge and the edge's
    op-order-sensitive points, each at all nine (+-1, 0) ulp offsets,
    plus the special values paired with vertex coordinates."""
    pts = []
    for ring in RINGS:
        n = len(ring)
        for j in range(n):
            (y1, x1), (y2, x2) = ring[j], ring[(j + 1) % n]
            on = [(y1, x1)] + [_on_edge(y1, x1, y2, x2, k / 16) for k in range(1, 16)]
            on += [(la, (x2 - x1) * (la - y1) / (y2 - y1) + x1)
                   for la in _order_sensitive(y1, x1, y2, x2)]
            for la, lo in on:
                pts += [(_ulp(la, a), _ulp(lo, b)) for a in (-1, 0, 1) for b in (-1, 0, 1)]
            pts += [(s, x1) for s in SPECIAL_LAT] + [(y1, s) for s in SPECIAL_LON]
    pts += [(a, b) for a in SPECIAL_LAT for b in SPECIAL_LON]
    return pts


@st.composite
def hostile_point(draw):
    ring = draw(st.sampled_from(RINGS))
    j = draw(st.integers(0, len(ring) - 1))
    (y1, x1), (y2, x2) = ring[j], ring[(j + 1) % len(ring)]
    kind = draw(st.sampled_from(["vertex", "edge", "special_lat", "special_lon", "inside"]))
    if kind == "vertex":
        la, lo = y1, x1
    elif kind == "edge":
        la, lo = _on_edge(y1, x1, y2, x2, draw(st.floats(0.0, 1.0)))
    elif kind == "special_lat":
        la, lo = draw(st.sampled_from(SPECIAL_LAT)), x1
    elif kind == "special_lon":
        la, lo = y1, draw(st.sampled_from(SPECIAL_LON))
    else:
        la = draw(st.floats(36.09, 36.2))
        lo = draw(st.floats(140.07, 140.24))
    return _ulp(la, draw(st.integers(-1, 1))), _ulp(lo, draw(st.integers(-1, 1)))


def _numpy_pairs(keys, lat, lon) -> set:
    lat, lon = np.asarray(lat, dtype=np.float64), np.asarray(lon, dtype=np.float64)
    keys = np.asarray(keys)
    out = set()
    for pid, ring in POLYGONS:
        with np.errstate(invalid="ignore"):  # 0 * inf on vertical edges
            hit = spatial._crossings(lat, lon, ring) == 1
        out |= {(int(k), pid) for k in keys[hit]}
    return out


def _duckdb_pairs(keys, lat, lon) -> set:
    pts = pa.table({"pkey": pa.array(keys, pa.int64()),
                    "lat": pa.array(lat, pa.float64()),
                    "lon": pa.array(lon, pa.float64())})
    con = duckdb.connect()
    con.register("pts", pts)
    rows = con.sql(oracle.point_in_polygon_sql(
        "pts", oracle.polygon_edges_values(POLYGONS, alias="e"))).fetchall()
    con.close()
    return {(int(k), p) for k, p in rows}


@pytest.fixture(scope="module")
def sql_engine(spark):
    return SqlEngine(spark, _zero_grid(), grid_view="_pip_hostile_grid")


@pytest.fixture(scope="module")
def common_code():
    covers = [{c for c, _ in spatial.polygon_mesh_cover([p], UNIT)} for p in POLYGONS]
    shared = set.intersection(*covers)
    assert shared, "the test polygons must share a cover cell"
    return min(shared)


def _check(spark, sql_engine, common_code, points):
    keys = list(range(len(points)))
    lat = [p[0] for p in points]
    lon = [p[1] for p in points]
    df = spark.createDataFrame(
        [(k, a, b, 0.0, common_code) for k, a, b in zip(keys, lat, lon)],
        "pkey long, lat double, lon double, alt double, meshcode long")

    want = _numpy_pairs(keys, lat, lon)
    assert _duckdb_pairs(keys, lat, lon) == want
    got = spatial.bucketed_spatial_join(df, POLYGONS, UNIT, hot_codes=[]).collect()
    assert {(r.pkey, r.poly_id) for r in got} == want

    fwd = sql_engine.forward(df.select("pkey", "lat", "lon", "alt")) \
        .filter("status = 0").select("pkey", "out_lat", "out_lon").collect()
    fk = [r.pkey for r in fwd]
    fla = [r.out_lat for r in fwd]
    flo = [r.out_lon for r in fwd]
    # the zero grid keeps every in-grid point on its vertex / edge
    assert all(a == lat[k] and b == lon[k] for k, a, b in zip(fk, fla, flo))
    want_fwd = _numpy_pairs(fk, fla, flo)
    assert _duckdb_pairs(fk, fla, flo) == want_fwd
    got = sql_engine.transform_pip(df.select("pkey", "lat", "lon", "alt"), POLYGONS).collect()
    assert sorted((r.pkey, r.poly_id) for r in got) == sorted(want_fwd)
    return want, want_fwd


def test_vertices_edges_ulps_and_specials(spark, sql_engine, common_code):
    want, want_fwd = _check(spark, sql_engine, common_code, _fixed_points())
    # the fixed set straddles every boundary: hits and misses on both paths
    assert len(want) > 50 and want_fwd == want


@given(st.lists(hostile_point(), min_size=1, max_size=60))
@settings(max_examples=4, deadline=None)
def test_hostile_points_three_way(spark, sql_engine, common_code, points):
    _check(spark, sql_engine, common_code, points)


@pytest.mark.parametrize("extra", [0, 1])
def test_salted_refine_switches_past_measured_width(spark, extra):
    """Rings of up to _SQL_REFINE_MAX_WIDTH crossing edges refine in
    SQL, one edge more in the pandas_udf; both give _crossings'
    verdicts, and every point is a candidate (one shared cover cell)."""
    m = spatial._SQL_REFINE_MAX_WIDTH + extra
    ang = (np.arange(m) + 0.25) * (2 * np.pi / m)
    rad = np.where(np.arange(m) % 2 == 0, 0.03, 0.015)
    ring = [(float(36.14 + r * np.sin(t)), float(140.15 + r * np.cos(t)))
            for r, t in zip(rad, ang)]
    assert spatial.edge_columns([ring])[0] == m
    code = min(c for c, _ in spatial.polygon_mesh_cover([("star", ring)], UNIT))
    rng = np.random.default_rng(m)
    lat = 36.14 + rng.uniform(-0.035, 0.035, 400)
    lon = 140.15 + rng.uniform(-0.035, 0.035, 400)
    df = spark.createDataFrame(
        [(k, float(a), float(b), code) for k, (a, b) in enumerate(zip(lat, lon))],
        "pkey long, lat double, lon double, meshcode long")

    out = spatial.bucketed_spatial_join(df, [("star", ring)], UNIT, hot_codes=[])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert ("ArrowEvalPython" in plan) == (extra > 0), plan
    want = {int(k) for k in np.flatnonzero(spatial._crossings(lat, lon, ring) == 1)}
    assert {r.pkey for r in out.collect()} == want
    assert 0 < len(want) < 400
