"""Spatial operators: point-in-polygon, bucketed/salted spatial join,
kNN over mesh nodes.

The reference has no joins beyond its 4-corner HashMap probe
(trans.rs:34-53); these operators are the north-rule additions, with
semantics anchored to the JGD mesh system.

Scale design:

* ``point_in_polygon`` — broadcast path: the polygon set rides a
  closure (small dims broadcast), the containment test is a vectorized
  numpy crossing-number kernel inside ``mapInPandas`` — one narrow
  stage, no shuffle.  From-scratch kernel (no shapely dependency).
* ``bucketed_spatial_join`` — shuffle path for large polygon sets:
  polygons are exploded onto the meshcodes their bbox covers, points
  shuffle on meshcode; hot cells (dense Tokyo/Osaka buckets) are
  salted explicitly: hot points get a deterministic salt from their
  key, the polygon side is replicated per salt — bounded reducer fan-in
  regardless of skew.  Output is a set of (key, poly_id) pairs,
  identical across parallelism levels.  The exact refine is ONE SQL
  expression (``containment_sql``: crossing-number parity over the
  candidate ring's edges) reached through a single ``F.expr``; the
  ring data ride an N-row relation of per-ring edge columns
  (``edge_columns``; doubles as exact ``CAST('<repr>' AS DOUBLE)``
  literals, localrel.py).  Building the plan makes no JVM call per
  polygon or edge, and the generated code grows with the widest ring
  only; rings wider than ``_SQL_REFINE_MAX_WIDTH`` edges, where that
  code was measured slower, refine in a pandas_udf instead.
  ``SqlEngine.transform_pip`` joins on the same expression.
* ``knn_mesh_nodes`` — for a point inside a rectangular lattice cell
  the 4 nearest nodes are exactly the cell corners, so the candidate
  set is local: compute 4 distances per point in the batch kernel and
  emit the top-k — zero shuffle, unlike the naive
  explode + Window.row_number plan.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from .. import mesh
from ..localrel import local_rows_df

Polygon = tuple[str, list[tuple[float, float]]]  # (poly_id, [(lat, lon), ...])


def _crossings(lat: np.ndarray, lon: np.ndarray, ring: list[tuple[float, float]]) -> np.ndarray:
    """Crossing-number parity, edge formula pinned to the SQL oracle
    (plans/oracle.py::point_in_polygon_sql): for each edge,
    ((y1 > lat) != (y2 > lat)) and lon < (x2-x1)*(lat-y1)/(y2-y1)+x1."""
    inside = np.zeros(lat.shape[0], dtype=np.int64)
    n = len(ring)
    for i in range(n):
        y1, x1 = ring[i]
        y2, x2 = ring[(i + 1) % n]
        if y1 == y2:
            continue  # horizontal edge never crosses the test ray
        cross = ((y1 > lat) != (y2 > lat)) & (
            lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1
        )
        inside += cross
    return inside % 2


_EDGE_FIELDS = ("y1", "y2", "dx", "dy", "x1")
# padding for rings with fewer edges than the widest: y1 == y2, so the
# straddle test is false and the edge never crosses the test ray
_NO_EDGE = (0.0, 0.0, 0.0, 1.0, 0.0)
# widest ring (in crossing edges) bucketed_spatial_join refines in SQL;
# wider rings take the pandas_udf refine.  Measured by
# scripts/probe_refine_width.py (40k and 200k points, 6 and 47 star
# rings, tree CPU of build + action, local[2] on a 4-core host): the SQL
# refine took 0.5-1.0x the pandas refine's CPU at 4-8 edges, 0.7-1.7x
# at 9-11, 4-19x at 12-16 (the whole-stage method outgrows the JVM's
# 8 KB JIT limit and runs interpreted) and 1.5-2.5x at 24-32 (past
# spark.sql.codegen.maxFields whole-stage codegen is off).  8 is the
# widest at which it won or tied in every steady reading, 4 edges
# short of the cliff
_SQL_REFINE_MAX_WIDTH = 8


def edge_columns(rings: list[list[tuple[float, float]]]):
    """Each ring's crossing-test edges as ONE row of double columns ->
    (width, ddl, rows): ``width`` edges per row, at the widest ring's
    count; ``ddl`` the local_rows_df schema fragment
    ``", _e0_y1 double, _e0_y2 double, _e0_dx double, ..."``; one row
    per ring.  Horizontal edges are dropped, as _crossings skips them;
    shorter rings are padded with never-crossing edges.  ``dx = x2-x1``
    and ``dy = y2-y1`` are folded here, exactly as _crossings folds
    them, so the SQL runs the same float64 ops in the same order."""
    edges = [
        [(y1, y2, x2 - x1, y2 - y1, x1)
         for (y1, x1), (y2, x2) in zip(r, r[1:] + r[:1]) if y1 != y2]
        for r in rings
    ]
    width = max((len(e) for e in edges), default=0)
    ddl = "".join(f", _e{k}_{f} double" for k in range(width) for f in _EDGE_FIELDS)
    rows = [tuple(v for edge in e + [_NO_EDGE] * (width - len(e)) for v in edge)
            for e in edges]
    return width, ddl, rows


def containment_sql(width: int, lat: str, lon: str) -> str:
    """Crossing-number containment of (``lat``, ``lon``) in the ring
    whose edge_columns (``width`` edges) sit on the same row, as ONE
    SQL boolean expression for a single ``F.expr``.

    Per edge: ((y1 > lat) <> (y2 > lat)) AND
    lon < ((dx * (lat - y1)) / dy) + x1 — the edge formula of
    _crossings and the SQL oracle (oracle.point_in_polygon_sql) with the
    same float64 ops in the same order.  The polygon data are column
    values, not literals, so the expression's size follows the widest
    ring, not the polygon count, and building it makes no JVM call at
    all.  Its generated code JIT-compiles up to about 11 edges; at
    12-16 edges the whole-stage method outgrows the JVM's 8 KB JIT
    limit and the refine took 4-19x the CPU of the pandas refine
    (_SQL_REFINE_MAX_WIDTH has the measurement).  One CASE over every
    polygon's edge literals passed that limit at 6 x 8 edges already,
    and ran at ~6x the executor CPU of this form."""
    if not width:
        return "false"
    terms = " + ".join(
        f"CASE WHEN ((_e{k}_y1 > {lat}) <> (_e{k}_y2 > {lat})) AND "
        f"{lon} < (((_e{k}_dx * ({lat} - _e{k}_y1)) / _e{k}_dy) + _e{k}_x1) "
        "THEN 1 ELSE 0 END"
        for k in range(width))
    return f"(({terms}) % 2) = 1"


def point_in_polygon(df: DataFrame, polygons: Sequence[Polygon],
                     key: str = "pkey", lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Broadcast point-in-polygon join -> (key, poly_id) pairs.

    Polygon bboxes pre-filter each batch before the exact parity test.
    The UDF emits a 64-bit containment mask (pure vectorized numpy —
    no per-row array building, no Arrow list writer; same design as
    Engine.transform_tile_pip) and the (row, polygon) expansion is a
    broadcast bit-test join in codegen.  >63 polygons raises: use
    bucketed_spatial_join for large polygon sets.
    """
    polys = [(pid, [(float(a), float(b)) for a, b in ring]) for pid, ring in polygons]
    if len(polys) > 63:
        raise ValueError(
            f"{len(polys)} polygons exceed the 63-bit containment mask; "
            "use bucketed_spatial_join for large polygon sets")
    bboxes = [
        (
            min(p[0] for p in ring), max(p[0] for p in ring),
            min(p[1] for p in ring), max(p[1] for p in ring),
        )
        for _, ring in polys
    ]

    @F.pandas_udf(LongType())
    def mask_udf(lat_s: pd.Series, lon_s: pd.Series) -> pd.Series:
        la = lat_s.to_numpy(dtype=np.float64, na_value=np.nan)
        lo = lon_s.to_numpy(dtype=np.float64, na_value=np.nan)
        mask = np.zeros(la.shape[0], dtype=np.int64)
        for i, ((pid, ring), (la0, la1, lo0, lo1)) in enumerate(zip(polys, bboxes)):
            cand = (la >= la0) & (la <= la1) & (lo >= lo0) & (lo <= lo1)
            if cand.any():
                h = np.zeros(la.shape[0], dtype=bool)
                h[cand] = _crossings(la[cand], lo[cand], ring) == 1
                mask |= h.astype(np.int64) << i
        return pd.Series(mask)

    spark = df.sparkSession
    names = local_rows_df(
        spark,
        [(i, pid) for i, (pid, _) in enumerate(polys)],
        schema="poly_idx int, poly_id string",
    )
    masked = df.select(key, mask_udf(F.col(lat), F.col(lon)).alias("_pmask"))
    hit = F.expr("(shiftright(_pmask, poly_idx) & 1) = 1")
    return masked.join(F.broadcast(names), hit, "inner").select(key, "poly_id")


def polygon_mesh_cover(polygons: Sequence[Polygon], unit: int) -> list[tuple[int, str]]:
    """Explode each polygon's bbox onto the meshcodes it covers:
    (meshcode, poly_id) candidate pairs for the bucketed join."""
    out: list[tuple[int, str]] = []
    for pid, ring in polygons:
        la0 = min(p[0] for p in ring)
        la1 = max(p[0] for p in ring)
        lo0 = min(p[1] for p in ring)
        lo1 = max(p[1] for p in ring)
        step_lat = (2.0 / 3.0) / 80.0 * unit
        step_lon = (1.0 / 80.0) * unit
        lats = np.arange(la0 - step_lat, la1 + step_lat, step_lat)
        lons = np.arange(lo0 - step_lon, lo1 + step_lon, step_lon)
        gl, gn = np.meshgrid(lats, lons)
        latd, lond, valid = mesh.point_to_digits(gl.ravel(), gn.ravel(), unit)
        codes = np.unique(mesh.digits_to_meshcode(latd, lond)[valid])
        out.extend((int(c), pid) for c in codes)
    return out


def bucketed_spatial_join(points: DataFrame, polygons: Sequence[Polygon], unit: int,
                          key: str = "pkey", lat: str = "lat", lon: str = "lon",
                          mesh_col: str = "meshcode",
                          hot_threshold: int = 50_000, num_salts: int = 16,
                          hot_codes: Sequence[int] | None = None) -> DataFrame:
    """Meshcode-bucketed spatial join with explicit skew salting.

    points must carry a ``mesh_col`` tile column (engine.assign_tiles /
    transform_and_tile).  Hot buckets get ``salt = pmod(hash(key), n)``
    and the polygon candidate side is replicated across all salts, so
    no single reducer receives an entire dense city cell.  Output rows
    are (key, poly_id), independent of parallelism.

    Pass ``hot_codes`` (known dense cells) to skip the detection
    aggregation; otherwise it is computed with one extra pass over
    ``points``, so persist the input if its lineage is expensive.  The
    standing feeder at scale is the sink's write-time statistics:
    ``sink.hot_codes_from_manifests(out_dir)`` returns the dense codes
    recorded by ``run_checkpointed`` (VERDICT r04 #3) — with it the
    salted join runs with ZERO extra passes over ``points`` (pinned by
    test_salted_join_zero_extra_passes_with_stats).
    """
    spark = points.sparkSession
    cover = polygon_mesh_cover(polygons, unit)
    if not cover:
        # schema derived from the points frame so the empty result
        # unions cleanly with the non-empty path whatever the key type
        return points.select(key).limit(0).withColumn(
            "poly_id", F.lit(None).cast("string"))
    # the candidate side carries BOTH the integer ring index (the
    # refine picks up the ring's edge columns by it — an int hash key
    # in codegen, and the pandas fallback ships only (lat, lon,
    # poly_idx) through Arrow) and the poly_id string, so no
    # name-reattach join is needed after the refine
    pid_to_idx = {pid: i for i, (pid, _) in enumerate(polygons)}
    if len(pid_to_idx) != len(polygons):
        # a duplicate id would silently collapse onto ONE ring here
        # (last wins) while point_in_polygon bit-masks each entry
        # separately — the two strategies would return different rows
        # for identical input; fail loudly instead
        raise ValueError("bucketed_spatial_join: duplicate poly_id in "
                         "polygons — ids must be unique")
    if hot_codes is None:
        hot_codes = [
            r[mesh_col]
            for r in points.groupBy(mesh_col).count()
            .filter(F.col("count") > hot_threshold).collect()
        ]
    hot_codes = [int(c) for c in hot_codes]
    is_hot = F.col(mesh_col).isin(hot_codes) if hot_codes else F.lit(False)

    pts = points.withColumn(
        "_salt",
        F.when(is_hot, F.pmod(F.hash(F.col(key)), F.lit(num_salts)))
        .otherwise(F.lit(0)),
    )
    # the salt replication of the candidate side happens DRIVER-side:
    # the cover is a driver list anyway (polygon_mesh_cover), so the
    # hot rows explode across salts in Python and the whole candidate
    # relation ships as ONE LocalRelation (localrel.py) — the old
    # filter/crossJoin(range)/union subtree re-ran as a small
    # distributed job inside every action's broadcast build, this
    # build is job-free; row set identical (hot cover x all salts,
    # non-hot at salt 0)
    hot_set = set(hot_codes)
    cand_salted = local_rows_df(
        spark,
        [(c, pid_to_idx[p], p, s)
         for c, p in cover
         for s in (range(num_salts) if c in hot_set else (0,))],
        schema=f"{mesh_col} long, poly_idx int, poly_id string, _salt int",
    )

    joined = pts.join(F.broadcast(cand_salted), [mesh_col, "_salt"]).select(
        key, lat, lon, "poly_idx", "poly_id")

    # exact containment test on the surviving candidates.  The rings
    # are driver-side constants: when the widest ring has at most
    # _SQL_REFINE_MAX_WIDTH crossing edges each candidate picks up its
    # ring's edge columns (edge_columns — one N-row relation, a
    # broadcast hash join on poly_idx) and the crossing parity is one
    # SQL expression (containment_sql) whose size follows the widest
    # ring — the whole refine step stays in JIT-compiled codegen (no
    # second Python stage after the transform UDF).  Wider rings take
    # the vectorized pandas_udf, which was measured cheaper there.
    rings = [[(float(a), float(b)) for a, b in ring] for _, ring in polygons]
    width, ddl, edge_rows = edge_columns(rings)
    if width <= _SQL_REFINE_MAX_WIDTH:
        edges = local_rows_df(
            spark, [(i, *e) for i, e in enumerate(edge_rows)],
            schema="poly_idx int" + ddl)
        return (
            joined.join(F.broadcast(edges), "poly_idx")
            .filter(F.expr(containment_sql(width, f"`{lat}`", f"`{lon}`")))
            .select(key, "poly_id")
        )

    @F.pandas_udf(BooleanType())
    def contains(lat_s: pd.Series, lon_s: pd.Series, pidx_s: pd.Series) -> pd.Series:
        la = lat_s.to_numpy(dtype=np.float64, na_value=np.nan)
        lo = lon_s.to_numpy(dtype=np.float64, na_value=np.nan)
        pidx = pidx_s.to_numpy(dtype=np.int32)
        keep = np.zeros(la.shape[0], dtype=bool)
        for i, ring in enumerate(rings):
            mask = pidx == i
            if mask.any():
                keep[mask] = _crossings(la[mask], lo[mask], ring) == 1
        return pd.Series(keep)

    return joined.filter(
        contains(F.col(lat), F.col(lon), F.col("poly_idx"))).select(key, "poly_id")


def knn_candidate_rows_cols(lat_d, lon_d, unit: int):
    """The provably sufficient kNN candidate window for k <= 4: the 4x4
    node block at lat offsets {-1, 0, +1, +2} x lon offsets
    {-1, 0, +1, +2} from the cell's SW corner.

    Sufficiency (squared-degree metric, lat step h, lon step w = 1.5h —
    the JGD cell is anisotropic): every cell corner satisfies
    d2 <= h^2 + w^2 = 3.25 h^2, while any node outside the window is at
    lat distance >= 2h (d2 >= 4 h^2) or lon distance >= 2w
    (d2 >= 9 h^2) — strictly farther than all four corners, so it can
    never enter the top-4.  Neighbor stepping mirrors
    node.rs:430-558 (next_south/next_west/...), including the None on
    digit under/overflow (here: an invalid-digits mask).
    """
    rows = [mesh.next_south(lat_d, unit), lat_d, mesh.next_north(lat_d, unit)]
    rows.append(mesh.next_north(rows[2], unit))
    cols = [mesh.next_west(lon_d, unit), lon_d, mesh.next_east(lon_d, unit)]
    cols.append(mesh.next_east(cols[2], unit))
    return rows, cols


def _lat_digits_valid(d) -> np.ndarray:
    """MeshCoord bounds after a carry/borrow (coord.rs:42, 72-75):
    first in 0..=99; second/third are kept in range by the carry."""
    f, _, _ = d
    return (f >= 0) & (f <= 99)


def _lon_digits_valid(d) -> np.ndarray:
    """MeshNode longitude invariant: <= (80, 0, 0) (node.rs:89-124)."""
    f, s, t = d
    return (f >= 0) & ((f < 80) | ((f == 80) & (s == 0) & (t == 0)))


def knn_topk_np(la: np.ndarray, lo: np.ndarray, unit: int, k: int):
    """Vectorized kNN core: (top_codes (n,k) int64, keep (n,k) bool).

    ``keep[i, j]`` is True when slot j of row i holds a real neighbor
    (the point is inside the mesh domain AND the candidate node's
    digits are valid).  Valid nodes always form a prefix of each row:
    invalid candidates get d2 = inf, strictly after every finite
    distance in the lexsort.  No per-row Python — the r06 optimization
    pass replaced the list-of-arrays return (one Python list object +
    Arrow list-writer cell per row) with these two fixed-width arrays
    (guide §4.2)."""
    lat_d, lon_d, valid = mesh.point_to_digits(la, lo, unit)
    rows, cols = knn_candidate_rows_cols(lat_d, lon_d, unit)
    n = la.shape[0]
    nr, nc = len(rows), len(cols)
    # candidate matrices written column-by-column into preallocated
    # arrays; per-axis terms computed once per row/col instead of per
    # combo (the meshcode digits are axis-separable:
    # (f1*100+f2)*10^4 + (s1*10+s2)*100 + (t1*10+t2)
    #   == [f1*10^6 + s1*10^3 + t1*10] + [f2*10^4 + s2*100 + t2],
    # exact integer arithmetic — values identical to
    # digits_to_meshcode; the old list+np.stack assembly recomputed
    # the lon terms 4x and doubled the allocation traffic)
    col_code = [c[0].astype(np.int64) * 10_000 + c[1] * 100 + c[2] for c in cols]
    col_ok = [_lon_digits_valid(c) for c in cols]
    col_dx = [lo - mesh.digits_to_lon(c) for c in cols]
    codes = np.empty((n, nr * nc), dtype=np.int64)
    node_ok = np.empty((n, nr * nc), dtype=bool)
    d2 = np.empty((n, nr * nc), dtype=np.float64)
    for i, r in enumerate(rows):
        r_code = r[0].astype(np.int64) * 1_000_000 + r[1] * 1_000 + r[2] * 10
        r_ok = _lat_digits_valid(r)
        dy = la - mesh.digits_to_lat(r)
        dy2 = dy * dy
        for j in range(nc):
            idx = i * nc + j
            codes[:, idx] = r_code + col_code[j]
            node_ok[:, idx] = r_ok & col_ok[j]
            d2[:, idx] = dy2 + col_dx[j] * col_dx[j]
    d2[~node_ok] = np.inf  # invalid nodes sort last
    order = np.lexsort((codes, d2), axis=-1)[:, :k]
    top = np.take_along_axis(codes, order, axis=1)
    top_ok = np.take_along_axis(node_ok, order, axis=1)
    return top, top_ok & valid[:, None]


def knn_codes_np(la: np.ndarray, lo: np.ndarray, unit: int, k: int):
    """Batch kNN kernel: ordered k-nearest node-code list per point
    (empty list for points outside the mesh domain).  Pure numpy —
    testable against an all-nodes brute force without Spark.  (The
    Spark operator ships the fixed-width knn_topk_np form instead;
    this list view is derived from the same arrays.)"""
    top, keep = knn_topk_np(la, lo, unit, k)
    return [row[ok_row] for row, ok_row in zip(top, keep)]


def knn_mesh_nodes(df: DataFrame, unit: int, k: int = 3,
                   key: str = "pkey", lat: str = "lat", lon: str = "lon") -> DataFrame:
    """k nearest existing mesh nodes per point -> (key, rank, node_code).

    Candidates are the 4x4 node window around the containing cell (see
    knn_candidate_rows_cols for the sufficiency proof — exact for
    k <= 4); nodes whose digits under/overflow the mesh domain are
    dropped, matching the reference's None-returning neighbors
    (node.rs:430-558).  Squared-degree distance, ties broken by
    meshcode.  Entirely batch-local: no shuffle, no window.
    """
    if k > 4:
        raise ValueError("knn_mesh_nodes supports k <= 4 (candidate window proof)")

    # pandas_udf emitting k fixed nullable-long columns (NULL = no
    # neighbor in that slot; valid slots are always a prefix — see
    # knn_topk_np) + JVM posexplode over the rebuilt array -> rank.
    # The r06 rewrite: the old ArrayType(LongType()) return built one
    # Python list object per row and paid the Arrow list writer;
    # these fixed-width columns stay vectorized end to end and the
    # (pos, code) expansion runs in codegen.  NULL slots explode to
    # NULL rows and are filtered JVM-side, so an out-of-domain point
    # still yields zero rows — identical output to the list form.
    out_schema = StructType([
        StructField(f"c{j}", LongType(), True) for j in range(k)
    ])

    @F.pandas_udf(out_schema)
    def knn_codes(lat_s: pd.Series, lon_s: pd.Series) -> pd.DataFrame:
        la = lat_s.to_numpy(dtype=np.float64, na_value=np.nan)
        lo = lon_s.to_numpy(dtype=np.float64, na_value=np.nan)
        top, keep = knn_topk_np(la, lo, unit, k)
        return pd.DataFrame({
            f"c{j}": pd.arrays.IntegerArray(top[:, j], mask=~keep[:, j])
            for j in range(k)
        })

    tmp = "_knn"
    while tmp in df.columns:
        tmp += "_"
    return (
        df.withColumn(tmp, knn_codes(F.col(lat), F.col(lon)))
        .select(key, F.posexplode(F.array(*[f"{tmp}.c{j}" for j in range(k)])))
        .filter(F.col("col").isNotNull())
        .select(key, (F.col("pos") + 1).cast("int").alias("rank"),
                F.col("col").alias("node_code"))
    )
