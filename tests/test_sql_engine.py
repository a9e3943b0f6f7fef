"""The JVM-only SQL engine variant must be bit-identical to the Arrow
kernel path on fixture inputs, and its plan must be pure codegen:
broadcast joins for the grid probe, no Python stage."""

import numpy as np
import pytest

from jgdtrans_rs_spark.engine import Engine
from jgdtrans_rs_spark.plans import oracle
from jgdtrans_rs_spark.plans.spark_sql import SqlEngine

from tests.conftest import SF_TINY


@pytest.fixture(scope="module")
def engines(spark, semidyna_grid):
    return Engine(spark, semidyna_grid), SqlEngine(spark, semidyna_grid)


@pytest.fixture(scope="module")
def pts(spark):
    spark.read.parquet(f"{SF_TINY}/orders.parquet").createOrReplaceTempView("orders")
    return spark.sql(oracle.points_sql("orders")).persist()


def _masked(df, cols):
    """NaN (kernel) vs NULL (SQL) for non-OK lanes -> align on status."""
    pdf = df.toPandas().sort_values("pkey").reset_index(drop=True)
    bad = pdf["status"] != 0
    for c in cols:
        pdf.loc[bad, c] = np.nan
    return pdf


@pytest.mark.parametrize("op,cols", [
    ("forward", ("out_lat", "out_lon", "out_alt")),
    ("backward_compat", ("out_lat", "out_lon", "out_alt")),
    ("backward", ("out_lat", "out_lon", "out_alt")),
])
def test_sql_engine_bit_identical_to_kernel(engines, pts, op, cols):
    eng, sql_eng = engines
    a = _masked(getattr(eng, op)(pts, "lat", "lon", "alt")
                .select("pkey", *cols, "status", "err_meshcode", "err_corner"), cols)
    b = _masked(getattr(sql_eng, op)(pts), cols)
    assert len(a) == len(b) and len(a) > 0
    for c in ["pkey", *cols, "status", "err_meshcode", "err_corner"]:
        x = a[c].to_numpy()
        y = b[c].to_numpy()
        if x.dtype.kind == "f":
            y = y.astype(np.float64)
            nx, ny = np.isnan(x), np.isnan(y)
            assert (nx == ny).all(), (op, c)
            assert (x[~nx] == y[~ny]).all(), (op, c)  # bit-exact
        else:
            assert (x == y.astype(x.dtype)).all(), (op, c)


def test_sql_engine_tiles_match_kernel(engines, pts):
    eng, sql_eng = engines
    a = eng.assign_tiles(pts).select("pkey", "meshcode", "quadkey") \
        .toPandas().sort_values("pkey").reset_index(drop=True)
    b = sql_eng.assign_tiles(pts).toPandas().sort_values("pkey").reset_index(drop=True)
    assert (a["meshcode"].to_numpy() == b["meshcode"].to_numpy()).all()
    assert (a["quadkey"].to_numpy() == b["quadkey"].to_numpy()).all()


def test_sql_engine_plan_is_jvm_only(engines, pts):
    """No Python/Arrow stage anywhere; grid probes are broadcast-hash
    joins (no shuffle exchange in the forward transform)."""
    _, sql_eng = engines
    plan = sql_eng.forward(pts)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "PythonUDF" not in plan
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning" not in plan  # no shuffle exchange


def test_transform_pip_jvm_only_and_matches_arrow_chain(engines, pts):
    """The fused SQL transform+PIP must carry no Python stage, and its
    hit set must equal the Arrow engine's broadcast PIP over the same
    transformed points."""
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F
    from jgdtrans_rs_spark.operators import spatial

    eng, sql_eng = engines
    out = sql_eng.transform_pip(pts, entry_mod.POLYGONS)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "PythonUDF" not in plan
    got = {(r.pkey, r.poly_id) for r in out.collect()}

    fwd = eng.forward(pts, "lat", "lon", None).filter(F.col("status") == 0)
    want = {(r.pkey, r.poly_id) for r in spatial.point_in_polygon(
        fwd, entry_mod.POLYGONS, lat="out_lat", lon="out_lon").collect()}
    assert got == want and len(got) > 0


def test_forward_normalizes_output_across_lon_wrap(spark):
    """Point + Correction is a WRAPPING add (point.rs:90-151): a cell
    at the lon-180 edge with a +0.02 deg correction must come out at
    -179.99..., not 180.01 — in the Arrow kernel AND the SQL twin,
    bit-identically (the SQL twins run every output add through
    oracle.norm_lat_expr/norm_lon_expr)."""
    from jgdtrans_rs_spark.grid import MeshGrid

    # unit-one cell whose east corners sit exactly on the (80,0,0)
    # maximum node; dlon = +72 sec = +0.02 deg pushes points past 180
    grid = MeshGrid.from_dict({
        54791729: (0.0, 72.0, 0.0), 54801020: (0.0, 72.0, 0.0),
        54791739: (0.0, 72.0, 0.0), 54801030: (0.0, 72.0, 0.0),
    }, "TKY2JGD")
    eng, sql_eng = Engine(spark, grid), SqlEngine(spark, grid)
    df = spark.createDataFrame(
        [(1, 36.1, 179.99, 0.0)], "pkey long, lat double, lon double, alt double")
    k = eng.forward(df).collect()[0]
    s = sql_eng.forward(df).collect()[0]
    assert k.status == 0 and s.status == 0
    assert k.out_lon < -179.9  # wrapped, not 180.01
    assert s.out_lon == k.out_lon and s.out_lat == k.out_lat  # bit-exact


def _grid_polygons(n):
    """n small concave (L-shaped) polygons tiled over the SemiDynaEXE
    cell — six vertices each, ids unique."""
    out = []
    for i in range(n):
        la = 36.0835 + (i // 10) * 0.0065
        lo = 140.0627 + (i % 10) * 0.0062
        out.append((f"syn_{i:03d}", [
            (la, lo), (la, lo + 0.005), (la + 0.002, lo + 0.005),
            (la + 0.002, lo + 0.002), (la + 0.006, lo + 0.002), (la + 0.006, lo)]))
    return out


def _executed_nodes(df):
    """Node names of the executed physical plan, through the adaptive
    and query-stage wrappers; a cached relation's own plan is not
    descended into (it is not part of this query)."""
    df.collect()  # so the adaptive plan is final
    names, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        names.append(p.nodeName())
        if names[-1] == "AdaptiveSparkPlan":
            stack.append(p.executedPlan())
            continue
        kids = p.children()
        stack.extend(kids.apply(i) for i in range(kids.length()))
        if names[-1].endswith("QueryStage"):
            stack.append(p.plan())
    return names


def test_transform_pip_plan_is_flat_in_polygon_count(engines, pts):
    """One broadcast nested-loop join against an N-row polygon relation:
    the executed plan has the same nodes at 4 and at 60 polygons, no
    Union (the old per-polygon branches), and still reads the persisted
    (key, lat, lon) projection — without it Catalyst inlines the
    transform into every lat/lon of the join condition."""
    _, sql_eng = engines
    shapes = {}
    for n in (4, 60):
        out = sql_eng.transform_pip(pts, _grid_polygons(n))
        names = _executed_nodes(out)
        assert "Union" not in names
        assert names.count("BroadcastNestedLoopJoin") == 1
        assert "InMemoryTableScan" in names
        assert "InMemoryRelation" in out._jdf.queryExecution().executedPlan().toString()
        shapes[n] = sorted(names)
    assert shapes[4] == shapes[60]
