"""Driver-side plan-build time of the JVM-side point-in-polygon paths
(pytest-benchmark; not collected by the regular suite, whose files
match ``test_*.py``).

Each benchmark builds a DataFrame and runs no action, so it times only
the work the driver does before a job starts: Python-side expression
building, the py4j round trips, and Catalyst's eager analysis.

* ``bucketed_spatial_join`` — cover, salted candidate relation and the
  containment refine;
* ``SqlEngine.transform_pip`` — forward SQL, the persisted projection
  and the polygon join;
* ``local_rows_df`` alone on the salted candidate rows of the bucketed
  join (hot cells replicated over 16 salts).

Each runs at 6 and 47 concave 8-vertex polygons (48 and 376 edges)
tiled over a 34-36.5 N x 135-140.5 E region, with four hot cells.

    python -m pytest tests/bench_plan_build.py -p no:cacheprovider \\
        --benchmark-json=BENCH/plan_build.json
"""

from __future__ import annotations

import numpy as np
import pytest

from jgdtrans_rs_spark.grid import MeshGrid
from jgdtrans_rs_spark.localrel import local_rows_df
from jgdtrans_rs_spark.operators import spatial
from jgdtrans_rs_spark.plans.spark_sql import SqlEngine

from tests.conftest import SEMIDYNA

UNIT = 5
NUM_SALTS = 16
ROUNDS = 5


def _polygons(n: int) -> list:
    """n concave stars of 8 vertices (alternating radii), seeded."""
    rng = np.random.default_rng(7)
    cols = int(np.ceil(np.sqrt(n * 2.2)))
    rows = int(np.ceil(n / cols))
    th, tw = 2.5 / rows, 5.5 / cols
    out = []
    for k in range(n):
        cy, cx = 34.0 + (k // cols + 0.5) * th, 135.0 + (k % cols + 0.5) * tw
        ang = (np.arange(8) + rng.uniform(-0.3, 0.3, 8)) * (np.pi / 4)
        rad = np.where(np.arange(8) % 2 == 0, rng.uniform(0.8, 1.0, 8),
                       rng.uniform(0.4, 0.6, 8))
        out.append((f"pref_{k:02d}", [
            (float(cy + 0.45 * th * r * np.sin(t)), float(cx + 0.45 * tw * r * np.cos(t)))
            for r, t in zip(rad, ang)]))
    return out


def _hot_codes(polys) -> list[int]:
    """Four cover cells of the first polygon (its dense city cells)."""
    return sorted({c for c, _ in spatial.polygon_mesh_cover(polys[:1], UNIT)})[:4]


@pytest.fixture(scope="module")
def points(spark):
    return spark.range(1000).selectExpr(
        "id AS pkey", "34.0 + id * 0.0025 AS lat", "135.0 + id * 0.0055 AS lon",
        "0.0D AS alt", "CAST(53350000 + id AS BIGINT) AS meshcode")


@pytest.fixture(scope="module")
def sql_engine(spark):
    return SqlEngine(spark, MeshGrid.from_dict(SEMIDYNA, "SemiDynaEXE"))


def _run(benchmark, build):
    build()  # first-call class loading and analyzer warm-up
    benchmark.pedantic(build, rounds=ROUNDS, iterations=1, warmup_rounds=1)


@pytest.mark.parametrize("n_polygons", [6, 47])
def test_build_bucketed_spatial_join(benchmark, points, n_polygons):
    polys = _polygons(n_polygons)
    hot = _hot_codes(polys)
    _run(benchmark, lambda: spatial.bucketed_spatial_join(
        points, polys, UNIT, hot_codes=hot, num_salts=NUM_SALTS))


@pytest.mark.parametrize("n_polygons", [6, 47])
def test_build_transform_pip(benchmark, sql_engine, points, n_polygons):
    polys = _polygons(n_polygons)
    pts = points.select("pkey", "lat", "lon", "alt")
    _run(benchmark, lambda: sql_engine.transform_pip(pts, polys))


@pytest.mark.parametrize("n_polygons", [6, 47])
def test_build_salted_candidates(benchmark, spark, n_polygons):
    polys = _polygons(n_polygons)
    hot = set(_hot_codes(polys))
    idx = {pid: i for i, (pid, _) in enumerate(polys)}
    rows = [(c, idx[p], p, s)
            for c, p in spatial.polygon_mesh_cover(polys, UNIT)
            for s in (range(NUM_SALTS) if c in hot else (0,))]
    benchmark.extra_info["rows"] = len(rows)
    _run(benchmark, lambda: local_rows_df(
        spark, rows, schema="meshcode long, poly_idx int, poly_id string, _salt int"))
