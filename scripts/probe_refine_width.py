#!/usr/bin/env python
"""Crossover of bucketed_spatial_join's two exact refines by ring width:
the SQL edge-column predicate against the pandas_udf crossing kernel
(operators/spatial.py, _SQL_REFINE_MAX_WIDTH).

Star rings of W vertices (alternating radii, so every edge crosses some
latitude) tile a 0.4 x 0.6 degree box holding NPTS uniform points with
their unit-5 meshcodes, persisted.  For each N:W both refines run the
same build + toArrow, interleaved, after WARM untimed rounds; the
script asserts the two hit sets are equal and prints one JSON line with
the median tree CPU (driver + JVM + Python workers, JIT compiler threads
left out; repobench.measure.tree_cpu_s) and wall time of each.

Usage: python scripts/probe_refine_width.py 6:8,6:8,6:12,47:8,47:12 [reps]
       NPTS=200000 python scripts/probe_refine_width.py 6:8,47:16 5

The first spec of a session reads high even after the warm-up rounds
(6 rings x 8 edges read 1.12x, then 0.80x later in the same session),
so lead with a throw-away spec.
"""
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from jgdtrans_rs_spark import mesh
from jgdtrans_rs_spark.operators import spatial
from repobench.measure import tree_cpu_s

LA0, LA1, LO0, LO1 = 36.0, 36.4, 140.0, 140.6
# untimed rounds per N:W: the first spec otherwise pays the JVM's
# compilation of both refines
WARM = 3


def stars(n_rings: int, width: int, seed: int):
    r = np.random.default_rng(seed)
    cols = int(np.ceil(np.sqrt(n_rings * 1.5)))
    rows = int(np.ceil(n_rings / cols))
    th, tw = (LA1 - LA0) / rows, (LO1 - LO0) / cols
    out = []
    for k in range(n_rings):
        ti, tj = divmod(k, cols)
        cy, cx = LA0 + (ti + 0.5) * th, LO0 + (tj + 0.5) * tw
        ang = (np.arange(width) + r.uniform(-0.3, 0.3, width)) * (2 * np.pi / width)
        rad = np.where(np.arange(width) % 2 == 0, r.uniform(0.8, 1.0, width),
                       r.uniform(0.4, 0.6, width))
        out.append((f"p{k}", [(float(cy + 0.45 * th * a * np.sin(t)),
                               float(cx + 0.45 * tw * a * np.cos(t)))
                              for a, t in zip(rad, ang)]))
    return out


def main() -> None:
    specs = [tuple(map(int, s.split(":"))) for s in sys.argv[1].split(",")]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    work = tempfile.mkdtemp(prefix="probe_refine_width_")
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
             .config("spark.driver.memory", "1g")
             .config("spark.driver.extraJavaOptions",
                     "-Xms1g -XX:-UseDynamicNumberOfCompilerThreads")
             .config("spark.local.dir", f"{work}/local")
             .config("spark.sql.warehouse.dir", f"{work}/warehouse")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    rng = np.random.default_rng(7)
    n = int(os.environ.get("NPTS", 40000))
    lat = LA0 + rng.random(n) * (LA1 - LA0)
    lon = LO0 + rng.random(n) * (LO1 - LO0)
    latd, lond, _ = mesh.point_to_digits(lat, lon, 5)
    code = mesh.digits_to_meshcode(latd, lond).astype(np.int64)
    pts = spark.createDataFrame(pd.DataFrame(
        {"pkey": np.arange(n), "lat": lat, "lon": lon, "meshcode": code}
    )).repartition(2).persist()
    pts.count()

    def run(polys, path):
        spatial._SQL_REFINE_MAX_WIDTH = 10 ** 9 if path == "sql" else -1
        c0, _ = tree_cpu_s()
        w0 = time.perf_counter()
        t = spatial.bucketed_spatial_join(pts, polys, 5, hot_codes=[]).toArrow()
        w1 = time.perf_counter()
        c1, _ = tree_cpu_s()
        return c1 - c0, w1 - w0, set(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))

    for n_rings, w in specs:
        polys = stars(n_rings, w, n_rings * 1000 + w)
        width, _, _ = spatial.edge_columns([r for _, r in polys])
        res = {"sql": [], "pandas": []}
        hits = {}
        for i in range(WARM + reps):
            for path in (("sql", "pandas") if i % 2 == 0 else ("pandas", "sql")):
                cpu, wall, hits[path] = run(polys, path)
                if i >= WARM:
                    res[path].append((cpu, wall))
        assert hits["sql"] == hits["pandas"], (n_rings, w)
        out = {"rings": n_rings, "width": width, "points": n, "hits": len(hits["sql"])}
        for path, v in res.items():
            out[f"{path}_cpu_s"] = round(float(np.median([c for c, _ in v])), 3)
            out[f"{path}_wall_s"] = round(float(np.median([s for _, s in v])), 3)
        out["sql_over_pandas_cpu"] = round(out["sql_cpu_s"] / out["pandas_cpu_s"], 2)
        print(json.dumps(out), flush=True)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
