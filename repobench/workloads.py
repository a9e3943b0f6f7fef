"""The benchmark workloads: seeded inputs, set-up, timed ops, output
checks and (traced runs only) direct per-layer probes.

The library is reached only through public calls: ``Engine.from_par``,
``transform_and_tile``, ``roundtrip_verify``, ``transform_tile_pip``,
``poly_mask_rows``, ``validate``, ``sources.pages.extract_geotags``,
``sources.sink.run_checkpointed``, ``operators.spatial``,
``operators.dedup``, ``plans.spark_sql.SqlEngine`` and the numpy
kernels in ``kernel``, ``mesh`` and ``grid``.
"""

from __future__ import annotations

import glob
import os
import pickle
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

from . import gen
from .trace import Tracer

BATCH = 65_536  # rows per direct kernel call (the engine's Arrow batch size)
PROBE_REPS = 5  # calls per direct kernel probe; the median is kept
N_DOCS = 1500  # documents in the dedup probe's corpus


@dataclass
class Ctx:
    """What a workload needs from the run: paths, seed, session, tracer."""

    work: str
    seed: int
    traced: bool
    tracer: Tracer
    slots: int
    spark: Any = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def label(self, pass_no: int, op: str) -> None:
        """Tag the Spark jobs of the next op (traced runs only), so the
        event log can be reduced per op."""
        if self.traced:
            self.spark.sparkContext.setLocalProperty(
                "spark.job.description", f"rb:{pass_no}:{op}")


@dataclass
class Op:
    name: str
    run: Callable[[int], dict]                       # pass -> result
    before: Callable[[int], None] | None = None      # untimed preparation
    check: Callable[[int, dict], str | None] | None = None  # untimed; error or None


@dataclass
class Workload:
    ctx: Ctx
    rows: int = 0                       # input rows of one pass
    ops: list[Op] = field(default_factory=list)

    def noop(self, df) -> None:
        with self.ctx.tracer.span("action"):
            df.write.format("noop").mode("overwrite").save()


def _time_per_row(fn, n_rows: int) -> float:
    """Median ns per row of ``fn()`` over PROBE_REPS calls."""
    ts = []
    for _ in range(PROBE_REPS):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return float(np.median(ts)) / n_rows * 1e9


def kernel_probes(grid, lat: np.ndarray, lon: np.ndarray, tracer: Tracer) -> dict:
    """Direct numpy kernel calls (no Spark) on one BATCH of the
    workload's own coordinates and grid."""
    from jgdtrans_rs_spark import kernel, mesh
    from jgdtrans_rs_spark.operators import spatial

    reps = -(-BATCH // lat.shape[0])
    la = np.tile(lat, reps)[:BATCH]
    lo = np.tile(lon, reps)[:BATCH]
    al = np.zeros(BATCH)
    unit = grid.mesh_unit
    fla, flo, _, _ = kernel.forward(la, lo, al, grid)
    latd, lond, _ = mesh.point_to_digits(la, lo, unit)
    codes = mesh.digits_to_meshcode(latd, lond)
    out = {}
    with tracer.span("kernel", layer="kernel"):
        out["kernel.forward_ns_per_row"] = _time_per_row(
            lambda: kernel.forward(la, lo, al, grid), BATCH)
        out["kernel.backward_ns_per_row"] = _time_per_row(
            lambda: kernel.backward(fla, flo, al, grid), BATCH)
    with tracer.span("kernel", layer="mesh"):
        out["mesh.point_to_digits_ns_per_row"] = _time_per_row(
            lambda: mesh.point_to_digits(la, lo, unit), BATCH)
        out["mesh.quadkey_ns_per_row"] = _time_per_row(
            lambda: mesh.quadkey(la, lo, 15), BATCH)
    with tracer.span("kernel", layer="grid"):
        out["grid.lookup_ns_per_row"] = _time_per_row(lambda: grid.lookup(codes), BATCH)
    with tracer.span("kernel", layer="operators.spatial"):
        out["spatial.knn_ns_per_row"] = _time_per_row(
            lambda: spatial.knn_topk_np(la, lo, unit, 3), BATCH)
    return out


def grid_probes(par_path: str, tracer: Tracer) -> dict:
    """Parse time, node count and broadcast payload of the workload's grid."""
    from jgdtrans_rs_spark.grid import load_par

    ts = []
    for _ in range(3):
        with tracer.span("kernel", layer="grid.parse"):
            t = time.perf_counter()
            grid = load_par(par_path, "SemiDynaEXE")
            ts.append(time.perf_counter() - t)
    return {
        "grid.parse_s": float(np.median(ts)),
        "grid.nodes": len(grid),
        "grid.broadcast_bytes": len(pickle.dumps(grid, protocol=pickle.HIGHEST_PROTOCOL)),
    }


def dedup_probes(ctx: Ctx) -> dict:
    """MinHash LSH pairs and connected components over a seeded corpus of
    N_DOCS documents with near-duplicate families (operators.dedup, noop
    sink)."""
    from jgdtrans_rs_spark.operators import dedup

    spark, tr = ctx.spark, ctx.tracer
    rng = np.random.default_rng([ctx.seed, 7])
    path = ctx.path("inputs", "documents")
    gen.write_split(gen.documents(rng, N_DOCS), path, 2, N_DOCS)
    spark.read.parquet(path).createOrReplaceTempView("rb_documents")
    out = {}
    ctx.label(-1, "minhash")
    with tr.span("op", op="dedup.minhash"):
        t = time.perf_counter()
        with tr.span("build"):
            pairs = dedup.minhash_lsh_pairs(spark, docs="rb_documents")
        with tr.span("action"):
            n_pairs = pairs.count()
        out["dedup.minhash_s"] = time.perf_counter() - t
    out["_minhash_pairs"] = n_pairs
    ctx.label(-1, "components")
    with tr.span("op", op="dedup.components"):
        t = time.perf_counter()
        with tr.span("build"):
            sim = dedup.simhash_pairs(spark, docs="rb_documents")
            nodes = spark.table("rb_documents").select("doc_id")
            comps = dedup.dedup_components(sim, nodes)
        with tr.span("action"):
            comps.write.format("noop").mode("overwrite").save()
        out["dedup.components_s"] = time.perf_counter() - t
    return out


def status_metrics(counts: dict[int, int], inexact: int) -> dict:
    """Kernel status histogram (0 OK, 1 OutOfBounds, 2 ParameterNotFound,
    3 CorrectionNotFound) under the per-layer names."""
    return {"status.ok": counts.get(0, 0), "status.out_of_bounds": counts.get(1, 0),
            "status.param_not_found": counts.get(2, 0),
            "status.corr_not_found": counts.get(3, 0), "status.roundtrip_inexact": inexact}


def newton_sql_probe(ctx: Ctx, grid, lat: np.ndarray, lon: np.ndarray) -> dict:
    """Cold planning of the SQL Newton inverse (SqlEngine.backward) over
    a 2,000-point sample of the workload's points, on the workload's
    grid: DataFrame build plus analysis, optimization and physical
    planning of the result.  Building the SqlEngine (its grid view) is
    not part of the figure."""
    import pandas as pd

    from jgdtrans_rs_spark.plans.spark_sql import SqlEngine

    spark = ctx.spark
    n = min(2000, lat.shape[0])
    sample = spark.createDataFrame(pd.DataFrame({
        "pkey": np.arange(n, dtype=np.int64), "lat": lat[:n], "lon": lon[:n],
        "alt": np.zeros(n)}))
    engine = SqlEngine(spark, grid)
    ctx.label(-1, "newton_sql")
    with ctx.tracer.span("op", op="plans.newton_sql"):
        t = time.perf_counter()
        with ctx.tracer.span("build"):
            df = engine.backward(sample)
        df._jdf.queryExecution().executedPlan()
        return {"plans.newton_sql_plan_s": time.perf_counter() - t}


# -- nationwide_ingest ------------------------------------------------------


class NationwideIngest(Workload):
    """Pages -> geotags -> validate -> forward + tile -> checkpointed sink,
    over a ~2e5-node SemiDynaEXE grid with sea holes."""

    N_PAGES = 20_000
    N_FILES = 4
    N_GROUPS = 16

    def generate(self) -> None:
        ctx = self.ctx
        rng = np.random.default_rng([ctx.seed, 1])
        self.lattice = gen.nationwide_lattice(rng)
        self.par_path = ctx.path("inputs", "nationwide.par")
        os.makedirs(os.path.dirname(self.par_path), exist_ok=True)
        with open(self.par_path, "w", encoding="utf-8") as f:
            f.write(gen.par_text(rng, self.lattice))
        self.pages = gen.pages(rng, self.lattice, self.N_PAGES, ctx.seed)
        self.pages_path = ctx.path("inputs", "pages")
        gen.write_pages(self.pages, self.pages_path, self.N_FILES)
        cls = self.pages["cls"]
        self.expected = {s: int((cls == s).sum()) for s in (gen.OK, gen.OUT_OF_BOUNDS,
                                                            gen.PARAM_NOT_FOUND)}
        self.n_valid = sum(self.expected.values())
        self.rows = self.N_PAGES
        self.manifests: dict[int, list[dict]] = {}
        self.deleted: dict[int, set[int]] = {}
        self.ops = [
            Op("ingest", self.ingest, before=self.clear_old, check=self.check_ingest),
            Op("resume", self.resume, before=self.drop_manifests, check=self.check_resume),
            Op("roundtrip", self.roundtrip),
        ]

    def setup(self) -> None:
        from jgdtrans_rs_spark.engine import Engine

        self.engine = Engine.from_par(self.ctx.spark, self.par_path, "SemiDynaEXE")

    def out_dir(self, p: int) -> str:
        return self.ctx.path("sink", f"pass{p}")

    def valid_geotags(self):
        from jgdtrans_rs_spark.sources import pages

        raw = self.ctx.spark.read.parquet(self.pages_path)
        valid, _ = self.engine.validate(pages.extract_geotags(raw))
        return valid

    def tiled(self):
        with self.ctx.tracer.span("build"):
            return self.engine.transform_and_tile(
                self.valid_geotags(), alt=None,
                fields=["out_lat", "out_lon", "status", "meshcode"])

    def clear_old(self, p: int) -> None:
        shutil.rmtree(self.out_dir(p - 2), ignore_errors=True)  # keep the disk bounded

    def ingest(self, p: int) -> dict:
        from jgdtrans_rs_spark.sources import sink

        df = self.tiled()
        with self.ctx.tracer.span("action"):
            t = time.perf_counter()
            self.manifests[p] = sink.run_checkpointed(df, self.out_dir(p), n_groups=self.N_GROUPS)
        return {"sink_s": time.perf_counter() - t}

    def drop_manifests(self, p: int) -> None:
        rng = np.random.default_rng([self.ctx.seed, 2, p])
        drop = set(rng.choice(self.N_GROUPS, self.N_GROUPS // 2, replace=False).tolist())
        for g in drop:
            os.remove(os.path.join(self.out_dir(p), "_manifest", f"part-{g}.json"))
        self.deleted[p] = drop

    def resume(self, p: int) -> dict:
        from jgdtrans_rs_spark.sources import sink

        df = self.tiled()
        with self.ctx.tracer.span("action"):
            rewritten = sink.run_checkpointed(df, self.out_dir(p), n_groups=self.N_GROUPS)
        return {"manifests": rewritten}

    def roundtrip(self, p: int) -> dict:
        with self.ctx.tracer.span("build"):
            df = self.engine.roundtrip_verify(self.valid_geotags(), alt=None).select(
                "url", "roundtrip_exact", "status")
        self.noop(df)
        return {}

    def check_ingest(self, p: int, res: dict) -> str | None:
        ms = self.manifests[p]
        n_rows = sum(m["n_rows"] for m in ms)
        if n_rows != self.n_valid:
            return f"manifests hold {n_rows} rows, validated {self.n_valid}"
        hist: dict[int, int] = {}
        for m in ms:
            for s, c in m["status_counts"].items():
                hist[int(s)] = hist.get(int(s), 0) + c
        want = {s: c for s, c in self.expected.items() if c}
        if hist != want:
            return f"status histogram {hist} != expected {want}"
        return None

    def check_resume(self, p: int, res: dict) -> str | None:
        got = {m["bucket_group"]: m["n_rows"] for m in res["manifests"]}
        if set(got) != self.deleted[p]:
            return f"resume rewrote groups {sorted(got)}, deleted {sorted(self.deleted[p])}"
        before = {m["bucket_group"]: m["n_rows"] for m in self.manifests[p]}
        bad = [g for g in got if got[g] != before[g]]
        return f"resumed groups {bad} changed row counts" if bad else None

    def deep_checks(self, p: int) -> dict[str, str | None]:
        """Per-url checks on the last timed pass's sink output, and the
        round-trip verdict over every validated row."""
        import pyarrow.dataset as ds

        self.last_pass = p
        errors: dict[str, str | None] = {"ingest": None}
        data = ds.dataset(os.path.join(self.out_dir(p), "data"), format="parquet",
                          partitioning="hive").to_table(columns=["url", "text", "status"])
        idx = np.array([int(u[-9:]) for u in data.column("url").to_pylist()])
        texts = data.column("text").to_pylist()
        mism = sum(1 for i, t in zip(idx.tolist(), texts) if t != self.pages["text"][i])
        self.text_mismatch = mism
        status = data.column("status").to_numpy()
        wrong = int((status != self.pages["cls"][idx]).sum())
        if data.num_rows != self.n_valid or len(set(idx.tolist())) != self.n_valid:
            errors["ingest"] = f"sink holds {data.num_rows} rows for {self.n_valid} valid urls"
        elif mism or wrong:
            errors["ingest"] = f"{mism} text mismatches, {wrong} status mismatches"
        errors["roundtrip"] = self.check_roundtrip()
        return errors

    def check_roundtrip(self) -> str | None:
        """Per url: the round-trip status equals the generated class, and
        the ``roundtrip_exact`` verdict equals a direct kernel round trip.
        A status-0 row may miss bit-exactness only within the Newton
        inverse's stated residual (``kernel.MAX_ERROR``, degrees); such
        rows are counted in ``status.roundtrip_inexact``."""
        from jgdtrans_rs_spark import kernel

        t = self.engine.roundtrip_verify(self.valid_geotags(), alt=None).select(
            "url", "roundtrip_exact", "status").toArrow()
        idx = np.array([int(u[-9:]) for u in t.column("url").to_pylist()])
        status = t.column("status").to_numpy()
        exact = np.asarray(t.column("roundtrip_exact").to_pylist(), dtype=bool)
        self.status_counts = {int(s): int(c) for s, c in zip(*np.unique(status, return_counts=True))}
        if t.num_rows != self.n_valid or len(set(idx.tolist())) != self.n_valid:
            return f"round trip returned {t.num_rows} rows for {self.n_valid} valid urls"
        wrong = int((status != self.pages["cls"][idx]).sum())
        if wrong:
            return f"{wrong} round-trip statuses differ from the generated classes"
        ok = status == 0
        la, lo = self.pages["lat"][idx[ok]], self.pages["lon"][idx[ok]]
        zero = np.zeros(la.size)
        f_la, f_lo, _, _ = kernel.forward(la, lo, zero, self.engine.grid)
        b_la, b_lo, _, _ = kernel.backward(f_la, f_lo, zero, self.engine.grid)
        want = (b_la == la) & (b_lo == lo)
        if (exact[ok] != want).any():
            return f"{int((exact[ok] != want).sum())} roundtrip_exact verdicts differ from the kernels"
        self.inexact = int((~want).sum())
        err = np.maximum(np.abs(b_la - la), np.abs(b_lo - lo))
        if (err >= kernel.MAX_ERROR).any():
            return f"{int((err >= kernel.MAX_ERROR).sum())} ok rows round-trip beyond MAX_ERROR"
        return None

    def layer_probes(self) -> dict:
        from jgdtrans_rs_spark.sources import pages

        ctx = self.ctx
        ok = self.pages["cls"] == gen.OK
        lat, lon = self.pages["lat"][ok], self.pages["lon"][ok]
        out = kernel_probes(self.engine.grid, lat, lon, ctx.tracer)
        out.update(grid_probes(self.par_path, ctx.tracer))
        # extract + validate alone, noop sink
        ts = []
        for _ in range(3):
            ctx.label(-1, "extract")
            with ctx.tracer.span("op", op="pages.extract"):
                t = time.perf_counter()
                raw = ctx.spark.read.parquet(self.pages_path)
                valid, _ = self.engine.validate(pages.extract_geotags(raw))
                valid.write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t)
        out["pages.extract_s"] = float(np.median(ts))
        out["pages.text_mismatch_rows"] = self.text_mismatch
        files = glob.glob(os.path.join(self.out_dir(self.last_pass), "data", "*", "*.parquet"))
        out["sink.files_written"] = len(files)
        out["sink.bytes_per_row"] = sum(os.path.getsize(f) for f in files) / self.n_valid
        out.update(status_metrics(self.status_counts, self.inexact))
        out.update({"spatial.cover_rows": 0, "spatial.cover_s": 0.0,
                    "spatial.candidate_rows": 0, "spatial.hit_rows": 0,
                    "spatial.hit_ratio": 0.0})
        out.update(newton_sql_probe(ctx, self.engine.grid, lat, lon))
        out.update(dedup_probes(ctx))
        return out


# -- prefecture_join --------------------------------------------------------


class PrefectureJoin(Workload):
    """Forward transform + point-in-polygon join of skewed points against
    6 concave prefectures on a regional grid that fits in L2: the
    broadcast-mask, salted and pure-SQL paths, plus kNN."""

    N_POINTS = 40_000
    N_FILES = 4

    def generate(self) -> None:
        ctx = self.ctx
        rng = np.random.default_rng([ctx.seed, 3])
        self.lattice = gen.regional_lattice()
        self.par_path = ctx.path("inputs", "regional.par")
        os.makedirs(os.path.dirname(self.par_path), exist_ok=True)
        with open(self.par_path, "w", encoding="utf-8") as f:
            f.write(gen.par_text(rng, self.lattice))
        self.pts = gen.points(rng, self.lattice, self.N_POINTS)
        self.polygons = gen.polygons(rng, self.lattice)
        self.hot_codes = [int(gen.meshcode(self.lattice.a0 + i * gen.STEP,
                                           self.lattice.b0 + j * gen.STEP))
                          for i, j in gen.hot_cells(self.lattice)]
        import pyarrow as pa

        self.points_path = ctx.path("inputs", "points")
        table = pa.table({"pkey": self.pts["pkey"], "lat": self.pts["lat"],
                          "lon": self.pts["lon"], "alt": np.zeros(self.N_POINTS)})
        gen.write_split(table, self.points_path, self.N_FILES, self.N_POINTS)
        self.rows = self.N_POINTS
        self.reference: dict[int, set] = {}
        self.ops = [
            Op("pip_broadcast", self.pip_broadcast, check=self.check_broadcast),
            Op("pip_salted", self.pip_salted, check=self.check_same),
            Op("pip_sql", self.pip_sql, check=self.check_same),
            Op("knn", self.knn),
        ]

    def setup(self) -> None:
        from jgdtrans_rs_spark.engine import Engine
        from jgdtrans_rs_spark.plans.spark_sql import SqlEngine

        spark = self.ctx.spark
        self.engine = Engine.from_par(spark, self.par_path, "SemiDynaEXE")
        self.sql = SqlEngine(spark, self.engine.grid)
        self.points_df = spark.read.parquet(self.points_path)

    def broadcast_df(self):
        from jgdtrans_rs_spark.engine import Engine

        with self.ctx.tracer.span("build"):
            masked = self.engine.transform_tile_pip(
                self.points_df, self.polygons, alt=None, fields=["poly_mask"])
            return Engine.poly_mask_rows(masked, self.polygons, how="inner").select(
                "pkey", "poly_id")

    def salted_df(self):
        from pyspark.sql import functions as F

        from jgdtrans_rs_spark.operators import spatial

        with self.ctx.tracer.span("build"):
            tiled = self.engine.transform_and_tile(
                self.points_df, alt=None,
                fields=["out_lat", "out_lon", "status", "meshcode"]).filter(F.col("status") == 0)
            return spatial.bucketed_spatial_join(
                tiled, self.polygons, self.engine.grid.mesh_unit,
                lat="out_lat", lon="out_lon", hot_codes=self.hot_codes)

    def sql_df(self):
        with self.ctx.tracer.span("build"):
            return self.sql.transform_pip(self.points_df, self.polygons)

    def knn_df(self):
        from jgdtrans_rs_spark.operators import spatial

        with self.ctx.tracer.span("build"):
            return spatial.knn_mesh_nodes(self.points_df, self.engine.grid.mesh_unit, k=3)

    def _pairs_op(self, build) -> dict:
        """Run a PIP path and fetch its (pkey, poly_id) pairs."""
        df = build()
        with self.ctx.tracer.span("action"):
            t = df.toArrow()
        return {"pairs": set(zip(t.column("pkey").to_pylist(),
                                           t.column("poly_id").to_pylist())),
                "rows": t.num_rows}

    def pip_broadcast(self, p: int) -> dict:
        return self._pairs_op(self.broadcast_df)

    def pip_salted(self, p: int) -> dict:
        return self._pairs_op(self.salted_df)

    def pip_sql(self, p: int) -> dict:
        return self._pairs_op(self.sql_df)

    def knn(self, p: int) -> dict:
        self.noop(self.knn_df())
        return {}

    def expected_sample(self) -> None:
        """Pairs of a seeded 2,000-point sample by an independent
        crossing-number test on the forward-transformed coordinates."""
        from jgdtrans_rs_spark import kernel

        rng = np.random.default_rng([self.ctx.seed, 4])
        self.sample = np.sort(rng.choice(self.N_POINTS, 2000, replace=False))
        la, lo = self.pts["lat"][self.sample], self.pts["lon"][self.sample]
        fla, flo, _, res = kernel.forward(la, lo, np.zeros(self.sample.size), self.engine.grid)
        self.want_sample = set()
        for pid, ring in self.polygons:
            hit = gen.crossing_inside(fla, flo, ring) & (res.status == 0)
            self.want_sample |= {(int(k), pid) for k in self.sample[hit]}

    def check_broadcast(self, p: int, res: dict) -> str | None:
        if not hasattr(self, "want_sample"):
            self.expected_sample()
        if len(res["pairs"]) != res["rows"]:
            return f"{res['rows'] - len(res['pairs'])} duplicate pairs"
        keys = set(self.sample.tolist())
        got = {kp for kp in res["pairs"] if kp[0] in keys}
        if got != self.want_sample:
            return f"sample: {len(got ^ self.want_sample)} pairs differ from the crossing-number check"
        self.reference[p] = res["pairs"]
        return None

    def check_same(self, p: int, res: dict) -> str | None:
        if len(res["pairs"]) != res["rows"]:
            return f"{res['rows'] - len(res['pairs'])} duplicate pairs"
        ref = self.reference.get(p)
        if ref is None:
            return "no verified broadcast-path result in this pass to compare with"
        diff = len(res["pairs"] ^ ref)
        return f"{diff} pairs differ from the broadcast path" if diff else None

    def deep_checks(self, p: int) -> dict[str, str | None]:
        """kNN on the seeded sample matches knn_codes_np; forward status
        counts over all points (direct kernel call)."""
        from jgdtrans_rs_spark import kernel
        from jgdtrans_rs_spark.operators import spatial

        self.hit_rows = len(self.reference.get(p, ()))
        sample = self.sample
        la, lo = self.pts["lat"][sample], self.pts["lon"][sample]
        rows = self.knn_df().filter(f"pkey IN ({','.join(map(str, sample.tolist()))})").collect()
        got: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["pkey"], r["rank"])):
            got.setdefault(int(r["pkey"]), []).append(int(r["node_code"]))
        want = spatial.knn_codes_np(la, lo, self.engine.grid.mesh_unit, 3)
        bad = sum(1 for k, w in zip(sample.tolist(), want) if got.get(k, []) != [int(c) for c in w])
        res = kernel.forward(self.pts["lat"], self.pts["lon"], np.zeros(self.N_POINTS),
                             self.engine.grid)[3]
        self.status_counts = {int(s): int(c) for s, c in zip(*np.unique(res.status, return_counts=True))}
        return {"knn": f"{bad} of {sample.size} sampled points differ from knn_codes_np" if bad else None}

    def layer_probes(self) -> dict:
        from collections import Counter

        from jgdtrans_rs_spark import kernel, mesh
        from jgdtrans_rs_spark.operators import spatial

        ctx = self.ctx
        grid, unit = self.engine.grid, self.engine.grid.mesh_unit
        out = kernel_probes(grid, self.pts["lat"], self.pts["lon"], ctx.tracer)
        out.update(grid_probes(self.par_path, ctx.tracer))
        ts = []
        for _ in range(3):
            with ctx.tracer.span("kernel", layer="operators.spatial.cover"):
                t = time.perf_counter()
                cover = spatial.polygon_mesh_cover(self.polygons, unit)
                ts.append(time.perf_counter() - t)
        # the salted join fuses the containment test into its join
        # condition, so its SQL metrics count hits, not candidates:
        # candidates = (point, cover row) pairs sharing the point's
        # forward-transformed meshcode
        fla, flo, _, _ = kernel.forward(self.pts["lat"], self.pts["lon"],
                                        np.zeros(self.N_POINTS), grid)
        latd, lond, ok = mesh.point_to_digits(fla, flo, unit)
        per_code = Counter(c for c, _ in cover)
        codes = mesh.digits_to_meshcode(latd, lond)[ok]
        cand = sum(per_code.get(int(c), 0) for c in codes.tolist())
        out.update({
            "spatial.cover_rows": len(cover),
            "spatial.cover_s": float(np.median(ts)),
            "spatial.candidate_rows": cand,
            "spatial.hit_rows": self.hit_rows,
            "spatial.hit_ratio": self.hit_rows / cand if cand else 0.0,
            "pages.extract_s": 0.0,
            "pages.text_mismatch_rows": 0,
            "sink.files_written": 0,
            "sink.bytes_per_row": 0.0,
        })
        out.update(status_metrics(self.status_counts, 0))
        out.update(newton_sql_probe(ctx, grid, self.pts["lat"], self.pts["lon"]))
        out.update(dedup_probes(ctx))
        return out


WORKLOADS = {"nationwide_ingest": NationwideIngest, "prefecture_join": PrefectureJoin}
