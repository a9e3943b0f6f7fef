"""Repository benchmark: one workload, one seed, one fresh JVM per run.

    python3 repobench/run.py --workload nationwide_ingest --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``).  Load shape: one Spark driver, closed loop, one op at a time,
on ``local[2]``.  See repobench/README.md for the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SLOTS = 2
# set-ups per run: the first is the cold one (JVM launch, first calls);
# setup_s is the median of the rest
SETUP_REPS = 3
# the cold pass plus three: the JIT compiler is still draining the cold
# pass's backlog after that, and with one fewer the CPU of the timed
# passes was still falling by ~5% a pass
WARM_PASSES = 4
MIN_TIMED = 3
HARD_STOP_S = 150.0  # no new pass starts after this much wall time


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def make_spark(work: str, traced: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{SLOTS}]")
        .appName("repobench")
        .config("spark.sql.shuffle.partitions", str(2 * SLOTS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # a fixed, pre-touched heap: the JVM's share of peak_pss_mb does
        # not depend on when its collector ran.  JIT compiler threads that
        # live as long as the JVM: measure.tree_cpu_s leaves their work out
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions",
                "-Xms1g -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads")
        .config("spark.local.dir", f"{work}/local")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if traced:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{work}/eventlog")
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, jvm: bool = True) -> None:
    """Stop the session, and with ``jvm`` its JVM (the gateway process
    is ours); without, the next session reuses the running JVM."""
    from pyspark import SparkContext

    spark.stop()
    if not jvm:
        return
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 - the tree stop below kills it
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(args) -> dict:
    from repobench import layers, measure, trace
    from repobench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".repobench_work", f"run-{os.getpid()}")
    for d in ("tmp", "local", "eventlog", "inputs"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # every JVM (the launcher too) and Python worker keeps its scratch
    # files inside the run directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    tracer = trace.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", bool(args.trace))
    ctx = Ctx(work=work, seed=args.seed, traced=bool(args.trace), tracer=tracer, slots=SLOTS)
    wl = WORKLOADS[args.workload](ctx)
    log = measure.OpLog()
    info: dict = {"passes": []}
    spark = None
    host = measure.HostSpeed()
    try:
        with measure.MemSampler(exclude_pids=(host.proc.pid,)) as mem:
            wl.generate()
            # set-up, several times: session (the first one also launches
            # the JVM), grid parse and engine build; the last session is kept
            setups = []
            cold_setup_s = None
            for _ in range(SETUP_REPS):
                if spark is not None:
                    stop_spark(spark, jvm=False)
                    shutil.rmtree(os.path.join(work, "eventlog"), ignore_errors=True)
                    os.makedirs(os.path.join(work, "eventlog"))
                t = time.perf_counter()
                with tracer.span("setup"):
                    spark = ctx.spark = make_spark(work, ctx.traced)
                    wl.setup()
                setups.append(time.perf_counter() - t)
                if cold_setup_s is None:
                    # from process start: imports, input generation, JVM
                    # launch, first session, par parse, engine build
                    cold_setup_s = time.perf_counter() - T_START
            info["setup_s"] = setups
            info["cold_setup_s"] = cold_setup_s
            plans = trace.PlanListener(spark) if ctx.traced else None

            results: dict = {}
            t0 = time.perf_counter()

            def one_pass(p: int, timed: bool) -> dict:
                # traced runs record spans on every other timed pass; the
                # rest give trace.overhead_ratio its untraced base
                tracer.enabled = ctx.traced and not (timed and p % 2)
                mem.active = timed
                wall = cpu_s = jit_s = plan_s = 0.0
                m0 = time.monotonic()
                with tracer.span("pass", p=p, timed=timed):
                    for op in wl.ops:
                        if op.before:
                            op.before(p)
                        ctx.label(p, op.name)
                        cpu0, jit0 = measure.tree_cpu_s((mem.tid, host.tid), (host.proc.pid,))
                        with tracer.span("op", op=op.name, p=p):
                            t = time.perf_counter()
                            try:
                                res = op.run(p)
                                err = None
                            except Exception as e:  # noqa: BLE001 - counted as a failed op
                                res, err = {}, f"{type(e).__name__}: {e}"
                            dt = time.perf_counter() - t
                        cpu, jit = measure.tree_cpu_s((mem.tid, host.tid), (host.proc.pid,))
                        cpu -= cpu0
                        wall += dt
                        cpu_s += cpu
                        jit_s += jit - jit0
                        if plans is not None:
                            plan_s += sum(plans.take())
                        entry = log.record(p, op.name, dt, err is None, err, cpu) if timed else None
                        if err is None and op.check:
                            with tracer.span("check", op=op.name):
                                try:
                                    err = op.check(p, res)
                                except Exception as e:  # noqa: BLE001
                                    err = f"check raised {type(e).__name__}: {e}"
                        if err is not None:
                            if entry is not None:
                                log.fail(entry, err)
                            else:
                                raise RuntimeError(f"warm-up pass {p} {op.name}: {err}")
                        results[(p, op.name)] = res
                mem.active = False
                rec = {"p": p, "timed": timed, "wall_s": wall, "cpu_s": cpu_s, "jit_s": jit_s,
                       "host_ms": host.ms_between(m0, time.monotonic()), "plan_s": plan_s,
                       "spans": tracer.enabled}
                info["passes"].append(rec)
                tracer.enabled = ctx.traced
                return rec

            for p in range(WARM_PASSES):
                one_pass(p, False)
            p = WARM_PASSES
            t_timed = time.perf_counter()
            timed = []
            while (len(timed) < MIN_TIMED
                   or time.perf_counter() - t_timed < args.seconds):
                if timed and time.perf_counter() - T_START > HARD_STOP_S:
                    break
                timed.append(one_pass(p, True))
                p += 1
            last = p - 1
            info["warm_s"] = time.perf_counter() - t0 - sum(x["wall_s"] for x in timed)

            with tracer.span("deep_checks"):
                try:
                    errors = wl.deep_checks(last)
                except Exception as e:  # noqa: BLE001 - every op of the pass fails
                    errors = {op.name: f"deep check raised {type(e).__name__}: {e}"
                              for op in wl.ops}
            for e in log.ops:
                if e["pass"] == last and errors.get(e["op"]):
                    log.fail(e, errors[e["op"]])

            metrics = {}
            if ctx.traced:
                metrics = layers.layer_metrics(ctx, wl, log, info, results)
            peak = mem.peak
        correct = log.failed == 0
        if not ctx.traced:
            # CPU seconds at the reference host speed: each pass's CPU
            # scaled by REF_PROBE_MS / the probe's cost during that pass
            scale = {x["p"]: measure.REF_PROBE_MS / x["host_ms"] for x in timed}
            ref_cpu = [x["cpu_s"] * scale[x["p"]] for x in timed]
            op_ref_cpu = [measure.median([e["cpu_s"] * scale[e["pass"]] for e in log.ops
                                          if e["op"] == op.name]) for op in wl.ops]
            metrics = {
                "setup_s": (measure.median(setups[1:]), "s"),
                "rows_per_ref_cpu_s": (measure.median([wl.rows / c for c in ref_cpu]), "1/s"),
                "op_ref_cpu_s.gmean": (measure.geomean(op_ref_cpu), "s"),
                "peak_pss_mb": (peak / 2**20, "MB"),
            }
        info["errors"] = log.errors()
        tracer.write(os.path.join(ROOT, ".repobench_traces",
                                  f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                     {"info": info, "ops": log.ops})
        return {
            "correct": correct,
            "attempted": log.attempted,
            "failed": log.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        host.stop()
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            left = measure.stop_tree(measure.descendants(os.getpid()))
            if left:
                print(f"processes still alive after stop: {left}", file=sys.stderr)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # only when no other run is using it
            except OSError:
                pass


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    # a terminated run still stops its JVM and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "jgdtrans_rs_spark")):
        print(f"library package jgdtrans_rs_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
