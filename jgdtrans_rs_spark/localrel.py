"""Driver-local side-table builder: VALUES-backed LocalRelation.

``spark.createDataFrame(rows)`` backs the frame with a parallelized RDD
of pickled Python rows; every evaluation — in particular every
``BroadcastExchange`` build, which happens once per downstream ACTION —
runs a Spark job of ~defaultParallelism tiny tasks and re-deserializes
the pickled rows in the JVM.  For the small driver-side side tables in
the hot query paths (the parameter-grid view, polygon name / cover
relations) that job is pure fixed latency: measured ~0.25 s of every
q1s action at local[32] (four broadcast builds of a 4-row grid), with
identical results.  A VALUES inline table analyzes to a LocalRelation
instead: ``BroadcastExchange`` collects it driver-side with ZERO jobs
and the build is effectively free (guide §2.4 — remove work per
action, not resize it).

Exactness: DOUBLE values are emitted as ``CAST('<repr>' AS DOUBLE)`` —
``repr`` is the shortest round-trip decimal form and the JVM string->
double parse is correctly rounded, so the stored bits are identical to
the Python float, including -0.0, NaN and the infinities (a bare
decimal literal would lose the zero sign: DECIMAL has no signed zero).
Integers are plain typed literals, which the parser turns straight into
values: BIGINT as ``<n>L`` and INT as bare ``<n>``.  Only the type
minimum keeps ``CAST(<n> AS ...)`` — its magnitude alone overflows the
type.  A CAST per cell cost the analyzer a resolve-and-fold per value:
on the 3,331- and 5,200-row salted candidate relations of
tests/bench_plan_build.py the short forms cut the median driver-side
build from 328 to 137 ms and from 508 to 247 ms (wall time, 4-core
host; BENCH/plan_build*.json).

Above ``max_rows`` the builder falls back to ``createDataFrame``: a
VALUES text of ~10^6 grid rows would push parse/analyze time past what
the per-action build job costs, and a side table that large amortizes
its build anyway.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

# ~1-2 MB of SQL text at the widths used here; parse+analyze stays in
# the low tens of ms and happens once per view registration
MAX_LOCAL_ROWS = 16384

_BIGINT_MIN = -(2 ** 63)
_INT_MIN, _INT_MAX = -(2 ** 31), 2 ** 31 - 1


def _scalar(v, typ: str) -> str:
    """One exactly-typed SQL literal (see module header for the DOUBLE
    round-trip argument)."""
    t = typ.upper()
    if v is None:
        return f"CAST(NULL AS {t})"
    if t == "DOUBLE":
        v = float(v)
        if math.isnan(v):
            s = "NaN"
        elif math.isinf(v):
            s = "Infinity" if v > 0 else "-Infinity"
        else:
            s = repr(v)
        return f"CAST('{s}' AS DOUBLE)"
    if t in ("BIGINT", "LONG"):
        v = int(v)
        # the minimum keeps the CAST form: 2^63 alone overflows BIGINT,
        # so the suffix literal would rely on the parser folding the
        # sign into the digits
        return f"{v}L" if v > _BIGINT_MIN else f"CAST({v} AS BIGINT)"
    if t in ("INT", "INTEGER"):
        v = int(v)
        return str(v) if _INT_MIN < v <= _INT_MAX else f"CAST({v} AS INT)"
    if t in ("SMALLINT", "TINYINT"):
        return f"CAST({int(v)} AS {t})"
    if t == "BOOLEAN":
        return "TRUE" if v else "FALSE"
    if t == "STRING":
        e = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{e}'"
    raise ValueError(f"local_rows_df: unsupported type {typ!r}")


def local_rows_df(spark: SparkSession, rows, schema: str,
                  max_rows: int = MAX_LOCAL_ROWS) -> DataFrame:
    """Small driver-side rows -> DataFrame, as a LocalRelation when the
    row count allows (zero-job broadcast builds), else createDataFrame.

    ``schema`` is the simple DDL string form ("name type, ...") with
    types limited to long/int family, double, string, boolean —
    everything the engine's side tables use; richer types raise."""
    cols = []
    for part in schema.split(","):
        name, typ = part.strip().split(None, 1)
        cols.append((name, typ.strip()))
    rows = list(rows)
    if not rows or len(rows) > max_rows:
        return spark.createDataFrame(rows, schema=schema)
    vals = ", ".join(
        "(" + ", ".join(_scalar(v, t) for v, (_, t) in zip(r, cols)) + ")"
        for r in rows
    )
    names = ", ".join(f"col{i + 1} AS {n}" for i, (n, _) in enumerate(cols))
    return spark.sql(f"SELECT {names} FROM VALUES {vals}")
