from __future__ import annotations

import os
import sys

import pytest

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"

SEMIDYNA = {
    54401005: (-0.00622, 0.01516, 0.0946),
    54401055: (-0.0062, 0.01529, 0.08972),
    54401100: (-0.00663, 0.01492, 0.10374),
    54401150: (-0.00664, 0.01506, 0.10087),
}


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master("local[4]")
    if os.environ.get("SPARK_GRAFT_SLOW"):
        # the scale probes (sf0.1 halves, big-SF tier) collect
        # million-row results and join dense dup families — the 1g
        # default driver heap OOMs there; the gate only fires in
        # probe-only pytest processes, so the bump never affects the
        # regular suite
        builder = (SparkSession.builder.master("local[8]")
                   .config("spark.driver.memory", "8g"))
    s = (
        builder
        .appName("jgdtrans_rs_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def semidyna_grid():
    from jgdtrans_rs_spark.grid import MeshGrid

    return MeshGrid.from_dict(SEMIDYNA, "SemiDynaEXE")


REFERENCE_TRANS_RS = "/root/reference/src/trans.rs"
# what the two miners below read from it: the 42-node TKY2JGD Iwo Jima
# table, the 20-node PatchJGD Kongoji table, and the 40 + 40 sampled
# origins of the round-trip identity tests
REFERENCE_RANGES = ("trans.rs:1340-1383 (TKY2JGD table), "
                    "trans.rs:1386-1408 (PatchJGD table), "
                    "trans.rs:1415-1500 (sampled origins)")


def _reference_source() -> str:
    """The reference test source the kernel fixtures are mined from.
    Its absence is an error naming what is missing, never a skip or a
    substitute grid: without it the round-trip identity tests have no
    ground truth."""
    try:
        with open(REFERENCE_TRANS_RS, encoding="utf-8") as f:
            return f.read()
    except FileNotFoundError:
        raise FileNotFoundError(
            f"{REFERENCE_TRANS_RS} not found: the kernel fixtures mine "
            f"{REFERENCE_RANGES} of that paqira/jgdtrans-rs test source"
        ) from None


def reference_table(marker_start: str, marker_end: str):
    """Extract a (meshcode, (a, b, c)) constant table from the
    reference test source (read-only fixture mining, not code reuse)."""
    import re

    src = _reference_source()
    seg = src[src.index(marker_start):src.index(marker_end)]
    rows = re.findall(r"\((\d{8}), \(([-0-9.e]+), ([-0-9.e]+), ([-0-9.e]+)\)\)", seg)
    return {int(c): (float(a), float(b), float(h)) for c, a, b, h in rows}


def reference_origins(marker_start: str, marker_end: str):
    import re

    src = _reference_source()
    seg = src[src.index(marker_start):src.index(marker_end)]
    pts = re.findall(r"Point::new_unchecked\(([0-9.]+), ([0-9.]+), 0.0\)", seg)
    return [(float(a), float(b)) for a, b in pts]
