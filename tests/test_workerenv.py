"""workerenv.patch_zipimport_invalidate_caches — the 3.12-style mtime
guard on CPython 3.11's zipimporter (the per-task zip-directory
re-read behind ~165 ms/task of Spark worker CPU; see workerenv.py).

Pins: (a) importing the package applies the guard, (b) an UNCHANGED
archive is not re-read on repeated invalidate_caches (the whole point),
(c) a genuinely rewritten archive IS re-read and new contents become
importable (the documented purpose of invalidate_caches survives),
(d) SPARK_GRAFT_ZIPGUARD=0 leaves zipimport untouched at package import
while unset / 1 applies the guard and logs it exactly once."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import jgdtrans_rs_spark  # noqa: F401 — import applies the patch
from jgdtrans_rs_spark.workerenv import patch_zipimport_invalidate_caches

needs_311 = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="3.12+ already guards; patch is a documented no-op",
)


def _make_zip(path: str, marker: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zimod_probe.py", f"MARKER = {marker!r}\n")


@needs_311
def test_patch_applied_and_idempotent():
    assert getattr(zipimport.zipimporter, "_jgdtrans_mtime_guarded", False)
    assert patch_zipimport_invalidate_caches() is True  # second call: no-op


@needs_311
def test_unchanged_archive_not_reread(tmp_path):
    zp = str(tmp_path / "probe.zip")
    _make_zip(zp, "one")
    imp = zipimport.zipimporter(zp)
    imp.invalidate_caches()            # first call records the stat key
    files_before = imp._files
    for _ in range(3):
        imp.invalidate_caches()
    # the guard returns before _read_directory: same dict object
    assert imp._files is files_before


@needs_311
def test_rewritten_archive_is_reread_and_importable(tmp_path):
    zp = str(tmp_path / "probe2.zip")
    _make_zip(zp, "one")
    imp = zipimport.zipimporter(zp)
    imp.invalidate_caches()
    files_before = imp._files
    _make_zip(zp, "two")               # rewrite: new size/mtime
    os.utime(zp, ns=(1, 1))            # force a distinct mtime_ns
    imp.invalidate_caches()
    assert imp._files is not files_before
    sys.path.insert(0, zp)
    try:
        mod = __import__("zimod_probe")
        assert mod.MARKER == "two"
    finally:
        sys.path.remove(zp)
        sys.modules.pop("zimod_probe", None)


_PROBE = """
import logging, sys, zipimport
logging.basicConfig(level=logging.INFO, stream=sys.stdout, format="%(name)s %(message)s")
import jgdtrans_rs_spark
from jgdtrans_rs_spark.workerenv import patch_zipimport_invalidate_caches
guarded = getattr(zipimport.zipimporter, "_jgdtrans_mtime_guarded", False)
if guarded:
    patch_zipimport_invalidate_caches()  # a second application must not log again
print("GUARDED", guarded)
"""


def _import_in_fresh_process(switch):
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_ZIPGUARD"}
    if switch is not None:
        env["SPARK_GRAFT_ZIPGUARD"] = switch
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", _PROBE], env=env, cwd=root,
                         capture_output=True, text=True, timeout=120, check=True)
    lines = out.stdout.splitlines()
    logged = [ln for ln in lines if ln.startswith("jgdtrans_rs_spark.workerenv ")]
    return lines[-1], logged


@needs_311
@pytest.mark.parametrize("switch", [None, "1"])
def test_zipguard_on_by_default_and_logged_once(switch):
    last, logged = _import_in_fresh_process(switch)
    assert last == "GUARDED True"
    assert len(logged) == 1 and "mtime guard applied" in logged[0]


@needs_311
def test_zipguard_off_switch_leaves_zipimport_untouched():
    last, logged = _import_in_fresh_process("0")
    assert last == "GUARDED False"
    assert logged == []
