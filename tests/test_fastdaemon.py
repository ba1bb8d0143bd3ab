"""fastdaemon: the CPython-3.12 zipimport stat-gate backport.

The patch must (a) skip the central-directory re-read when the archive
is unchanged — that re-read is the ~130 ms/task worker cost the daemon
wrapper exists to remove — and (b) preserve the visibility contract:
an archive whose mtime/size changed IS re-read, so a late addPyFile
update still becomes importable.
"""

import os
import sys
import zipfile
import zipimport

import pytest

from websearchengine_spark.fastdaemon import install_zipimport_stat_gate


@pytest.fixture()
def patched_zipimport():
    orig = zipimport.zipimporter.invalidate_caches
    installed = install_zipimport_stat_gate()
    try:
        yield installed
    finally:
        zipimport.zipimporter.invalidate_caches = orig


def _write_zip(path: str, content: str) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr("wse_fd_probe_mod.py", content)
    os.replace(tmp, path)


def test_unchanged_archive_skips_reread(tmp_path, patched_zipimport):
    if sys.version_info >= (3, 12):
        pytest.skip("3.12+ has the stat gate natively")
    assert patched_zipimport is True
    zp = str(tmp_path / "probe.zip")
    _write_zip(zp, "X = 1\n")
    zi = zipimport.zipimporter(zp)
    assert b"X = 1" in zi.get_data("wse_fd_probe_mod.py")

    # count central-directory reads through the module-global hook the
    # 3.11 pure-python implementation uses
    calls = {"n": 0}
    orig_rd = zipimport._read_directory

    def counting_rd(archive):
        calls["n"] += 1
        return orig_rd(archive)

    zipimport._read_directory = counting_rd
    try:
        zi.invalidate_caches()  # first call records the stat key
        first = calls["n"]
        zi.invalidate_caches()
        zi.invalidate_caches()
        assert calls["n"] == first, "unchanged archive was re-read"
    finally:
        zipimport._read_directory = orig_rd


def test_changed_archive_is_reread_and_visible(tmp_path, patched_zipimport):
    zp = str(tmp_path / "probe.zip")
    _write_zip(zp, "X = 1\n")
    zi = zipimport.zipimporter(zp)
    zi.invalidate_caches()
    assert b"X = 1" in zi.get_data("wse_fd_probe_mod.py")

    _write_zip(zp, "X = 2\n")
    # force a distinct mtime even on coarse-granularity filesystems
    st = os.stat(zp)
    os.utime(zp, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    zi.invalidate_caches()
    assert b"X = 2" in zi.get_data("wse_fd_probe_mod.py")


@pytest.mark.skipif(
    os.name != "posix" or os.environ.get("SPARK_GRAFT_FASTDAEMON") == "0",
    reason="get_spark wires the fastdaemon only on posix, unless disabled",
)
def test_get_spark_wires_fastdaemon_for_local_master(spark):
    # the shared session fixture goes through get_spark; on a posix local
    # master the daemon module and the package zip PYTHONPATH must be set
    assert (
        spark.conf.get("spark.python.daemon.module")
        == "websearchengine_spark.fastdaemon"
    )
    pyzip = spark.conf.get("spark.executorEnv.PYTHONPATH")
    assert pyzip.endswith("websearchengine_spark.zip") and os.path.exists(pyzip)


def test_session_conf_joins_caller_pythonpath():
    """A caller's executor PYTHONPATH is appended to the fastdaemon zip,
    never replacing it (the daemon module stays set and must still
    resolve); without the daemon it passes through unchanged."""
    from websearchengine_spark.session import _session_conf

    key = "spark.executorEnv.PYTHONPATH"
    extra = {key: "/opt/libs", "spark.app.extra": "x"}
    conf = _session_conf(8, "/tmp/pkg.zip", extra)
    assert conf[key] == "/tmp/pkg.zip" + os.pathsep + "/opt/libs"
    assert conf["spark.python.daemon.module"] == "websearchengine_spark.fastdaemon"
    assert conf["spark.app.extra"] == "x"
    assert conf["spark.sql.shuffle.partitions"] == "8"

    stock = _session_conf(8, None, extra)
    assert stock[key] == "/opt/libs"
    assert "spark.python.daemon.module" not in stock
    assert _session_conf(8, "/tmp/pkg.zip", None)[key] == "/tmp/pkg.zip"


def test_session_conf_sizes_driver_heap_from_host(monkeypatch):
    """spark.driver.memory defaults to min(24g, half the physical RAM)
    — never a heap above what the host has — and SPARK_DRIVER_MEMORY
    overrides it."""
    from websearchengine_spark.session import _session_conf

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    page = 4096

    def host(gib):
        pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": gib * 2**30 // page}
        monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
        return _session_conf(8, None, None)["spark.driver.memory"]

    assert host(15) == f"{15 * 1024 // 2}m"
    assert host(64) == f"{24 * 1024}m"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert host(15) == "3g"


def test_pyfiles_zip_leaves_no_tmp_on_error(tmp_path, monkeypatch):
    """A failure while zipping the package removes the half-written
    ``<zip>.<pid>.tmp`` and re-raises; the target is never created."""
    from websearchengine_spark.session import make_pyfiles_zip

    def fail(self, *a, **k):
        raise OSError("disk full")

    monkeypatch.setattr(zipfile.ZipFile, "write", fail)
    out = str(tmp_path / "pkg.zip")
    with pytest.raises(OSError, match="disk full"):
        make_pyfiles_zip(out)
    assert os.listdir(tmp_path) == []
