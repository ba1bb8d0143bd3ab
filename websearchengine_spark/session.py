"""SparkSession factory with the engine's standard local-mode config.

Also ships the package to executors (``addPyFile`` of a zip — the
programmatic equivalent of ``spark-submit --py-files``), so UDFs that
close over package functions resolve on workers regardless of the
driver's cwd/sys.path.  ``make_pyfiles_zip`` is reused by bench/ for the
real ``spark-submit --py-files`` invocation.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def make_pyfiles_zip(out_path: str | None = None) -> str:
    """Zip the websearchengine_spark package for --py-files shipping."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if out_path is None:
        out_path = os.path.join(tempfile.gettempdir(), "websearchengine_spark.zip")
    # write-then-rename: the zip sits on the worker PYTHONPATH (fastdaemon
    # wiring below), so a concurrent get_spark in another process must
    # never expose a half-written archive to a launching daemon
    tmp_path = f"{out_path}.{os.getpid()}.tmp"
    try:
        with zipfile.ZipFile(tmp_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for dirpath, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        rel = os.path.join(
                            "websearchengine_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        os.replace(tmp_path, out_path)
    except BaseException:
        if os.path.exists(tmp_path):
            os.remove(tmp_path)
        raise
    return out_path


def _default_driver_memory() -> str:
    """min(24g, half the host's physical RAM), in MiB.  A fixed 24g heap
    on a smaller host lets the driver JVM grow until the OS kills it,
    instead of spilling or raising; 24g when the RAM size is unknown."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return "24g"
    return f"{min(24 * 1024, ram // 2**21)}m"


def _session_conf(
    shuffle_partitions: int, daemon_zip: str | None, extra_conf: dict | None
) -> dict:
    """The session conf get_spark applies — pure, so the merge of the
    caller's ``extra_conf`` can be checked without starting a session.

    ``daemon_zip``: the package zip the fastdaemon worker module loads
    from (None: the stock daemon).  A caller's
    ``spark.executorEnv.PYTHONPATH`` is JOINED after it, not replacing
    it: with the daemon module set and its zip gone from the worker
    path, every worker launch would fail."""
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # AQE coalescing targets BYTES, but the engine's Python stages
        # (posting encode, WAND kernels) cost per ROW/GROUP: a few MB of
        # packed postings coalesced to 2-3 tasks serializes the encode on
        # 2-3 cores.  A small floor keeps parallelismFirst coalescing up
        # at the core count for small shuffles; at real data volumes
        # (bytes/core >> 1 MB) this knob is inert, so it is not a
        # local-only tuning.  Env-overridable for cluster profiles.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": os.environ.get(
            "SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k"
        ),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get(
            "SPARK_DRIVER_MEMORY", _default_driver_memory()
        ),
        "spark.ui.enabled": "false",
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/tmp",
    }
    if daemon_zip is not None:
        conf["spark.python.daemon.module"] = "websearchengine_spark.fastdaemon"
        conf["spark.executorEnv.PYTHONPATH"] = daemon_zip
    for k, v in (extra_conf or {}).items():
        if k == "spark.executorEnv.PYTHONPATH" and k in conf:
            v = os.pathsep.join([conf[k], v])
        conf[k] = v
    return conf


def get_spark(
    app_name: str = "websearchengine_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores``: int N -> ``local[N]``; "*" or None -> ``local[*]``.
    Shuffle partitions default to the core count (local mode; the 200
    default over-parallelizes small data and under-parallelizes big).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    n_cores = os.cpu_count() if cores in ("*", None) else int(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n_cores)
    # Python-worker daemon with the CPython-3.12 zipimport stat gate
    # (fastdaemon.py): pyspark.worker invalidates import caches once per
    # task, and on <=3.11 that re-parses every sys.path archive's central
    # directory — measured ~130 ms per task before any UDF body runs, the
    # dominant fixed cost of every Python stage.  The package zip rides
    # the worker PYTHONPATH so the daemon module resolves before the
    # first task ships it via addPyFile.  Local masters only by default:
    # on a cluster the driver-local zip path does not exist on executors
    # (ship it and set SPARK_GRAFT_FASTDAEMON=1 to enable there).
    daemon_zip = None
    _fd = os.environ.get("SPARK_GRAFT_FASTDAEMON", "")
    if _fd != "0" and os.name == "posix" and (
        master.startswith("local") or _fd == "1"
    ):
        try:
            daemon_zip = make_pyfiles_zip()
        except OSError:
            pass  # unwritable tmp: run the stock daemon instead
    b = SparkSession.builder.master(master).appName(app_name)
    for k, v in _session_conf(shuffle_partitions, daemon_zip, extra_conf).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        spark.sparkContext.addPyFile(make_pyfiles_zip())
    except Exception:
        pass  # already added in this context
    return spark
