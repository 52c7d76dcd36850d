"""SparkSession construction and required runtime configuration.

Two hard requirements (SURVEY.md §1.2, FIXTURES.md):
- ``spark.sql.legacy.parquet.nanosAsLong=true``: events.parquet stores ts as
  TIMESTAMP(NANOS) which PySpark 4.1.2 cannot read natively; with this conf
  it reads as LongType nanoseconds and silvia_spark.io rebuilds exact
  microsecond timestamps.
- UTC session timezone so timestamp arithmetic matches the DuckDB oracle.

Scale posture: AQE on (runtime partition coalescing, broadcast switching,
skew-join splitting) so the same declarative plans re-optimize themselves on
a 1000-executor cluster; shuffle partitions default to cores locally but are
meant to be overridden (≈2-3× total cores) on a real cluster.

Local filesystem (``local[...]`` masters on POSIX): pip PySpark ships no
libhadoop, so Hadoop's ``RawLocalFileSystem`` forks a ``chmod`` for every
file and directory it creates (``.crc`` sidecars included) and a
``readlink`` for every ``getFileLinkStatus`` a ``FileContext`` rename
makes — each 3–4 ms; on a 4-core VM they were about a quarter of the
ingest benchmark's micro-batch latency (checkpoint source/offset/commit
logs, staged parquet writes and their committer, DV sidecars, CDF files). ``get_session`` therefore
compiles ``jvm/NioLocalFs.java`` once per machine (installed ``javac``,
against PySpark's own ``hadoop-client-api`` jar, cached per user) and
puts it on the driver classpath as ``fs.file.impl`` and
``fs.AbstractFileSystem.file.impl``: the same checksummed local
filesystem, answering those two calls through java.nio. Files, ``.crc``
sidecars and permission bits are exactly what the stock classes write
(tests/test_local_fs.py). Without ``javac``, on a failed compile, on a
non-local master or when a JVM is already running it keeps the stock
filesystem and warns once. Clusters are unaffected: their executors
never see the jar, and HDFS/S3 paths never touch the ``file:`` classes.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import subprocess
import tempfile
import warnings
import zipfile

from pyspark.sql import SparkSession

# Confs that MUST be set before any parquet read of events; settable on an
# existing session via spark.conf.set (runtime-mutable).
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas UDF / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # stream_watermark_late's availableNow semantics depend on the final
    # EMPTY micro-batch advancing the watermark to max(ts)-delay and
    # flushing closed windows. True is Spark's default, but _I4_ORACLE's
    # window-close cutoff silently emits nothing if it is ever off — pin it
    # so a cluster-side override can't turn a conf drift into a confusing
    # hash mismatch.
    "spark.sql.streaming.noDataMicroBatches.enabled": "true",
}


def _ship_package(spark: SparkSession) -> None:
    """Make ``silvia_spark`` importable on EXECUTOR Python workers.

    cloudpickle serializes pandas-UDF closures by reference to their
    module-level helpers, so any executor that is a separate process
    (local-cluster, a real cluster) must be able to ``import
    silvia_spark`` — local[*] masks this entirely because its workers
    fork from the driver and inherit sys.path. Caught by the
    local-cluster sweep (every Arrow-UDF contract failed with
    ModuleNotFoundError in the worker); fixed the standard way: zip the
    package once per process and ``addPyFile`` it, which Spark ships to
    every current AND future executor. ~50 ms once per session."""
    import os
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(
        tempfile.gettempdir(), f"silvia_spark_pkg_{os.getpid()}")
    zip_path = base + ".zip"
    if not os.path.exists(zip_path):
        shutil.make_archive(base, "zip",
                            root_dir=os.path.dirname(pkg_dir),
                            base_dir=os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(zip_path)


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an existing session (e.g. the
    driver-provided one). Idempotent, and cached per session object: each
    conf.set is a Py4J round-trip, so repeat calls must be free — this runs
    on every table load. The marker is an instance attribute, not an
    id()-keyed set: ids are reused after garbage collection, which could
    make a fresh session silently skip the nanos conf."""
    if getattr(spark, "_silvia_configured", False):
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be fixed at session build time; ignore if so.
            pass
    try:
        _ship_package(spark)
    except AttributeError:
        # Connect-only sessions have no sparkContext; their UDFs ship via
        # spark.addArtifact instead, and local[*] never needs the zip.
        pass
    except Exception as exc:  # zip build / addPyFile failure: disk full,
        # concurrent make_archive race on the pid-keyed path, … A silent
        # swallow here would revert executors to the ModuleNotFoundError
        # class _ship_package exists to prevent, so warn with the cause —
        # local[*] keeps working either way (driver's sys.path serves).
        warnings.warn(f"silvia_spark: package zip not shipped to "
                      f"executors ({type(exc).__name__}: {exc}); "
                      f"UDFs will fail off-driver", RuntimeWarning)
    try:
        spark._silvia_configured = True
    except Exception:
        pass  # frozen session object: repeat calls just re-set confs
    return spark


_LOCAL_FS_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "jvm", "NioLocalFs.java")
LOCAL_FS_CONFS = {
    "spark.hadoop.fs.file.impl": "silvia.fs.NioLocalFs$Local",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "silvia.fs.NioLocalFs$Fs",
}
_stock_fs_warned = False


def _keep_stock_fs(reason: str) -> None:
    """Warn (once per process) that the stock local filesystem stays."""
    global _stock_fs_warned
    if not _stock_fs_warned:
        _stock_fs_warned = True
        warnings.warn(f"silvia_spark: keeping Hadoop's stock local "
                      f"filesystem ({reason}); file: writes fork chmod/"
                      f"readlink per call", RuntimeWarning)


def _javac_version(javac: str) -> str:
    """The JDK's ``release`` file (its version, read without starting a
    JVM), else the resolved ``javac`` path."""
    home = os.path.dirname(os.path.dirname(os.path.realpath(javac)))
    try:
        with open(os.path.join(home, "release"), encoding="utf-8") as f:
            return f.read()
    except OSError:
        return os.path.realpath(javac)


def local_fs_jar() -> str | None:
    """The compiled ``NioLocalFs`` jar, built on first use into a per-user
    cache keyed by the source, the ``javac`` version and the Hadoop API
    jar; None when it cannot be built. The cache is deliberately not
    under ``$TMPDIR``, which callers may point at a per-run directory."""
    javac = shutil.which("javac")
    if javac is None:
        return _keep_stock_fs("no javac on PATH")
    import pyspark
    api = sorted(glob.glob(os.path.join(os.path.dirname(pyspark.__file__),
                                        "jars", "hadoop-client-api-*.jar")))
    if not api:
        return _keep_stock_fs("no hadoop-client-api jar in pyspark/jars")
    with open(_LOCAL_FS_SRC, "rb") as f:
        key = hashlib.sha256(f.read() + _javac_version(javac).encode()
                             + os.path.basename(api[-1]).encode())
    cache = os.path.join(os.environ.get("XDG_CACHE_HOME")
                         or os.path.expanduser("~/.cache"), "silvia_spark")
    jar = os.path.join(cache, f"niolocalfs-{key.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    build = tempfile.mkdtemp(prefix="silvia_niolocalfs_")
    try:
        p = subprocess.run([javac, "--release", "17", "-nowarn", "-cp",
                            api[-1], "-d", build, _LOCAL_FS_SRC],
                           capture_output=True, text=True)
        if p.returncode != 0:
            raise RuntimeError(p.stderr.strip()[-500:])
        os.makedirs(cache, exist_ok=True)
        tmp = f"{jar}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for d, _, files in os.walk(build):
                for name in files:
                    full = os.path.join(d, name)
                    z.write(full, os.path.relpath(full, build))
        os.replace(tmp, jar)  # atomic: a racing build writes the same jar
        return jar
    except (OSError, RuntimeError) as exc:
        return _keep_stock_fs(f"NioLocalFs compile failed: {exc}")
    finally:
        shutil.rmtree(build, ignore_errors=True)


def _local_fs_confs(master: str) -> dict[str, str]:
    """Builder confs that swap in the fork-free local filesystem, or {}."""
    if os.name != "posix":
        return {}
    if not re.fullmatch(r"local(\[[^\]]*\])?", master):
        _keep_stock_fs(f"master {master} is not local")
        return {}
    from py4j.protocol import Py4JJavaError
    from pyspark import SparkContext
    if SparkContext._jvm is not None:
        # The classpath was fixed when the JVM started: keep the new
        # classes only if that launch (an earlier get_session) had them.
        try:
            SparkContext._jvm.java.lang.Class.forName(
                LOCAL_FS_CONFS["spark.hadoop.fs.file.impl"])
            return dict(LOCAL_FS_CONFS)
        except Py4JJavaError:  # ClassNotFoundException
            _keep_stock_fs("a JVM is already running")
            return {}
    jar = local_fs_jar()
    if jar is None:
        return {}
    return {"spark.driver.extraClassPath": jar, **LOCAL_FS_CONFS}


def get_session(app_name: str = "silvia_spark", master: str | None = None,
                shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a configured SparkSession.

    Local default: local[$SPARK_GRAFT_CPUS or *]; shuffle partitions sized to
    core count (small data locally; on a cluster pass an explicit value).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # local-mode heap: the driver JVM IS every executor. 8g is the
        # MEASURED-good size for this box (r13): raising it to 48g
        # made the shuffle-heavy JVM-only ANN generation 2.5× slower
        # (531 s → 1337 s for the mp2-sf1 GEMM/join/distinct — a G1
        # large-heap effect), while the r13 verify-cache OOM that
        # motivated a bigger heap was the CACHE's fault, fixed at the
        # source instead (the verify barrier persists DISK_ONLY, so
        # cached blocks never compete with execution memory —
        # llm_ops.score_pairs_threshold). Override per-run with
        # SPARK_DRIVER_MEMORY.
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in {**RUNTIME_CONFS, **_local_fs_confs(master)}.items():
        builder = builder.config(k, v)
    return configure_session(builder.getOrCreate())
