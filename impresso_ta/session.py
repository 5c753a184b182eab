"""SparkSession factory with scale-oriented defaults.

The reference hand-tunes Dask cluster shape (24 workers x 2 threads for
import, 8 x 1 for rebuild — generic_importer.py:105, rebuilder.py:315).
Here the equivalent knobs are Spark confs; everything else (partition
sizing, skew, memory release) is delegated to AQE instead of hand-rolled
chunk loops (core.py:365-383, :451).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shlex
import shutil
import subprocess
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Repo root (parent of the impresso_ta package) — must be importable on
# executor Python workers, which do not inherit the driver's sys.path.
# Locally this rides PYTHONPATH; on a real cluster ship the package with
# ``spark-submit --py-files impresso_ta.zip`` instead.
_PKG_PARENT = str(Path(__file__).resolve().parent.parent)

# Defaults expressed as cluster-portable confs: on a large cluster only
# master and shuffle-partition count change (set shuffle partitions ~2-3x
# total cores, or leave to AQE coalescing which is enabled below).
DEFAULT_CONFS: dict[str, str] = {
    # AQE replaces all of the reference's manual partition-size tuning:
    # runtime coalescing, skew-join splitting, and dynamic join strategy.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce post-shuffle partitions by SIZE (64 MB advisory), not down
    # to core count: parallelismFirst=true (the default) keeps ≥
    # defaultParallelism partitions, so small shuffles fragment into
    # per-ms tasks whose scheduling overhead dominates (measured: the
    # sf0.1 pipelines run ~20% faster at 16 cores than 32 purely from
    # task count). Spark's own docs recommend false on busy clusters;
    # size-based coalescing is also the right call at 100 TB.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow makes mapInPandas/applyInPandas (the parse/rebuild UDTF layer)
    # batch-transfer instead of pickling row-at-a-time.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # 128 MB input splits: right-sizes scan tasks for TB-scale parquet.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Broadcast threshold: dimension tables (nation/region/metadata tsv,
    # per-issue maps) are always tiny; raise so Catalyst picks BHJ.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Stable timestamp semantics.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.compression.codec": "zstd",
}


def warm_python_workers(spark: SparkSession, partitions: int | None = None) -> None:
    """Spawn the session's Python workers ahead of timed/latency-bound
    work: the first ``mapInArrow``/pandas-UDF stage of a session pays
    the one-time worker fork+import cost and the JVM's first Arrow
    stage (a 3.6 s median on 4 vCPU, 2.4 s when the driver JVM starts
    from its class-data archive; the second half of the benchmark's
    ``setup_s``) — a cold single-query session charges it to whatever
    query runs first. One no-op
    ``mapInArrow`` over ``partitions`` single-row tasks (default:
    ``defaultParallelism``) forks a worker per core up front; with
    ``spark.python.worker.reuse`` (the default) every later Arrow-path
    stage reuses them. Costs nothing it wouldn't cost later: the spawn
    is moved, not added."""
    n = partitions or spark.sparkContext.defaultParallelism

    def _noop(batches):
        yield from batches

    (
        spark.range(n, numPartitions=n)
        .mapInArrow(_noop, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


# The driver JVM's unified log writes to stdout, which the CLI owns:
# whatever CDS has to say about an archive it cannot use stays silent.
_CDS_LOG_OFF = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# the two launcher confs that carry the archive options
_CDS_CONFS = ("spark.driver.extraClassPath", "spark.driver.defaultJavaOptions")


class _DriverArchive:
    """The dynamic class-data-sharing (CDS) archive of the driver JVM.

    Most of a session's start is the JVM loading and linking Spark's
    classes. A JVM started with ``-XX:ArchiveClassesAtExit`` writes the
    classes it loaded to an archive when it exits; a later JVM started
    with ``-XX:SharedArchiveFile`` maps them instead of loading them
    again (``get_spark`` 5.1 → 2.5 s median on 4 vCPU).

    The archive lives at ``${XDG_CACHE_HOME:-~/.cache}/impresso_ta/
    driver-<key>.jsa``, next to ``driver-<key>.jsa.size``, which holds
    the size it had when it was proven whole. The key hashes the real
    path, size and mtime of the ``java`` binary and the name, size and
    mtime of every jar in ``$SPARK_HOME/jars``, so a new JDK or Spark
    gets a new archive. Deleting the cache directory is always safe:
    the next session starts as without it and writes a new archive.

    A JVM refuses to write an archive when a non-empty directory comes
    before the jars on its classpath, and the launcher puts
    ``$SPARK_HOME/conf`` first, so the jars are also set as
    ``spark.driver.extraClassPath``, which goes ahead of it. No jar
    ships a file of the conf directory at its root, so files there
    still win.
    """

    def __init__(self, java: str, jars: Path, cache: Path):
        self.java = os.path.realpath(java)
        self.jars = jars
        h = hashlib.sha256()
        st = os.stat(self.java)
        h.update(f"{self.java}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
        for jar in sorted(jars.glob("*.jar")):
            st = jar.stat()
            h.update(f"{jar.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
        self.dir = cache / "impresso_ta"
        self.path = self.dir / f"driver-{h.hexdigest()[:16]}.jsa"
        self.size_path = self.dir / f"{self.path.name}.size"
        self.tmp: Path | None = None

    def confs(self) -> dict[str, str] | None:
        """The confs that start the driver JVM from the archive, or, when
        there is none yet, that make it write one at exit. None while
        another live process writes it: that session starts as without
        an archive. Raises ``OSError`` when the cache dir is unusable."""
        self.dir.mkdir(parents=True, exist_ok=True)
        if self._whole():
            opt = f"-XX:SharedArchiveFile={self.path}"
        else:
            self.tmp = self._claim()
            if self.tmp is None:
                return None
            opt = f"-XX:ArchiveClassesAtExit={self.tmp}"
        return {
            "spark.driver.extraClassPath": str(self.jars / "*"),
            "spark.driver.defaultJavaOptions": f"{shlex.quote(opt)} {_CDS_LOG_OFF}",
        }

    def _whole(self) -> bool:
        """The archive exists and has the size it was proven whole at: a
        truncated archive crashes the JVM that maps it (SIGBUS)."""
        try:
            return int(self.size_path.read_text()) == self.path.stat().st_size
        except (OSError, ValueError):
            return False

    def _claim(self) -> Path | None:
        """Create this process's ``.tmp`` archive, empty: the driver JVM
        writes it at exit, and a target it cannot write stops the JVM
        from starting at all. Another live process's ``.tmp`` means it
        writes the archive now (None); a dead one's is left over and
        deleted."""
        for tmp in self.dir.glob(f"{self.path.name}.*.tmp"):
            pid = tmp.name.split(".")[-2]
            if pid.isdigit() and _alive(int(pid)):
                return None
            tmp.unlink(missing_ok=True)
        tmp = self.dir / f"{self.path.name}.{os.getpid()}.tmp"
        tmp.open("x").close()
        return tmp

    def started(self, spark: SparkSession) -> None:
        """Follow up on the JVM that just started with ``confs()``."""
        proc = SparkContext._gateway.proc
        if self.tmp is None:
            # a zeroed or mismatched archive is ignored by the JVM; delete
            # it, so that the next session writes one that maps
            try:
                with open(f"/proc/{proc.pid}/maps") as fh:
                    if os.path.realpath(self.path) not in fh.read():
                        self.path.unlink(missing_ok=True)
            except OSError:
                pass
            return
        classpath = spark._jvm.java.lang.System.getProperty("java.class.path")
        atexit.register(self._promote, proc, classpath)

    def _promote(self, proc: subprocess.Popen, classpath: str) -> None:
        """At interpreter exit: wait for the writing JVM, then move its
        archive into place if a JVM on the same classpath starts with it,
        else delete it."""
        if proc.poll() is None:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=300)
        except subprocess.TimeoutExpired:
            return  # a later session deletes the .tmp of a dead process
        err = self.tmp.with_suffix(".hs_err.log")
        try:
            check = subprocess.run(
                [
                    self.java, "-Xshare:on",
                    f"-XX:SharedArchiveFile={self.tmp}", *_CDS_LOG_OFF.split(),
                    f"-XX:ErrorFile={err}", "-XX:-CreateCoredumpOnCrash",
                    "-cp", classpath, "-version",
                ],
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
                cwd=self.dir,
                timeout=120,
            )
            if check.returncode == 0:
                size = self.tmp.stat().st_size
                os.replace(self.tmp, self.path)
                self.size_path.write_text(str(size))
        except (OSError, subprocess.TimeoutExpired):
            pass
        finally:
            self.tmp.unlink(missing_ok=True)
            err.unlink(missing_ok=True)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _driver_archive(confs: dict[str, str]) -> _DriverArchive | None:
    """The driver's CDS archive, when this process is about to launch the
    driver JVM and nothing else sets the launcher confs it needs."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    from pyspark.find_spark_home import _find_spark_home

    spark_home = Path(_find_spark_home())
    defaults = Path(
        os.environ.get("SPARK_CONF_DIR") or spark_home / "conf"
    ) / "spark-defaults.conf"
    try:
        set_keys = {
            re.split(r"[\s=:]", line.strip(), maxsplit=1)[0]
            for line in defaults.read_text().splitlines()
        }
    except OSError:
        set_keys = set()
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if (
        any(k in confs or k in set_keys or k in submit_args for k in _CDS_CONFS)
        or "--driver-class-path" in submit_args
        or java is None
        or not (spark_home / "jars").is_dir()
    ):
        return None
    xdg = os.environ.get("XDG_CACHE_HOME", "")
    try:
        cache = Path(xdg) if os.path.isabs(xdg) else Path.home() / ".cache"
        return _DriverArchive(java, spark_home / "jars", cache)
    except (OSError, RuntimeError):  # RuntimeError: no home directory
        return None


def get_spark(
    app_name: str = "impresso_ta",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when that env var
    is set. With neither, no master is set here: ``spark-submit`` injects
    it on a real cluster, and PySpark's own default, ``local[*]``,
    applies otherwise.

    When this call launches the driver JVM, it starts the JVM from the
    driver's class-data-sharing archive, or has the JVM write one at
    exit (see :class:`_DriverArchive`). It leaves the JVM as it is when
    the caller, ``spark-defaults.conf`` or ``PYSPARK_SUBMIT_ARGS`` sets
    ``spark.driver.extraClassPath`` or ``spark.driver.defaultJavaOptions``,
    and when the cache directory is unusable.
    """
    existing = os.environ.get("PYTHONPATH", "")
    if _PKG_PARENT not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_PKG_PARENT}{os.pathsep}{existing}" if existing else _PKG_PARENT
        )

    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    confs = dict(DEFAULT_CONFS)
    confs["spark.executorEnv.PYTHONPATH"] = os.environ["PYTHONPATH"]
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    archive = _driver_archive(confs)
    try:
        archive_confs = archive and archive.confs()
    except OSError:
        archive_confs = None
    if archive_confs:
        confs.update(archive_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if archive_confs:
        archive.started(spark)
    return spark


def stop_spark(spark: SparkSession) -> None:
    """Stop the session and end its driver JVM, waiting for the JVM to
    exit: ``spark.stop()`` alone returns while the JVM still runs, and a
    JVM writing its class-data archive at exit takes seconds more."""
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None or gateway.proc is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=300)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
