"""The driver JVM's class-data-sharing archive (``session._DriverArchive``).

Each case starts its session in a fresh Python process whose
``XDG_CACHE_HOME`` is the test's own directory, so the archive it finds,
writes or rejects is the test's alone.
"""

import json
import os
import shutil
import subprocess
import sys
import uuid
from pathlib import Path

import pytest

from tests.test_cli import _make_corpus

REPO_ROOT = Path(__file__).resolve().parents[1]

# start a session, run one job, report what the driver JVM was started with
# and which archives it mapped; the interpreter exit ends the JVM
_SESSION = """
import json, sys
from pyspark import SparkContext
from impresso_ta.session import get_spark

spark = get_spark(
    master="local[2]", shuffle_partitions=2, extra_confs=json.loads(sys.argv[1])
)
jvm = spark._jvm
with open(f"/proc/{SparkContext._gateway.proc.pid}/maps") as fh:
    mapped = sorted({l.split()[-1] for l in fh if l.rstrip().endswith(".jsa")})
print(json.dumps({
    "args": list(jvm.java.lang.management.ManagementFactory
                 .getRuntimeMXBean().getInputArguments()),
    "cp": jvm.java.lang.System.getProperty("java.class.path").split(":"),
    "mapped": mapped,
    "sum": spark.range(100).selectExpr("sum(id)").first()[0],
}))
"""

_CDS_ARGS = ("-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit", "-Xlog:cds")


def _env(cache, **extra):
    path = os.pathsep.join(filter(None, [str(REPO_ROOT), os.environ.get("PYTHONPATH")]))
    return {**os.environ, "PYTHONPATH": path, "XDG_CACHE_HOME": str(cache), **extra}


def _session(tmp_path, cache, confs=None):
    """Run ``_SESSION`` with its cwd in ``tmp_path``; return its report."""
    r = subprocess.run(
        [sys.executable, "-c", _SESSION, json.dumps(confs or {})],
        capture_output=True, text=True, cwd=tmp_path, env=_env(cache),
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    # the JVM's own log writes to stdout: nothing but the report is there
    *before, last = r.stdout.splitlines()
    assert before == [], before
    report = json.loads(last)
    assert report["sum"] == 4950
    # no JVM crashed on an archive, here or in the cache
    assert not list(tmp_path.rglob("hs_err*"))
    return report


def _archive(cache):
    """The cache's archives, each with whether it still has the size it
    was proven whole at; asserts no ``.tmp`` archive is left."""
    d = Path(cache) / "impresso_ta"
    assert not list(d.glob("*.tmp"))
    out = {}
    for jsa in d.glob("driver-*.jsa"):
        size = Path(f"{jsa}.size")
        out[jsa] = size.exists() and int(size.read_text()) == jsa.stat().st_size
    return out


def _spark_home():
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def _java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


@pytest.fixture(scope="module")
def written(tmp_path_factory):
    """A cache that one session wrote its archive into, and that
    session's report."""
    base = tmp_path_factory.mktemp("cds")
    cache = base / "cache"
    return cache, _session(base, cache)


def test_first_start_writes_archive(written):
    cache, report = written
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in report["args"])
    # the jars go ahead of the conf dir, or the JVM refuses to write
    assert report["cp"][0].endswith(".jar")
    archives = _archive(cache)
    assert len(archives) == 1 and all(archives.values())


def test_second_start_maps_archive(written, tmp_path):
    cache, _ = written
    (archive,) = _archive(cache)
    report = _session(tmp_path, cache)
    assert f"-XX:SharedArchiveFile={archive}" in report["args"]
    assert str(archive.resolve()) in report["mapped"]


def _truncate(path):
    data = path.read_bytes()[: 1 << 20]
    path.chmod(0o644)
    path.write_bytes(data)


def _zero(path):
    size = path.stat().st_size
    path.chmod(0o644)
    path.write_bytes(bytes(size))


def _mismatch(path):
    """Replace the archive by a whole one of another classpath: the
    launcher jar alone, with one of its classes loaded."""
    path.unlink()
    jar = min(Path(_spark_home(), "jars").glob("spark-launcher*.jar"))
    # the launcher exits 1 without arguments; the JVM still writes at exit
    subprocess.run(
        [_java(), f"-XX:ArchiveClassesAtExit={path}", "-cp", str(jar),
         "org.apache.spark.launcher.Main"],
        capture_output=True, timeout=120,
    )
    Path(f"{path}.size").write_text(str(path.stat().st_size))


@pytest.mark.parametrize("spoil", [_truncate, _zero, _mismatch],
                         ids=["truncated", "zeroed", "mismatched"])
def test_bad_archive_falls_back(written, tmp_path, spoil):
    """A bad archive never stops the JVM: a truncated one (which the JVM
    would map and crash on) is not passed to it, and one the JVM ignores
    is deleted; either way the session starts, runs its job, and the
    cache ends with a whole archive or none."""
    src, _ = written
    cache = tmp_path / "cache"
    shutil.copytree(src, cache)
    (archive,) = _archive(cache)
    spoil(archive)
    report = _session(tmp_path, cache)
    assert str(archive.resolve()) not in report["mapped"]
    assert all(_archive(cache).values())


@pytest.mark.parametrize(
    "key", ["spark.driver.extraClassPath", "spark.driver.defaultJavaOptions"]
)
def test_caller_conf_leaves_jvm_as_is(tmp_path, key):
    value = str(tmp_path / "extra") if key.endswith("ClassPath") else "-Xss4m"
    report = _session(tmp_path, tmp_path / "cache", {key: value})
    assert not [a for a in report["args"] if a.startswith(_CDS_ARGS)]
    # today's classpath: the caller's entries, then conf dir, then jars
    conf = os.path.join(_spark_home(), "conf")
    head = [value] if key.endswith("ClassPath") else []
    assert [p.rstrip("/") for p in report["cp"][: len(head) + 1]] == head + [conf]
    assert not (tmp_path / "cache" / "impresso_ta").exists() or not _archive(
        tmp_path / "cache"
    )


def test_unwritable_cache_falls_back(tmp_path):
    blocker = tmp_path / "blocker"
    blocker.write_text("")  # the cache dir would lie below a regular file
    report = _session(tmp_path, blocker)
    assert not [a for a in report["args"] if a.startswith(_CDS_ARGS)]


def _jvms(mark):
    """Pids of live processes whose environment carries ``mark``."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as fh:
                if mark in fh.read():
                    pids.append(int(pid))
        except OSError:
            pass
    return pids


def test_cli_waits_for_its_jvm_and_keeps_stdout(tmp_path):
    """The CLI's first run writes the archive and its second maps it;
    both print the same lines, no ``[cds]`` log line among them, and
    neither leaves its driver JVM running after it returns."""
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    _make_corpus(corpus)
    mark = f"IMPRESSO_TA_TEST_MARK={uuid.uuid4().hex}"
    outs = []
    for run in ("first", "second"):
        out = tmp_path / "store"
        shutil.rmtree(out, ignore_errors=True)
        r = subprocess.run(
            [
                sys.executable, "-m", "impresso_ta.cli", "import",
                "--input-dir", str(corpus), "--format", "mets_alto",
                "--output-dir", str(out), "--ts", "2024-01-01T00:00:00Z",
            ],
            capture_output=True, text=True, cwd=REPO_ROOT, timeout=600,
            env=_env(tmp_path / "cache", **dict([mark.split("=")])),
        )
        assert r.returncode == 0, r.stderr[-2000:]
        assert _jvms(mark.encode()) == [], f"{run} run left its JVM running"
        assert "[cds" not in r.stdout
        outs.append(r.stdout)
        archives = _archive(tmp_path / "cache")
        assert len(archives) == 1 and all(archives.values()), run
    assert outs[0] == outs[1]
    assert "GAZ-1900: 2 issues" in outs[0]
