"""How ``get_spark`` launches its JVM: the AppCDS class archive choice
(map, dump or skip) and its publication, the host-fit heap default, and
the confs a ``newSession()`` of the returned session inherits.

Every test but the last two is JVM-free: it builds a fake JDK, Spark
home and cache dir under ``tmp_path``.  The last two use Spark: one in
the test session, one runs three short Spark processes against one
temporary cache dir.
"""

from __future__ import annotations

import logging
import os
import subprocess
import sys

import pytest

from stock_data_warehouse_analytics_spark.session import (
    _cds_choice,
    _cpus,
    _driver_memory,
    _publish_archive,
    get_spark,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_NAME = "stock_data_warehouse_analytics_spark"


@pytest.fixture
def install(tmp_path):
    """A fake JDK and Spark home, and the environ that names them."""
    java = tmp_path / "jdk"
    (java / "bin").mkdir(parents=True)
    (java / "bin" / "java").write_text("")
    (java / "release").write_text('JAVA_VERSION="17"\n')
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "a.jar").write_bytes(b"a" * 10)
    (home / "jars" / "b.jar").write_bytes(b"b" * 20)
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    return {
        "JAVA_HOME": str(java),
        "SPARK_HOME": str(home),
        "XDG_CACHE_HOME": str(tmp_path / "cache"),
    }


def _cache(environ) -> str:
    return os.path.join(environ["XDG_CACHE_HOME"], CACHE_NAME)


class _ExitedJvm:
    """A gateway process that has already exited with ``returncode``."""

    stdin = None

    def __init__(self, returncode):
        self.returncode = returncode

    def wait(self, timeout=None):
        return self.returncode


def _dump(environ, returncode=143) -> str:
    """Run the dump route once and publish a fake archive with a JVM exit
    of ``returncode``; return the archive path."""
    choice = _cds_choice(dict(environ))
    assert choice.route == "dump", choice
    with open(choice.archive + ".part", "wb") as f:
        f.write(b"\0" * 4096)
    _publish_archive(_ExitedJvm(returncode), choice.archive)
    return choice.archive


def test_cds_dump_once_then_map(install, caplog):
    """Absent and writable: the first process dumps, a racing second
    one skips; once published, every process maps."""
    env = dict(install)
    with caplog.at_level(logging.DEBUG, logger="stock_data_warehouse_analytics_spark.session"):
        first = _cds_choice(env)
    assert first.route == "dump"
    key = first.key
    assert caplog.messages == [f"get_spark: cds=dump reason=no_archive key={key}"]
    cache = _cache(install)
    assert first.archive == os.path.join(cache, f"cds-{key}.jsa")
    assert os.path.isfile(os.path.join(cache, f"cds-{key}.dump"))
    assert env["SPARK_CONF_DIR"] == os.path.join(cache, "conf")
    assert os.listdir(env["SPARK_CONF_DIR"]) == []
    assert first.java_options == (
        f"-XX:ArchiveClassesAtExit={first.archive}.part",
        "-Xlog:cds*=off",
        f"-Xlog:cds*=info:file={cache}/cds-{key}.dump.log::filecount=0",
    )

    racer = dict(install)
    assert _cds_choice(racer)[:3] == ("skip", "dump_attempted", key)
    assert "SPARK_CONF_DIR" not in racer

    # publication: the size goes into the marker, the part is renamed,
    # the archives of stale keys are removed
    stale = os.path.join(cache, "cds-0123456789abcdef.jsa")
    open(stale, "wb").close()
    with open(first.archive + ".part", "wb") as f:
        f.write(b"\0" * 4096)
    _publish_archive(_ExitedJvm(143), first.archive)
    assert sorted(os.listdir(cache)) == ["cds-" + key + ".dump", "cds-" + key + ".jsa", "conf"]
    with open(os.path.join(cache, f"cds-{key}.dump")) as f:
        assert f.read() == "4096"

    env = dict(install)
    mapped = _cds_choice(env)
    assert mapped[:4] == ("map", "archive", key, first.archive)
    assert mapped.java_options[0] == f"-XX:SharedArchiveFile={first.archive}"
    assert env["SPARK_CONF_DIR"] == os.path.join(cache, "conf")

    # a truncated archive is never handed to the JVM (it dies of SIGBUS)
    os.truncate(first.archive, 1000)
    env = dict(install)
    assert _cds_choice(env)[:3] == ("skip", "archive_size", key)
    assert "SPARK_CONF_DIR" not in env


def test_cds_failed_dump_is_never_retried(install):
    """A dump killed by SIGKILL publishes nothing and leaves the marker:
    later processes neither dump nor wait."""
    archive = _dump(install, returncode=-9)
    assert not os.path.exists(archive)
    assert not os.path.exists(archive + ".part")
    env = dict(install)
    assert _cds_choice(env)[:2] == ("skip", "dump_attempted")
    assert "SPARK_CONF_DIR" not in env


@pytest.mark.parametrize(
    "change, reason",
    [
        ("conf_file", "conf_dir_files"),
        ("hadoop_conf_dir", "hadoop_conf_dir"),
        ("spark_dist_classpath", "spark_dist_classpath"),
        ("spark_conf_dir", "spark_conf_dir"),
        ("cache_unwritable", "cache_unwritable"),
        ("jvm_running", "jvm_running"),
    ],
)
def test_cds_skips_leave_the_environment_alone(install, tmp_path, change, reason):
    env = dict(install)
    jvm_running = False
    if change == "conf_file":
        (tmp_path / "spark" / "conf" / "log4j2.properties").write_text("x\n")
    elif change == "hadoop_conf_dir":
        env["HADOOP_CONF_DIR"] = str(tmp_path)
    elif change == "spark_dist_classpath":
        env["SPARK_DIST_CLASSPATH"] = str(tmp_path / "extra.jar")
    elif change == "spark_conf_dir":
        env["SPARK_CONF_DIR"] = str(tmp_path / "spark" / "conf")
    elif change == "cache_unwritable":
        # a file where the cache dir should be: no directory can be made
        # under it, even by root
        (tmp_path / "cache").write_text("")
    else:
        jvm_running = True
    before = dict(env)
    choice = _cds_choice(env, jvm_running)
    assert (choice.route, choice.reason, choice.java_options) == ("skip", reason, ())
    assert env == before
    assert not os.path.isdir(os.path.join(_cache(install), "conf"))


def test_cds_key_follows_jar_size_and_mtime(install, tmp_path):
    jar = tmp_path / "spark" / "jars" / "a.jar"
    keys = [_dump(install)[-20:-4]]
    jar.write_bytes(b"a" * 11)
    keys.append(_dump(install)[-20:-4])
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    keys.append(_dump(install)[-20:-4])
    assert len(set(keys)) == 3
    # the last publication removed the archives of the two stale keys
    assert sorted(os.listdir(_cache(install))) == [
        f"cds-{keys[-1]}.dump", f"cds-{keys[-1]}.jsa", "conf"
    ]


def test_driver_memory_is_half_of_memtotal_up_to_24g(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16479424 kB\nMemFree:  1 kB\n")
    assert _driver_memory({}, str(meminfo)) == "8046m"
    meminfo.write_text("MemTotal:       131072000 kB\n")
    assert _driver_memory({}, str(meminfo)) == "24576m"
    assert _driver_memory({"SPARK_GRAFT_DRIVER_MEM": "2g"}, str(meminfo)) == "2g"
    assert _driver_memory({}, str(tmp_path / "missing")) == "24g"


def test_new_sessions_inherit_the_returned_confs(spark):
    """The session ``get_spark`` returns and a ``newSession()`` of it
    agree on the shuffle width (the CPU budget) and keep the other
    confs ``get_spark`` sets."""
    got = get_spark("confs")
    fresh = got.newSession()
    for key, want in (
        ("spark.sql.shuffle.partitions", str(_cpus())),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.ansi.enabled", "false"),
    ):
        assert got.conf.get(key) == fresh.conf.get(key) == want, key


_PROCESS = """
import sys
sys.path.insert(0, {repo!r})
from pyspark import SparkContext
from stock_data_warehouse_analytics_spark.session import get_spark

spark = get_spark("cds-test", master="local[2]")
print("rows", spark.range(5).selectExpr("sum(id)").collect()[0][0])
with open(f"/proc/{{SparkContext._gateway.proc.pid}}/maps") as f:
    print("mapped", any({archive!r} in line for line in f))
spark.stop()
"""


def test_cds_archive_across_processes(tmp_path):
    """Process 1 dumps and publishes at exit, process 2 maps the archive,
    process 3 is handed it under a JVM flag it does not fit, process 4
    runs over a truncated one; each prints only its own lines (the JVM's
    ``cds`` log goes to a file, not to the shared stdout)."""
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="1g")
    cache = tmp_path / CACHE_NAME

    def run(archive, **extra_env):
        code = _PROCESS.format(repo=REPO, archive=str(archive))
        out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                             text=True, env=dict(env, **extra_env), timeout=400,
                             cwd=str(tmp_path))
        assert out.returncode == 0, out.stderr[-2000:]
        return out.stdout.splitlines()

    assert run(cache) == ["rows 10", "mapped False"]
    (archive,) = cache.glob("cds-*.jsa")
    assert not list(cache.glob("*.part"))
    assert run(archive) == ["rows 10", "mapped True"]
    # dumped with compressed oops: the JVM refuses it and warns, to the log
    assert run(cache, SPARK_GRAFT_DRIVER_JAVA_OPTS="-XX:-UseCompressedOops") == [
        "rows 10", "mapped False"
    ]
    assert "Unable to use shared archive" in (cache / f"{archive.stem}.map.log").read_text()
    os.truncate(archive, archive.stat().st_size // 2)
    assert run(cache) == ["rows 10", "mapped False"]
