"""``session.session_memo``: the one session-scoped staging cache,
plus the structural guards that keep the package to one way to stage
and one way to route small inputs; ``get_spark``'s merge of the
driver's Java options, and the compiler-thread count of the JVM it
launched.

Driver-only: no test here runs a Spark job.
"""

from __future__ import annotations

import gc
import os
import re
import weakref

import pytest

from stock_data_warehouse_analytics_spark.session import (
    _MEMO,
    _driver_java_options,
    session_memo,
)

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "stock_data_warehouse_analytics_spark",
)


class _Value:
    """A weak-referenceable stand-in for a staged substrate."""


class _Counter:
    """A ``build`` that counts its calls and returns a fresh value."""

    def __init__(self):
        self.calls = 0

    def __call__(self):
        self.calls += 1
        return _Value()


def test_second_call_returns_same_object_without_rebuilding(spark):
    build = _Counter()
    first = session_memo(spark, ("test_memo", "same"), build)
    again = session_memo(spark, ("test_memo", "same"), build)
    assert again is first
    assert build.calls == 1


def test_distinct_keys_get_distinct_entries(spark):
    build = _Counter()
    a = session_memo(spark, ("test_memo", "a"), build)
    b = session_memo(spark, ("test_memo", "b"), build)
    assert a is not b
    assert build.calls == 2


def test_new_session_gets_its_own_entries(spark):
    build = _Counter()
    key = ("test_memo", "per_session")
    mine = session_memo(spark, key, build)
    other = spark.newSession()
    theirs = session_memo(other, key, build)
    assert theirs is not mine
    assert build.calls == 2
    assert session_memo(spark, key, build) is mine


def test_failed_build_stores_nothing(spark):
    key = ("test_memo", "flaky")
    calls = []

    def flaky():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("first build fails")
        return "built"

    with pytest.raises(RuntimeError):
        session_memo(spark, key, flaky)
    assert session_memo(spark, key, flaky) == "built"
    assert session_memo(spark, key, flaky) == "built"
    assert len(calls) == 2


def test_entries_die_with_their_session(spark):
    other = spark.newSession()
    value = weakref.ref(session_memo(other, ("test_memo", "dies"), _Counter()))
    assert other in _MEMO
    assert value() is not None
    del other
    # SparkSession() re-binds pyspark's RDD.toDF patch to the newest
    # session; build one more so that patch lets go of ``other``
    spark.newSession()
    gc.collect()
    assert value() is None


def _package_lines():
    """(path relative to the package, line number, line) for every
    line of the package's Python source."""
    for root, _dirs, files in os.walk(PKG_DIR):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG_DIR)
            with open(path, encoding="utf-8") as fh:
                for lineno, line in enumerate(fh, 1):
                    yield rel, lineno, line


def test_weak_key_dictionary_only_in_session_module():
    """Every session-scoped cache goes through ``session_memo``: a
    hand-rolled ``WeakKeyDictionary`` anywhere else in the package is
    a second staging path."""
    offenders = [
        f"{rel}:{lineno}"
        for rel, lineno, line in _package_lines()
        if "WeakKeyDictionary" in line and rel != "session.py"
    ]
    assert offenders == []


def test_one_small_input_rule():
    """The small-input rules are constants in ``operators/localrel.py``
    on exact facts (``collect_if_small``'s row count, the stock fact's
    bytes on disk, the quantile route's largest group): no env knob
    sizes a small path or a byte cap such as ``ONE_PARTITION_MAX_BYTES``,
    and no module reads a Catalyst size estimate."""
    knob = re.compile(
        r"SPARK_GRAFT_\w*(SMALL|MAX)_BYTES"
        r"|(environ|getenv).*(SMALL|MAX)_BYTES|(SMALL|MAX)_BYTES.*(environ|getenv)"
    )
    offenders = [
        f"{rel}:{lineno}"
        for rel, lineno, line in _package_lines()
        if knob.search(line) or "sizeInBytes" in line
    ]
    assert offenders == []


JIT = "-XX:CICompilerCount=2"
JAVA_GC = "-XX:+ExplicitGCInvokesConcurrent"


def test_driver_java_options_keep_spark_defaults(tmp_path, monkeypatch):
    """``get_spark``'s ``spark.driver.extraJavaOptions`` keeps the value
    of ``spark-defaults.conf`` (``$SPARK_CONF_DIR``, else
    ``$SPARK_HOME/conf``, else the conf dir of the home pyspark finds),
    then ``SPARK_GRAFT_DRIVER_JAVA_OPTS``, then the GC flag, all after
    the compiler-thread flag (absent when the count is None), so a
    caller's own count comes last and wins; no JVM is started."""
    from pyspark import find_spark_home

    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text(
        "# spark.driver.extraJavaOptions -Dcommented=1\n"
        "spark.driver.extraJavaOptionsX -Dother=1\n"
        "spark.executor.extraJavaOptions -Dexecutor=1\n"
        "spark.driver.extraJavaOptions=-Dfirst=1\n"
        "  spark.driver.extraJavaOptions   -Dlast=1 -Xss4m  \n"
    )
    home = tmp_path / "home"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf").write_text(
        "spark.driver.extraJavaOptions: -Dhome=1\n"
    )
    # a conf file in the working directory is never read
    monkeypatch.chdir(tmp_path / "conf")
    opts = "-Dgraft=1"
    cases = [
        ({"SPARK_CONF_DIR": str(conf), "SPARK_HOME": str(home)},
         f"{JIT} -Dlast=1 -Xss4m {JAVA_GC}"),
        ({"SPARK_CONF_DIR": str(conf), "SPARK_GRAFT_DRIVER_JAVA_OPTS": f" {opts} "},
         f"{JIT} -Dlast=1 -Xss4m {opts} {JAVA_GC}"),
        ({"SPARK_CONF_DIR": "", "SPARK_HOME": str(home)}, f"{JIT} -Dhome=1 {JAVA_GC}"),
        ({"SPARK_HOME": str(tmp_path / "missing")}, f"{JIT} {JAVA_GC}"),
        ({"SPARK_GRAFT_DRIVER_JAVA_OPTS": opts}, f"{JIT} {opts} {JAVA_GC}"),
        # HotSpot takes a flag's last occurrence: the caller's count wins
        ({"SPARK_GRAFT_DRIVER_JAVA_OPTS": "-XX:CICompilerCount=4"},
         f"{JIT} -XX:CICompilerCount=4 {JAVA_GC}"),
        ({}, f"{JIT} {JAVA_GC}"),
    ]
    # with SPARK_HOME absent, pyspark's own lookup names the home
    found = {"home": str(tmp_path / "missing")}

    def fake_find_spark_home():
        if found["home"] is None:
            raise SystemExit(-1)
        return found["home"]

    monkeypatch.setattr(find_spark_home, "_find_spark_home", fake_find_spark_home)
    for environ, want in cases:
        assert _driver_java_options(environ) == want, environ
    found["home"] = str(home)
    assert _driver_java_options({}) == f"{JIT} -Dhome=1 {JAVA_GC}"
    assert _driver_java_options({"SPARK_GRAFT_DRIVER_JAVA_OPTS": opts}) == (
        f"{JIT} -Dhome=1 {opts} {JAVA_GC}"
    )
    assert _driver_java_options({"SPARK_CONF_DIR": str(conf)}) == (
        f"{JIT} -Dlast=1 -Xss4m {JAVA_GC}"
    )
    found["home"] = None
    assert _driver_java_options({}) == f"{JIT} {JAVA_GC}"
    # no count (a larger input or a cluster master): HotSpot's own
    assert _driver_java_options({"SPARK_GRAFT_DRIVER_JAVA_OPTS": opts}, (), None) == (
        f"{opts} {JAVA_GC}"
    )


def test_compiler_threads_follow_master_and_input_bytes(tmp_path):
    """``get_spark`` keeps one C2 thread for a ``local[...]`` master
    whose named inputs total at most ``ONE_PARTITION_MAX_BYTES`` on
    disk (or that names none), and leaves the count to HotSpot for a
    larger input or a cluster master."""
    from stock_data_warehouse_analytics_spark.operators.localrel import (
        ONE_PARTITION_MAX_BYTES,
    )
    from stock_data_warehouse_analytics_spark.session import (
        JIT_COMPILER_THREADS,
        _compiler_threads,
    )

    data = tmp_path / "sf"
    (data / "lineitem").mkdir(parents=True)
    part = data / "lineitem" / "part-0.parquet"
    part.write_bytes(b"x" * ONE_PARTITION_MAX_BYTES)
    one_file = tmp_path / "HVN.csv"
    one_file.write_bytes(b"x" * 10)
    for master in ("local", "local[4]", "local[*]"):
        assert _compiler_threads(master, ()) == JIT_COMPILER_THREADS
        assert _compiler_threads(master, [str(data)]) == JIT_COMPILER_THREADS
        assert _compiler_threads(master, [str(data), str(one_file)]) is None
        assert _compiler_threads(master, [str(tmp_path / "missing")]) == JIT_COMPILER_THREADS
    (data / "nation.parquet").write_bytes(b"x")
    assert _compiler_threads("local[4]", [str(data)]) is None
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        assert _compiler_threads(master, ()) is None


def test_live_jvm_runs_two_compiler_threads(spark):
    """The ``local[N]`` session ``get_spark`` launched for the tests,
    which names no inputs, runs one C1 and one C2 compiler thread."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("CICompilerCount").getValue() == "2"
