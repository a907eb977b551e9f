"""SparkSession builder tuned for both local test runs and cluster scale.

The reference has no session concept (single-process pandas).  Here we
centralize the configs that matter at 100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  auto broadcast-join demotion/promotion),
- explicit shuffle partition default sized from the local CPU budget
  (on a real cluster AQE re-coalesces upward from this),
- Arrow enabled for the few Pandas-UDF paths (mining/multimodal),
- UTC session timezone so timestamp semantics are deterministic and
  match the DuckDB oracle.
"""

from __future__ import annotations

import os
import re
import weakref

from pyspark.sql import SparkSession

__all__ = ["get_spark", "session_memo", "tune_for_engine"]


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return 8


def tune_for_engine(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally provided session.

    The driver hands us its own SparkSession in ``entry()``/``queries()``;
    static confs can't change there, but these runtime ones can.
    """
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    # Non-ANSI arithmetic: x/0 → NULL, matching DuckDB (and the
    # reference's pandas pipeline never errors on bad rows either).
    conf.set("spark.sql.ansi.enabled", "false")
    # Seed shuffle width from the actual CPU budget instead of the 200
    # default — AQE coalesces downward at runtime, and on a real
    # cluster it re-splits upward, so this is a floor, not a ceiling.
    conf.set("spark.sql.shuffle.partitions", str(_cpus()))
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    _ship_package(spark)
    return spark


_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def session_memo(spark: SparkSession, key, build):
    """Return the value memoized under ``key`` for ``spark``, calling
    ``build()`` to make it on first use.

    This is the one staging cache of the package: every session-scoped
    substrate (staged frames, fitted quantizers, trained vocabularies,
    lazy table scans) lives here, under a key prefixed by the name of
    the substrate so that keys never collide.  A ``build`` that raises
    stores nothing, so the next call builds again.  Entries are held
    weakly by session: they die with their session, and a
    ``newSession()`` gets its own.

    STALENESS CONTRACT: entries are never invalidated.  Keys name their
    inputs (an ``sf_dir`` path, a table, a parameter), not their
    contents, so rewriting the parquet under ``sf_dir`` within one
    session serves the pre-rewrite snapshot to every later query.  That
    is intended: inputs are immutable per run, and a staged substrate
    is a snapshot.  A pipeline that mutates its input directory
    mid-session must start a fresh session.
    """
    per_session = _MEMO.setdefault(spark, {})
    if key not in per_session:
        per_session[key] = build()
    return per_session[key]


# weak so (a) entries die with their session and (b) a NEW session
# allocated at a garbage-collected session's address is never
# mistaken for an already-shipped one (the id()-in-a-set bug)
_SHIPPED: "weakref.WeakSet" = weakref.WeakSet()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python WORKERS regardless of the
    driver's cwd: worker-side closures are written to be cloudpickled
    by value (nested functions), but one by-reference pickle slipping
    through (a module-level helper captured in a closure) would fail
    on an externally provided session whose workers don't have the
    repo on PYTHONPATH.  Shipping a zip via ``addPyFile`` makes that
    failure mode impossible.  Idempotent per session; best-effort (a
    cluster with a read-only tmp just keeps the by-value discipline)."""
    if spark in _SHIPPED:
        return
    try:
        import hashlib
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        pkg_name = os.path.basename(pkg_dir)
        # content-addressed zip name: a stale zip from an older build
        # must never shadow current sources on the workers
        hasher = hashlib.md5()
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    st = os.stat(full)
                    hasher.update(
                        f"{os.path.relpath(full, pkg_dir)}:{st.st_mtime_ns}:{st.st_size}".encode()
                    )
        zpath = os.path.join(
            tempfile.gettempdir(),
            f"{pkg_name}_pyfiles_{hasher.hexdigest()[:12]}.zip",
        )
        if not os.path.exists(zpath):
            tmp = zpath + ".tmp"
            with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
                for root, _dirs, files in os.walk(pkg_dir):
                    for fn in files:
                        if fn.endswith(".py"):
                            full = os.path.join(root, fn)
                            rel = os.path.join(
                                pkg_name, os.path.relpath(full, pkg_dir)
                            )
                            zf.write(full, rel)
            os.replace(tmp, zpath)
        spark.sparkContext.addPyFile(zpath)
        _SHIPPED.add(spark)
    except Exception:  # noqa: BLE001 — defensive shipping only
        pass


def _spark_home(environ) -> str | None:
    """``$SPARK_HOME``, else the directory pyspark itself launches
    ``spark-submit`` from (a pip install's package directory); None when
    pyspark finds none."""
    if environ.get("SPARK_HOME"):
        return environ["SPARK_HOME"]
    from pyspark import find_spark_home

    try:
        return find_spark_home._find_spark_home()
    except SystemExit:  # pyspark reports a missing home by exiting
        return None


def _driver_java_options(environ) -> str:
    """``spark.driver.extraJavaOptions`` for :func:`get_spark`: the value
    ``spark-defaults.conf`` sets (in ``$SPARK_CONF_DIR``, else the conf
    dir of the Spark home that ``spark-submit`` runs from), then
    ``SPARK_GRAFT_DRIVER_JAVA_OPTS``, then
    ``-XX:+ExplicitGCInvokesConcurrent``.  A builder conf replaces the
    defaults file's value rather than adding to it, so the merge happens
    here.  A missing conf dir or file contributes nothing."""
    home = None if environ.get("SPARK_CONF_DIR") else _spark_home(environ)
    conf_dir = environ.get("SPARK_CONF_DIR") or (home and os.path.join(home, "conf"))
    lines = []
    if conf_dir:
        try:
            with open(os.path.join(conf_dir, "spark-defaults.conf"), encoding="utf-8") as f:
                lines = f.readlines()
        except OSError:
            pass
    defaults = ""
    for line in lines:  # java.util.Properties syntax; the last assignment wins
        m = re.match(r"\s*spark\.driver\.extraJavaOptions(?:\s*[=:]|\s)(.*)", line)
        if m:
            defaults = m.group(1).strip()
    opts = (defaults, environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "").strip())
    return " ".join([*filter(None, opts), "-XX:+ExplicitGCInvokesConcurrent"])


def get_spark(
    app_name: str = "stock-data-warehouse-analytics-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        # single-JVM local mode: driver heap IS the executor heap.  8g
        # starts GC-thrashing ~40 queries into a long session (observed:
        # a 2s broadcast-NL query degrading to 25s); 24g keeps full-
        # registry runs flat on the 128 GiB test box.  Overridable for
        # smaller machines; irrelevant on a real cluster where executor
        # memory is provisioned separately.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # ContextCleaner only reclaims broadcasts/shuffles/checkpoint
        # RDDs when a driver GC runs, and Spark's fallback periodic GC
        # fires every 30 MINUTES — with a 24g heap a long multi-query
        # session hardly ever GCs, so executor-side state accumulates
        # and task times degrade ~3-6× a hundred queries in (measured:
        # full-registry bench 309s -> 178s with this set).  90s keeps
        # cleanup ahead of accumulation at negligible GC cost.
        .config("spark.cleaner.periodicGC.interval", "90s")
        # ContextCleaner's periodic trigger is a System.gc() — by
        # default that is a STOP-THE-WORLD G1 Full GC, and on a 24g
        # heap with accumulated garbage it stalls every task for
        # seconds.  Measured on full-registry benches: a ~2-minute
        # window of 2-17× degraded queries recurring at the SAME
        # cumulative position run after run (the 90s cadence is
        # deterministic against an identical query sequence).
        # ExplicitGCInvokesConcurrent turns the explicit call into a
        # concurrent G1 cycle: broadcast/shuffle cleanup still runs
        # (weak refs are processed during the concurrent cycle), tasks
        # keep executing.  Not a local-mode hack — any long-lived
        # driver/executor JVM that relies on periodic explicit GC for
        # ContextCleaner wants this flag.
        # Merged after the options spark-defaults.conf and
        # SPARK_GRAFT_DRIVER_JAVA_OPTS give, instead of clobbering them;
        # under spark-submit client mode the driver JVM is already
        # started and this is a no-op either way.
        .config("spark.driver.extraJavaOptions", _driver_java_options(os.environ))
        # Python workers connect back to the JVM over a local socket
        # with a default 15s auth/handshake window; raise it so a
        # saturated box can't kill a worker mid-handshake.  (NOT the
        # fix for the r5/r7 streaming-DataSource 0-row flake — that
        # was a cwd-dependent ModuleNotFoundError in the driver-side
        # streaming-source runner, fixed by pickle-by-value in
        # sources/pydatasource.ensure_package_shipped — purely a
        # defense-in-depth margin for load spikes.)
        .config("spark.python.authenticate.socketTimeout", "60s")
    )
    return tune_for_engine(builder.getOrCreate())
