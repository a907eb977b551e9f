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

:func:`get_spark` is the one place the package launches a JVM, so it
alone pays that JVM's class loading once per install rather than once
per process: an AppCDS (application class-data sharing) archive lives
in the per-user cache directory (``$XDG_CACHE_HOME``, else
``~/.cache``, under the package's name), keyed by a hash of the JDK,
the pyspark version and the launcher's classpath.  The first process
for a key dumps it as its JVM exits and publishes it by an atomic
rename; every later process maps it.  Deleting the directory resets
it.  See :func:`_cds_choice` for when it is skipped.

A ``local[...]`` session on small inputs runs one C1 and one C2 JIT
compiler thread (``-XX:CICompilerCount=2``, :data:`JIT_COMPILER_THREADS`),
the smallest tiered setup.  HotSpot sizes its compiler threads for idle
cores (3 on 4 CPUs), but ``local[N]`` gives all N cores to task
threads.  Its tiered policy drops queued compiles of methods gone cold,
so with one C2 thread the code that is hot only briefly (Janino, task
serialization, closure cleaning, Catalyst rules) is never C2-compiled,
while code that stays hot still is.  Measured on one 4-core box only
(PERF.md): short sessions on small inputs (perfbench's stock path on
~0.1 MB of raw CSVs, and 8 registry queries at sf0.01) used about a
quarter less CPU at the same wall time, but one long session of all
333 registry queries took longer with it, 1–16% at sf0.1 (17 MB) and
8–22% at sf0.01 (1.9 MB), three paired runs each.  The length of a
session is not known at launch; the size of its input is, so
:func:`get_spark` keeps the count only when the ``inputs`` a caller
names total at most ``ONE_PARTITION_MAX_BYTES`` on disk (the package's
small-input byte cap), which keeps HotSpot's count at sf0.1 but not for
a long session on small inputs (ROADMAP open item 9).  A cluster
master, whose driver runs no tasks, keeps HotSpot's count too.  The
flag goes first in ``spark.driver.extraJavaOptions`` and
HotSpot takes a flag's last occurrence, so a count in
``spark-defaults.conf`` or ``SPARK_GRAFT_DRIVER_JAVA_OPTS`` wins.  C1
alone (``-XX:TieredStopAtLevel=1``) costs less CPU still on small runs,
but it slows the heavy queries at sf0.1, so it is not used.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import logging
import os
import re
import shutil
import signal
import subprocess
import weakref
from typing import NamedTuple

from pyspark.sql import SparkSession

from .operators.localrel import ONE_PARTITION_MAX_BYTES

__all__ = ["get_spark", "session_memo", "tune_for_engine"]

_log = logging.getLogger(__name__)

# Spark's default (100) evicts the code of a dashboard session before
# its repeat calls come back to it; a static conf, so set at launch.
CODEGEN_CACHE_ENTRIES = 4096
# JIT compiler threads of a ``local[N]`` session on small inputs: one
# C1, one C2 (see the module docstring).  Not C1 only
# (TieredStopAtLevel=1): that slows the heavy queries at sf0.1.
JIT_COMPILER_THREADS = 2


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


def _driver_java_options(environ, cds_options=(),
                         compiler_threads: int | None = JIT_COMPILER_THREADS) -> str:
    """``spark.driver.extraJavaOptions`` for :func:`get_spark`:
    ``-XX:CICompilerCount=<compiler_threads>`` (none when it is None), the value
    ``spark-defaults.conf`` sets (in ``$SPARK_CONF_DIR``, else the conf
    dir of the Spark home that ``spark-submit`` runs from), then
    ``SPARK_GRAFT_DRIVER_JAVA_OPTS``, then
    ``-XX:+ExplicitGCInvokesConcurrent``, then the class-archive flags of
    :func:`_cds_choice`.  A builder conf replaces the defaults file's
    value rather than adding to it, so the merge happens here.  A
    missing conf dir or file contributes nothing.  HotSpot takes the
    last occurrence of a flag, so a compiler count given in the
    defaults file or the env var overrides the one put first."""
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
    jit = [f"-XX:CICompilerCount={compiler_threads}"] if compiler_threads else []
    return " ".join([*jit, *filter(None, opts), "-XX:+ExplicitGCInvokesConcurrent",
                     *cds_options])


# Directories the launcher puts on the classpath after the conf dir.  A
# JDK 17 dump refuses a non-empty directory on the classpath, and the
# archive key cannot see what they will hold.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
# How long the dumping process waits at exit for its JVM to write the
# archive (12-17 s on a 4-core box) before it gives up on publishing.
_DUMP_WAIT_S = 300


class _Cds(NamedTuple):
    route: str  # map | dump | skip
    reason: str
    key: str = "-"
    archive: str = ""
    java_options: tuple = ()


def _cache_dir(environ) -> str:
    base = environ.get("XDG_CACHE_HOME") or os.path.join(
        environ.get("HOME") or os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, __package__)


def _java_home(environ) -> str | None:
    """The JDK ``spark-class`` runs: ``$JAVA_HOME``, else the one of the
    ``java`` on ``$PATH``."""
    if environ.get("JAVA_HOME"):
        return environ["JAVA_HOME"]
    java = shutil.which("java", path=environ.get("PATH"))
    return java and os.path.dirname(os.path.dirname(os.path.realpath(java)))


def _stamp(path: str, name: str) -> str:
    st = os.stat(path)
    return f"{name}:{st.st_size}:{st.st_mtime_ns}"


def _listing(path: str) -> list[str]:
    """``name:size:mtime_ns`` of each entry of directory ``path``, sorted;
    empty when it does not exist."""
    try:
        names = sorted(os.listdir(path))
    except OSError:
        return []
    return [_stamp(os.path.join(path, name), name) for name in names]


def _cds_key(java_home: str, spark_home: str, conf_dir: str) -> str:
    """Hash of the JDK build, the pyspark version and the launcher's
    classpath (the listing of ``$SPARK_HOME/jars`` and the conf dir).
    Stats files only; starts no process."""
    import pyspark

    jdk = [os.path.realpath(os.path.join(java_home, "bin", "java"))]
    for rel in ("release", "lib/server/libjvm.so"):
        path = os.path.join(java_home, rel)
        jdk.append(_stamp(path, rel) if os.path.isfile(path) else f"{rel}:-")
    parts = [*jdk, pyspark.__version__, *_listing(os.path.join(spark_home, "jars")),
             "conf", *_listing(conf_dir)]
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def _cds_choice(environ, jvm_running: bool = False) -> _Cds:
    """Which class archive the JVM that :func:`get_spark` launches takes:

    - ``map``: the archive of this key is published (its byte size
      matches the size recorded at publication; the JVM dies of SIGBUS
      on a truncated one) -> ``-XX:SharedArchiveFile``;
    - ``dump``: no process has tried this key yet -> this one creates
      the key's marker (``O_EXCL``, so of two racing processes one
      wins) and adds ``-XX:ArchiveClassesAtExit``;
      :func:`_publish_archive` renames the dump into place at exit;
    - ``skip``: no flag.  Either the JVM is already running; the marker
      exists without a usable archive (a dump is running, failed or was
      killed: nobody dumps twice or waits); the classpath is not the
      launcher's plain one (``SPARK_CONF_DIR`` set, a non-template
      file in the conf dir, a variable of ``_CLASSPATH_ENV`` set); or
      the cache dir cannot be written or named on a JVM command line.

    For ``map`` and ``dump`` it points ``environ["SPARK_CONF_DIR"]`` at
    an empty directory in the cache dir, for :func:`get_spark` to undo
    after the launch (the launcher puts the conf dir on the classpath,
    and a dump refuses a non-empty directory there; Spark never reads
    ``*.template`` files, so nothing is lost).  Both send the JVM's
    ``cds`` log tags to a file in the cache dir instead of stdout, where
    a caller's own output goes.  Logs one debug record
    ``cds=… reason=… key=…``."""

    cache = _cache_dir(environ)
    empty_conf = os.path.join(cache, "conf")

    def choose(route, reason, key="-", archive=""):
        _log.debug("get_spark: cds=%s reason=%s key=%s", route, reason, key)
        if route == "skip":
            return _Cds(route, reason, key)
        environ["SPARK_CONF_DIR"] = empty_conf
        flag = "SharedArchiveFile" if route == "map" else "ArchiveClassesAtExit"
        target = archive if route == "map" else archive + ".part"
        log = f"{archive[:-4]}.{route}.log"
        return _Cds(route, reason, key, archive, (
            f"-XX:{flag}={target}",
            "-Xlog:cds*=off",
            f"-Xlog:cds*=info:file={log}::filecount=0",
        ))

    if jvm_running:
        return choose("skip", "jvm_running")
    if not re.fullmatch(r"[\w./@+-]+", cache):  # JVM options split on blanks, -Xlog on ':'
        return choose("skip", "cache_path")
    if environ.get("SPARK_CONF_DIR"):
        return choose("skip", "spark_conf_dir")
    for name in _CLASSPATH_ENV:
        if environ.get(name):
            return choose("skip", name.lower())
    spark_home, java_home = _spark_home(environ), _java_home(environ)
    if not spark_home:
        return choose("skip", "no_spark_home")
    if not java_home or not os.path.isfile(os.path.join(java_home, "bin", "java")):
        return choose("skip", "no_java")
    conf_dir = os.path.join(spark_home, "conf")
    if any(not e.rsplit(":", 2)[0].endswith(".template") for e in _listing(conf_dir)):
        return choose("skip", "conf_dir_files")
    key = _cds_key(java_home, spark_home, conf_dir)
    archive = os.path.join(cache, f"cds-{key}.jsa")
    marker = archive[:-4] + ".dump"
    try:
        os.makedirs(empty_conf, exist_ok=True)
        fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
    except FileExistsError:
        pass
    except OSError:
        return choose("skip", "cache_unwritable", key)
    else:
        os.close(fd)
        return choose("dump", "no_archive", key, archive)
    try:
        with open(marker, encoding="ascii") as f:
            published = f.read().strip()
        size = os.path.getsize(archive)
    except OSError:
        return choose("skip", "dump_attempted", key)
    if published != str(size):
        return choose("skip", "archive_size", key)
    return choose("map", "archive", key, archive)


def _publish_archive(proc, archive: str) -> None:
    """Exit hook of the process that dumps: end its gateway JVM (which
    exits at EOF on its stdin, if nothing stopped it before), wait while
    it writes ``<archive>.part``, and publish that only if the JVM exited
    cleanly (0, or 143 after a SIGTERM it handled): record its size in
    the key's marker, rename it into place, and remove the archives of
    stale keys.  A failed or killed dump leaves the marker, so no later
    process dumps this key again."""
    part = archive + ".part"
    try:
        if proc.stdin and not proc.stdin.closed:
            proc.stdin.close()
        code = proc.wait(timeout=_DUMP_WAIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        _log.debug("get_spark: cds=unpublished reason=%s", type(e).__name__)
        return
    if code not in (0, 128 + signal.SIGTERM) or not os.path.isfile(part):
        _log.debug("get_spark: cds=unpublished reason=exit_%s", code)
        with contextlib.suppress(OSError):
            os.remove(part)
        return
    cache, name = os.path.split(archive)
    stem = name[:-len(".jsa")]
    try:
        with open(os.path.join(cache, stem + ".dump"), "w", encoding="ascii") as f:
            f.write(str(os.path.getsize(part)))
        os.replace(part, archive)
        stale = [e for e in os.listdir(cache)
                 if e.startswith("cds-") and not e.startswith(stem + ".")]
    except OSError as e:
        _log.debug("get_spark: cds=unpublished reason=%s", type(e).__name__)
        return
    for entry in stale:
        with contextlib.suppress(OSError):
            os.remove(os.path.join(cache, entry))
    _log.debug("get_spark: cds=published key=%s", stem[len("cds-"):])


def _compiler_threads(master: str, inputs) -> int | None:
    """:data:`JIT_COMPILER_THREADS` for a ``local[...]`` master whose
    ``inputs`` (files, or directories walked; a missing path counts
    nothing) total at most ``ONE_PARTITION_MAX_BYTES`` on disk, else
    None: HotSpot's own count."""
    total = 0
    for path in inputs:
        if os.path.isfile(path):
            total += os.path.getsize(path)
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    if re.fullmatch(r"local(\[.*\])?", master) and total <= ONE_PARTITION_MAX_BYTES:
        return JIT_COMPILER_THREADS
    return None


def _driver_memory(environ, meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` default: half the host's ``MemTotal``, at
    most 24g; 24g when ``meminfo`` cannot be read."""
    if environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return environ["SPARK_GRAFT_DRIVER_MEM"]
    try:
        with open(meminfo, encoding="ascii") as f:
            kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "24g"
    return f"{min(24 << 10, kib // 2048)}m"


def get_spark(
    app_name: str = "stock-data-warehouse-analytics-spark",
    *,
    master: str | None = None,
    inputs: tuple[str, ...] | list[str] = (),
) -> SparkSession:
    """The package's session, launching its JVM if none runs yet.
    ``inputs`` names the files or directories the session will read.
    Under a ``local[...]`` master whose inputs total at most
    :data:`~.operators.localrel.ONE_PARTITION_MAX_BYTES` on disk (or
    that names none) the JVM runs :data:`JIT_COMPILER_THREADS` compiler
    threads; otherwise HotSpot sizes them (see the module docstring)."""
    from pyspark import SparkContext

    cpus = _cpus()
    master = master or f"local[{cpus}]"
    jvm_running = SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    cds = _cds_choice(os.environ, jvm_running)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # single-JVM local mode: driver heap IS the executor heap.  8g
        # starts GC-thrashing ~40 queries into a long session (observed:
        # a 2s broadcast-NL query degrading to 25s); 24g keeps full-
        # registry runs flat on the 128 GiB test box, and half of
        # MemTotal leaves room for the Python workers on a smaller one.
        # SPARK_GRAFT_DRIVER_MEM overrides it because only the caller
        # knows what else shares the host (perfbench sizes its own);
        # irrelevant on a real cluster where executor memory is
        # provisioned separately.
        .config("spark.driver.memory", _driver_memory(os.environ))
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
        .config("spark.driver.extraJavaOptions",
                _driver_java_options(os.environ, cds.java_options,
                                     _compiler_threads(master, inputs)))
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
    try:
        spark = builder.getOrCreate()
    finally:
        # the launcher has read the archive's conf dir; the caller's
        # value is what child processes of this one must see
        if conf_dir is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = conf_dir
    if cds.route == "dump":
        atexit.register(_publish_archive, SparkContext._gateway.proc, cds.archive)
    return tune_for_engine(spark)
