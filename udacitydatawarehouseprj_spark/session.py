"""SparkSession factory and table registry.

Replaces the reference's infra plane (``manage_cluster.py`` — Redshift
cluster provisioning, IAM, TCP ingress) with SparkSession construction:
cluster sizing becomes ``master``/executor config, and the catalog half of
``create_tables.py`` becomes temp-view registration over Parquet.

Scale posture (100 TB / 1000-executor design, tested on local[32]):
* AQE on — runtime coalescing, skew-join splitting, broadcast conversion.
* shuffle partitions sized from the env (local) — on a real cluster this
  should be ~2-3x total cores or left to AQE's coalescing.
* Arrow on for any pandas interchange (``toPandas``, pandas UDFs).
* file discovery on the driver for a local master: Spark otherwise lists
  more than 32 input paths with a Spark job, which on a local master is
  one task per path in this same JVM — ~25x the CPU of a driver listing
  for a 182-file glob. A cluster master keeps Spark's parallel listing,
  which spreads a huge landing zone over executors.
* Python only off the hot path, and cheap to start there: each Python
  task's ``importlib.invalidate_caches()`` re-reads every zip archive on
  the worker's path on Python 3.10-3.12 (0.144 s of CPU per task for
  ``pyspark.zip`` and the Spark core jar). Built sessions fork workers
  from ``pyworker``, which skips unchanged archives; Python 3.13 no
  longer re-reads, so there the daemon saves nothing.
* local files written without a fork per file: without the native
  ``libhadoop``, Hadoop's local filesystem runs ``chmod`` in a child
  process for every file it creates (each data file and its ``.crc``)
  and ``readlink`` for each rename a stream checkpoint makes, ~8 ms of
  CPU apiece. Sessions built for a local master use ``jvm/NoFork.java``,
  which does those two calls in the JVM and is otherwise Hadoop's own
  code: ``.crc`` checksums are still written and verified, and
  ``FileContext``'s no-overwrite rename, file modes and umask are
  unchanged. A host without ``javac`` keeps stock Hadoop.
* session timezone pinned to UTC so timestamp-derived columns (time_key,
  hour, week...) are deterministic and match the DuckDB oracle, which
  operates on naive UTC timestamps.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Tables the driver's testdata ships (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))

# Confs that are safe (and necessary) to set on an externally provided
# session at runtime — all of these are runtime-mutable SQL confs.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet TIMESTAMP(NANOS) (events.ts in the testdata) is not readable
    # as a Spark timestamp; read as nanos-since-epoch long, converted back
    # to TimestampType in load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # write micros, not legacy INT96 (which pyarrow reports as ns)
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Python DataSource filter pushdown (sources/python_source.py
    # implements pushFilters; the API refuses to plan without the flag)
    "spark.sql.python.filterPushdown.enabled": "true",
}

# Confs only the sessions get_spark builds receive: Spark refuses them on
# a live session (CANNOT_MODIFY_CONFIG), so configure() never tries.
BUILD_CONF = {
    # A round-11 sf100 run lost a Python worker to a silent crash
    # (segfault, no traceback) and the executor waited on the dead
    # worker's socket indefinitely; faulthandler makes any future
    # worker crash print a Python-level traceback instead of hanging
    # the stage silently. Negligible overhead (a signal handler).
    "spark.python.worker.faulthandler.enabled": "true",
    # Python workers fork from the engine's daemon (pyworker.py), which
    # stops every task re-reading Spark's unchanged zip archives; the
    # workers find the engine on this path from any working directory.
    "spark.python.daemon.module": "udacitydatawarehouseprj_spark.pyworker",
    "spark.executorEnv.PYTHONPATH": os.path.dirname(_PACKAGE_DIR),
}

# Build-time confs for a local master only; a cluster keeps Spark's defaults.
LOCAL_BUILD_CONF = {
    # List input files on the driver: a local "parallel" listing job runs
    # one task per path in this same JVM (a 182-file glob cost ~3.0 s CPU
    # per read as a job vs ~0.1 s listed on the driver, 4 cores).
    "spark.sql.sources.parallelPartitionDiscovery.threshold": str(2**31 - 1),
    # Hadoop's local filesystem with chmod and readlink in the JVM instead
    # of a child process per call (jvm/NoFork.java); build_conf adds the
    # compiled classes to the driver's class path, or drops these two
    # keys where they cannot be compiled.
    "spark.hadoop.fs.file.impl": "udacitydatawarehouseprj_spark.jvm.NoFork$LocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "udacitydatawarehouseprj_spark.jvm.NoFork$LocalFs",
}

NO_FORK_SOURCE = os.path.join(_PACKAGE_DIR, "jvm", "NoFork.java")


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


# --- tracked caches ----------------------------------------------------
#
# Operators cache relations that feed several subplans (shingle sets,
# signature tables, heavy-hitter sketches). The cache must outlive the
# operator FUNCTION (plans are lazy — the consuming action happens in the
# caller), so the operator can't unpersist locally; but a long-lived
# session running many queries must not accumulate cached blocks until
# LRU eviction either. Resolution: every operator cache is registered
# here, and the query registry releases ALL tracked caches at the start
# of the next query — by which point the previous query's action has run.
# A released cache is never a correctness event (unpersist only removes
# the materialized copy; re-execution recomputes the plan).
_TRACKED_CACHES: list[DataFrame] = []


def track_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + register for release at the next query boundary."""
    df = df.cache()
    _TRACKED_CACHES.append(df)
    return df


def release_tracked_caches() -> None:
    """Unpersist every tracked cache. Safe any time after the consuming
    action; called automatically at each registered-query entry."""
    while _TRACKED_CACHES:
        _TRACKED_CACHES.pop().unpersist()


# Session-scoped SHARED caches: small derived relations that several
# DISTINCT registered queries rebuild identically (the MinHash-LSH pair
# relation feeds dedup_minhash_lsh, dedup_near_dup_clusters AND
# dedup_keep_best_quality — three signature builds for one logical
# relation). Unlike _TRACKED_CACHES these survive query boundaries; they
# are keyed so a different corpus/threshold builds its own entry, and
# they hold only SMALL relations (candidate pairs, learned merge tables)
# — never corpus-sized data. Released explicitly by harness teardown
# (bench/parity end) or release_shared_caches().
_SHARED_CACHES: dict[str, DataFrame] = {}

#: When True (set by bench.py), each shared-cache build is materialized
#: EAGERLY at construction and its wall time recorded here, so the bench
#: report can charge shared builds as a first-class block instead of
#: hiding them in the first consumer's discarded first repeat (VERDICT
#: r13 "What's wrong" item 4). Timing-wise nothing moves: the build
#: still lands inside the first consumer's first timed repeat (query
#: construction happens inside the bench's timed region) and the median
#: still reflects steady state — the block only makes the cost VISIBLE.
#: Off by default so oracle/test runs keep the lazy build (no extra
#: actions — the plan-quality action budgets run without the flag).
TIME_SHARED_BUILDS = False
SHARED_BUILD_SECONDS: dict[str, float] = {}


def shared_cache(key: str, build) -> DataFrame:
    """Memoize ``build()`` under ``key``, persisted, across query
    boundaries. The first consumer's action materializes it; later
    queries in the same session reuse the cached relation instead of
    re-running the build pipeline. An entry built on a SparkContext that
    is no longer the active one (a stopped and restarted session) is
    rebuilt, so ``key`` names only what was computed — callers never
    scope it to a context."""
    df = _SHARED_CACHES.get(key)
    if df is None or (df.sparkSession.sparkContext
                      is not SparkContext._active_spark_context):
        df = build().persist()
        _SHARED_CACHES[key] = df
        if TIME_SHARED_BUILDS:
            import time as _time

            t0 = _time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            SHARED_BUILD_SECONDS[key] = round(_time.perf_counter() - t0, 3)
    return df


def release_shared_caches() -> None:
    """Unpersist and forget every shared cache (harness teardown)."""
    SHARED_BUILD_SECONDS.clear()
    while _SHARED_CACHES:
        _, df = _SHARED_CACHES.popitem()
        try:
            df.unpersist()
        except Exception:
            # entry bound to an already-stopped SparkContext — nothing
            # to unpersist; forgetting the reference is the teardown
            pass


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-mutable confs to any session (ours or the driver's).

    Query functions call this defensively so correctness-critical settings
    (UTC session timezone, AQE) hold even when the SparkSession was built
    elsewhere.

    The session timezone is VERIFIED, not just requested: several queries
    cast epoch-derived NTZ timestamps to LTZ, which is value-preserving
    only under UTC. On a session where the conf is static and non-UTC a
    silent pass would shift every epoch value and quietly diverge from the
    DuckDB oracle — fail loudly instead.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static in some envs
            pass
    tz = spark.conf.get("spark.sql.session.timeZone", "")
    if tz != "UTC":  # pragma: no cover - only reachable on a static session
        raise RuntimeError(
            f"spark.sql.session.timeZone={tz!r} could not be set to UTC "
            "(static conf?); timestamp semantics would silently diverge"
        )
    return spark


def get_spark(
    app_name: str = "udacitydatawarehouseprj-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Session construction is the Spark analogue of the reference's
    ``manage_cluster.py`` create/poll/teardown lifecycle
    (manage_cluster.py:70-180): no cluster to provision, no readiness
    polling — the session is synchronous, and ``spark.stop()`` is teardown.
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in build_conf(master).items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())


def build_conf(master: str) -> dict[str, str]:
    """Every conf get_spark sets on a session it builds for ``master``."""
    conf = {**RUNTIME_CONF, **BUILD_CONF}
    if master == "local" or master.startswith("local["):
        conf.update(LOCAL_BUILD_CONF)
        classes = no_fork_classes()
        if classes is None:
            for key in ("spark.hadoop.fs.file.impl", "spark.hadoop.fs.AbstractFileSystem.file.impl"):
                del conf[key]
        else:
            conf["spark.driver.extraClassPath"] = classes
    return conf


def no_fork_classes() -> str | None:
    """The directory of ``jvm/NoFork.java``'s compiled classes, or None
    where a session cannot load them: no ``javac`` on this host, or a JVM
    already running (a stopped session's gateway) that was started
    without them, since the class path is fixed at JVM launch.

    The classes are cached under ``.scratch/jvm/<digest>`` in the checkout,
    keyed on the source, the JDK and the Hadoop jar; a compile error
    raises."""
    javac = shutil.which("javac")
    if javac is None:
        _warn_stock_local_fs()
        return None
    classes = _compile_no_fork(os.path.realpath(javac))
    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.jvm.java.lang.Class.forName(
                LOCAL_BUILD_CONF["spark.hadoop.fs.file.impl"])
        except Py4JError:
            return None
    return classes


@functools.lru_cache(maxsize=None)
def _warn_stock_local_fs() -> None:
    logging.getLogger(__name__).warning(
        "javac not found: sessions keep Hadoop's stock local filesystem, which "
        "forks chmod for every file it writes (~8 ms of CPU each)")


@functools.lru_cache(maxsize=None)
def _compile_no_fork(javac: str) -> str:
    from pyspark.find_spark_home import _find_spark_home

    jars = os.path.join(_find_spark_home(), "jars")
    # the client API jar alone compiles in ~1.3 s; every Spark jar in ~2.3 s
    api = sorted(glob.glob(os.path.join(jars, "hadoop-client-api-*.jar")))
    classpath = api[-1] if api else os.path.join(jars, "*")
    release = os.path.join(os.path.dirname(os.path.dirname(javac)), "release")
    digest = hashlib.sha256(javac.encode())
    for path in (NO_FORK_SOURCE, release):  # the JDK's version file, if any
        if os.path.isfile(path):
            with open(path, "rb") as f:
                digest.update(f.read())
    for path in glob.glob(classpath):
        st = os.stat(path)
        digest.update(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}".encode())
    cache = os.path.join(os.path.dirname(_PACKAGE_DIR), ".scratch", "jvm")
    out = os.path.join(cache, digest.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(cache, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="build-", dir=cache)
    try:
        done = subprocess.run(
            [javac, "--release", "17", "-nowarn", "-cp", classpath, "-d", tmp, NO_FORK_SOURCE],
            capture_output=True, text=True)
        if done.returncode != 0:
            raise RuntimeError(f"javac failed on {NO_FORK_SOURCE}:\n{done.stderr}")
        try:
            os.replace(tmp, out)
        except OSError:
            if not os.path.isdir(out):  # not a concurrent build that won the race
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark reads these as
    long (see nanosAsLong conf); we restore TimestampType at micros
    precision, truncating exactly like DuckDB does (ns // 1000).

    ``path`` may be a single file or a Spark-written directory of part
    files (all parts share one schema — read the first). The schema probe
    is cached on (file, mtime) so a rewritten file is re-probed while
    repeated reads of a stable path stay free."""
    probe = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return ()
        probe = parts[0]
    return _nanos_cols_of(probe, os.path.getmtime(probe))


@functools.lru_cache(maxsize=None)
def _nanos_cols_of(probe: str, mtime: float) -> tuple[str, ...]:
    import pyarrow.parquet as pq

    schema = pq.read_schema(probe)
    return tuple(f.name for f in schema if str(f.type) == "timestamp[ns]")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Parquet scan → columnar, vectorized,
    predicate-pushdown-capable (the engine-side analogue of Redshift zone
    maps, SURVEY §4 O4/O6)."""
    configure(spark)
    path = table_path(sf_dir, name)
    df = spark.read.parquet(path)
    for c in _nanos_timestamp_cols(path):
        # guard on the loaded type: pyarrow also reports legacy INT96 as
        # timestamp[ns], but Spark reads INT96 as a proper timestamp
        if df.schema[c].dataType.simpleString() == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load testdata tables and register each as a temp view so both the
    DataFrame API and ``spark.sql`` can address them (the Spark analogue of
    the reference's catalog: create_tables.py + pg_table_def introspection,
    SURVEY §2.1 S4/S6)."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def spread(df: DataFrame, partition_cols: tuple[str, ...] = ()) -> DataFrame:
    """Repartition a small-file input up to the session's parallelism.

    A CPU-heavy per-row operator (hash folds, signature sums, decode UDFs)
    over a corpus that arrived as one small parquet file runs on ONE core —
    `maxPartitionBytes` splits by bytes, not by compute cost. Spreading is
    one cheap shuffle of the input; downstream work uses every core. No-op
    when the input already has enough partitions (the at-scale case).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if partition_cols:
        return df.repartition(target, *partition_cols)
    return df.repartition(target)
