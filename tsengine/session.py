"""SparkSession factory tuned for the engine's workload.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores);
the config block is written for a real multi-executor cluster at ~100 TB:
AQE handles runtime partition coalescing and skew-join splitting, Arrow
is on for every pandas_udf edge, and shuffle partitions default to a
small-local value that production deployments override via
``spark.sql.shuffle.partitions`` (rule of thumb: ~2-3x total cores, or
let AQE coalesce from a high initial count).  Spark's codegen class
cache is sized to the registry's working set (2699 generated classes
per sf0.01 pass, cache 4000), so steady passes stop recompiling: the
CPC-path queries compile 110 classes per repeat pass at Spark's default
of 100 entries and at most a handful here (0 in most passes); a
vanilla session keeps 100 and loses only speed.  Python workers fork
from ``tsengine.worker_daemon``, which runs them on the installed
pyspark instead of ``$SPARK_HOME``'s pyspark.zip, so a task no longer
spends 120-230 ms re-reading that zip's directory; a vanilla session
keeps Spark's daemon, same results.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
import threading
import zipfile

from pyspark.sql import SparkSession

#: SQL confs the engine REQUIRES for correctness, all runtime-settable, so
#: they can be applied to any externally-built (vanilla) SparkSession.
#: Never rely on the builder block below for correctness — an external
#: harness constructs its own session (round-1 lesson: 32 red correctness
#: entries from exactly that).
_RUNTIME_CONFS = {
    # driver testdata stores TIMESTAMP(NANOS) which Spark 4 refuses to
    # read natively; read as long ns, converted at the scan (tables.load_table)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # engine semantics are defined in UTC (timestamp<->string/date funcs)
    "spark.sql.session.timeZone": "UTC",
}


def ensure_runtime_env(spark: SparkSession) -> SparkSession:
    """Make ANY SparkSession able to run every tsengine query.

    Two hazards on a session the engine didn't build:

    1. Missing SQL confs (nanos parquet reads, UTC timezone) — set here
       at runtime; both are runtime-settable SQL confs.
    2. Python workers that can't ``import tsengine`` — the session
       builder below exports PYTHONPATH *before* the JVM starts, but an
       external harness won't have; cloudpickle serializes the nested
       Arrow kernels by value yet pickles the module-level helpers they
       reference *by reference*, so workers must be able to import the
       package.  Ship it via ``SparkContext.addPyFile`` (runtime-safe,
       works on a real cluster too).

    Idempotent and cheap after the first call; every query entry point
    calls it.
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable on some exotic deployment: keep going
    try:
        _ship_package(spark)
    except Exception:
        pass  # e.g. no sparkContext on Connect; module-by-value still works
    return spark


_SCOPED: dict[tuple[SparkSession, frozenset], SparkSession] = {}
_SCOPED_LOCK = threading.Lock()


def scoped_session(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """A cached child of ``spark`` (``newSession()``: its own SQLConf over
    the same SparkContext) under the caller's runtime SQL conf with
    ``confs`` on top: the engine's one way to run work under other conf
    without writing a session that driver threads share.

    One child per (caller, bundle), created under the lock: a session
    that starts a stream leaves a listener bus on the live bus for good,
    and a child pins its memo entries.  Each call copies the caller's
    runtime conf (a child inherits only the SparkConf), writing only the
    keys that differ, and makes the child's streaming listeners the
    caller's, as a listener only hears its own session's streams.  A
    bundle may change how a query is planned, never what it returns.
    """
    key = (spark, frozenset(confs.items()))
    with _SCOPED_LOCK:
        child = _SCOPED.get(key)
        if child is None:
            child = _SCOPED[key] = ensure_runtime_env(spark.newSession())
        want = {**_set_confs(spark), **_RUNTIME_CONFS, **confs}
        have = _set_confs(child)
        for k in have.keys() - want.keys():
            if child.conf.isModifiable(k):
                child.conf.unset(k)
        for k, v in want.items():
            if have.get(k) != v and child.conf.isModifiable(k):
                child.conf.set(k, v)
        mine, theirs = child.streams._jsqm, spark.streams._jsqm
        wanted, had = list(theirs.listListeners()), list(mine.listListeners())
        for jl in had:
            if not any(jl.equals(w) for w in wanted):
                mine.removeListener(jl)
        for jl in wanted:
            if not any(jl.equals(h) for h in had):
                mine.addListener(jl)
    return child


def _set_confs(spark: SparkSession) -> dict[str, str]:
    """Every conf entry set on ``spark``, in one JVM call (``conf.getAll``
    crosses py4j once per entry: 20-50 ms against about 1 ms)."""
    mapper = spark._jvm.com.fasterxml.jackson.databind.ObjectMapper()
    entries = spark._jsparkSession.conf().getAllAsJava()
    return json.loads(mapper.writeValueAsString(entries))


_PKG_ZIP: str | None = None


def _package_zip() -> str:
    """Zip the tsengine package (content-addressed name, cached per process)."""
    global _PKG_ZIP
    if _PKG_ZIP is not None and os.path.exists(_PKG_ZIP):
        return _PKG_ZIP
    pkg_root = os.path.dirname(os.path.abspath(__file__))  # .../tsengine
    parent = os.path.dirname(pkg_root)
    sources = []
    for dirpath, _dirs, files in os.walk(pkg_root):
        for f in files:
            if f.endswith(".py"):
                sources.append(os.path.join(dirpath, f))
    sources.sort()
    h = hashlib.sha1()
    for p in sources:
        h.update(os.path.relpath(p, parent).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(
        tempfile.gettempdir(), f"tsengine-pyfiles-{h.hexdigest()[:12]}.zip"
    )
    if not os.path.exists(out):
        tmp = f"{out}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for p in sources:
                z.write(p, os.path.relpath(p, parent))
        os.replace(tmp, out)
    _PKG_ZIP = out
    return out


def _ship_package(spark: SparkSession) -> None:
    sc = spark.sparkContext
    z = _package_zip()
    included = getattr(sc, "_python_includes", None) or []
    if os.path.basename(z) not in included:
        sc.addPyFile(z)


def get_spark(app_name: str = "tsengine") -> SparkSession:
    """Build (or fetch) the session.

    All settings below are semantics-preserving performance knobs; the
    engine never depends on a specific partitioning for correctness
    (SURVEY.md §4.2: stochastic ops are pure functions of keys+seed,
    never of physical layout).
    """
    # make the package importable on python workers even when the
    # driver script added it via sys.path (workers only see PYTHONPATH)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{pp}" if pp else repo_root

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- determinism ---
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata stores TIMESTAMP(NANOS) which Spark 4 refuses;
        # read as long ns and convert at the scan (tables.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- adaptive execution: runtime coalescing + skew-join handling ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size-based coalescing with a SMALL advisory partition size:
        # round-1's dead end was parallelismFirst=false at the default
        # 64m advisory, which collapsed 10x-probe shuffles to a few huge
        # reducers (3-5x slower).  At 8m the same mode keeps big-tier
        # shuffles fully parallel while collapsing the tiny headline
        # shuffles that parallelism-first fans out to 32 near-empty
        # tasks each: measured cold headline 31.3s -> 13.9s at sf0.1,
        # 100x steady-state total 54.4s -> 42.5s, worst 100x query
        # ratio 25x -> 14x (SCALING.md).  A deployment re-measures the
        # tradeoff through TSENGINE_EXTRA_CONF (below).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8388608")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing (a real cluster overrides via TSENGINE_EXTRA_CONF) ---
        .config("spark.sql.shuffle.partitions", "32")
        # --- Arrow for every pandas_udf / toPandas edge ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- generated code: keep every steady plan's classes compiled ---
        # Janino compiles each distinct generated class once and Spark
        # caches it (a static conf, default 100 entries).  One noop pass
        # of all 238 registered queries at sf0.01 compiles 2699 distinct
        # classes with an unbounded cache, and a second pass 76; the 8
        # cpc_kernels queries alone need ~126.  At 100 entries that
        # working set evicts itself and every repeat pass compiles (and
        # JITs) again: cpc_kernels compiled 128/110/110 classes over three
        # sf0.01 passes, against 126/16/0 at 4000 (third pass 5.1s ->
        # 4.1s).  Speed only: a vanilla session keeps 100, same results.
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        # --- Python workers: import the installed pyspark, not the zip ---
        # saves each task 120-230 ms of zip re-reads (worker_daemon.py).
        # Speed only: a vanilla session keeps Spark's daemon, same results.
        .config("spark.python.daemon.module", "tsengine.worker_daemon")
        # --- scans: keep splits big enough to amortize task overhead ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- broadcast joins for small dims (driver tables region/nation/...) ---
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("TSENGINE_DRIVER_MEM", "8g"))
        # managed-table storage (bucketed tables) outside the repo; the
        # embedded derby metastore follows via derby.system.home
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("TSENGINE_WAREHOUSE", "/tmp/tsengine-warehouse"),
        )
        .config(
            "spark.driver.extraJavaOptions",
            "-Dderby.system.home=/tmp/tsengine-derby",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # generic conf passthrough for deployment-specific tuning (and for
    # A/B measurement): TSENGINE_EXTRA_CONF='{"spark.conf.key":"value"}'.
    # Applied LAST so a deployment can override any default above.
    extra = os.environ.get("TSENGINE_EXTRA_CONF")
    extras: dict[str, str] = {}
    if extra:
        extras = {k: str(v) for k, v in json.loads(extra).items()}
        for k, v in extras.items():
            builder = builder.config(k, str(v))
    spark = ensure_runtime_env(builder.getOrCreate())
    if extras:
        # builder.config is a no-op when getOrCreate returned an ALREADY
        # RUNNING session (ADVICE r13): make the silent drop loud so an
        # A/B run can't accidentally measure the un-tuned session.
        import sys as _sys

        ignored = {}
        for k, v in extras.items():
            try:
                actual = spark.conf.get(k, None)
            except Exception:
                actual = None
            if actual != v:
                ignored[k] = actual
        if ignored:
            print(
                "tsengine: TSENGINE_EXTRA_CONF entries NOT active on the "
                f"(pre-existing) session: {ignored}",
                file=_sys.stderr,
            )
    return spark
