"""SparkSession + star-schema loading.

Scale posture: all configs here are chosen for a multi-executor cluster
first and local[32] second.  AQE is on so shuffle partition counts,
broadcast conversion and skew-join splitting are decided at runtime from
real statistics instead of hardcoded for the test scale.
"""
from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _default_driver_mem() -> str:
    """min(24g, half of physical RAM), floored at 2g — 24g is what the
    wide minhash aggregate needs to avoid GC thrash across 32 local
    task threads (BASELINE.md round-5 note), but baking it in
    unconditionally would fail JVM launch on small hosts (ADVICE r5).
    SPARK_GRAFT_DRIVER_MEM overrides either way."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        half_gb = int(total / (2 * 1024 ** 3))
    except (ValueError, OSError, AttributeError):  # non-POSIX fallback
        half_gb = 8
    return f"{max(2, min(24, half_gb))}g"


def get_spark(app_name: str = "olap-xtrctr-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(int(cpus), 8)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Adaptive execution: runtime shuffle-partition coalescing, runtime
        # broadcast conversion, and skew-join splitting — the knobs that make
        # the same plan survive a 1000x scale-up without retuning.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle)
        # Arrow for every pandas_udf / toPandas edge.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python-boundary overhead (r13, guide §4): with DataFrame
        # debugging on (the default), EVERY PySpark DataFrame call pays
        # a conf.get RPC + a Python stack walk + set/clear RPCs on
        # PySparkCurrentOrigin — 3 extra py4j round-trips per API call,
        # measured ~25-40% of plan-construction time on the wide
        # queries (profile: 6,949 round-trips to build the minhash
        # plan).  Costs only the Python call-site line in JVM analysis
        # error messages; plans and results are unchanged.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # In local mode every task thread shares the DRIVER heap: 8g
        # across 32 threads GC-thrashed the wide minhash aggregate in a
        # long bench session (measured 14-16 s vs 3.1 s at 16 g for the
        # identical query — BASELINE.md round-5 note).  The default is
        # RAM-derived (min(24g, half physical)) so small hosts still
        # launch; on a real cluster this knob sizes only the driver and
        # executors get spark.executor.memory.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                               _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Pin the JVM default locale (ADVICE r13): JVM
        # String.toLowerCase() — what SQL lower() falls back to for
        # non-ASCII — is default-locale-dependent (a Turkish default
        # maps 'I' to dotless ı), while the Arrow gram kernel lowers
        # with Python's locale-independent str.lower().  en-US keeps
        # the two case-folding paths byte-identical (pinned by
        # test_gram_kernel_matches_expression_twin's non-ASCII cases).
        .config("spark.driver.extraJavaOptions",
                "-Duser.language=en -Duser.country=US")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and convert (see load_events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    # the -D options above hold only for a JVM this call starts; one that
    # already runs keeps its own default, so check it on every call
    locale = spark._jvm.java.util.Locale
    current = locale.getDefault().toString()
    if current != "en_US":
        sys.stderr.write(f"get_spark: JVM default locale {current} "
                         f"reset to en_US\n")
        locale.setDefault(locale.US)
    return spark


# Tables whose queries do heavy PER-ROW compute (shingling, vector math).
# The driver test files are written as ONE parquet row group, so the scan
# yields a single partition and that compute would run on one core; on a
# real lake the same tables arrive as thousands of splittable files and the
# rebalance below is a no-op (guarded by the partition-count check, not
# hardcoded for local mode).  Relational tables (lineitem/orders/events)
# are deliberately excluded: their per-row work is trivial and partial
# aggregation compresses on the scan side, so a pre-shuffle only adds cost
# (measured: tpch_q5 0.77s -> 1.38s, events rollup 0.21s -> 0.89s).
SCALED_TABLES = {"documents", "embeddings"}


def ensure_nanos_conf(spark: SparkSession) -> None:
    """events.parquet has carried TIMESTAMP(NANOS), which Spark's parquet
    reader rejects unless ``spark.sql.legacy.parquet.nanosAsLong`` is set.
    The conf is runtime-settable, so set it here rather than only in
    get_spark()'s builder — the workload must be self-contained under ANY
    SparkSession (e.g. the external correctness driver's).  Session timezone
    is pinned to UTC for the same reason: ``normalize_event_ts``'s
    NTZ→TIMESTAMP cast and every date_trunc are timezone-dependent, and the
    oracle (DuckDB over naive timestamps) computes in UTC wall clock."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events timestamp column to a plain TIMESTAMP whatever
    the parquet writer encoded:

    * TIMESTAMP(NANOS) — read as ``bigint`` under nanosAsLong — becomes
      ``timestamp_micros(ns DIV 1000)`` (integer DIV, no double rounding);
    * ``timestamp_ntz`` (timestamp[us] without UTC adjustment, what the
      current testdata carries) is cast to TIMESTAMP — wall-clock
      preserving under the UTC session timezone pinned above.  NTZ must
      not pass through raw: ``withWatermark`` rejects it and there is no
      NTZ→BIGINT cast, so every downstream ts consumer would throw.

    Single choke point for all five reader paths (batch ``load_events`` +
    three readStream sources + the stateful stream)."""
    from pyspark.sql import functions as F
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# Table-HANDLE memo (r13, guide §1/§6): `spark.read.parquet` re-lists
# the path and re-reads parquet footers for schema inference on every
# call — measured 60-200 ms per table per query build, the single
# largest component of plan-construction time (profile: 6 load_table
# calls = 1.18 s of tpch_q5's 1.6 s build).  A catalog would cache this
# metadata; we memo the analyzed DataFrame handle per (application,
# sf_dir, table).  This caches NO data and NO results: every action on
# the handle still scans the parquet files (same InMemoryFileIndex
# behavior Spark itself keeps inside one `spark.read.parquet` result).
# Keyed on applicationId so a stopped/recreated session never sees a
# stale JVM handle; mtime of the file invalidates rewritten fixtures.
_TABLE_HANDLES: dict[tuple, DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        ensure_nanos_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        mtime = 0
    key = (spark.sparkContext.applicationId, sf_dir, name, mtime)
    df = _TABLE_HANDLES.get(key)
    if df is not None:
        return df
    df = spark.read.parquet(path)
    if name in SCALED_TABLES:
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < max(target // 2, 2):
            df = df.repartition(target)
    # drop handles of other applications (stopped sessions) so the memo
    # never pins JVM objects past their context's lifetime
    stale = [k for k in _TABLE_HANDLES if k[0] != key[0]]
    for k in stale:
        _TABLE_HANDLES.pop(k, None)
    _TABLE_HANDLES[key] = df
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with its on-disk timestamp encoding (nanos-as-bigint
    or timestamp_ntz) normalized to a real TIMESTAMP column."""
    return normalize_event_ts(load_table(spark, sf_dir, "events"))


def events_schema(spark: SparkSession, sf_dir: str):
    """Raw on-disk schema of the events table (ts as bigint nanos), for the
    streaming replay paths that need a schema before readStream.
    Rides the same metadata memo as load_table (r13): the schema is a
    pure function of the file, and re-reading footers per streaming
    query was measured overhead."""
    ensure_nanos_conf(spark)
    return load_table(spark, sf_dir, "events").schema


def load_star(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table of the test star schema as a dict of DataFrames."""
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so spark.sql() can reach them."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


# ---- tracked persist / cache release (ADVICE r11) --------------------------
# Several diamond-shaped operators persist an intermediate that feeds
# multiple consumers INSIDE the plan they return (semantic_dedup_pairs'
# cell assignment, the prefix variant's shingle table, rfm_segments'
# per-user rollup).  The cached blocks are correct to keep for the
# duration of the consuming action, but in a long-lived session — the
# HTTP service, a notebook — they would accumulate in executor
# memory/disk forever: Spark's cache manager holds a hard reference, so
# plain GC never frees them.  Operators register their pins here;
# request-scoped hosts call release_tracked_caches() after each unit of
# work (the HTTP service does, per request; the workload runner, per
# entry).
#
# The registry is PER-THREAD (ADVICE r12): ThreadingHTTPServer handles
# each request on its own thread, and a process-global list meant one
# finishing request unpersisted the intermediates a concurrent request
# was still computing over — correct (deterministic recompute) but a
# broken "exactly one pass" cost contract.  An operator's pins are
# registered on the thread that builds (and runs) its plan, which is
# the request's handler thread, so releasing the calling thread's list
# releases exactly the finishing request's pins.

import threading as _threading

_TRACKED = _threading.local()


def _tracked_list() -> list[DataFrame]:
    lst = getattr(_TRACKED, "pins", None)
    if lst is None:
        lst = _TRACKED.pins = []
    return lst


def track_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """persist() + register on the CALLING THREAD's release list.
    Returns the same df.

    Release contract (ADVICE r13): pins accumulate until the calling
    thread releases them.  Request-scoped hosts do this already (the
    HTTP service per request, the workload runner per entry, bench.py
    per timed pass); DIRECT library callers — notebooks, scripts —
    should wrap each unit of work in :func:`tracked_cache_scope` (or
    call :func:`release_tracked_caches` themselves), otherwise every
    pinning operator call leaves a MEMORY_AND_DISK intermediate cached
    until the session stops."""
    if storage_level is None:
        from pyspark import StorageLevel
        storage_level = StorageLevel.MEMORY_AND_DISK
    df.persist(storage_level)
    _tracked_list().append(df)
    return df


def input_files_signature(df: DataFrame) -> str:
    """sha256 over the (path, size, mtime_ns) of ``df``'s input files,
    so a source regenerated at the same size still changes it; a file
    that cannot be stat-ed (remote FS) signs by its path alone."""
    import hashlib

    parts = []
    for p in sorted(df.inputFiles()):
        local = p[len("file:"):] if p.startswith("file:") else p
        try:
            st = os.stat(local)
            parts.append(f"{p}|{st.st_size}|{st.st_mtime_ns}")
        except OSError:
            parts.append(p)
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint()`` frame now.
    ``df.unpersist()`` frees nothing here: the blocks belong to the
    checkpointed RDD under the plan, which the cache manager never saw,
    so they would stay until the context cleaner collects that RDD."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


from contextlib import contextmanager as _contextmanager


@_contextmanager
def tracked_cache_scope():
    """Scope for direct library callers: releases every pin registered
    on the calling thread INSIDE the ``with`` block, leaving pins made
    before it untouched (scopes nest).  Example::

        with tracked_cache_scope():
            minhash_lsh_pairs(docs).count()
        # the signature-table pin is unpersisted here

    Request-scoped hosts (HTTP service, workload runner, bench) release
    in bulk via :func:`release_tracked_caches` instead."""
    pins = _tracked_list()
    mark = len(pins)
    try:
        yield
    finally:
        while len(pins) > mark:
            df = pins.pop()
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass    # session already stopped — nothing to free


def release_tracked_caches() -> int:
    """Unpersist every pin the CALLING THREAD registered
    (non-blocking); returns how many.  Safe to call at any time:
    consumers that re-run after release just recompute — persistence
    is a cost hint here, never a correctness dependency.  Pins made on
    other threads are untouched (their request-scoped host releases
    them on that thread)."""
    pins = _tracked_list()
    n = 0
    while pins:
        df = pins.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            pass        # session already stopped — nothing to free
    return n
