"""SparkSession factory and fixture loading.

Scale notes (100 TB design intent, tested on local[32]):

* AQE on — runtime coalescing, skew-join splitting, and join-strategy
  switching are the first line of defense on a real cluster.
* ``spark.sql.shuffle.partitions`` defaults to 32 locally (match cores);
  on a 1000-executor cluster this is overridden to ~2-4x total cores via
  ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` — AQE coalesces the excess.
* Session timezone pinned to UTC: fixtures carry naive timestamps and the
  DuckDB oracle is UTC-naive; any other TZ silently shifts values.
* Arrow enabled for the (rare) pandas-UDF paths.
* Python workers run under the engine's own daemon module
  (``_pydaemon``).  PySpark invalidates the import caches at the start of
  every Python task, and before CPython 3.13 that made each zipimporter
  re-read its whole archive on the spot: ``pyspark.zip`` 13 times and the
  spark-core jar twice, per task, paid by every micro-batch's RowBinary
  encode and every pandas/Arrow UDF.  The daemon backports 3.13's lazy
  invalidation; delete it (and its conf below) once the interpreter floor
  is 3.13.  Workers find the package through ``spark.executorEnv.PYTHONPATH``
  = the checkout root, whatever the driver's working directory.
"""

from __future__ import annotations

import os

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

#: the checkout root: the directory that holds this package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: scratch families already stale-pruned by this process (see
#: scratch_path) — prune once per session, not once per key.
_PRUNED_FAMILIES: set[str] = set()


def get_spark(app_name: str = "mysql_clickhouse_replication_spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession with scale-aware defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", f"{__package__}._pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_memo_lookup(memo: dict, key: tuple):
    """Lookup in an (applicationId, ...)-keyed module memo, first
    evicting every entry whose applicationId differs from ``key[0]``
    (r13 ADVICE): a restarted SparkSession invalidates the cached /
    localCheckpoint-ed frames old entries pin, so a long-lived process
    must not leak DataFrame references to dead sessions' RDDs.  All
    memos key by applicationId FIRST; capping the dict to the live
    session keeps it O(#sf_dirs) instead of O(#sessions x #sf_dirs)."""
    app_id = key[0]
    for stale in [k for k in memo if k[0] != app_id]:
        old = memo.pop(stale)
        try:  # cached (not checkpointed) entries may still be unpersistable
            old.unpersist()
        except Exception:
            pass
    return memo.get(key)


def scratch_path(*parts: str, unique: bool = True) -> str:
    """Scratch path for sink/checkpoint dirs under <repo>/.scratch.

    ``unique=True`` (default) appends a per-run uuid leaf so concurrent
    verify/bench processes on the same sf_dir can never interleave an
    overwrite with a read-back of the same files.  Unique runs accumulate,
    so stale siblings (>2 h old) under the same family dir are pruned
    best-effort on each call — bounded disk without racing a live query.
    """
    import shutil
    import time
    import uuid

    base = os.path.join(_PACKAGE_ROOT, ".scratch", parts[0]) if parts else None
    # Prune each family ONCE per process: stale siblings are >2 h old
    # by definition, so nothing new becomes prunable within one run and
    # repeating the listdir/mtime walk per key is pure per-key overhead
    # (the r8-prescribed session-scoped scratch discipline).
    if base and base not in _PRUNED_FAMILIES and os.path.isdir(base):
        _PRUNED_FAMILIES.add(base)
        cutoff = time.time() - 7200
        for entry in os.listdir(base):
            p = os.path.join(base, entry)
            try:
                if os.path.getmtime(p) < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass
    leaf = (uuid.uuid4().hex,) if unique else ()
    return os.path.join(_PACKAGE_ROOT, ".scratch", *parts, *leaf)


#: (applicationId, abspath(sf_dir), table) -> lazy scan DataFrame.  A
#: DataFrame here is an UNEVALUATED plan — no rows are cached; every
#: action still reads the parquet files.  What the memo removes is the
#: driver-side cost of re-creating the relation on every ``table()``
#: call: file listing (InMemoryFileIndex) + footer schema inference +
#: py4j round trips, measured at 0.1-0.6 s per call on the bench box
#: and paid INSIDE the timed region by every query construction.  At
#: 100 TB the same cost is the guide's §6 "file listing of heavily
#: partitioned tables" driver bottleneck — re-listing a large table per
#: query construction is pure waste; the fixture dirs are immutable for
#: the life of a session, and the memo is keyed by applicationId so a
#: restarted session re-lists from scratch.
_TABLE_MEMO: dict = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (parquet scan; Catalyst prunes columns and
    pushes predicates into the row-group reader — see scan_* operators).

    ``events.ts`` has shipped as both parquet TIMESTAMP(NANOS) (early
    fixture generations) and TIMESTAMP(MICROS) (current).  Spark 4
    rejects NANOS by default, so the nanos-as-long legacy conf is set
    (runtime conf — also works under the driver's own SparkSession) and
    the decode branches on the type actually read: a LONG column is raw
    nanos and is truncated to microseconds — exactly what DuckDB's
    Python fetch does, so oracle hashes agree — while a native
    timestamp passes through untouched.
    """
    if os.environ.get("SPARK_GRAFT_TABLE_MEMO", "1") != "0":
        key = (
            spark.sparkContext.applicationId,
            os.path.abspath(sf_dir),
            name,
        )
        hit = session_memo_lookup(_TABLE_MEMO, key)
        if hit is not None:
            return hit
        df = _read_table(spark, sf_dir, name)
        _TABLE_MEMO[key] = df
        return df
    return _read_table(spark, sf_dir, name)


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # Micros fixtures arrive as TIMESTAMP_NTZ (no UTC adjustment in
            # the parquet logical type).  Cast to TIMESTAMP (LTZ): with the
            # session pinned to UTC the instants are identical, and every
            # event operator sees the same type the nanos decode produced
            # (unix_micros and friends require LTZ).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture as a temp view so spark.sql() queries mirror
    the DuckDB oracle's pre-registered views 1:1."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
