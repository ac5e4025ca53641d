"""SparkSession construction and test-table loading.

Tuned for the harness (local[32], 128 GiB) but every setting is chosen
for cluster scale first:

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast conversion — the knobs that keep a
  100 TB plan healthy without hand-tuning per query.
- ``spark.sql.shuffle.partitions`` defaults to 2x cores locally; on a
  real cluster AQE's coalescing makes the initial number a ceiling,
  not a target.
- Arrow enabled for every pandas_udf / mapInPandas operator (the LLM
  pack), batch size sized so a batch of 64-float embeddings stays in
  L2-ish territory.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# user session -> its cached maintenance session (see
# maintenance_session). Weak keys: a stopped/discarded user session
# must not be pinned alive by its clone entry.
_MAINT_SESSIONS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_MAINT_LOCK = threading.Lock()


def maintenance_session(spark: SparkSession) -> SparkSession:
    """The engine's MAINTENANCE session for a user session: same
    SparkContext, isolated SQLConf/temp views (cloned at first use, so
    the user's tuning is inherited once). MV maintenance jobs flip
    AQE/codegen/shuffle sizing per batch (_shuffle_scope); running them
    on a clone means a concurrent USER query on the original session
    never silently executes interpreted or with AQE off — at 100×
    scale an embedded engine shares its session with ad-hoc queries.

    One clone per user session (cached): every store and refresh scope
    of every MV on that session shares it, so the concurrent-scope
    refcounting keeps working unchanged. Idempotent on a maintenance
    session (returns it as-is)."""
    if getattr(spark, "_tiflink_maint", False):
        return spark
    with _MAINT_LOCK:
        m = _MAINT_SESSIONS.get(spark)
        if m is None:
            try:
                # private[sql] in Scala is public in bytecode; clone
                # inherits runtime conf AND temp views at this instant
                jm = spark._jsparkSession.cloneSession()
                m = SparkSession(spark.sparkContext, jm)
            except Exception:
                m = spark.newSession()  # fresh conf from context defaults
            m._tiflink_maint = True
            _MAINT_SESSIONS[spark] = m
        return m


def rehome(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Re-bind a DataFrame's logical plan onto another session sharing
    the same SparkContext. Actions execute under the session the frame
    is homed to — this is how changelog inputs built on the user
    session run their store writes under the maintenance session's
    conf, and how MV reads handed back to the user run under theirs.
    Falls back to the original frame if the classic Dataset bridge is
    unavailable (plan semantics are identical either way; only the
    governing conf differs)."""
    if df.sparkSession is spark:
        return df
    try:
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, df._jdf.queryExecution().logical()
        )
        return DataFrame(jdf, spark)
    except Exception:
        return df

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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# Primary keys of the driver-generated tables — catalog metadata, the
# role TiDB's PK index plays for the reference (TiFlinkCatalog.java:387-401).
TABLE_PKS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    # The driver's synthetic lineitem has NO natural key — even
    # (l_orderkey, l_linenumber[, l_partkey, l_suppkey]) collide. Declared
    # keyless: scan/join only, cannot back a keyed MV store.
    "lineitem": [],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


MAX_DRIVER_MEMORY_MB = 48 * 1024


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_DRIVER_MEMORY`` is unset: half the
    machine's physical memory, capped at 48g. A fixed 48g heap on a
    small machine lets the JVM grow until the OS kills it."""
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError):
        return f"{MAX_DRIVER_MEMORY_MB}m"
    return f"{max(1024, min(MAX_DRIVER_MEMORY_MB, phys // 2 // 2**20))}m"


def get_spark(app_name: str = "tiflink_spark", *, extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # PySpark 4's per-op call-site capture (error debugging aid)
        # costs ~3 py4j round trips + a Python stack walk on EVERY
        # DataFrame method — measured ~0.2s/batch of pure driver
        # latency on the refresh hot path (~60 wrapped ops/batch at
        # 3.3ms each). An embedded engine builds plans continuously;
        # turn it off in production sessions.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # FileOutputCommitter v2 commits task output on task commit
        # instead of a serial job-commit rename pass — measured ~45 ms
        # off EVERY parquet write job (the MV store path writes one
        # delta file per refresh, so lifecycle queries pay this floor
        # 10-16x per run). Visibility of store state is gated by the
        # store's own manifest line, not the _SUCCESS marker, so the
        # weaker job-abort atomicity of v2 is immaterial here.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# (session id, app id, sf_dir) -> table dict. DataFrames are immutable
# plans, so handing the same objects to every query is safe; this skips
# re-reading 10 parquet footers + re-registering views on every registry
# call. The application id guards against id() reuse: a stopped session's
# object can be GC'd and a new one allocated at the same address, and
# serving it the dead session's DataFrames fails obscurely.
_TABLE_CACHE: dict[tuple[int, str, str, bool], dict[str, DataFrame]] = {}

# (session id, app id) -> the sf_dir whose tables currently own the
# standard view names on that session. Re-registering 10 unchanged temp
# views costs ~5 ms of py4j each (~55 ms per load_tables call — measured
# r10, ~20% of some sub-second query timings), so registration is skipped
# while the owner is unchanged. Anything that rebinds one of the TABLES
# names to a different frame must call invalidate_table_views().
_VIEW_OWNER: dict[tuple[int, str], str] = {}


def invalidate_table_views(spark: SparkSession) -> None:
    """Forget which sf_dir owns the standard table view names on this
    session, forcing the next load_tables() to re-register them. Called
    by any code path that binds a TABLES name to a different DataFrame
    (e.g. Catalog registrations)."""
    _VIEW_OWNER.pop((id(spark), spark.sparkContext.applicationId), None)


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    *,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load the driver-generated parquet tables and register temp views.

    The reference reflects source tables by name out of TiDB's catalog
    (TiFlinkCatalog.java:92-198); here the same role is played by
    registering each parquet table as a temp view so the full SQL
    surface can name them.
    """
    key = (id(spark), spark.sparkContext.applicationId, sf_dir, register_views)
    skey = (id(spark), spark.sparkContext.applicationId)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        if register_views and _VIEW_OWNER.get(skey) != sf_dir:
            # Re-register only when another sf_dir (or a Catalog
            # registration) has claimed the names since we last did.
            for name, df in cached.items():
                df.createOrReplaceTempView(name)
            _VIEW_OWNER[skey] = sf_dir
        return dict(cached)
    # Testdata timestamps have shipped in two physical forms:
    #   - timestamp[ns] parquet (rejected by the vectorized reader) — read
    #     as long nanos via the legacy conf and rebuilt to micros with
    #     integer floor-division (`/ 1000` goes through double and loses
    #     integer precision above 2^53);
    #   - timestamp[us] naive parquet — Spark reads TIMESTAMP_NTZ, which
    #     half the function surface (unix_micros, watermarks, windows)
    #     rejects. Cast to session-local TIMESTAMP; under the forced UTC
    #     session timezone the cast is value-preserving and matches the
    #     DuckDB oracle's naive reads.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Timestamp semantics must not depend on who built the session
        # (the driver passes its own): the DuckDB oracle reads naive
        # timestamps, which only match under UTC.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # already set via builder, or not runtime-settable on this build

    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = normalize_timestamps(spark.read.parquet(path), _nano_ts_columns(path))
        out[name] = df
        if register_views:
            df.createOrReplaceTempView(name)
    if register_views:
        _VIEW_OWNER[skey] = sf_dir
    _TABLE_CACHE[key] = dict(out)
    return out


def normalize_timestamps(df: DataFrame, nano_long_cols: list[str] | None = None) -> DataFrame:
    """Bring every timestamp column to session-TZ TIMESTAMP (LTZ).

    ``nano_long_cols`` are columns the legacy nanos-as-long conf read as
    raw int64 nanoseconds; they are floor-divided to micros. TIMESTAMP_NTZ
    columns are cast (identity under UTC). Everything else passes through.
    """
    nano_long_cols = nano_long_cols or []
    dtypes = dict(df.dtypes)
    for f_ in nano_long_cols:
        if dtypes.get(f_) == "bigint":
            df = df.withColumn(f_, F.timestamp_micros(F.expr(f"`{f_}` div 1000")))
    for f_, t in dtypes.items():
        if t == "timestamp_ntz":
            df = df.withColumn(f_, F.col(f_).cast("timestamp"))
    return df


def read_parquet_normalized(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table with every timestamp layout repaired.

    Detects legacy TIMESTAMP(NANOS) columns from the parquet footer and
    threads them into :func:`normalize_timestamps`, so every reader —
    catalog, MVApp sources, ad-hoc — gets the same repair `load_tables`
    applies (a nanos-era file read without the column list would
    otherwise pass through as raw bigint)."""
    return normalize_timestamps(spark.read.parquet(path), _nano_ts_columns(path))


def load_catalog(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
    """Load the testdata tables into a PK-carrying Catalog — the engine's
    analog of reflecting TiDB's schema (TiFlinkCatalog.java:92-198).
    Registers the repaired DataFrames (ns->us timestamps fixed), so MV
    stores keyed off catalog PKs see the same data every query sees."""
    from tiflink_spark.catalog import Catalog

    cat = Catalog(spark)
    for name, df in load_tables(spark, sf_dir).items():
        cat.register_dataframe(name, df, TABLE_PKS.get(name))
    return cat


def _nano_ts_columns(path: str) -> list[str]:
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    return [
        schema.field(i).name
        for i in range(len(schema))
        if str(schema.field(i).type) == "timestamp[ns]"
    ]
