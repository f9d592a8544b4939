"""SparkSession factory tuned for the engine.

Local mode is the test bed; the configs are chosen to also be sane on a
real cluster (AQE on, skew-join handling, arrow batching). On a cluster
``spark.sql.shuffle.partitions`` should scale with cores — here it is
pinned to the local core count via SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """The smaller of 16g and half the machine's physical memory: a heap
    allowed to outgrow the machine lets one JVM (a test run's grew past
    11 GB RSS on a 15 GB machine) get itself or its neighbours killed."""
    try:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    except (ValueError, OSError):
        return "16g"
    return f"{min(16 * 1024, half_mb)}m"


def get_spark(app_name: str = "mcp-local-rag-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = cpus if cpus != "*" else str(os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime coalescing, skew-join splitting, broadcast demotion —
        # the 100 TB posture (skewed keys get split without manual salting).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle)
        # duckdb-oracle comparison: duckdb timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # NOTE: keep autoBroadcastJoinThreshold at default (10 MB). In local
        # single-JVM mode a broadcast exchange is pure serialization overhead
        # (measured: 64 MB threshold turned every mid-size join into a
        # collect+rebroadcast, ~7x slower end-to-end). Small dims still
        # broadcast; operators place explicit broadcast() hints where the
        # cluster plan needs them.
        # List the bucketed tables (chunks, postings, term postings: one
        # bucket=N dir per populated bucket, 64 by default) on the driver.
        # Above this many subdirectories Spark lists with a distributed job,
        # and it lists again on every read, so at the default of 32 every
        # chunks()/_postings() read paid a job with one task per bucket dir.
        # Measured on local disk (local[4], one file per dir): driver
        # listing 22 ms at 64 dirs, 63 ms at 1024, 363 ms at 4096; the job
        # 372 ms, 3.6 s, 14 s. There is no crossover on a local filesystem;
        # the job can only pay off where listing a directory is a remote
        # round trip, i.e. for cluster-sized tables such as plans/ingest's
        # 2048-bucket 100 TB layout, which stay above this threshold. Safe:
        # the file set is still listed on every read, so no query sees a
        # stale one.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # The engine's candidate windows are bounded on purpose (top-k rows),
    # so WindowExec's "No Partition Defined" warning is known-benign spam;
    # every other WARN line stays.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark


@contextmanager
def count_py4j(spark: SparkSession):
    """Count the py4j commands (Python -> JVM round trips) the calling
    thread sends while the block runs, by wrapping the gateway client's
    ``send_command``. Yields a dict whose ``"commands"`` holds the count
    so far. Other threads' commands are not counted: among them are the
    releases of JVM objects whose Python proxies died, which py4j queues
    to its finalizer thread and sends whenever that thread wakes (up to a
    second later), so they block no caller and would land in whichever
    block happens to be running."""
    import threading

    caller = threading.get_ident()
    client = spark.sparkContext._gateway._gateway_client
    own = "send_command" in vars(client)
    send = client.send_command
    counter = {"commands": 0}

    def counted(*args, **kwargs):
        if threading.get_ident() == caller:
            counter["commands"] += 1
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        yield counter
    finally:
        if own:
            client.send_command = send
        else:
            del client.send_command


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def spread(df):
    """Widen a parallelism-STARVED frame before map-heavy work.

    The bench tables are single-file single-row-group parquet, so every
    scan plans as ONE task and any map-heavy pipeline rooted at it
    (tokenize/shingle/md5 streams, the BPE merge fold, vector-distance
    folds, Arrow decode stages) runs on 1 of the session's cores — the
    guide §2.6 idle-capacity failure. Round-robin repartition to
    ``defaultParallelism`` ONLY when the planned partition count is
    below it: at real scale inputs arrive in >= cores splits and this
    inserts no exchange at all, so the fix is scale-adaptive rather
    than tuned to the bench layout. (AQE never coalesces an explicit
    ``repartition(n)``, so the width sticks.)

    Use only where the consumer is partition-INVARIANT (hashes,
    aggregates, joins, total-order limits) — never in front of
    ``monotonically_increasing_id``/``repartitionByRange`` pipelines or
    writes whose file layout is part of the contract.

    Apply ONLY where an interleaved A/B proved the widened map side
    beats the exchange it inserts (the shingle/md5 dedup streams, the
    320-merge BPE fold, Python decode mapInPandas stages, explode->agg
    token pipelines). Frames whose downstream per-row work is light or
    already vectorized (chunks_df, cosine_knn's corpus side, the stored
    chunks read behind the pinned serve plans) measured WORSE with the
    exchange — see AB_DRIFT r15 and OPTIMIZATION_r15.md. Note the
    ``df.rdd`` probe itself costs a driver-side plan conversion per
    call, which pinned per-request serve paths must never pay.
    """
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


# Process-local parquet schema cache. Spark 4 runs schema inference for
# every schema-less `spark.read.parquet(path)` as a 1-task footer-reading
# job — one job-floor (~40-100 ms here) of pure driver latency per read
# call, paid again on every re-read of the same immutable path. Keyed on
# the path's stat signature: every table dir in this engine is either
# write-once-per-version (snapshot data_vN dirs; scratch indexes rebuilt
# via rmtree+rewrite, which replaces the dir and its mtime) or
# append-only with a fixed schema, so a signature hit always returns the
# schema a fresh inference of the same path would. This cache holds
# schemas only, but the same signature also keys whole reused frames —
# schema AND file listing — in engine.RagEngine._versioned, so freshness
# of every warm engine read rests on it. The rule every table layout must
# keep: each write adds, removes or renames an entry in the table's top
# directory or in one of its first-level (bucket) directories. Spark's
# writers (new part files; overwrite = delete + new files) and the
# snapshot/rmtree rewrites all do; a writer that replaced a file in place
# under the same name inside a bucket directory would change no
# fingerprint, and a reused frame would keep listing the old file.
#
# Keyed by (abspath, base_path) -> (signature, schema): a rewrite mints a
# new signature and REPLACES the old entry, so long-lived processes (the
# MCP server re-reading after every write) hold one entry per live path,
# not one per historical version.
_PQ_SCHEMA_CACHE: dict = {}


def _path_sig(path: str):
    """Stat signature for the schema-cache key. For a directory the top
    dir's stat alone is weak (st_size is constant on most filesystems and
    mtime granularity can be coarse), so fold in a first-level listing
    fingerprint — names, sizes, mtimes of the dir's entries. That also
    catches a writer that appends or rewrites INSIDE a nested partition
    dir (bucket=N subdir mtime changes) without touching the top dir."""
    st = os.stat(path)
    import stat as _stat

    if not _stat.S_ISDIR(st.st_mode):
        return (st.st_mtime_ns, st.st_size)
    entries = []
    with os.scandir(path) as it:
        for e in it:
            try:
                es = e.stat()
            except OSError:
                continue
            entries.append((e.name, es.st_mtime_ns, es.st_size))
    entries.sort()
    return (st.st_mtime_ns, st.st_size, tuple(entries))


def read_parquet(spark: SparkSession, path: str, *, base_path: str | None = None):
    """`spark.read.parquet` minus the per-call schema-inference job (see
    _PQ_SCHEMA_CACHE). `base_path` mirrors `.option("basePath", ...)` and
    is part of the cache key — partitioned reads infer partition columns
    into the schema.

    Constraint (cheap insurance, not load-bearing today): the cache is
    global across SparkSessions and ignores read-affecting confs. The one
    conf-sensitive path in the package is ``events.parquet`` (TIMESTAMP
    NANOS read under ``spark.sql.legacy.parquet.nanosAsLong``), and
    ``load()`` sets that conf before EVERY read — both the inference and
    any schema-replay therefore see the same conf state. A new
    conf-sensitive read path must either set its conf unconditionally the
    same way or bypass this helper."""
    try:
        cache_key = (os.path.abspath(path), base_path)
        sig = _path_sig(path)
    except OSError:
        cache_key = sig = None
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    if cache_key is not None:
        hit = _PQ_SCHEMA_CACHE.get(cache_key)
        if hit is not None and hit[0] == sig:
            return reader.schema(hit[1]).parquet(path)
    df = reader.parquet(path)
    if cache_key is not None:
        _PQ_SCHEMA_CACHE[cache_key] = (sig, df.schema)
    return df


def load(spark: SparkSession, sf_dir: str, name: str):
    """Load one driver-generated parquet table (TESTDATA.md).

    ``events.parquet`` has shipped with two physical types for ``ts``
    across testdata generations: TIMESTAMP(NANOS), which Spark's parquet
    reader rejects (read nanos as long and truncate to micros — the value
    DuckDB produces casting ns to its us-precision TIMESTAMP), and plain
    TIMESTAMP(MICROS), which reads natively. Branch on the read type so
    both generations load identically.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        # integer div: epoch-nanos exceed 2^53, float division would lose
        # microsecond exactness
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
