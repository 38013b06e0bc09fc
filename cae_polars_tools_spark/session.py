"""SparkSession factory with scale-aware defaults.

Defaults are tuned so the same code runs on ``local[N]`` for tests and
on a multi-executor cluster unchanged: AQE on (runtime re-planning,
skew-join handling, dynamic coalescing), Arrow on (fast
Python<->JVM), and a shuffle-partition count that AQE is free to
shrink.

On a ``local`` master, Python tasks are forked from the engine's worker
daemon (:mod:`cae_polars_tools_spark.worker_daemon`). PySpark invalidates
the import caches at the start of every task, and on CPython 3.11 that
makes each worker re-read the central directory of ``pyspark.zip`` once
per cached zip importer, a fixed charge on every scan window, data-source
read and pandas UDF that can outweigh the task's own work. The daemon
re-reads an archive only when it has changed on disk; files shipped with
``addFile``/``addPyFile`` are found as before. Spark has no fallback if
the daemon module cannot be imported when the daemon starts, so the
session also puts the directory holding this package on the executors'
``PYTHONPATH`` (local executors share the driver's file system). Opt out
with ``extra_conf={"spark.python.daemon.module": "pyspark.daemon"}``.
Other masters keep ``pyspark.daemon``: executors there may receive the
engine only through ``--py-files``/``addPyFile``, which PySpark adds to
``sys.path`` per task, after the daemon has started. Where the package
is installed on every executor, opt in with
``extra_conf={"spark.python.daemon.module":
"cae_polars_tools_spark.worker_daemon"}``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DAEMON_MODULE = "cae_polars_tools_spark.worker_daemon"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "cae-polars-tools-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Parameters
    ----------
    master:
        Defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) when
        no cluster master is configured. On a real cluster, pass
        ``None`` and let ``spark-submit`` own it.
    shuffle_partitions:
        Initial shuffle partition count; AQE coalesces downward at
        runtime. Defaults to env ``SPARK_GRAFT_CPUS`` (32).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    if master is None and not os.environ.get("SPARK_MASTER") and "spark.master" not in (
        os.environ.get("SPARK_CONF", "")
    ):
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)

    conf = {
        # Adaptive execution: runtime shuffle coalescing, skew-join
        # splitting, and dynamic join-strategy switching.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Arrow for pandas UDFs / toPandas / Python data sources.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Pin Python worker reuse (Spark's default, but a misconfigured
        # cluster losing it would bill a fork+import to EVERY pandas-UDF
        # stage and Python Data Source planning round — the fixed
        # overhead that dominates small scans).
        "spark.python.worker.reuse": "true",
        # Let the zarr data source consume coordinate predicates
        # (ZarrScanReader.pushFilters → chunk pruning at the store).
        "spark.sql.python.filterPushdown.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        # Parquet scans: pushdown + vectorized reader are on by default;
        # pin them explicitly so a misconfigured cluster can't lose them.
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        # Runtime row-level filtering — the 100 TB join levers, pinned
        # for the same reason. The bloom application-side threshold
        # (10 GB scan) never fires at test SFs but prunes the fact-side
        # scan of selective joins (q10/q11/q65 shapes) at cluster
        # scale; DPP prunes partitioned-table scans from dim filters.
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
        # Keep timestamps deterministic across engines (oracle parity).
        "spark.sql.session.timeZone": "UTC",
        # Defensive fallback for nano-typed parquet (which the
        # vectorized reader rejects outright): read nanos as int64 so
        # io.read_table can rebuild a microsecond timestamp. The
        # driver's actual tables store timestamp[us]
        # (isAdjustedToUTC=false), where this conf is a no-op.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # The driver's tables store timestamp[us] with
        # isAdjustedToUTC=false; Spark 4 would infer TIMESTAMP_NTZ,
        # which breaks instant functions (unix_micros) and diverges
        # from the DuckDB oracle's naive-as-UTC reading. Read parquet
        # timestamps as UTC instants instead.
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        # Spark 4.1's checkpoint file-checksum writer deadlocks the
        # state-store commit of applyInPandasWithState on local
        # filesystems; corruption detection matters on object stores,
        # not local checkpoints.
        "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
        # Broadcast threshold: small dims (region/nation/supplier) must
        # broadcast; 64 MB is safe for dimension tables at any SF here.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # The engine's deliberate persists hold 64-bit hashes and
        # MinHash signatures — high-entropy data that lz4/dictionary
        # encoding cannot shrink, so columnar-cache compression pays
        # CPU on every cache build for ~no memory saved (measured
        # ~0.4 s per dedup entry at sf0.1). The caches are sized at
        # 1-2% of corpus bytes by design, so the forgone compression
        # costs little even at 100 TB.
        "spark.sql.inMemoryColumnarStorage.compressed": "false",
        # Local mode runs driver+executors in ONE JVM; the 1g default
        # heap has OOMed under 32 concurrent codegen-heavy tasks. On a
        # real cluster spark-submit owns memory sizing — this only
        # applies when the session is created in-process (local mode).
        # (6g since round 8: the 124-entry bench loop's codegen/GC
        # residue drifted later rounds upward on a 4g heap.)
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "6g"),
    }
    if master is not None and master.startswith("local"):
        # Fork workers from the engine's daemon, which stops every task
        # re-reading pyspark.zip (see the module docstring).
        conf["spark.python.daemon.module"] = _DAEMON_MODULE
    if extra_conf:
        conf.update(extra_conf)
    if conf.get("spark.python.daemon.module") == _DAEMON_MODULE:
        # The daemon starts before any per-task sys.path entry exists, so
        # make the package importable even when the driver found it only
        # through its own sys.path. Spark merges this into the daemon's
        # PYTHONPATH; a caller's entries are kept after it.
        paths = [_PACKAGE_PARENT, conf.get("spark.executorEnv.PYTHONPATH", "")]
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
