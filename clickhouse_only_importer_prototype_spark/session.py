"""SparkSession factory and the engine's one conf table.

``ENGINE_CONF`` holds every ``spark.sql.*`` value the engine depends on:
AQE on, Arrow on, the broadcast and runtime bloom-filter policies,
nanos-as-long for parquet TIMESTAMP(NANOS) inputs (the ``events``
table) and a UTC session timezone. Every key is runtime-settable, so
the same table reaches two kinds of session:

  * ``get_spark`` builds a new session from it;
  * ``ensure_conf`` sets it once per session on a session built
    elsewhere, or a second session of one application
    (``spark.newSession()``, which keeps its own SQL conf) —
    ``queries.load`` and ``get_spark``'s reused-session branch both
    call it.

Only deployment values stay outside the table: app name, master
(``$SPARK_GRAFT_MASTER``, default ``local[$SPARK_GRAFT_CPUS]``), driver
memory (``$SPARK_GRAFT_DRIVER_MEM``) and ``extra_conf``, which also
overrides any table value on a new session.

Scale notes (100 TB design intent):
  * ``spark.sql.adaptive.enabled`` + coalesce + skew-join: runtime
    re-planning replaces hand-tuned partition counts.
  * ``spark.sql.files.maxPartitionBytes`` left at 128 MiB default —
    right-sized scan tasks at any input size.
  * Arrow execution for every pandas-UDF boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONF: dict[str, str] = {
    # every registry query runs at 32; under AQE the exchanges are
    # sized by initialPartitionNum below, not by this value
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE picks the post-shuffle partition count by measured size, but
    # only DOWN from the initial number — with the initial pinned at 32,
    # a 100x-scale shuffle (e.g. a 120M-row adjacency join) is forced
    # into 32 oversized partitions whose join/sort buffers blow the
    # heap. Giving AQE a high ceiling costs nothing at small scale
    # (coalesce folds tiny data back to a few partitions) and bounds
    # per-task volume at large scale — the documented
    # "set initialPartitionNum high, let AQE coalesce" pattern.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "512",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcast policy: explicit F.broadcast() hints are reserved
    # for provably BOUNDED frames (region=5 rows, nation=25,
    # 1-row scalar aggregates, sketch-sized state). Everything that
    # scales with data volume — customer, supplier, part, any
    # fact-derived frame — is left to SIZE-BASED selection: these
    # thresholds (compile-time from parquet footers, runtime via
    # AQE's measured shuffle sizes) pick broadcast while the build
    # side actually fits and degrade to shuffle join past that,
    # instead of collecting an unbounded frame onto the driver.
    # 64 MB is sized to the per-task memory of this class of
    # executor; measured at the 100x stress scale it keeps every
    # dimension broadcast the old hints forced, while removing the
    # force-broadcast of fact-derived frames (q3's orders⨝customer
    # build was 3M rows there: hinted 52.2s, size-based 9.9s).
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    # Runtime bloom-filter join pruning (on by default in Spark 4),
    # re-thresholded for the fact/dim shapes this engine runs: Spark's
    # thresholds (creation side <= 10 MB, application side >= 10 GB)
    # almost never fire — q19's selective part filter at the 600M-row
    # tier planned a sort-merge whose 600M-row shuffle write AQE could
    # not undo (142.5s). With the creation ceiling at 256 MB and the
    # application floor at 1 GB, the optimizer builds a bloom of the
    # filtered dim keys and prunes the fact at the SCAN: measured
    # 142.5s -> 7.8-16s warm. Scans under 1 GB (the whole 1x/10x
    # bench) never pay a bloom build, so toy-scale plans are unchanged.
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "256MB",
    "spark.sql.optimizer.runtime.bloomFilter."
    "applicationSideScanSizeThreshold": "1GB",
    # persist()ed plans keep their compile-time partitioning unless
    # this is on — without it the high initial partition count
    # above leaks 512-task shuffles into every cached frame at
    # small scale (AQE can otherwise coalesce cached plans too;
    # cache hits only re-read, so the trade is pure win here)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # TIMESTAMP(NANOS) parquet reads as long nanos only with this
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # timestamp literals and NTZ -> nanos folds match DuckDB only in UTC
    "spark.sql.session.timeZone": "UTC",
}

# session keys (_session_key) of the sessions that already hold
# ENGINE_CONF — not id(spark): a GC'd session's address can be reused by
# a fresh unconfigured one
_CONF_APPLIED: set[str] = set()


def _session_key(spark: SparkSession) -> str:
    """The JVM session's UUID: distinct for every ``newSession()`` of one
    application, stable for the same session."""
    return spark._jsparkSession.sessionUUID()


def ensure_conf(spark: SparkSession) -> None:
    """Set ENGINE_CONF on ``spark`` once per session. Once, not on every
    call: a value a caller changes afterwards keeps its value (tests
    turn Arrow off after load() to pin the no-Arrow path)."""
    key = _session_key(spark)
    if key in _CONF_APPLIED:
        return
    for k, v in ENGINE_CONF.items():
        spark.conf.set(k, v)
    _CONF_APPLIED.add(key)


def _default_driver_mem() -> str:
    """Size the local JVM to the box when the env doesn't say:
    a local[32] 'cluster' on an 8 GiB heap gives each concurrent task
    ~250 MB — undersized for stress-scale joins (measured: 100x
    triangle count OOMs). Default to 1/4 of physical RAM clamped to
    [8g, 48g]; on a real cluster this conf comes from the deployment,
    not this factory."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gib = int(line.split()[1]) // (1024 * 1024)
                    return f"{min(48, max(8, gib // 4))}g"
    except OSError:
        pass
    return "8g"


def get_spark(
    app_name: str = "clickhouse-only-importer-prototype-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession from ENGINE_CONF, or reuse the active one
    (Spark keeps one JVM per process) after ``ensure_conf``."""
    active = SparkSession.getActiveSession()
    if active is not None:
        ensure_conf(active)
        return active

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    conf = {
        **ENGINE_CONF,
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()
        ),
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    _CONF_APPLIED.add(_session_key(spark))
    return spark
