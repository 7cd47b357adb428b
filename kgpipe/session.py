"""SparkSession factory — one place for all scale-relevant configs.

Defaults are tuned for the sandbox (local[N], 128 GiB, parquet-backed
snapshot tables); on a real cluster the same factory takes the Iceberg
catalog configs via ``extra_conf`` and everything downstream is unchanged.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _package_zip() -> str:
    """Zip the kgpipe package for executor shipping (spark-submit --py-files
    equivalent). Cached per process."""
    import kgpipe

    pkg_dir = os.path.dirname(os.path.abspath(kgpipe.__file__))
    out = os.path.join(tempfile.gettempdir(), f"kgpipe-{os.getpid()}.zip")
    if not os.path.exists(out):
        with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.join("kgpipe", os.path.relpath(full, pkg_dir))
                        zf.write(full, rel)
    return out


def persistent_rdd_ids(sc) -> set:
    """Snapshot of currently materialized cached-RDD ids (persisted
    DataFrames and localCheckpoint blocks both register here)."""
    return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}


def free_cached_since(sc, keep_ids: set) -> int:
    """Synchronously unpersist every cached RDD not in ``keep_ids``.

    Long loops that call cache-producing code per iteration (the bucket
    runner, benchmark rounds) must release each iteration's blocks
    before the next one — the async ContextCleaner only reclaims them
    after JVM GC notices unreachability, and the accumulated heap
    pressure measurably degrades later iterations (observed 2x). Returns
    the number of RDDs dropped.

    It drops RDD blocks and localCheckpoints, not DataFrame CacheManager
    entries: the entry of a ``persist()``ed DataFrame outlives its
    blocks, and a later ``persist()`` of an equal plan reuses the entry
    and recomputes on every read. Release a persisted DataFrame with
    ``unpersist()``. kgpipe itself persists no DataFrame.
    """
    jmap = sc._jsc.getPersistentRDDs()
    dropped = 0
    for rid in list(jmap.keySet().toArray()):
        if int(rid) not in keep_ids:
            jmap.get(rid).unpersist(True)
            dropped += 1
    return dropped


def with_callers_properties(sc, fn):
    """``fn`` wrapped to run under a copy of the calling thread's Spark
    local properties (job group, description, scheduler pool), taken
    now: the target of a thread the caller starts, so the jobs it runs
    belong to the caller's job group and cancelling the group stops
    them. ``pyspark.InheritableThread`` does the same from a wrapper
    frame inside pyspark, which pyspark then records as the call site of
    every job the thread runs, hiding the kgpipe line that ran it."""
    props = sc._jsc.sc().getLocalProperties().clone()

    def run():
        sc._jsc.sc().setLocalProperties(props)
        return fn()

    return run


def local_frame(spark: SparkSession, rows, schema: StructType) -> DataFrame:
    """A small driver-built frame as a ``LocalRelation``.

    ``spark.createDataFrame(list, schema)`` parallelizes pickled Python
    rows: its executed plan is ``Scan ExistingRDD``, a Python task per
    partition each time a job reads it, even for one row. The same rows
    handed over as one Arrow table become a ``LocalTableScan`` the JVM
    reads without Python. ``rows`` are non-empty tuples in ``schema``
    order."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(zip(*rows), arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def get_spark(
    app_name: str = "kgpipe",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # shuffle partitions sized to a MULTIPLE of cores (guide §2.2/§9:
    # several waves of smaller reduce tasks + AQE coalescing of the
    # excess beats one wave of core-count tasks; interleaved A/B on a
    # 1.68M-row distinct at local[32]: 32 partitions 2.3-2.7s vs 256
    # partitions 0.8-1.1s, stable under host-load noise). The multiplier
    # is parameterised, not a local constant: a 1000-executor cluster
    # sizes this the same way (2-8x total cores, AQE coalesces down by
    # advisory size); override per deployment via KGPIPE_SHUFFLE_PER_CORE
    # or the explicit argument.
    if shuffle_partitions is None:
        local_n = master[len("local[") : -1] if master.startswith("local[") else ""
        base = cpus if not local_n.isdigit() else int(local_n)
        shuffle_partitions = base * int(os.environ.get("KGPIPE_SHUFFLE_PER_CORE", "8"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # 16m: a broadcast build is DRIVER-SERIAL work — past ~16 MB the
        # build+ship cost exceeds what a parallel shuffle join pays, and it
        # becomes the Amdahl floor of the whole run (measured: 2 forced
        # ~50 MB seed broadcasts cost ~35 s serial at bench scale)
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("KGPIPE_DRIVER_MEM", "24g"))
        .config("spark.sql.session.timeZone", "UTC")
        # integer overflow raises ARITHMETIC_OVERFLOW instead of wrapping
        # (the scaled-long sums in queries.tpch_q1_pricing rely on it);
        # pinned rather than left to the version default
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.ui.enabled", "false")
        # call-site capture for enriched JVM errors costs ~3 driver
        # round-trips PER DataFrame API call (getActiveSession +
        # stack-depth conf.get + PySparkCurrentOrigin.set — the Spark 4
        # knob exists exactly for this); a kg round issues ~670 wrapped
        # calls, so this is ~2k of the ~5.4k py4j round-trips in the
        # measured ~1.8s serial plan-construction floor. Diagnostic
        # enrichment only — errors still raise, without Python call-site
        # lines. Cached at first wrapped call, so it must be set at
        # session build; override via extra_conf to debug.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # ship the package to python workers — the programmatic counterpart of
    # `spark-submit --py-files kgpipe.zip` (north_star packaging contract);
    # without it executors outside the repo cwd can't unpickle the UDFs.
    spark.sparkContext.addPyFile(_package_zip())
    return spark
