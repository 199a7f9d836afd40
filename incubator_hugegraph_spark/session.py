"""SparkSession factory with scale-appropriate defaults.

Local runs use ``local[N]`` with N shuffle partitions, N =
``SPARK_GRAFT_CPUS`` (default: the cores this process may run on), so
every shuffle stage is one wave of tasks. The same config block is
what we would ship on a 1000-executor cluster (AQE on, skew-join
handling on, Arrow for the few pandas-UDF paths); there
``SPARK_SHUFFLE_PARTITIONS`` sizes the shuffles for the data instead
of the cores. Nothing here is test-only magic.
"""

from __future__ import annotations

import os

# Route pyarrow through glibc malloc BEFORE anything imports pyarrow:
# its bundled jemalloc decays freed Arrow-collect buffers back to the
# OS within seconds, and on this host class returned pages are
# discarded host-side and refault at 7-11 MB/s under pressure (the
# measured "burst windows" — see _alloc.py). The system pool's pages
# are retained by the raised glibc thresholds instead. setdefault: an
# explicit operator choice wins. The env var is inherited by the JVM
# (spawned by getOrCreate) and from it by every Python worker.
os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")

from incubator_hugegraph_spark._alloc import tune_allocator  # noqa: E402

tune_allocator()

from pyspark.sql import SparkSession  # noqa: E402

# G1 uncommits committed heap above MaxHeapFreeRatio after a GC cycle;
# on this host class every uncommitted page is discarded host-side and
# refaults at 7-11 MB/s under pressure (_alloc.py), so the JVM must
# keep what it has committed. 100 = never shrink — committed heap is a
# high-water mark bounded by spark.driver.memory, the standard
# dedicated-host posture (clusters run Xms=Xmx for the same reason).
DEFAULT_DRIVER_JAVA_OPTS = "-XX:MaxHeapFreeRatio=100"


def _usable_cores() -> int:
    """Cores this process may run on (its CPU affinity mask, which
    container CPU sets narrow), or the machine's count where the OS
    has no affinity call."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def get_spark(app_name: str = "incubator-hugegraph-spark") -> SparkSession:
    """Build (or fetch) the session.

    Runs on ``local[N]`` with ``spark.sql.shuffle.partitions`` = N,
    N = ``SPARK_GRAFT_CPUS`` (default ``_usable_cores()``): a shuffle
    stage is one wave of N tasks, and iterative loops that run with
    AQE off (``graph.no_aqe``) schedule no near-empty extra waves.

    At 100 TB the only knobs that change are shuffle partitions
    (``SPARK_SHUFFLE_PARTITIONS``, sized so a partition fits executor
    memory), maxPartitionBytes and the master URL
    (``SPARK_MASTER_OVERRIDE``); the adaptive + skew settings below
    are the load-bearing ones and stay identical.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(_usable_cores())
    builder = (
        SparkSession.builder.appName(app_name)
        # local[N] runs everything in the driver JVM — size its heap
        # for N concurrent tasks (default 1g OOMs immediately at 32
        # threads). On a real cluster this knob moves to
        # spark.executor.memory and the driver shrinks.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS",
                               DEFAULT_DRIVER_JAVA_OPTS))
        .config("spark.sql.shuffle.partitions",
                os.environ.get("SPARK_SHUFFLE_PARTITIONS") or cpus)
        # AQE: runtime re-plan — coalesce tiny shuffle partitions,
        # convert to broadcast joins when a frontier turns out small,
        # split skewed partitions (the reference handles skew with
        # skipDegree; AQE skew-join is our structural equivalent).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for pandas UDF paths (tokenizers, embedding kernels).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch SIZE is a memory bound, not a speed knob: the
        # multimodal tier streams binary payloads through mapInPandas,
        # and the 10000-row default means one in-flight batch of 1 MB
        # blobs is ~10 GB per task — an OOM at 100 TB asset scale.
        # 1024 rows keeps a blob batch ~1 GB worst-case while leaving
        # scalar-column UDF paths (tokenizers) amply batched.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.session.timeZone", "UTC")
        # The driver-generated parquet stores TIMESTAMP(NANOS) which
        # Spark's vectorized reader rejects; read as long and convert
        # in sources (values are µs-precision, verified in tests).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    override = os.environ.get("SPARK_MASTER_OVERRIDE")
    if override:
        # the override URL is HONORED, not merely used to suppress the
        # local default (review r06: the value was never passed, so a
        # plain `python app.py` with the env var set crashed with
        # "A master URL must be set")
        builder = builder.master(override)
    else:
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
