"""SparkSession construction: Spark's launcher configures a run, and the
engine's defaults fill in only what it left unset.

The launcher is ``spark-submit --master/--conf``, ``spark-defaults.conf``
and, under plain ``python``, ``PYSPARK_SUBMIT_ARGS``.  The explicit
arguments of :func:`build_session` win over both.  Three environment
variables pick host-specific defaults: ``OLKG_DRIVER_MEM`` (driver heap,
8g), ``OLKG_LOCAL_DIR`` and ``OLKG_TMPFS_SCRATCH`` (``spark.local.dir``).
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


def _defaults() -> dict[str, str]:
    """The engine's confs, tuned for the pipeline's shape (one narrow
    Arrow-UDF stage, two wide join/dedup stages)."""
    conf = {
        "spark.master": "local[*]",
        # AQE on, incl. skew-join splitting: the author rendezvous join (J1)
        # is skew-prone under web-duplicate key distributions (SURVEY.md §4);
        # explicit salting in olkg.link complements it
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # the extract UDF is the only JVM↔Python boundary, amortized per
        # Arrow batch (the analog of the reference's 1001-record
        # micro-batch, openlibrary_to_rdf.rb:35)
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        # input split sizing: the default 128 MB coalesces a medium local
        # corpus into fewer splits than cores, serializing the extract stage;
        # 16 MB keeps scan parallelism ≥ cores at bench scale while remaining
        # a no-op for genuinely large inputs
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.files.openCostInBytes": "1m",
        # AQE coalesce target: the 64m default collapses bench-scale shuffles
        # to 1-2 post-shuffle partitions, serializing reduce stages however
        # many cores exist (measured: 2m cut the 8-core e2e wall ~30%).  At
        # genuine cluster scale pass a larger value with --conf.
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
        # stage-table codec: zstd roughly halves stage-table bytes against
        # snappy for CPU that scales with executors; pass
        # --conf spark.sql.parquet.compression.codec=zstd where storage
        # bandwidth, not CPU, is the constraint
        "spark.sql.parquet.compression.codec": "snappy",
        # match default parallelism at local scale; clusters should pass
        # ≈ 2-3x their total cores
        "spark.sql.shuffle.partitions": "32",
    }
    # Shuffle/spill scratch: on a real cluster this is per-executor local SSD
    # whose aggregate bandwidth scales with the node count; a single-disk
    # host would serialize every run's shuffle I/O behind one device.  tmpfs
    # (RAM-backed) models the per-node-scaling scratch, but RAM-backed
    # shuffle competes with heap/page cache and can ENOSPC/OOM a big corpus
    # run, so it is OPT-IN (OLKG_TMPFS_SCRATCH=1, used by the bench
    # harnesses).  OLKG_LOCAL_DIR overrides either way.
    local_dir = os.environ.get("OLKG_LOCAL_DIR")
    if (local_dir is None
            and os.environ.get("OLKG_TMPFS_SCRATCH") == "1"
            and os.path.isdir("/dev/shm")):
        local_dir = "/dev/shm/olkg-spark-local"
    if local_dir:
        conf["spark.local.dir"] = local_dir
    return conf


def _launcher_conf(explicit: dict, defaults: dict[str, str]) -> dict[str, str]:
    """The confs the launcher gave the driver JVM.

    Under ``spark-submit`` the JVM already runs.  Under plain ``python``
    this starts it, with ``explicit`` as ``--conf`` settings ahead of
    ``PYSPARK_SUBMIT_ARGS``.  Two defaults go in at that launch too, below
    the launcher's own settings:

    - the heap, fixed once the JVM runs: ``OLKG_DRIVER_MEM`` (default 8g)
      as ``SPARK_DRIVER_MEMORY``, the one source the launcher ranks below
      ``--driver-memory``, ``--conf`` and ``spark-defaults.conf``;
    - console progress, which spark-submit turns on for every shell (the
      Python gateway is one) unless a ``--conf`` sets it; here only
      ``PYSPARK_SUBMIT_ARGS`` overrides it.

    The JVM outlives its sessions: a later session in the same process
    counts the settings the JVM started with as the launcher's."""
    progress = "spark.ui.showConsoleProgress"
    launch = {progress: defaults[progress], **explicit}
    unset = "SPARK_DRIVER_MEMORY" not in os.environ
    if unset:
        os.environ["SPARK_DRIVER_MEMORY"] = os.environ.get("OLKG_DRIVER_MEM",
                                                           "8g")
    try:
        SparkContext._ensure_initialized(
            conf=SparkConf(loadDefaults=False).setAll(list(launch.items())))
    finally:
        if unset:
            del os.environ["SPARK_DRIVER_MEMORY"]
    return dict(SparkConf().getAll())


def build_session(
    app_name: str = "olkg",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for the KG pipeline: the launcher's
    settings, then :func:`_defaults` for every key the launcher left unset,
    then the explicit arguments over both."""
    explicit: dict = {}
    if master:
        explicit["spark.master"] = master
    if shuffle_partitions is not None:
        explicit["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    explicit.update(extra_conf or {})
    defaults = _defaults()
    launcher = _launcher_conf(explicit, defaults)
    conf = {k: v for k, v in defaults.items() if k not in launcher}
    conf.update(explicit)
    builder = SparkSession.builder.appName(app_name).config(map=conf)
    return builder.getOrCreate()
