"""SparkSession construction: Spark's launcher configures a run, and the
engine's defaults fill in only what it left unset.

The launcher is ``spark-submit --master/--conf``, ``spark-defaults.conf``
and, under plain ``python``, ``PYSPARK_SUBMIT_ARGS``.  The explicit
arguments of :func:`build_session` win over both.  Three environment
variables pick host-specific defaults: ``OLKG_DRIVER_MEM`` (driver heap,
8g), ``OLKG_LOCAL_DIR`` and ``OLKG_TMPFS_SCRATCH`` (``spark.local.dir``).

Under plain ``python`` the driver JVM starts from a dynamic class-data
sharing archive (JDK 13+, JEP 350) kept in ``$XDG_CACHE_HOME/olkg/``
(default ``~/.cache/olkg/``), one per JVM binary, Spark jar set and pyspark
version.  It roughly halves the JVM's start.  A process that finds no
archive writes one when its JVM exits and installs it by atomic rename
once that JVM is gone; concurrent first runs each write their own and the
last rename wins.  Writing costs a few seconds at start and ~10 s at
interpreter exit, once.  No archive is used when the launcher sets
``spark.driver.defaultJavaOptions`` or the driver class path, when the
Spark conf directory holds a real file (the archive refuses a non-empty
directory on the class path), when the cache is not writable, and under
``spark-submit``, where the JVM already runs.  JVM warnings go to stderr,
so stdout carries only what the program prints.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shutil
import subprocess
import uuid

from pyspark import SparkConf, SparkContext, __version__ as PYSPARK_VERSION
from pyspark.find_spark_home import _find_spark_home
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


# JVM unified logging (the archive's warnings included) goes to stderr:
# by default it prints on stdout, where the CLI prints its JSON
_JVM_LOG = "-Xlog:disable -Xlog:all=warning:stderr"
# how long interpreter exit waits for a JVM writing its archive (measured
# ~10 s); past it the dump is left for a later run to delete
_DUMP_WAIT_S = 300


def _archive_id(spark_home: str) -> str | None:
    """Digest of where the archive's classes come from: the JVM binary
    spark-class runs, the jars under ``$SPARK_HOME/jars`` and the pyspark
    version, by path, size and mtime.  An upgrade gets a fresh archive
    rather than a rejected one."""
    java_home = os.environ.get("JAVA_HOME")
    java = (os.path.join(java_home, "bin", "java") if java_home
            else shutil.which("java"))
    if not java:
        return None
    java = os.path.realpath(java)
    st = os.stat(java)
    ident = [PYSPARK_VERSION, java, st.st_size, st.st_mtime_ns]
    for entry in sorted(os.scandir(os.path.join(spark_home, "jars")),
                        key=lambda e: e.name):
        st = entry.stat()
        ident += [entry.name, st.st_size, st.st_mtime_ns]
    return hashlib.sha256(repr(ident).encode()).hexdigest()[:16]


def _dead_dump(path: str) -> bool:
    """Whether the process that launched the JVM writing ``path`` (named
    ``<archive>.<pid>-<nonce>.part``) is gone, so nothing will install it."""
    try:
        pid = int(os.path.basename(path).split(".")[-2].split("-")[0])
        os.kill(pid, 0)
    except ProcessLookupError:
        return True
    except (ValueError, PermissionError):
        pass
    return False


def _cds_launch(explicit: dict) -> tuple[str, str, str | None, str] | None:
    """(java options, conf dir, dump path or None, archive path) for the
    driver JVM this process is about to launch; None to launch it without
    class-data sharing (see the module docstring for when)."""
    # the launcher's own java options win, and a class path it extends may
    # hold a non-empty directory, which the dump refuses
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    keys = ("spark.driver.defaultJavaOptions", "spark.driver.extraClassPath")
    if (any(k in explicit or k in submit_args for k in keys)
            or "--properties-file" in submit_args
            or "--driver-class-path" in submit_args):
        return None
    spark_home = _find_spark_home()
    conf_dir = (os.environ.get("SPARK_CONF_DIR")
                or os.path.join(spark_home, "conf"))
    cache = os.path.join(os.environ.get("XDG_CACHE_HOME")
                         or os.path.expanduser("~/.cache"), "olkg")
    # the launcher splits java options on whitespace
    if any(c.isspace() or c in "\"'" for c in cache):
        return None
    # the conf dir is on the class path; pointing the launch at an empty one
    # loses no setting only when it holds nothing but templates
    empty_conf = os.path.join(cache, "empty-conf")
    try:
        if os.path.isdir(conf_dir) and any(
                not n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
        ident = _archive_id(spark_home)
        os.makedirs(empty_conf, exist_ok=True)
        if (ident is None or os.listdir(empty_conf)
                or not os.access(cache, os.W_OK)):
            return None
    except OSError:
        return None
    archive = os.path.join(cache, f"driver-{ident}.jsa")
    if os.path.isfile(archive):
        return (f"{_JVM_LOG} -XX:SharedArchiveFile={archive}", empty_conf,
                None, archive)
    for stale in glob.glob(os.path.join(cache, "driver-*.part")):
        if _dead_dump(stale):
            with contextlib.suppress(OSError):
                os.remove(stale)
    dump = f"{archive}.{os.getpid()}-{uuid.uuid4().hex[:8]}.part"
    return (f"{_JVM_LOG} -XX:ArchiveClassesAtExit={dump}", empty_conf, dump,
            archive)


def _install_archive(proc: subprocess.Popen, dump: str, archive: str) -> None:
    """At interpreter exit: end the JVM (it exits when its stdin closes),
    wait while it writes the archive, and install the file by atomic
    rename only after a clean exit.  No JVM may map a partial archive: one
    cut short crashes the JVM that maps it."""
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        clean = proc.wait(timeout=_DUMP_WAIT_S) == 0
    except subprocess.TimeoutExpired:
        return
    with contextlib.suppress(OSError):
        if clean:
            os.replace(dump, archive)
        else:
            os.remove(dump)


def _launcher_conf(explicit: dict, defaults: dict[str, str]) -> dict[str, str]:
    """The confs the launcher gave the driver JVM.

    Under ``spark-submit`` the JVM already runs.  Under plain ``python``
    this starts it, with ``explicit`` as ``--conf`` settings ahead of
    ``PYSPARK_SUBMIT_ARGS``.  Three defaults go in at that launch too,
    below the launcher's own settings:

    - the heap, fixed once the JVM runs: ``OLKG_DRIVER_MEM`` (default 8g)
      as ``SPARK_DRIVER_MEMORY``, the one source the launcher ranks below
      ``--driver-memory``, ``--conf`` and ``spark-defaults.conf``;
    - console progress, which spark-submit turns on for every shell (the
      Python gateway is one) unless a ``--conf`` sets it; here only
      ``PYSPARK_SUBMIT_ARGS`` overrides it;
    - the class-data sharing archive (:func:`_cds_launch`), as
      ``spark.driver.defaultJavaOptions``, with ``SPARK_CONF_DIR`` pointed
      at an empty directory for the launch.

    The environment is restored after the launch.  The JVM outlives its
    sessions: a later session in the same process counts the settings the
    JVM started with as the launcher's."""
    progress = "spark.ui.showConsoleProgress"
    launch = {progress: defaults[progress], **explicit}
    env = {}
    if "SPARK_DRIVER_MEMORY" not in os.environ:
        env["SPARK_DRIVER_MEMORY"] = os.environ.get("OLKG_DRIVER_MEM", "8g")
    cds = None
    if (SparkContext._gateway is None
            and "PYSPARK_GATEWAY_PORT" not in os.environ):
        cds = _cds_launch(explicit)
    if cds:
        java_opts, env["SPARK_CONF_DIR"], dump, archive = cds
        launch["spark.driver.defaultJavaOptions"] = java_opts
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        SparkContext._ensure_initialized(
            conf=SparkConf(loadDefaults=False).setAll(list(launch.items())))
    finally:
        for k, v in saved.items():
            if v is None:
                del os.environ[k]
            else:
                os.environ[k] = v
    if cds and dump:
        atexit.register(_install_archive, SparkContext._gateway.proc, dump,
                        archive)
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
