"""SparkSession factory tuned for the spatial-join workload.

The reference's physical planner is ``osm2pgsql-tuner`` (RAM-based flag
selection, /root/reference/docker/osm2pgsql_recommendation.py:50-94). The
Spark analog is session configuration: AQE, Arrow batch sizing for binary
image payloads, and shuffle-partition counts sized to the core count.

When ``get_spark`` launches the driver JVM itself it also gives it a
class-data-sharing archive: the first session on a machine records the
classes it loads into ``<cache>/pgosm-flex-spark/cds/<key>.<unique>.part``
when its JVM exits, a later session promotes that file to ``<key>.jsa`` once
a probe JVM maps it cleanly, and every session after that maps it, which
roughly halves the JVM's start and first jobs. ``<key>`` digests the JDK
release and the launch classpath, since the JVM maps an archive only under
the classpath it was recorded with. The state of each launch is the Spark
conf ``spark.pgosm.classArchive``: ``mapped``, ``dumping`` or
``off:<reason>``.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import subprocess
import tempfile
import uuid
from collections.abc import Iterator
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

ARCHIVE_CONF = "spark.pgosm.classArchive"
JAVA_OPTIONS = "spark.driver.extraJavaOptions"
# CDS logs at warning level to stdout; a dumping run alone prints hundreds
# of "Skipping ...: Signed JAR" lines
QUIET_CDS = "-Xlog:cds*=off"
PROBE_TIMEOUT_S = 60


class ClassArchive(NamedTuple):
    """What a driver JVM launch does with the class-data-sharing archive."""

    state: str  # "mapped", "dumping" or "off:<reason>"
    java_options: str = ""
    conf_dir: str | None = None  # the empty SPARK_CONF_DIR of the launch
    part: str | None = None  # the archive a dumping JVM writes at exit


def java_home() -> str | None:
    """The JDK that ``spark-submit`` runs: $JAVA_HOME, else ``java`` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def archive_key(jdk: str, jars: list[str]) -> str:
    """Digest of what an archive is valid for: the JDK release and each
    launch-classpath jar's path, size and mtime (the JVM checks the same
    three and refuses an archive recorded under another classpath)."""
    h = hashlib.sha1()
    with open(os.path.join(jdk, "release"), "rb") as f:
        h.update(f.read())
    for jar in sorted(jars):
        st = os.stat(jar)
        h.update(f"\0{jar}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _remove(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def _writer_alive(pid: int, part: str) -> bool:
    """Whether ``pid`` is still the JVM that writes ``part`` at its exit; a
    zombie or a reused pid has another (or an empty) command line."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return part.encode() in f.read()
    except OSError:
        return True  # no /proc: the pid exists, so assume it is the writer


def probe_archive(java: str, part: str, classpath: str, modules: list[str]) -> bool:
    """Whether a JVM started with the writer's classpath and modules maps
    ``part``. A truncated archive crashes it (SIGBUS), as it would crash
    every session that mapped it."""
    cmd = [java, "-Xshare:on", f"-XX:SharedArchiveFile={part}", "-XX:-CreateCoredumpOnCrash",
           "-XX:ErrorFile=/dev/null", "-cp", classpath, *modules, "-version"]
    try:
        done = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL, timeout=PROBE_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired):
        return False
    return done.returncode == 0


def settle_archives(directory: str, key: str, java: str) -> bool:
    """Promote a complete archive of ``key``, delete every other ``.part``
    whose writer has exited and every archive of another key.
    True while a JVM that writes an archive of ``key`` is still running."""
    names = os.listdir(directory)
    jsa = os.path.join(directory, f"{key}.jsa")
    for name in names:
        if name.endswith(".jsa") and name != f"{key}.jsa":
            _remove(os.path.join(directory, name))
    busy = False
    for stem in sorted({n.rsplit(".", 1)[0] for n in names if n.endswith((".part", ".json"))}):
        part, meta = (os.path.join(directory, f"{stem}.{ext}") for ext in ("part", "json"))
        try:
            with open(meta) as f:
                w = json.load(f)
            pid, classpath, modules = int(w["pid"]), str(w["classpath"]), [str(m) for m in w["modules"]]
        except (OSError, ValueError, KeyError, TypeError):
            pid = None
        if pid is not None and _writer_alive(pid, part):
            busy = busy or stem.startswith(f"{key}.")
            continue
        if (pid is not None and stem.startswith(f"{key}.") and os.path.exists(part)
                and not os.path.exists(jsa) and probe_archive(java, part, classpath, modules)):
            with contextlib.suppress(FileNotFoundError):  # a concurrent session promoted it
                os.replace(part, jsa)
        _remove(part)
        _remove(meta)
    return busy


def plan_class_archive(conf: dict[str, str]) -> ClassArchive:
    """The archive of a driver JVM that ``get_spark`` launches with ``conf``.
    Any doubt turns it off, and the JVM then starts exactly as without it."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return ClassArchive("off:jvm-running")  # spark-submit launched it
    if os.environ.get("HADOOP_CONF_DIR") or os.environ.get("YARN_CONF_DIR"):
        return ClassArchive("off:hadoop-conf")  # directories on the classpath
    if os.environ.get("SPARK_DIST_CLASSPATH") or conf.get("spark.driver.extraClassPath"):
        return ClassArchive("off:classpath")
    spark_home = _find_spark_home()
    # JDK 17 neither dumps nor maps an archive while the classpath holds a
    # non-empty directory, and the launch puts $SPARK_CONF_DIR first on it;
    # an empty one replaces it only when it holds nothing but templates
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and any(not n.endswith(".template") for n in os.listdir(conf_dir)):
        return ClassArchive("off:conf-dir")
    jdk, jar_dir = java_home(), os.path.join(spark_home, "jars")
    if not (jdk and os.path.isfile(os.path.join(jdk, "release")) and os.path.isdir(jar_dir)):
        return ClassArchive("off:jdk")
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    directory = os.path.join(cache, "pgosm-flex-spark", "cds")
    if any(c.isspace() or c in "\"'" for c in directory):
        return ClassArchive("off:cache-path")  # extraJavaOptions is split on whitespace
    try:
        empty_conf = os.path.join(directory, "conf")
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf):
            return ClassArchive("off:conf-dir")
        jars = [os.path.join(jar_dir, n) for n in os.listdir(jar_dir) if n.endswith(".jar")]
        key = archive_key(jdk, jars)
        busy = settle_archives(directory, key, os.path.join(jdk, "bin", "java"))
        jsa = os.path.join(directory, f"{key}.jsa")
        if os.path.exists(jsa):
            return ClassArchive("mapped", f"-XX:SharedArchiveFile={jsa} {QUIET_CDS}", empty_conf)
        if busy:
            return ClassArchive("off:busy")
        with tempfile.TemporaryFile(dir=directory):  # the archive can be written
            pass
    except OSError:
        return ClassArchive("off:cache")
    part = os.path.join(directory, f"{key}.{uuid.uuid4().hex[:12]}.part")
    return ClassArchive("dumping", f"-XX:ArchiveClassesAtExit={part} {QUIET_CDS}", empty_conf, part)


@contextlib.contextmanager
def launch_env(archive: ClassArchive) -> Iterator[None]:
    """$SPARK_CONF_DIR pointed at the archive's empty conf dir for the JVM
    launch inside the block only; os.environ is restored after it."""
    if archive.conf_dir is None:
        yield
        return
    old = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = archive.conf_dir
    try:
        yield
    finally:
        if old is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = old


def record_writer(spark: SparkSession, part: str) -> None:
    """Write beside ``part`` the pid, classpath and modules of the JVM that
    dumps it: a later session promotes it only once that pid has exited,
    and probes it under the same classpath."""
    jvm = spark.sparkContext._jvm
    args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    writer = {
        "pid": int(jvm.java.lang.ProcessHandle.current().pid()),
        "classpath": jvm.java.lang.System.getProperty("java.class.path"),
        "modules": [a for a in args if a.startswith("--add-modules")],
    }
    with contextlib.suppress(OSError):  # without it the .part is deleted, never mapped
        with open(part[: -len(".part")] + ".json", "w") as f:
            json.dump(writer, f)


def merged_conf(*layers: dict) -> dict:
    """Later layers win, except ``spark.driver.extraJavaOptions``: every
    layer's value, space-joined in order."""
    conf = {k: v for layer in layers for k, v in layer.items()}
    java = " ".join(str(layer[JAVA_OPTIONS]) for layer in layers if layer.get(JAVA_OPTIONS))
    conf.pop(JAVA_OPTIONS, None)
    if java:
        conf[JAVA_OPTIONS] = java
    return conf


def get_spark(
    app_name: str = "pgosm-flex-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS, else the CPUs this process may
    run on; on a real cluster the master/executor settings come from
    spark-submit and this factory only applies SQL-level tuning.

    ``extra_conf`` takes precedence over $SPARK_GRAFT_EXTRA_CONF key by key,
    except ``spark.driver.extraJavaOptions``: the class archive's options,
    the environment's and ``extra_conf``'s are space-joined in that order.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        # 2x cores: small enough to avoid tiny-task overhead at test scale,
        # AQE coalesces further at runtime; at 100 TB this is overridden via
        # spark.sql.adaptive.coalescePartitions + a much larger initial count.
        shuffle_partitions = max(DEFAULT_SHUFFLE_PARTITIONS, 2 * cores)

    # local mode: driver JVM == executor JVM; the 1g default heap OOMs at
    # bench scale. A quarter of host RAM leaves the rest to the JVM's
    # off-heap memory, the Python workers and the OS; on a real cluster
    # spark-submit supplies executor memory and this only affects the driver.
    host_ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(1, host_ram // 4 >> 30)}g")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # NO silent Arrow fallback: the legacy toPandas path degrades int64
        # to float64, truncating 64-bit content ids (xxhash64 vertex/edge
        # ids corrupt at |id| > 2^53 — observed under host memory pressure).
        # A loud conversion failure beats silently wrong ids.
        .config("spark.sql.execution.arrow.pyspark.fallback.enabled", "false")
        # large record batches keep the vectorized-UDF hot path efficient at
        # high parallelism (2048-row batches measured 9x slower at local[32]);
        # maxBytesPerBatch (64 MB default) still bounds memory for image
        # `bytes` payload batches (SURVEY.md §7.3)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # input split size — also the task granularity of every map-only
        # stage over a parquet source (the flagship join's point side).
        # Point parquet is spatially clustered (sequential ids ≈ nearby
        # cells), so coarse 128 MB splits concentrate the refine stage's
        # boundary-point work in a few tasks: at 16 cores the straggler
        # tail halves the join's effective rate. Finer splits cost nothing
        # (no shuffle) and let the scheduler balance the skew.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # FAIR scheduling between pools: the import job submits its two
        # independent stage chains (variable-size point side, fixed-size
        # feature world / export) from separate driver threads tagged with
        # separate pools, so the small fixed-world stages get task slots
        # while a large scan is in flight instead of queueing behind it.
        # Single-job workloads are unaffected (one pool, no competition).
        .config("spark.scheduler.mode", "FAIR")
        # Delay scheduling is a net loss for this workload: the hot paths
        # read either parquet splits (no preferred location on object
        # storage) or memory-persisted blocks consumed by SHORT tasks, and
        # the default 3 s/level wait idles task slots whenever a preferred
        # executor is busy — which is the steady state of the import job's
        # unit loop (42 small unit jobs racing over the same persisted point
        # blocks). Measured on the 96M-point full job through a 4-executor
        # standalone cluster: wait=0s cut the fixed-world section 130→72 s
        # and the checkpointed join 84→70 s (the 1-executor leg is immune —
        # every block is local — so the default 3 s silently depresses only
        # the multi-executor legs the north rule measures).
        .config("spark.locality.wait", "0s")
        # spark.sql.codegen.hugeMethodLimit stays at its default (65535):
        # aligning it with HotSpot's 8000-byte never-JIT threshold was
        # measured BOTH ways on this workload — it recovered ~20% on the
        # 44-table layer dispatch while its widest predicates fused into
        # 7-8 KB methods, but it also demoted the kNN candidate stage from
        # whole-stage codegen (min 4.1 s → 7.2 s, same window). The real
        # fix was shrinking the generated predicates themselves
        # (layers/registry.py flat member helpers: max branch method is
        # now ~2.5 KB), after which the lower limit had no remaining
        # upside. Keep generated methods small instead of tuning this.
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    master = os.environ.get("SPARK_GRAFT_MASTER")
    if master:
        builder = builder.master(master)
    elif SparkSession.getActiveSession() is None:
        builder = builder.master(f"local[{cores}]")
    # cluster-mode plumbing for plain-python drivers (no spark-submit):
    # a JSON dict of confs, e.g. spark.cores.max / spark.executor.cores /
    # spark.executorEnv.PYTHONPATH, so the same jobs run unchanged against
    # a standalone master
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    env = {k: str(v) for k, v in json.loads(env_conf).items()} if env_conf else {}
    conf = merged_conf(env, extra_conf or {})
    # a running JVM keeps the archive state it was launched with: the
    # launch's --conf values are system properties every later SparkConf loads
    archive = ClassArchive("off:jvm-running")
    if SparkContext._gateway is None:
        archive = plan_class_archive(conf)
        conf = merged_conf({ARCHIVE_CONF: archive.state, JAVA_OPTIONS: archive.java_options}, conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    with launch_env(archive):
        spark = builder.getOrCreate()
    if archive.part is not None:
        record_writer(spark, archive.part)
    return spark
