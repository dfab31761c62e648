"""SparkSession factory tuned for the engine.

Defaults target local[N] testing but every knob is the one you would
set on a 1000-executor cluster: AQE on (runtime skew-join + partition
coalescing), Arrow enabled with a bounded batch size (the pandas-UDF
analogue of GDAL's 65,536-feature Arrow batches,
``ogr/ogrsf_frmts/generic/ogrlayerarrow.cpp:2079``), and a cluster-sized
``max(32, cores)`` shuffle partition count that AQE coalesces at run
time on every shuffle, those inside persisted (cached) plans included.
A driver JVM launched here sizes its heap by what it holds rather than
by how long its GC pauses are (``_DRIVER_GC``), so its peak memory
does not depend on thread timing.

Start-up cache. When ``get_spark`` launches the driver JVM itself (no
JVM gateway yet, not under ``spark-submit``), it starts the JVM from a
dynamic AppCDS (class-data sharing) archive of the classes an earlier
driver loaded, so start-up and the first SQL action parse and verify
far fewer classes (perfbench on 4 vCPUs: session start ~5 s -> 2-3 s,
the first pass ~2 s shorter).

- *What and where.* One archive of ~140-180 MB in
  ``$XDG_CACHE_HOME/gdal_spark/cds/`` (default ``~/.cache/...``, next
  to the native-kernel cache), keyed by the JDK, the
  ``$SPARK_HOME/jars`` listing and the PySpark version. A new key's
  archive replaces the old one.
- *One-time cost.* The first launch for a key starts a few seconds
  slower, and its JVM spends ~10 s writing the archive when it exits,
  after Python has returned. The next launch checks that file with a
  0.3 s ``java -Xshare:on -version`` probe before putting it in place;
  every start that maps it verifies its checksums
  (``-XX:+VerifySharedSpaces``). A missing, stale, half-written or
  corrupt archive gives a normal start, never a crash.
- *Reset.* Delete the directory.
- *Left alone.* The JVM is launched exactly as before when the caller
  passes a ``-Xshare`` / ``SharedArchiveFile`` /
  ``ArchiveClassesAtExit`` option of their own, adds to the driver
  class path (``spark.jars``, ``spark.jars.packages``,
  ``spark.driver.extraClassPath``, ``SPARK_DIST_CLASSPATH``, ...), or
  has real files in the Spark conf directory. The JVM refuses to dump
  a class path that holds a non-empty directory, so when the conf
  directory holds only ``*.template`` files the launch points
  ``SPARK_CONF_DIR`` at an empty directory in the cache.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import subprocess
import uuid

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

# Arrow batch granularity: OGR's Arrow stream uses 65,536 features
# (ogrlayerarrow.cpp:2079) for slim vector rows. Image-bearing rows are
# ~300 KB encoded, so a batch must be far smaller: 256 rows ≈ 75 MB per
# in-flight batch per task — bounded so (concurrent tasks × batch)
# stays inside the executor heap (measured: 1024-row batches at 16
# concurrent tasks thrash an 8g heap 10×).
DEFAULT_ARROW_BATCH = 256


def ensure_pixel_batch_size(spark: SparkSession, max_rows: int = DEFAULT_ARROW_BATCH) -> None:
    """Clamp Arrow batch size before a pixel-bearing pandas-UDF stage.

    Pixel operators must work inside ANY caller's session (the
    correctness driver builds its own). Spark's default
    ``maxRecordsPerBatch`` is 10,000 — at ~300 KB encoded per row that
    is a ~3 GB Arrow batch per task. The conf is runtime-settable, so
    clamp it here; slim-row operators are unaffected by a smaller
    batch (it only bounds, not pads)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    try:
        cur = int(spark.conf.get(key, "10000"))
    except ValueError:
        cur = 10000
    if cur <= 0 or cur > max_rows:
        spark.conf.set(key, str(max_rows))


def get_spark(
    app_name: str = "gdal_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = DEFAULT_ARROW_BATCH,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. On a real cluster you simply do not pass ``master``
    and let spark-submit decide; every other conf is cluster-safe.
    A driver JVM launched here starts from the class-data-sharing
    archive described in the module docstring.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 0
        except ValueError:
            n = 0
        shuffle_partitions = max(32, n or 32)

    conf = {
        # AQE: runtime partition coalescing + skew-join splitting. The
        # explicit hot-cell salting in operators/spatial_join.py handles
        # build-side skew; AQE handles residual probe-side skew.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # By default AQE does not coalesce the final shuffle of a
        # persist()ed plan, so every tracked kNN / LSH round, the
        # `write_tiles` cache of a pyramid (its subtree stage) and the
        # rounds of a pyramid deeper than four levels would run exactly
        # shuffle.partitions Python tasks at ~0.2-0.3 s fixed cost each
        # (measured on 4 vCPUs with the earlier per-level pyramid:
        # build_pyramid(11, 12) + write_tiles 455 tasks -> 57, cached
        # levels 32 partitions -> 3-4). Spark reads this when persist()
        # is called, so it is set here, before any operator runs.
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.session.timeZone": "UTC",
        # Arrow for pandas UDFs; bounded batches so decoded-pixel
        # payloads (256*256*3 bytes/row post-decode) stay in memory.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(arrow_batch),
        # Image rows are wide (binary payloads): keep scan splits modest
        # so a partition of encoded tiles fits alongside shuffle buffers.
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "16g"),
        "spark.python.worker.reuse": "true",
        "spark.python.worker.faulthandler.enabled": "true",
        **(extra_conf or {}),
    }
    key = "spark.driver.extraJavaOptions"
    conf[key] = f"{_DRIVER_GC} {conf.get(key, '')}".rstrip()
    archive = DriverArchive.for_launch(conf)
    cds = archive.java_options() if archive else ""
    if not cds:
        return _session(app_name, master, conf)
    try:
        with archive.launch_env():
            opts = f"{conf.get(key, '')} {cds}".lstrip()
            spark = _session(app_name, master, {**conf, key: opts})
    except PySparkRuntimeError as e:
        if e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        archive.discard()
        return _session(app_name, master, conf)
    archive.launched(spark.sparkContext)
    return spark


def _session(app_name: str, master: str, conf: dict) -> SparkSession:
    b = SparkSession.builder.appName(app_name).master(master)
    return b.config(map=conf).getOrCreate()


# Driver JVM options that choose class-data sharing. A caller who sets
# any of them gets the launch exactly as before.
_CDS_OPTIONS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
_JAVA_OPTION_CONFS = ("spark.driver.extraJavaOptions", "spark.driver.defaultJavaOptions")
_JAVA_OPTION_ENV = (
    "SPARK_SUBMIT_OPTS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS",
)
# G1 grows the heap when GC pauses take more than 1/(1 + GCTimeRatio)
# of recent time (default 12, ~8%; on a heap under half its maximum the
# threshold shrinks in proportion, to ~2% on a 270 MB heap of 2 GB).
# The driver's pauses are long for a reason heap size does not fix: in
# local mode its GC threads share the cores with the Python workers,
# and a System.gc() pause counts as well. So after a full collection a
# young one could double or triple the heap (270 -> 810 MB, live set
# ~80 MB), and whether eden filled it before the next mark shrank it
# was up to timing: about one run in five peaked 300-450 MB higher
# (perfbench spatial_joins, 4 vCPUs). At 1 (50%) only a sustained GC
# share grows it; allocation that does not fit still grows it at once.
# The price is more collections on the smaller heap: 0.7-2.8 s more
# JVM CPU per perfbench pass (+4-14%, the more the busier the host),
# for a peak that no longer moves (interquartile range of 8-10 runs
# up to 216 MB -> 23-41 MB). It goes first, so a GCTimeRatio in the
# caller's spark.driver.extraJavaOptions comes later and wins.
_DRIVER_GC = "-XX:GCTimeRatio=1"
# Confs and environment that change the driver's class path or
# spark-submit command line: the archive would record a class path
# that the next launch may not have.
_CLASS_PATH_CONFS = ("spark.jars", "spark.jars.packages", "spark.driver.extraClassPath")
_CLASS_PATH_ENV = (
    "PYSPARK_SUBMIT_ARGS", "SPARK_CLASSPATH", "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
)
# Without these the JVM prints hundreds of [warning][cds] lines while
# dumping, and a warning whenever it cannot use an archive.
_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"


class DriverArchive:
    """The dynamic AppCDS archive for one driver JVM set-up (``key``).

    Files in ``dir``:

    - ``<key>.jsa`` and ``<key>.json`` (its size): the archive in use;
    - ``<key>.<token>.tmp`` and ``<key>.<token>.json`` (pid and class
      path of the JVM that writes it): a dump in progress or finished.
      On Unix the JVM writes the file when it exits, after the Python
      process that launched it may have gone, so a later launch
      promotes it, once that JVM is gone and a ``java -Xshare:on``
      probe on the exact class path accepts the file.
    """

    def __init__(self, cache_dir: str, java: str, key: str):
        self.dir = cache_dir
        self.java = java
        self.key = key
        self.path = self._file("jsa")
        self.conf_dir = os.path.join(cache_dir, "conf")
        self._dump: str | None = None  # token of the dump this launch writes

    @classmethod
    def for_launch(cls, conf: dict) -> DriverArchive | None:
        """The archive for the driver JVM that a session with ``conf``
        launches, or None when it launches none (a gateway exists) or
        the launch must stay as it is."""
        from pyspark import SparkContext, __version__
        from pyspark.find_spark_home import _find_spark_home

        from gdal_spark.native import _cache_dir

        if os.name != "posix" or SparkContext._gateway is not None:
            return None
        env = os.environ
        if "PYSPARK_GATEWAY_PORT" in env or any(env.get(k) for k in _CLASS_PATH_ENV):
            return None
        if any(conf.get(k) for k in _CLASS_PATH_CONFS):
            return None
        opts = [str(conf.get(k, "")) for k in _JAVA_OPTION_CONFS]
        opts += [env.get(k, "") for k in _JAVA_OPTION_ENV]
        if any(o in s for s in opts for o in _CDS_OPTIONS):
            return None
        # the java that bin/spark-class runs
        if env.get("JAVA_HOME"):
            java = os.path.join(env["JAVA_HOME"], "bin", "java")
        else:
            java = shutil.which("java")
        if not java:
            return None
        home = _find_spark_home()
        conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
        try:
            if any(not n.endswith(".template") for n in os.listdir(conf_dir)):
                return None
        except FileNotFoundError:
            pass
        except OSError:
            return None
        try:
            jdk = os.path.realpath(java)
            st = os.stat(jdk)
            jars = sorted(
                (e.name, e.stat().st_size) for e in os.scandir(os.path.join(home, "jars"))
            )
            key = json.dumps([jdk, st.st_size, st.st_mtime_ns, jars, __version__])
            archive = cls(
                os.path.join(_cache_dir(), "cds"),
                java,
                hashlib.sha256(key.encode()).hexdigest()[:16],
            )
            os.makedirs(archive.conf_dir, exist_ok=True)
            if os.listdir(archive.conf_dir):
                return None
        except OSError:
            return None
        return archive

    def java_options(self) -> str:
        """The driver JVM options of this launch: map the archive in
        use, else dump a new one unless another JVM is already doing
        so; "" launches as before."""
        try:
            dumping = self._settle_dumps()
            size = _read_json(self._file("json")).get("size")
            if os.path.isfile(self.path) and os.path.getsize(self.path) == size:
                return f"-XX:SharedArchiveFile={self.path} -XX:+VerifySharedSpaces {_QUIET}"
            # a truncated archive would crash the JVM (SIGBUS) even
            # with VerifySharedSpaces
            _remove(self.path)
        except OSError:
            return ""
        if dumping:
            return ""
        self._dump = uuid.uuid4().hex
        return f"-XX:ArchiveClassesAtExit={self._file('tmp', self._dump)} {_QUIET}"

    @contextlib.contextmanager
    def launch_env(self):
        """Point ``SPARK_CONF_DIR`` at the empty conf directory for the
        launch only."""
        prev = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            yield
        finally:
            if prev is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = prev

    def launched(self, sc) -> None:
        """Record the JVM that writes this launch's dump, if any."""
        if self._dump is None:
            return
        with contextlib.suppress(OSError):
            _write_json(
                self._file("json", self._dump),
                {
                    "pid": sc._gateway.proc.pid,
                    "class_path": sc._jvm.System.getProperty("java.class.path"),
                },
            )

    def discard(self) -> None:
        """Drop the file that a failed launch mapped or was to dump."""
        _remove(self.path if self._dump is None else self._file("tmp", self._dump))

    def _file(self, ext: str, token: str | None = None) -> str:
        return os.path.join(self.dir, ".".join(filter(None, (self.key, token, ext))))

    def _settle_dumps(self) -> bool:
        """Promote or delete every finished dump of this key; True while
        a JVM is still writing one."""
        dumping = False
        for name in os.listdir(self.dir):
            parts = name.split(".")
            if len(parts) != 3 or parts[0] != self.key:
                continue
            _, token, ext = parts
            rec_path = self._file("json", token)
            if ext == "tmp" and not os.path.exists(rec_path):
                _remove(os.path.join(self.dir, name))  # its launcher died before recording it
            if ext != "json":
                continue
            rec = _read_json(rec_path)
            pid, class_path = rec.get("pid"), rec.get("class_path")
            if isinstance(pid, int) and _alive(pid, token):
                dumping = True
                continue
            tmp = self._file("tmp", token)
            if (
                isinstance(class_path, str)
                and os.path.isfile(tmp)
                and self._probe(tmp, class_path)
            ):
                self._promote(tmp)
            _remove(tmp)
            _remove(rec_path)
        return dumping

    def _probe(self, archive: str, class_path: str) -> bool:
        """Whether a JVM maps ``archive`` cleanly. A truncated file
        crashes it, a flipped bit fails the checksum, another class path
        fails the path check; each exits non-zero."""
        err = os.path.join(self.dir, "probe_hs_err.log")
        try:
            return subprocess.run(
                [
                    self.java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
                    "-XX:+VerifySharedSpaces", "-XX:-UsePerfData",
                    "-XX:-CreateCoredumpOnCrash", f"-XX:ErrorFile={err}",
                    "-cp", class_path, "-version",
                ],
                capture_output=True, timeout=120,
            ).returncode == 0
        except (OSError, subprocess.TimeoutExpired):
            return False
        finally:
            _remove(err)

    def _promote(self, tmp: str) -> None:
        """Put a probed dump in place and delete the files of other keys."""
        try:
            _write_json(self._file("json"), {"size": os.path.getsize(tmp)})
            os.replace(tmp, self.path)
        except OSError:
            return
        for name in os.listdir(self.dir):
            if name.split(".")[0] not in (self.key, "conf"):
                _remove(os.path.join(self.dir, name))


def _alive(pid: int, token: str) -> bool:
    """Whether process ``pid`` is still the JVM writing dump ``token``
    (not gone, not a zombie, not a reused pid)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return token.encode() in f.read()
    except OSError:
        return True  # no /proc: trust the pid


def _read_json(path: str) -> dict:
    try:
        with open(path) as f:
            d = json.load(f)
    except (OSError, ValueError):
        return {}
    return d if isinstance(d, dict) else {}


def _write_json(path: str, obj: dict) -> None:
    part = f"{path}.{os.getpid()}.part"
    with open(part, "w") as f:
        json.dump(obj, f)
    os.replace(part, path)


def _remove(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)
