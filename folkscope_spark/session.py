"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench, and spark-submit all
agree.  Defaults target the sandbox (local[N], 32 cores); on a real cluster
the same settings hold except master/shuffle-partitions, which scale with
executor count.

Local masters also start the Python workers from
``folkscope_spark.worker_daemon`` (pyspark's daemon minus a per-task re-read
of every zip archive on ``sys.path``), with the package's import root on the
executors' ``PYTHONPATH`` so the daemon can import it before any task runs.
The session prewarm raises: a worker setup that cannot run a ``mapInPandas``
fails ``get_spark``, not the first kernel stage.

Local masters also start the driver JVM with a class archive (JDK AppCDS): a
dump of every class the JVM loaded, mapped in by the next JVM instead of
loading and verifying those classes again.  perfbench's ``setup_s`` (this
function with a 3g heap, on a 4-core host) fell from a median of 14.7 s to
8.8 s; the one process that builds the archive starts about 3 s slower and
takes about 14 s longer to exit.

- *What and where.* The archive is built on this machine by the program
  itself: when none exists, the JVM runs with
  ``-XX:ArchiveClassesAtExit=<temp name>`` and writes every class it loaded
  as it exits (the prewarm and whatever ran after it, a whole pipeline run
  included).  An ``atexit`` hook waits for that JVM and publishes the file
  with ``os.replace`` only if it exited cleanly, so concurrent first runs
  cannot corrupt it.  It lives in ``${XDG_CACHE_HOME:-~/.cache}/
  folkscope_spark/cds/`` as ``<key>.jsa``; per-process temp files are named
  ``tmp-<pid>-*`` and are never taken for it.  Later JVMs start with
  ``-XX:SharedArchiveFile=<key>.jsa`` and ``-XX:+VerifySharedSpaces``, so a
  corrupt region is refused rather than mapped; a truncated file is refused
  before launch, because the JVM would die of SIGBUS mapping it.
- *Key.* ``java -version`` of the JVM spark-submit runs, plus the names,
  sizes and mtimes of ``$SPARK_HOME/jars`` and the conf directory on the
  launch classpath: the JVM refuses an archive built for another JDK or jar
  set, so either change picks a new file.
- *State.* ``CDS_STATE`` records one state per process, also printed on one
  stderr line: ``used`` (the JVM's own CDS log says the archive mapped),
  ``built`` (this process writes it at exit), ``rejected`` (stale or
  corrupt: the file is deleted and the next process rebuilds it) or
  ``off:<reason>``.  Any JVM CDS output goes to a per-process log file,
  never to stdout, whose last line callers parse.
- *Conf-dir rule.* The JVM cannot dump with a non-empty directory on its
  classpath, and Spark puts ``$SPARK_CONF_DIR`` (default
  ``$SPARK_HOME/conf``) there.  When that directory holds nothing Spark
  reads (``*.template`` files only), the JVM is launched with
  ``SPARK_CONF_DIR`` pointing at an empty directory in the cache, on the
  building and the using side alike.  If it holds real files, the archive
  is off.  A caller's own ``spark.driver.extraJavaOptions`` in ``extra``
  wins and turns it off too.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import struct
import subprocess
import sys

from pyspark.sql import SparkSession

# The directory (or --py-files zip) that holds the folkscope_spark package.
IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One-time per-process executor warmup (see _prewarm).  Module-level so the
# cost is paid once per Python process, not once per session: bench harnesses
# cycle many sessions inside one process and the JVM/codegen/Python-daemon
# state they warm is process-lived.
_PROCESS_PREWARMED = False


def _prewarm(spark: SparkSession) -> None:
    """Pay one-time process costs outside any timed region: janino codegen
    compilation (first aggregate/exchange of a JVM is ~3-4s), and the Python
    worker daemon spawn (first mapInPandas is ~2s).  A long-lived cluster
    amortizes both over days; a fresh local JVM otherwise charges them to
    whichever query happens to run first.  No data is read and nothing is
    cached — this is init, not precomputation."""
    global _PROCESS_PREWARMED
    if _PROCESS_PREWARMED:
        return
    from pyspark.sql import functions as F

    # no blanket except: a worker daemon or Python worker that cannot start
    # must fail here, at session start, not at the first kernel stage
    spark.range(64).groupBy((F.col("id") % 8).alias("k")).count().collect()
    spark.range(64).join(F.broadcast(spark.range(8)), "id").count()

    def _ident(batches):
        yield from batches

    spark.range(
        64, numPartitions=spark.sparkContext.defaultParallelism
    ).mapInPandas(_ident, "id long").count()

    # parquet reader/writer class-loading + codegen (~1s in a fresh
    # JVM, otherwise charged to the first real scan); 16 rows in /tmp,
    # removed afterwards — init, not data
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="spark_prewarm_")
    try:
        spark.range(16).write.mode("overwrite").parquet(d + "/t")
        spark.read.parquet(d + "/t").count()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    _PROCESS_PREWARMED = True


# The class archive state of this process's driver JVM (module docstring):
# "used", "built", "rejected" or "off:<reason>"; None until get_spark has
# started or found the JVM.
CDS_STATE: str | None = None

# JDK 17's dynamic archive header: magic, crc and version, then one 72-byte
# record per region (rw, ro and bitmap first) holding the region's file
# offset at byte 24 and its used size at byte 40.
_DYNAMIC_ARCHIVE = (0xF00BABA8, 11)
_REGIONS_AT, _REGION_SIZE, _N_REGIONS = 16, 72, 3


def cds_dir() -> str:
    """The per-user directory that holds the class archive."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "folkscope_spark", "cds")


def java_version() -> str:
    """``java -version`` of the JVM spark-submit runs ($JAVA_HOME's, else
    the one on PATH), without the "Picked up ..." lines that option
    variables add: a per-run ``JAVA_TOOL_OPTIONS`` would change the key."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else "java"
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")
    }
    out = subprocess.run(
        [java, "-version"], env=env, capture_output=True, text=True,
        timeout=60, check=True,
    )
    return out.stderr.strip()


def cds_key(java_version: str, spark_home: str, conf_dir: str) -> str:
    """The archive's key: the java version string plus the launch classpath,
    that is the names, sizes and mtimes of ``$SPARK_HOME/jars`` and the conf
    directory."""
    h = hashlib.sha256(java_version.encode())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    h.update(f"\0{conf_dir}".encode())
    return h.hexdigest()[:32]


def _truncated(path: str) -> bool:
    """True when a JDK 17 dynamic archive is shorter than the regions its
    header lists.  The JVM maps such a file and dies of SIGBUS at the first
    page past its end instead of rejecting it.  It refuses every other
    defect itself (``VerifySharedSpaces`` checksums the regions), so a header
    of another layout is left to it."""
    with open(path, "rb") as f:
        head = f.read(_REGIONS_AT + _N_REGIONS * _REGION_SIZE)
        size = os.fstat(f.fileno()).st_size
    if len(head) < _REGIONS_AT + _N_REGIONS * _REGION_SIZE:
        return True
    magic, _, version = struct.unpack_from("<IiI", head)
    if (magic, version) != _DYNAMIC_ARCHIVE:
        return False
    return size < max(
        sum(struct.unpack_from("<Q8xQ", head, _REGIONS_AT + i * _REGION_SIZE + 24))
        for i in range(_N_REGIONS)
    )


def _remove_orphans(directory: str) -> None:
    """Delete the temp archives and logs of processes that died before
    publishing (``tmp-<pid>-*`` whose pid is gone)."""
    for name in os.listdir(directory):
        pid = name.split("-")[1] if name.startswith("tmp-") else ""
        if not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(directory, name))
        except PermissionError:
            pass  # alive, another user's


class _ClassArchive:
    """The class archive of the driver JVM this process is about to start:
    the options and conf dir it starts with, the check once it has started
    and the publish once it has exited."""

    def __init__(self, directory: str, key: str):
        self.conf_dir = os.path.join(directory, "conf")
        self.path = os.path.join(directory, key + ".jsa")
        own = os.path.join(directory, f"tmp-{os.getpid()}-")
        self.tmp, self.log = own + key + ".jsa", own + "cds.log"
        try:
            self.ino = os.stat(self.path).st_ino
        except FileNotFoundError:
            self.ino = None

    def java_options(self) -> str:
        # every CDS message goes to this process's log, none to stdout
        opts = ["-Xlog:cds*=off", f"-Xlog:cds*=warning,cds=info:file={self.log}"]
        if self.ino is None:
            opts.append(f"-XX:ArchiveClassesAtExit={self.tmp}")
        else:
            # checksums every region (~0.1 s): a corrupt file is refused, not
            # mapped
            opts += ["-XX:+VerifySharedSpaces", f"-XX:SharedArchiveFile={self.path}"]
        return " ".join(opts)

    @contextlib.contextmanager
    def launch_env(self):
        """``SPARK_CONF_DIR`` at the empty cache-owned directory while the
        JVM launches."""
        old = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            yield
        finally:
            if old is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = old

    def reject(self) -> None:
        """Delete the archive, unless another process has replaced it."""
        with contextlib.suppress(FileNotFoundError):
            if os.stat(self.path).st_ino == self.ino:
                os.remove(self.path)

    def started(self, proc) -> str:
        """The state once the JVM is up; a building JVM is published at exit."""
        if self.ino is None:
            atexit.register(self._publish, proc)
            return "built"
        with open(self.log, errors="replace") as f:
            log = f.read()
        os.remove(self.log)
        # a region that fails a later check (class paths, checksums) is
        # logged as mapped, then unmapped at the same base
        m = re.search(r"Mapped dynamic region #0 at base (\w+)", log)
        if m and f"Unmapping region #0 at base {m[1]}" not in log:
            return "used"
        self.reject()
        return "rejected"

    def _publish(self, proc) -> None:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            # stops the accumulator server before the JVM goes away
            SparkContext._active_spark_context.stop()
        proc.stdin.close()  # the gateway JVM exits on EOF, writing the archive
        try:
            code = proc.wait(timeout=300)
        except subprocess.TimeoutExpired:
            code = None
        if code == 0 and os.path.isfile(self.tmp):
            os.replace(self.tmp, self.path)
        else:
            print(
                f"folkscope_spark: class archive not published (JVM exit {code})",
                file=sys.stderr,
            )
            with contextlib.suppress(FileNotFoundError):
                os.remove(self.tmp)
        with contextlib.suppress(FileNotFoundError):
            os.remove(self.log)


def _plan_cds(extra: dict[str, str]) -> _ClassArchive | str:
    """The class archive for a local driver JVM about to start, or the state
    it starts in without one (``off:<reason>``, or ``rejected`` for a
    truncated archive, which is deleted)."""
    if "spark.driver.extraJavaOptions" in extra:
        return "off:spark.driver.extraJavaOptions given by the caller"
    from pyspark.find_spark_home import _find_spark_home

    home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    if os.path.isdir(conf) and any(
        not n.endswith(".template") for n in os.listdir(conf)
    ):
        return f"off:{conf} holds Spark configuration"
    directory = cds_dir()
    if any(c in directory for c in " \t\n\"',:"):
        # -Xlog and Spark's option string split on these
        return f"off:cache path {directory!r} cannot be passed to the JVM"
    try:
        os.makedirs(os.path.join(directory, "conf"), exist_ok=True)
        _remove_orphans(directory)
        cds = _ClassArchive(
            directory, cds_key(java_version(), home, os.path.join(directory, "conf"))
        )
        if cds.ino is not None and _truncated(cds.path):
            cds.reject()
            return "rejected"
    except (OSError, subprocess.SubprocessError) as e:
        return f"off:{e}"
    return cds


def get_spark(
    app: str = "folkscope-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # ~2x cores locally; on a cluster this should be ~2-3x total cores,
        # with AQE coalescing the tail
        shuffle_partitions = 2 * cpus
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalesce floor is 1MB per partition: a dimension-sized
        # shuffle output (e.g. the distinct pair list, ~3MB at 100k pages)
        # collapses to 2-3 partitions and then SERIALIZES every downstream
        # narrow op built on it — here the 21x template explosion + the
        # generation kernel, and the deduped parse table feeding the parse
        # kernel (measured: the generation chain's noop sink went 82s -> 10s
        # once spread).  A 128k floor keeps small-but-expanding shuffles at
        # the session's parallelism while leaving large shuffles to the
        # advisory size.  Holds on a real cluster for the same reason:
        # coalescing is byte-based and blind to downstream per-row cost
        # (guide §2.6 idle capacity).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        # broadcast hot dictionaries aggressively (items, patterns, probase topK)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan-split size, env-parameterised (SPARK_GRAFT_MAX_PARTITION_BYTES).
        # Local default 16m: the driver testdata ships one ~20MB row group per
        # file-ish (lineitem sf1.0 = 6 x 21MB row groups in one 126MB file),
        # so the former 128m default read whole tables in ONE task on a
        # 32-core host.  16m splits align with the row groups and parallelise
        # the scan; on a real cluster with multi-file tables set 128m-1g
        # (guide §6: large sequential scans want fewer, larger splits).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get(
                "SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)
            ),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    local = master == "local" or master.startswith("local[")
    if local:
        # Start Python workers from our daemon: it stops pyspark's per-task
        # importlib.invalidate_caches() from re-reading pyspark.zip's whole
        # central directory (~0.1 CPU-s per task on CPython < 3.13; see
        # worker_daemon).  The daemon imports this package before any task
        # has added --py-files to sys.path, so the executors' PYTHONPATH
        # carries the package's import root: the directory, or the
        # --py-files zip, that holds folkscope_spark.  Local masters only:
        # on a cluster the driver's path is not valid on the executors, so
        # they keep Spark's default daemon.
        b = b.config(
            "spark.python.daemon.module", "folkscope_spark.worker_daemon"
        ).config("spark.executorEnv.PYTHONPATH", IMPORT_ROOT)
    global CDS_STATE
    from pyspark import SparkContext

    launching = (
        SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    )
    cds = None
    if not launching:
        # the JVM is already running: its archive state was decided when
        # (and if) get_spark started it
        CDS_STATE = CDS_STATE or "off:driver JVM started outside get_spark"
    elif not local:
        CDS_STATE = f"off:master {master} is not local"
    else:
        cds = _plan_cds(extra or {})
        if isinstance(cds, str):
            CDS_STATE, cds = cds, None
        else:
            b = b.config("spark.driver.extraJavaOptions", cds.java_options())
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    with cds.launch_env() if cds else contextlib.nullcontext():
        spark = b.getOrCreate()
    if cds:
        CDS_STATE = cds.started(SparkContext._gateway.proc)
    if launching:
        where = f" {cds.path}" if cds else ""
        print(f"folkscope_spark: class archive {CDS_STATE}{where}", file=sys.stderr)
    _prewarm(spark)
    return spark
