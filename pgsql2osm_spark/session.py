"""SparkSession factory with the engine's scale-oriented defaults.

Local mode stands in for the target multi-executor cluster: every conf here is
one we would also set on a 1000-executor deployment (AQE on, skew-join on,
Arrow batches bounded so image-decode stages can't blow executor memory —
SURVEY.md X1/X9/X10).

The session that launches the driver JVM starts it from a dynamic class-data
archive of Spark's classes (AppCDS, JEP 350) kept in ``<repo root>/.cds/``:
the JVM maps ~10k classes instead of loading and verifying them from the jars,
which halves session start. When no archive exists for this JDK and Spark
jar set, the launching session records one at JVM exit instead.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import time
import zipfile

import pandas as pd
import pyarrow as pa
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

_LOG = logging.getLogger(__name__)

CDS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cds")
# JVM unified logging (CDS warnings among it) goes to stderr: the CLI's stdout
# is JSON lines.
_JVM_LOG_TO_STDERR = "-Xlog:disable -Xlog:all=warning:stderr"
# make_pyfiles_zip deletes the zips of other package states, and partial
# writes, that no process has used for this long (and, for a zip, that no
# process holds locked).
_STALE_ZIP_S = 24 * 3600
# path -> descriptor of each pyfiles zip this process holds a shared flock on
_HELD_ZIPS: dict[str, int] = {}


def make_pyfiles_zip() -> str:
    """Zip this package for spark-submit --py-files / addPyFile shipment —
    the deployment unit the north rule's multi-executor run uses. Returns
    ``<tempdir>/pgsql2osm_spark_pyfiles-<hash>.zip``, named by a hash of the
    package's .py files, so a session from another checkout or after an edit
    never rewrites the zip a running session ships (its tasks would fail
    with "exists and does not match contents"). The same files give the same
    bytes, and an existing zip of that name is left as it is but for its
    access time. The calling process holds a shared ``flock`` on the zip it
    gets until it exits, so a session, or a spark-submit driver whose
    get_spark returns its --py-files archive, keeps its zip. Writing a new
    zip deletes the other ``pgsql2osm_spark_pyfiles-*`` zips that no
    process holds and that were unused for ``_STALE_ZIP_S``, and partial
    writes as old.

    When the package was itself imported FROM a zip, returns that archive:
    os.walk can't see into zipimport paths."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    if not os.path.isdir(pkg_dir):  # zipimported — root is the archive
        _hold_zip(root)
        return root
    entries = []
    for path in sorted(glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True)):
        with open(path, "rb") as f:
            entries.append((os.path.relpath(path, root), f.read()))
    digest = hashlib.sha256(repr(entries).encode()).hexdigest()[:16]
    dest = os.path.join(tempfile.gettempdir(), f"pgsql2osm_spark_pyfiles-{digest}.zip")
    if _hold_zip(dest):
        with contextlib.suppress(OSError):
            os.utime(dest, ns=(time.time_ns(), os.stat(dest).st_mtime_ns))
        return dest
    tmp = f"{dest}.{os.getpid()}.tmp"  # concurrent starts each write their own
    with zipfile.ZipFile(tmp, "w") as zf:
        for rel, data in entries:
            # a fixed timestamp: the same files always give the same bytes
            info = zipfile.ZipInfo(rel, date_time=(1980, 1, 1, 0, 0, 0))
            info.external_attr = 0o644 << 16
            zf.writestr(info, data, zipfile.ZIP_DEFLATED)
    os.replace(tmp, dest)  # atomic — readers never see a partial zip
    _hold_zip(dest)  # new, so no cleanup deletes it meanwhile
    _drop_stale_zips(dest)
    return dest


def _hold_zip(path: str) -> bool:
    """Take a shared flock on the zip at ``path`` for the rest of this
    process; False when there is no such file. A cleanup deletes a zip only
    under an exclusive lock, so a zip that this check finds still linked
    stays until this process exits."""
    if path in _HELD_ZIPS:
        return True
    try:
        fd = os.open(path, os.O_RDONLY)
    except FileNotFoundError:
        return False
    fcntl.flock(fd, fcntl.LOCK_SH)
    try:
        linked = os.stat(path).st_ino == os.fstat(fd).st_ino
    except FileNotFoundError:
        linked = False
    if not linked:
        os.close(fd)
        return False
    _HELD_ZIPS[path] = fd
    return True


def _drop_stale_zips(keep: str) -> None:
    """Delete the pyfiles zips beside ``keep`` that no process holds
    (make_pyfiles_zip) and whose last access and write are older than
    ``_STALE_ZIP_S``, and partial writes as old."""
    cutoff = time.time() - _STALE_ZIP_S
    pattern = os.path.join(glob.escape(os.path.dirname(keep)), "pgsql2osm_spark_pyfiles-*")
    for path in glob.glob(pattern):
        if path == keep or not path.endswith((".zip", ".tmp")):
            continue
        with contextlib.suppress(OSError):  # another session start got there first
            st = os.stat(path)
            if max(st.st_atime, st.st_mtime) >= cutoff:
                continue
            if path.endswith(".tmp"):
                os.remove(path)
                continue
            fd = os.open(path, os.O_RDONLY)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)  # BlockingIOError: held
                os.remove(path)
            finally:
                os.close(fd)


def get_spark(
    app: str = "pgsql2osm_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    cores = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
    n_shuffle = shuffle_partitions or (64 if cores == "*" else max(int(cores) * 2, 8))
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting — the Spark
        # heir of the reference's adaptive chunk sizing (pgsql2osm.py:26-136).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # Arrow everywhere; bound decode-stage batch memory (SURVEY.md X9).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Pin UTC so DuckDB oracle comparisons are TZ-stable.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    # (under spark-submit, PYSPARK_GATEWAY_PORT names a JVM that is already up)
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        spark = _launch(b, CDS_DIR, (extra_conf or {}).get("spark.driver.memory", driver_mem))
    else:
        spark = b.getOrCreate()
    # Ship the package to python workers regardless of the driver's cwd —
    # the local-mode equivalent of spark-submit --py-files (north rule).
    # Re-adding the same zip in a reused session does not raise.
    spark.sparkContext.addPyFile(make_pyfiles_zip())
    return spark


def local_frame(
    spark: SparkSession, data: list[tuple] | pd.DataFrame, schema: str | StructType | None = None
) -> DataFrame:
    """The one way driver-side rows enter Spark. ``data`` is a list of row
    tuples in ``schema``'s column order (a DDL string or a StructType), or a
    pandas frame (``schema`` optional). Either reaches the JVM as Arrow
    batches and plans as a ``LocalRelation``. ``createDataFrame`` on a plain
    list would pickle it into a ``PythonRDD`` instead, so every scan of the
    frame would run Python-worker tasks: a 2-row frame counts in 0.36 s that
    way on local[4], against 0.13 s. Rows go through one ``pyarrow.Table``,
    which sends the fewest py4j commands (24 for a 2-row frame, against 28
    through a pandas frame and 36 as a pickled list)."""
    if isinstance(data, pd.DataFrame):
        return spark.createDataFrame(data, schema)
    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*data, strict=True)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow, strict=True)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def _launch(builder, cds_dir: str, driver_mem: str) -> SparkSession:
    """``builder.getOrCreate()`` for the session that launches the driver JVM,
    with the class-data archive in ``cds_dir`` mapped, or recorded at exit
    when there is none. ``spark.driver.defaultJavaOptions`` carries the JVM
    options: Spark prepends it to ``extraJavaOptions``, which callers set."""
    cds = _ClassData(cds_dir, driver_mem)
    opts, conf_dir = cds.java_options()
    builder = builder.config(
        "spark.driver.defaultJavaOptions", " ".join([_JVM_LOG_TO_STDERR, *opts])
    )
    if conf_dir is None:
        return builder.getOrCreate()
    # the archive is tied to the classpath, which holds the conf dir: use an
    # empty one (a non-empty directory on the classpath fails the dump)
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        del os.environ["SPARK_CONF_DIR"]
    if cds.recording:
        cds.launched(spark)
    return spark


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, another user's
        pass
    return True


class _ClassData:
    """One JVM start's view of the class-data archives in ``cds_dir``.

    Files, per key (a hash of the JDK and of Spark's jars, so a JDK or Spark
    change records a new archive rather than falling back forever):

    - ``<key>.jsa``: the archive. It only ever appears by ``os.replace`` of
      a recording that was checked to map, because a JVM that maps a
      truncated archive dies of SIGBUS.
    - ``<key>.jsa.tmp``: the recording. The JVM writes it at exit, after
      the Python process may have gone (the JVM exits on stdin EOF), so it
      is checked and promoted by a later start.
    - ``<key>.pid``: the recording JVM's pid. It is created with
      ``O_CREAT|O_EXCL``, so only one JVM records; other starts meanwhile
      run without the archive. A pid that is dead is taken over.
    - ``<key>.classpath``: the recording JVM's ``java.class.path``, which
      the map check needs.

    Promoting an archive deletes the archives of other keys.

    Starts that find no archive serialize on a ``flock`` of ``cds_dir``.
    Each start that runs without mapping the archive logs why, once."""

    def __init__(self, cds_dir: str, driver_mem: str):
        self.dir = cds_dir
        self.driver_mem = driver_mem
        self.recording = False
        java_home = os.environ.get("JAVA_HOME")
        if java_home:
            self.java = os.path.join(java_home, "bin", "java")
        else:  # as spark-class finds it
            self.java = shutil.which("java") or "java"
            java_home = os.path.dirname(os.path.dirname(os.path.realpath(self.java)))
        self.spark_home = _find_spark_home()
        key = self._key(java_home)
        self.jsa = os.path.join(cds_dir, key + ".jsa")
        self.tmp = self.jsa + ".tmp"
        self.pid_file = os.path.join(cds_dir, key + ".pid")
        self.classpath_file = os.path.join(cds_dir, key + ".classpath")

    def _key(self, java_home: str) -> str:
        h = hashlib.sha256(os.path.realpath(java_home).encode())
        with contextlib.suppress(OSError), open(os.path.join(java_home, "release"), "rb") as f:
            h.update(f.read())
        jars = os.path.join(self.spark_home, "jars")
        h.update(os.path.realpath(jars).encode())
        with os.scandir(jars) as it:
            for e in sorted(it, key=lambda e: e.name):
                st = e.stat()
                h.update(f"\0{e.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
        return h.hexdigest()[:16]

    def _conf_dir_problem(self) -> str | None:
        if "SPARK_CONF_DIR" in os.environ:
            return f"SPARK_CONF_DIR is set ({os.environ['SPARK_CONF_DIR']})"
        conf = os.path.join(self.spark_home, "conf")
        other = [f for f in sorted(os.listdir(conf)) if not f.endswith(".template")] \
            if os.path.isdir(conf) else []
        return f"{conf} holds {', '.join(other)}" if other else None

    def java_options(self) -> tuple[list[str], str | None]:
        """(JVM options, conf dir to launch with). No conf dir means this
        start runs without class data."""
        problem = self._conf_dir_problem()
        if problem:
            _LOG.warning("starting without class-data archive: %s (the archive needs an empty "
                         "Spark conf dir on the classpath)", problem)
            return [], None
        conf_dir = os.path.join(self.dir, "conf")
        if os.path.exists(self.jsa):
            return [f"-XX:SharedArchiveFile={self.jsa}"], conf_dir
        os.makedirs(conf_dir, exist_ok=True)
        with self._locked():
            return self._promote_or_claim(), conf_dir

    @contextlib.contextmanager
    def _locked(self):
        fd = os.open(self.dir, os.O_RDONLY)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            os.close(fd)

    def _promote_or_claim(self) -> list[str]:
        if os.path.exists(self.jsa):  # promoted while this start waited
            return [f"-XX:SharedArchiveFile={self.jsa}"]
        try:
            with open(self.pid_file) as f:
                pid = int(f.read() or 0)
        except FileNotFoundError:
            pid = 0
        if pid and _pid_alive(pid):
            _LOG.info("starting without class-data archive: pid %d is recording %s",
                      pid, self.tmp)
            return []
        why = "none yet for this JDK and Spark"
        if os.path.exists(self.tmp):
            if self._maps(self.tmp):
                os.replace(self.tmp, self.jsa)
                self._remove(self.pid_file)
                for f in glob.glob(os.path.join(self.dir, "*.jsa")) + \
                        glob.glob(os.path.join(self.dir, "*.classpath")):
                    if f not in (self.jsa, self.classpath_file):
                        self._remove(f)
                return [f"-XX:SharedArchiveFile={self.jsa}"]
            self._remove(self.tmp)
            why = f"the recording {self.tmp} does not map and was deleted"
        else:
            stale = [f for f in glob.glob(os.path.join(self.dir, "*.jsa")) if f != self.jsa]
            if stale:
                why = f"{', '.join(stale)} was built for another JDK or Spark"
        self._remove(self.pid_file)
        fd = os.open(self.pid_file, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        self.recording = True
        _LOG.info("starting without class-data archive (%s); this JVM records %s at exit",
                  why, self.tmp)
        return [f"-XX:ArchiveClassesAtExit={self.tmp}"]

    def _maps(self, archive: str) -> bool:
        """Whether a JVM started like the recording one maps ``archive``:
        ``-Xshare:on`` fails instead of falling back, and
        ``VerifySharedSpaces`` checksums every region, so a partial file
        fails here rather than in the driver. A JVM that dies of a partial
        file writes no crash report or core."""
        try:
            with open(self.classpath_file) as f:
                classpath = f.read()
        except FileNotFoundError:
            return False
        cmd = [self.java, "-Xshare:on", "-XX:+VerifySharedSpaces",
               f"-XX:SharedArchiveFile={archive}", f"-Xmx{self.driver_mem}",
               f"-XX:ErrorFile={os.devnull}", "-XX:-CreateCoredumpOnCrash",
               "-cp", classpath, "-version"]
        try:
            return subprocess.run(cmd, capture_output=True, timeout=120).returncode == 0
        except subprocess.TimeoutExpired:
            return False

    def launched(self, spark: SparkSession) -> None:
        """Record what the map check needs from the recording JVM, and hand
        the pid lock from this process to the JVM, which outlives it."""
        jvm = spark.sparkContext._jvm
        with open(self.classpath_file, "w") as f:
            f.write(jvm.System.getProperty("java.class.path"))
        tmp = f"{self.pid_file}.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(str(SparkContext._gateway.proc.pid))
        os.replace(tmp, self.pid_file)

    @staticmethod
    def _remove(path: str) -> None:
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)
