"""The driver JVM's class-data archive (session._ClassData): recorded by the
first start, checked and promoted by a later one, mapped after that; every
start that cannot map it logs why once and still starts.

Each start is a subprocess with its own JVM and a cache dir under tmp_path."""

import json
import os
import re
import shutil
import subprocess
import sys
import textwrap

import pytest

from pgsql2osm_spark import session as S

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "1g"

# argv: cds_dir, then "wait" (stop the JVM and wait for it, so a recording
# is complete) or "kill" (kill the JVM: no recording is written). Prints one
# JSON line, then waits for a line on stdin before it stops.
START = textwrap.dedent("""
    import json, logging, subprocess, sys
    records = []
    class Keep(logging.Handler):
        def emit(self, r):
            records.append([r.levelname, r.getMessage()])
    log = logging.getLogger("pgsql2osm_spark.session")
    log.addHandler(Keep())
    log.setLevel(logging.DEBUG)
    from pyspark import SparkContext
    import pgsql2osm_spark.session as S
    S.CDS_DIR = sys.argv[1]
    spark = S.get_spark(app="cds_test", master="local[1]")
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    proc = SparkContext._gateway.proc
    info = subprocess.run(["jcmd", str(proc.pid), "VM.info"], capture_output=True, text=True).stdout
    print(json.dumps({"records": records, "args": args, "vm_info": info,
                      "rows": spark.range(10).count()}))
    sys.stdout.flush()
    sys.stdin.readline()
    if sys.argv[2] == "kill":
        proc.kill()
    else:
        spark.stop()
        SparkContext._gateway.shutdown()
        proc.stdin.close()  # the JVM exits (and writes a recording) on stdin EOF
    proc.wait()
""")


def _env(tmp):
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM, TMPDIR=str(tmp))
    env["PATH"] = os.path.join(env.get("JAVA_HOME", "/usr"), "bin") + os.pathsep + env["PATH"]
    env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
    env.pop("SPARK_CONF_DIR", None)
    return env


def _spawn(cds_dir, mode, tmp, env=None):
    tmp.mkdir(parents=True, exist_ok=True)
    return subprocess.Popen(
        [sys.executable, "-c", START, str(cds_dir), mode],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        env=env or _env(tmp), cwd=tmp,
    )


def _started(p):
    """The start's JSON line; the JVM is still up."""
    line = p.stdout.readline()
    if not line:
        p.kill()
        raise AssertionError(p.communicate(timeout=60)[1][-3000:])
    r = json.loads(line)
    assert r["rows"] == 10  # the session started and ran a job
    return r


def _stop(p):
    out, err = p.communicate("\n", timeout=300)
    assert p.returncode == 0, err[-3000:]
    assert out == ""  # nothing else reached stdout, the JVM's output included


def _start(cds_dir, mode, tmp, env=None):
    p = _spawn(cds_dir, mode, tmp, env)
    r = _started(p)
    _stop(p)
    return r


def _opts(r, flag):
    return [a for a in r["args"] if a.startswith(f"-XX:{flag}=")]


def _files(cds_dir):
    return S._ClassData(str(cds_dir), DRIVER_MEM)


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """A cache dir after one start with no archive: that start's JVM recorded
    ``<key>.jsa.tmp`` at exit. Returns (cds dir, that start's result)."""
    base = tmp_path_factory.mktemp("cds_recorded")
    cds = base / "cds"
    cds.mkdir()
    r = _start(cds, "wait", base / "tmp")
    return cds, r


def test_first_start_records_then_next_start_maps(recorded, tmp_path):
    cds, first = recorded
    f = _files(cds)
    assert _opts(first, "ArchiveClassesAtExit") == [f"-XX:ArchiveClassesAtExit={f.tmp}"]
    assert not _opts(first, "SharedArchiveFile")
    assert len(first["records"]) == 1 and "records" in first["records"][0][1]
    assert os.path.getsize(f.tmp) > 0 and not os.path.exists(f.jsa)

    second = _start(cds, "kill", tmp_path)
    assert os.path.exists(f.jsa) and not os.path.exists(f.tmp)  # promoted
    assert not os.path.exists(f.pid_file)
    assert _opts(second, "SharedArchiveFile") == [f"-XX:SharedArchiveFile={f.jsa}"]
    assert not _opts(second, "ArchiveClassesAtExit")
    assert second["records"] == []
    # the JVM mapped the archive: the mapped CDS size is far above the JDK's
    # own base archive (~13 MB)
    mapped = re.search(r"CDS archive\(s\) mapped at: .*size (\d+)", second["vm_info"])
    assert mapped and int(mapped.group(1)) > os.path.getsize(f.jsa) // 2


def test_truncated_recording_is_not_promoted(recorded, tmp_path):
    src_cds, _ = recorded
    src = _files(src_cds)
    good = src.jsa if os.path.exists(src.jsa) else src.tmp
    cds = tmp_path / "cds"
    cds.mkdir()
    f = _files(cds)
    with open(good, "rb") as g, open(f.tmp, "wb") as t:
        t.write(g.read(100 * 1024))  # a JVM that maps this dies of SIGBUS
    shutil.copy(src.classpath_file, f.classpath_file)

    r = _start(cds, "kill", tmp_path / "tmp")
    assert not os.path.exists(f.jsa)
    assert not _opts(r, "SharedArchiveFile")
    assert len(r["records"]) == 1 and "does not map" in r["records"][0][1]
    # this start recorded instead; its JVM was killed before writing
    assert _opts(r, "ArchiveClassesAtExit") == [f"-XX:ArchiveClassesAtExit={f.tmp}"]
    assert not os.path.exists(f.tmp)
    assert not list((tmp_path / "tmp").glob("hs_err*"))  # the check's crash left no report


def test_key_mismatch_logs_once_and_starts_without_archive(tmp_path):
    cds = tmp_path / "cds"
    cds.mkdir()
    (cds / "0123456789abcdef.jsa").write_bytes(b"another JDK's archive")
    r = _start(cds, "kill", tmp_path / "tmp")
    assert not _opts(r, "SharedArchiveFile")
    assert len(r["records"]) == 1
    assert "0123456789abcdef.jsa was built for another JDK or Spark" in r["records"][0][1]


def test_non_template_conf_file_logs_once_and_starts_without_archive(tmp_path):
    # a Spark home whose conf dir holds a real file; bin and jars are Spark's
    spark_home = os.path.realpath(S._find_spark_home())
    home = tmp_path / "spark"
    home.mkdir()
    for d in ("bin", "jars"):
        (home / d).symlink_to(os.path.join(spark_home, d))
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf").write_text("# no settings\n")
    env = dict(_env(tmp_path / "tmp"), SPARK_HOME=str(home))
    cds = tmp_path / "cds"
    cds.mkdir()
    r = _start(cds, "kill", tmp_path / "tmp", env=env)
    assert not _opts(r, "SharedArchiveFile") and not _opts(r, "ArchiveClassesAtExit")
    assert len(r["records"]) == 1
    level, msg = r["records"][0]
    assert level == "WARNING" and "spark-defaults.conf" in msg
    assert os.listdir(cds) == []


def test_concurrent_first_starts_record_at_most_once(tmp_path):
    cds = tmp_path / "cds"
    cds.mkdir()
    procs = [_spawn(cds, "kill", tmp_path / f"tmp{i}") for i in range(2)]
    results = [_started(p) for p in procs]  # both JVMs are up before either stops
    for p in procs:
        _stop(p)
    recorders = [r for r in results if _opts(r, "ArchiveClassesAtExit")]
    assert len(recorders) <= 1
    for r in results:
        assert not _opts(r, "SharedArchiveFile")
        assert len(r["records"]) == 1
