"""The north rule's deployment shape, end to end: spark-submit --py-files
with the package shipped as a zip — executors AND the Spark 4 client-mode
driver import pgsql2osm_spark from the shipped archive (tools/submit_job.py
injects --py-files into the driver's sys.path after session creation)."""

import os
import shutil
import subprocess
import sys
import zipfile

import numpy as np
import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    from pgsql2osm_spark.session import make_pyfiles_zip
    from pgsql2osm_spark.sources import fixtures as FX

    lon, lat = FX.gen_points_slice(0, 5000)
    pts = str(tmp_path / "pts")
    spark.createDataFrame(
        pd.DataFrame({"image_id": [str(i) for i in range(5000)], "lon": lon, "lat": lat})
    ).write.parquet(pts)
    zip_path = make_pyfiles_zip()
    out = str(tmp_path / "out")
    proc = subprocess.run(
        [
            SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path,
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            os.path.join(REPO, "tools", "submit_job.py"),
            "--input", pts, "--bbox=-20,30,30,55", "--out", out, "--zoom", "8",
        ],
        capture_output=True, text=True, timeout=420, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = spark.read.parquet(f"{out}/tiles")
    rows = got.count()
    # the bbox rectangle is the boundary: every surviving point is inside it
    pdf = got.select("lon", "lat").toPandas()
    assert rows > 0
    assert ((pdf["lon"] >= -20) & (pdf["lon"] <= 30)).all()
    assert ((pdf["lat"] >= 30) & (pdf["lat"] <= 55)).all()
    exp = int(np.sum((lon >= -20) & (lon <= 30) & (lat >= 30) & (lat <= 55)))
    assert rows == exp


def test_pyfiles_zip_is_named_by_content(tmp_path):
    """Package trees that differ by one byte get two zips, the same tree gets
    the same zip, and no call rewrites another's file (a running session
    ships its zip by path). A zipimported package returns its own archive."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    for tree in ("a", "b"):
        shutil.copytree(
            os.path.join(REPO, "pgsql2osm_spark"), tmp_path / tree / "pgsql2osm_spark",
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    with open(tmp_path / "b" / "pgsql2osm_spark" / "__init__.py", "a") as f:
        f.write("\n")

    def zip_of(cwd, pythonpath=""):
        code = "from pgsql2osm_spark.session import make_pyfiles_zip; print(make_pyfiles_zip())"
        env = dict(os.environ, TMPDIR=str(tmp), PYTHONPATH=pythonpath)
        p = subprocess.run([sys.executable, "-c", code], cwd=cwd, env=env,
                           capture_output=True, text=True, timeout=120)
        assert p.returncode == 0, p.stderr[-2000:]
        return p.stdout.split()[-1]

    za = zip_of(tmp_path / "a")
    stat_a = os.stat(za)
    zb = zip_of(tmp_path / "b")
    assert za != zb
    assert zip_of(tmp_path / "a") == za
    after = os.stat(za)
    assert (after.st_ino, after.st_mtime_ns) == (stat_a.st_ino, stat_a.st_mtime_ns)
    with zipfile.ZipFile(za) as a, zipfile.ZipFile(zb) as b:
        init = "pgsql2osm_spark/__init__.py"
        assert b.read(init) == a.read(init) + b"\n"
    assert zip_of(tmp, pythonpath=za) == za


def test_pyfiles_zip_drops_stale_zips(tmp_path, monkeypatch):
    """Writing a zip deletes other package states' zips and partial writes
    unused for a day, unless another process holds the zip's lock; a fresh
    zip, unrelated files and the zip being returned stay. Returning an
    existing zip refreshes its access time only, so a later cleanup sees it
    in use."""
    import fcntl
    import tempfile
    import time

    from pgsql2osm_spark import session

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_HELD_ZIPS", {})
    old = time.time() - 2 * session._STALE_ZIP_S
    files = {
        name: tmp_path / name
        for name in (
            "pgsql2osm_spark_pyfiles-0000000000000000.zip",
            "pgsql2osm_spark_pyfiles-1111111111111111.zip.4242.tmp",
            "pgsql2osm_spark_pyfiles-2222222222222222.zip",
            "pgsql2osm_spark_pyfiles-3333333333333333.zip",
            "pgsql2osm_spark_pyfiles.txt",
            "other.zip",
        )
    }
    for path in files.values():
        path.write_bytes(b"x")
    for name in ("pgsql2osm_spark_pyfiles-0000000000000000.zip",
                 "pgsql2osm_spark_pyfiles-1111111111111111.zip.4242.tmp",
                 "pgsql2osm_spark_pyfiles-3333333333333333.zip",
                 "pgsql2osm_spark_pyfiles.txt", "other.zip"):
        os.utime(files[name], (old, old))
    # a long-running job's zip: old, but locked as make_pyfiles_zip locks it
    held = os.open(files["pgsql2osm_spark_pyfiles-3333333333333333.zip"], os.O_RDONLY)
    fcntl.flock(held, fcntl.LOCK_SH)
    try:
        cur = session.make_pyfiles_zip()
    finally:
        os.close(held)
    left = sorted(p.name for p in tmp_path.iterdir())
    assert left == sorted([
        os.path.basename(cur), "other.zip", "pgsql2osm_spark_pyfiles-2222222222222222.zip",
        "pgsql2osm_spark_pyfiles-3333333333333333.zip", "pgsql2osm_spark_pyfiles.txt",
    ])
    assert cur in session._HELD_ZIPS
    os.utime(cur, (old, old))
    assert session.make_pyfiles_zip() == cur
    st = os.stat(cur)
    assert st.st_mtime == old and st.st_atime > time.time() - 60
