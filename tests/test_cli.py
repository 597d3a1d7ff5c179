"""CLI end-to-end in-process: bbox + geojson boundaries, resume idempotency,
iso error path (reference entry-point surface, SURVEY.md §3)."""

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from pgsql2osm_spark import cli
from pgsql2osm_spark.sources import fixtures as FX


@pytest.fixture(scope="module")
def pts_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("cli") / "pts")
    lon, lat = FX.gen_points_slice(0, 20000)
    spark.createDataFrame(
        pd.DataFrame({"image_id": [str(i) for i in range(20000)], "lon": lon, "lat": lat})
    ).write.parquet(p)
    return p


def test_cli_bbox_and_resume(spark, pts_path, tmp_path, capsys):
    out = str(tmp_path / "out")
    args = ["--input", pts_path, "--bbox=-20,30,30,55", "--out", out, "--zoom", "10"]
    assert cli.main(args, spark=spark) == 0
    rows1 = spark.read.parquet(f"{out}/tiles").count()
    assert rows1 > 100
    # resume: second run adds nothing (manifest anti-join)
    assert cli.main(args, spark=spark) == 0
    assert spark.read.parquet(f"{out}/tiles").count() == rows1
    progress = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert progress["rows"] == rows1


def test_cli_process_stdout_is_json_lines(pts_path, tmp_path):
    """The CLI as its own process: everything on fd 1, the driver JVM's output
    included, is JSON lines (the in-process tests only see Python's
    sys.stdout)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = str(tmp_path / "out")
    p = subprocess.run(
        [sys.executable, "-m", "pgsql2osm_spark.cli", "--input", pts_path,
         "--bbox=-20,30,30,55", "--out", out, "--zoom", "10", "--cores", "2"],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.splitlines()
    assert lines
    assert [json.loads(line) for line in lines][-1]["rows"] > 100


def test_cli_geojson(spark, pts_path, tmp_path):
    gj = tmp_path / "poly.geojson"
    gj.write_text(
        json.dumps(
            {
                "type": "Feature",
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[0, 40], [20, 40], [20, 55], [0, 55], [0, 40]]],
                },
            }
        )
    )
    out = str(tmp_path / "outg")
    assert cli.main(
        ["--input", pts_path, "--geojson", str(gj), "--out", out, "--zoom", "8"],
        spark=spark,
    ) == 0
    got = spark.read.parquet(f"{out}/tiles")
    rows = got.select("lon", "lat").collect()
    assert len(rows) > 50
    assert all(0 <= r["lon"] <= 20 and 40 <= r["lat"] <= 55 for r in rows)


def test_cli_bad_iso_exit_code(spark, pts_path, tmp_path):
    rc = cli.main(
        ["--input", pts_path, "--iso", "xx-99", "--out", str(tmp_path / "o")],
        spark=spark,
    )
    assert rc == 2


@pytest.mark.parametrize(
    "bbox",
    ["1,2,3", "a,b,c,d", "0,nan,1,1", "10,40,-10,55", "-10,55,10,40"],
    ids=["three_numbers", "not_numbers", "non_finite", "lon_min_above_max",
         "lat_min_above_max"],
)
def test_cli_bad_bbox_exits_2_before_spark(pts_path, tmp_path, monkeypatch, capsys, bbox):
    """A bad --bbox is an argument error naming the value, raised before a
    session is asked for. With a polygon boundary a reversed box used to
    filter every point out and exit 0 with no tiles."""
    from pgsql2osm_spark import session

    def no_session(**_):
        raise AssertionError("a session was started")

    monkeypatch.setattr(session, "get_spark", no_session)
    with pytest.raises(SystemExit) as e:
        cli.main(["--input", pts_path, "--osm-rel-id", "100001", f"--bbox={bbox}",
                  "--out", str(tmp_path / "o")])
    assert e.value.code == 2
    assert bbox in capsys.readouterr().err


def test_cli_stops_its_own_session_on_error_return(spark, pts_path, tmp_path, monkeypatch):
    """A CLI run that started its session stops it on an error return too."""
    from pgsql2osm_spark import session

    class Owned:
        """The test session, with stop() counted instead of run."""

        stops = 0

        def __getattr__(self, name):
            return getattr(spark, name)

        def stop(self):
            Owned.stops += 1

    monkeypatch.setattr(session, "get_spark", lambda **_: Owned())
    rc = cli.main(["--input", pts_path, "--osm-rel-id", "999", "--out", str(tmp_path / "o")])
    assert rc == 2 and Owned.stops == 1


def test_cli_iso_bbox_conjunction(spark, pts_path, tmp_path):
    """Reference parity (cli.py:18-22, settings.py:132-140): --bbox given IN
    ADDITION to --iso extracts the INTERSECTION — every output point is in
    both the iso polygon and the bbox."""
    out_iso = str(tmp_path / "iso_only")
    assert cli.main(
        ["--input", pts_path, "--iso", "za-01", "--out", out_iso, "--zoom", "8"],
        spark=spark,
    ) == 0
    iso_rows = spark.read.parquet(f"{out_iso}/tiles").select("image_id", "lon", "lat").collect()
    assert len(iso_rows) > 0
    lons = [r["lon"] for r in iso_rows]
    lats = [r["lat"] for r in iso_rows]
    # bbox clipping the iso polygon roughly in half
    bx0, by0 = float(np.median(lons)), min(lats) - 1.0
    bx1, by1 = max(lons) + 1.0, max(lats) + 1.0
    out_both = str(tmp_path / "iso_bbox")
    assert cli.main(
        ["--input", pts_path, "--iso", "za-01", f"--bbox={bx0},{by0},{bx1},{by1}",
         "--out", out_both, "--zoom", "8"],
        spark=spark,
    ) == 0
    both_rows = spark.read.parquet(f"{out_both}/tiles").select("image_id", "lon", "lat").collect()
    exp = {r["image_id"] for r in iso_rows
           if bx0 <= r["lon"] <= bx1 and by0 <= r["lat"] <= by1}
    got = {r["image_id"] for r in both_rows}
    assert got == exp
    assert 0 < len(got) < len(iso_rows)


def test_cli_osm_rel_id_boundary(spark, pts_path, tmp_path):
    """--osm-rel-id selects the boundary polygon from the data itself
    (reference settings.py:120-126); fixture rel 100003 = region 3."""
    out = str(tmp_path / "rel")
    assert cli.main(
        ["--input", pts_path, "--osm-rel-id", "100003", "--out", out, "--zoom", "8"],
        spark=spark,
    ) == 0
    from pgsql2osm_spark.operators import spatial_join as SJ

    got = {r["image_id"] for r in
           spark.read.parquet(f"{out}/tiles").select("image_id").collect()}
    region = [r for r in FX.gen_admin_polygons(64) if r["region_id"] == 3]
    pts = spark.read.parquet(pts_path)
    exp = {r["image_id"] for r in
           SJ.pip_join(spark, pts, region, keep_cols=["image_id"]).collect()}
    assert got == exp and len(got) > 0
    # unknown rel id errors like the reference's missing-boundary path
    assert cli.main(
        ["--input", pts_path, "--osm-rel-id", "42", "--out", str(tmp_path / "r2")],
        spark=spark,
    ) == 2


def test_cli_regions_csv_dimension(spark, pts_path, tmp_path):
    """--regions-csv swaps the fixture dimension for a real-shaped file;
    iso lookup resolves through it to the boundary polygon."""
    csv = tmp_path / "regions.csv"
    # |osm_id| - 100000 = 5 -> fixture polygon 5 (the CLI boundary mapping)
    csv.write_text(
        "osm_id,name,iso_country,border_type,iso_subcountry,admin_level,wikipedia\n"
        "-100005,Testland,TL,country,,2,en:x\n"
    )
    out = str(tmp_path / "csvdim")
    assert cli.main(
        ["--input", pts_path, "--iso", "tl", "--regions-csv", str(csv),
         "--out", out, "--zoom", "8"],
        spark=spark,
    ) == 0
    from pgsql2osm_spark.operators import spatial_join as SJ

    got = {r["image_id"] for r in
           spark.read.parquet(f"{out}/tiles").select("image_id").collect()}
    region = [r for r in FX.gen_admin_polygons(64) if r["region_id"] == 5]
    exp = {r["image_id"] for r in SJ.pip_join(
        spark, spark.read.parquet(pts_path), region, keep_cols=["image_id"]).collect()}
    assert got == exp and len(got) > 0
    # unknown iso through the csv dimension errors like the reference
    assert cli.main(
        ["--input", pts_path, "--iso", "zz-99", "--regions-csv", str(csv),
         "--out", str(tmp_path / "e")],
        spark=spark,
    ) == 2


def test_cli_no_boundary_is_an_error(spark, pts_path, tmp_path, capsys, caplog):
    """The error goes through the CLI's logger; stdout stays JSON lines."""
    assert cli.main(
        ["--input", pts_path, "--out", str(tmp_path / "nb")], spark=spark
    ) == 2
    logged = [(r.levelname, r.getMessage()) for r in caplog.records if r.name == cli.__name__]
    assert len(logged) == 1 and logged[0][0] == "ERROR"
    assert "no boundary provided" in logged[0][1]
    assert capsys.readouterr().out == ""


def test_cli_boundaries_parquet(spark, pts_path, tmp_path):
    """--boundaries supplies REAL boundary geometry as a (region_id, wkb)
    parquet table (spatial_join.REGIONS_DF_SCHEMA) — the deployment contract
    replacing fixture polygons (VERDICT r2 next #3): --osm-rel-id and
    --iso + --regions-csv both resolve geometry through it end-to-end."""
    from pgsql2osm_spark.operators import spatial_join as SJ

    # boundary table: fixture polygons 3 and 5 keyed by their RELATION ids
    regions = [r for r in FX.gen_admin_polygons(64) if r["region_id"] in (3, 5)]
    bnd = tmp_path / "boundaries"
    rows = SJ.regions_to_df(spark, regions).collect()
    spark.createDataFrame(
        [(100000 + r["region_id"], r["wkb"]) for r in rows],
        SJ.REGIONS_DF_SCHEMA,
    ).write.parquet(str(bnd))

    # --osm-rel-id through the boundary table
    out = str(tmp_path / "brel")
    assert cli.main(
        ["--input", pts_path, "--osm-rel-id", "100003",
         "--boundaries", str(bnd), "--out", out, "--zoom", "8"],
        spark=spark,
    ) == 0
    got = {r["image_id"] for r in
           spark.read.parquet(f"{out}/tiles").select("image_id").collect()}
    region3 = [r for r in regions if r["region_id"] == 3]
    exp = {r["image_id"] for r in SJ.pip_join(
        spark, spark.read.parquet(pts_path), region3, keep_cols=["image_id"]
    ).collect()}
    assert got == exp and len(got) > 0

    # --iso through a real csv dimension AND the boundary table
    csv = tmp_path / "regions.csv"
    csv.write_text(
        "osm_id,name,iso_country,border_type,iso_subcountry,admin_level\n"
        "-100005,Testland,TL,country,,2\n"
    )
    out2 = str(tmp_path / "biso")
    assert cli.main(
        ["--input", pts_path, "--iso", "tl", "--regions-csv", str(csv),
         "--boundaries", str(bnd), "--out", out2, "--zoom", "8"],
        spark=spark,
    ) == 0
    got2 = {r["image_id"] for r in
            spark.read.parquet(f"{out2}/tiles").select("image_id").collect()}
    region5 = [r for r in regions if r["region_id"] == 5]
    exp2 = {r["image_id"] for r in SJ.pip_join(
        spark, spark.read.parquet(pts_path), region5, keep_cols=["image_id"]
    ).collect()}
    assert got2 == exp2 and len(got2) > 0

    # a rel id absent from the boundary table errors like the reference
    assert cli.main(
        ["--input", pts_path, "--osm-rel-id", "42",
         "--boundaries", str(bnd), "--out", str(tmp_path / "be")],
        spark=spark,
    ) == 2


def test_cli_boundaries_malformed_table_rejected(spark, pts_path, tmp_path):
    """A --boundaries table whose geometry column is not named ``wkb`` is
    rejected before any job runs, by a ValueError that names the column and
    REGIONS_DF_SCHEMA (not a KeyError inside a Python worker)."""
    from pgsql2osm_spark.operators import spatial_join as SJ

    regions = [r for r in FX.gen_admin_polygons(64) if r["region_id"] == 3]
    bnd = tmp_path / "bad_boundaries"
    SJ.regions_to_df(spark, regions).selectExpr(
        "region_id + 100000 AS region_id", "wkb AS geom"
    ).write.parquet(str(bnd))
    with pytest.raises(ValueError, match="'wkb' is missing") as err:
        cli.main(
            ["--input", pts_path, "--osm-rel-id", "100003",
             "--boundaries", str(bnd), "--out", str(tmp_path / "bad")],
            spark=spark,
        )
    assert SJ.REGIONS_DF_SCHEMA in str(err.value)
    # a mistyped column is named with the type it has
    wrong = spark.createDataFrame([(3, "x")], "region_id long, wkb string")
    with pytest.raises(ValueError, match="'wkb' is string"):
        SJ.pip_join(spark, spark.read.parquet(pts_path), wrong)


def _continent_regions_csv(regions: list[dict], rel_base: int = 200000) -> str:
    """regions.csv-shaped text for gen_continent output: osm_id is the
    POSITIVE relation id (rel_base + region_id; the boundary parquet keys
    rows by the same id — see cli --boundaries)."""
    lines = ["osm_id,name,iso_country,border_type,iso_subcountry,admin_level"]
    for r in regions:
        iso = r["iso"].lower()
        country = iso.split("-")[0]
        sub = iso if "-" in iso and r["admin_level"] >= 4 else ""
        btype = {1: "continent", 2: "country"}.get(r["admin_level"], "subdivision")
        lines.append(
            f"{rel_base + r['region_id']},{r['name']},{country if r['admin_level'] == 2 else ''},"
            f"{btype},{sub},{r['admin_level']}"
        )
    return "\n".join(lines) + "\n"


@pytest.fixture(scope="module")
def continent(spark, tmp_path_factory):
    """53-region synthetic continent: boundaries parquet keyed by relation
    id, regions.csv dimension, and a deterministic point grid spanning the
    antimeridian (grid fractions never touch the x.05/x.95 rectangle
    edges)."""
    from pgsql2osm_spark.operators import spatial_join as SJ

    base = tmp_path_factory.mktemp("continent")
    regions = FX.gen_continent()
    assert len(regions) == 53
    rows = SJ.regions_to_df(spark, regions).collect()
    spark.createDataFrame(
        [(200000 + r["region_id"], r["wkb"]) for r in rows], SJ.REGIONS_DF_SCHEMA
    ).write.parquet(str(base / "boundaries"))
    (base / "regions.csv").write_text(_continent_regions_csv(regions))
    lons = np.concatenate([np.arange(148.13, 180.0, 0.5), np.arange(-179.87, -150.0, 0.5)])
    lats = np.arange(-34.87, 35.0, 0.7)
    gl, gt = np.meshgrid(lons, lats)
    gl, gt = gl.ravel(), gt.ravel()
    spark.createDataFrame(
        pd.DataFrame({"image_id": [f"p{i}" for i in range(len(gl))], "lon": gl, "lat": gt})
    ).write.parquet(str(base / "pts"))
    return {"base": base, "regions": regions, "lon": gl, "lat": gt}


def _numpy_region_ids(cont, region):
    from pgsql2osm_spark.functions import geometry as G

    inside = G.points_in_rings(cont["lon"], cont["lat"], FX.region_rings(region))
    return {f"p{i}" for i in np.nonzero(inside)[0]}


def test_cli_continent_antimeridian_iso(spark, continent, tmp_path):
    """--iso through the 53-region continent boundaries parquet: the
    dateline-crossing country resolves via csv + real geometry, the CLI
    joins the boundary table through pip_join, and points on BOTH sides of
    +/-180 come back (VERDICT r3 #6)."""
    base = continent["base"]
    dateline = [r for r in continent["regions"] if r["name"] == "country13"][0]
    out = str(tmp_path / "iso13")
    assert cli.main(
        ["--input", str(base / "pts"), "--iso", "c13",
         "--regions-csv", str(base / "regions.csv"),
         "--boundaries", str(base / "boundaries"), "--out", out, "--zoom", "8"],
        spark=spark,
    ) == 0
    got = {r["image_id"] for r in
           spark.read.parquet(f"{out}/tiles").select("image_id").collect()}
    exp = _numpy_region_ids(continent, dateline)
    assert got == exp and len(got) > 0
    idx = {f"p{i}": i for i in range(len(continent["lon"]))}
    got_lons = [continent["lon"][idx[g]] for g in got]
    assert any(x > 178 for x in got_lons) and any(x < -178 for x in got_lons)


def test_cli_continent_nested_province_and_hole(spark, continent, tmp_path):
    """--osm-rel-id resolves a level-4 province nested inside a country
    inside the continent; the lake hole excludes its points (multipolygon
    inner role through the boundaries contract)."""
    base = continent["base"]
    prov = [r for r in continent["regions"] if r["name"] == "province01_2"][0]
    out = str(tmp_path / "prov")
    assert cli.main(
        ["--input", str(base / "pts"), "--osm-rel-id", str(200000 + prov["region_id"]),
         "--boundaries", str(base / "boundaries"), "--out", out, "--zoom", "8"],
        spark=spark,
    ) == 0
    got = {r["image_id"] for r in
           spark.read.parquet(f"{out}/tiles").select("image_id").collect()}
    assert got == _numpy_region_ids(continent, prov) and len(got) > 0

    holed = [r for r in continent["regions"] if r["name"] == "country01"][0]
    out2 = str(tmp_path / "hole")
    assert cli.main(
        ["--input", str(base / "pts"), "--osm-rel-id", str(200000 + holed["region_id"]),
         "--boundaries", str(base / "boundaries"), "--out", out2, "--zoom", "8"],
        spark=spark,
    ) == 0
    got2 = {r["image_id"] for r in
            spark.read.parquet(f"{out2}/tiles").select("image_id").collect()}
    exp2 = _numpy_region_ids(continent, holed)
    assert got2 == exp2
    # the hole actually excluded interior points
    from pgsql2osm_spark.functions import geometry as G

    outer_only = {f"p{i}" for i in np.nonzero(
        G.points_in_rings(
            continent["lon"], continent["lat"],
            [np.asarray(r) for r in holed["outer_rings"]],
        )
    )[0]}
    assert got2 < outer_only


def test_continent_partitioned_pip_all_regions(spark, continent):
    """The full 53-region table through pip_join in one pass
    (cover built distributed, refine in the join condition): per-region
    membership equals the numpy even-odd oracle for every region incl. the
    two-ring dateline geometries."""
    from pgsql2osm_spark.operators import spatial_join as SJ

    from pyspark.sql import functions as F

    base = continent["base"]
    regions_df = spark.read.parquet(str(base / "boundaries")).withColumn(
        "region_id", F.col("region_id") - 200000
    )
    pts = spark.read.parquet(str(base / "pts"))
    got = {}
    for r in SJ.pip_join(
        spark, pts, regions_df, keep_cols=["image_id"]
    ).select("image_id", "region_id").collect():
        got.setdefault(int(r["region_id"]), set()).add(r["image_id"])
    for reg in continent["regions"]:
        exp = _numpy_region_ids(continent, reg)
        assert got.get(reg["region_id"], set()) == exp, reg["name"]


def test_cli_curate_matches_funnel_query(spark, tmp_path):
    """--curate e2e (VERDICT r4 #7): the CLI drives curation.funnel_flags —
    the SAME composition as the pipeline_funnel entry query — so its
    per-stage counts equal the query's output on the same documents, and
    the manifest-tracked chunk rows equal the 9_chunks stage count."""
    import json

    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    bench_path = str(tmp_path / "bench")
    docs.where("doc_id < 5").select("doc_id", "text").write.parquet(bench_path)
    out = str(tmp_path / "curated")
    rc = cli.main(
        ["--input", f"{sf}/documents.parquet", "--curate",
         "--benchmark", bench_path,
         "--mix-weights", json.dumps(E._MIX_WEIGHTS),
         "--total-target", "60", "--chunk-size", "48", "--chunk-overlap", "8",
         "--out", out, "--job-id", "curate_e2e"],
        spark=spark,
    )
    assert rc == 0
    got = {
        (r["stage"], r["n"])
        for r in spark.read.parquet(f"{out}/stage_counts").collect()
    }
    exp = {
        (r["stage"], r["n"])
        for r in E.queries()["pipeline_funnel"](spark, sf).collect()
    }
    assert got == exp, got ^ exp
    n_chunks = dict(got)["9_chunks"]
    chunk_rows = spark.read.parquet(f"{out}/chunks").count()
    assert chunk_rows == n_chunks and n_chunks > 0
    # manifest telemetry agrees with the data actually written
    from pgsql2osm_spark.plans import manifest as M

    prog = {r["stage"]: r["rows"] for r in M.job_progress(spark, out, "curate_e2e").collect()}
    assert prog["chunks"] == n_chunks
