"""ISO-code -> region lookup dimension (reference: regions.csv, SURVEY.md S8).

The reference ships a 3,395-row CSV mapping iso codes to OSM relation ids and
resolves --iso arguments by substring-then-exact match over two iso columns
(/root/reference/pgsql2osm/dbutils.py:11-27). Here the dimension is a small
broadcast DataFrame; lookups are Column predicates. The fixture dimension is
generated (no external data), same shape: (osm_id, name, iso_country,
border_type, iso_subcountry, admin_level).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

REGIONS_SCHEMA = (
    "osm_id long, name string, iso_country string, border_type string, "
    "iso_subcountry string, admin_level int"
)


def fixture_regions_dim(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic stand-in for regions.csv (fixture iso codes ZZ-xx)."""
    rows = []
    for r in range(1, n + 1):
        country = f"Z{chr(65 + (r - 1) % 26)}"
        rows.append(
            (
                -(100000 + r),  # relation boundaries are negative ids in the
                # reference's polygon table (settings.py:120-126)
                f"region{r}",
                country.lower(),
                "country" if r % 5 else "subdivision",
                f"{country}-{r:02d}".lower(),
                2 if r % 5 else 4,
            )
        )
    return local_frame(spark, rows, REGIONS_SCHEMA)


def load_regions_dim(spark: SparkSession, path: str) -> DataFrame:
    """Load a REAL regions dimension from a regions.csv-shaped file — the
    swap-in contract for deployments (the fixture stays for tests).

    Expected header (reference regions.csv, generation recipe reference
    README.md:232-245 — one psql query over planet_osm_polygon admin
    boundaries):
        osm_id,name,iso_country,border_type,iso_subcountry,admin_level[,wikipedia]
    osm_id is the POSITIVE relation id (the recipe negates the polygon
    table's negative osm_id); the boundary polygon row is then -osm_id
    (reference settings.py:120-126). Extra columns (wikipedia, ...) are
    dropped; admin_level is cast to int (NULL when non-numeric)."""
    raw = spark.read.option("header", "true").csv(path)
    required = ["osm_id", "name", "iso_country", "border_type", "iso_subcountry", "admin_level"]
    missing = [c for c in required if c not in raw.columns]
    if missing:
        raise ValueError(f"regions csv {path} missing columns {missing}")
    return raw.select(
        F.col("osm_id").cast("long").alias("osm_id"),
        "name",
        "iso_country",
        "border_type",
        "iso_subcountry",
        F.col("admin_level").cast("int").alias("admin_level"),
        # file order, so first_match can replicate the reference's
        # first-row-wins (monotonic ids ascend within a single CSV file)
        F.monotonically_increasing_id().alias("_file_order"),
    )


def regions_lookup(dim: DataFrame, iso: str, first_match: bool = False) -> DataFrame:
    """Reference semantics (dbutils.py:11-27): normalize the query with
    upper()/replace('_','-') (so 'zb_02' resolves like 'zb-02'), match
    case-insensitively — iso_subcountry exactly when the query contains '-',
    else iso_country.

    The reference returns the FIRST exact match in regions.csv file order;
    ``first_match=True`` replicates that: dimensions loaded by
    load_regions_dim carry a _file_order column and win by it, while the
    generated fixture (no file) falls back to lowest |osm_id| — its
    generation order. The default returns ALL candidates, a deliberate
    superset useful when one iso code maps to several boundary rows (the
    caller picks)."""
    iso = iso.upper().replace("_", "-").lower()
    col = "iso_subcountry" if "-" in iso else "iso_country"
    matched = dim.where(F.lower(F.col(col)) == iso)
    if first_match:
        order = (
            F.col("_file_order").asc()
            if "_file_order" in dim.columns
            else F.abs(F.col("osm_id")).asc()
        )
        matched = matched.orderBy(order).limit(1)
    return matched.select("name", "osm_id")
