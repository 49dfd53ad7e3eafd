"""Geospatial radius join via grid-cell bucketing (SURVEY.md §2.D
extension family).

The 2-D sibling of the bucketed interval join (`join-interval-overlap`):
a distance-radius join never runs as the all-pairs haversine θ-join at
scale — both sides hash into coarse lat/lon grid cells, the probe side
expands to its 3×3 cell neighborhood (covers the radius as long as the
cell edge ≥ the radius in degrees at the working latitudes), the join is
an EQUI-join on cell, and the exact haversine runs only on candidate
pairs.  This is the geohash-bucketing pattern every spatial engine
(PostGIS ST_DWithin + GiST, Sedona, H3 joins) compiles to.

No geo test data ships in /root/testdata, so both engines DERIVE the
same deterministic points from md5 hashes (users from `events`, sites
from `nation`) — the derivation is part of the checked contract, and the
distance filter compares ROUNDED distances so the transcendental
haversine (1-ulp libm differences across engines) cannot flip a
boundary row.

Latitudes are confined to ±60° so a 500 km radius stays inside one
10° cell step in longitude (500 km / (111 km · cos 60°) = 9°); a
production operator over polar data switches to a true geohash/H3 cell
scheme with latitude-dependent neighbor rings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandasqlite_spark.operators.common import load, load_events

CELL_DEG = 10.0
RADIUS_KM = 500.0
EARTH_R_KM = 6371.0


def _derived_point(col, lat_alias: str, lon_alias: str) -> list:
    """Deterministic (lat ∈ ±60, lon ∈ ±180) from two md5 slices —
    reproducible in any engine."""
    h_lat = F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10).cast("bigint")
    h_lon = F.conv(F.substring(F.md5(col.cast("string")), 5, 4), 16, 10).cast("bigint")
    lat = (h_lat / F.lit(65536.0)) * 120.0 - 60.0
    lon = (h_lon / F.lit(65536.0)) * 360.0 - 180.0
    return [lat.alias(lat_alias), lon.alias(lon_alias)]


def haversine_km(lat1, lon1, lat2, lon2) -> F.Column:
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(F.radians(lat1))
        * F.cos(F.radians(lat2))
        * F.sin(dlon / 2)
        * F.sin(dlon / 2)
    )
    return 2 * EARTH_R_KM * F.asin(F.sqrt(a))


def geo_radius_join(users: DataFrame, sites: DataFrame) -> DataFrame:
    """users(user_id, lat, lon) × sites(site_id, slat, slon) →
    (user_id, n_sites) within RADIUS_KM, via 3×3-cell candidate join."""
    # longitude cells form a RING of 36 (−18..17): the ±1 neighbor step
    # wraps modulo 36 so a probe at lon −179.9 reaches a site at +179.5
    # (haversine is periodic in dlon; the sf1 sweep caught three users
    # whose only in-radius site sat across the antimeridian — invisible
    # at sf≤0.1 where no point pair straddled ±180).  Latitude needs no
    # wrap (confined to ±60°).
    n_lon_cells = int(360 / CELL_DEG)
    u = users.withColumn(
        "cell",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(-1, 1), di -> "
                f"transform(sequence(-1, 1), dj -> "
                f"struct(floor(lat / {CELL_DEG}) + di AS ci,"
                f" pmod(floor(lon / {CELL_DEG}) + dj + {n_lon_cells // 2},"
                f" {n_lon_cells}) - {n_lon_cells // 2} AS cj))))"
            )
        ),
    ).select("user_id", "lat", "lon", F.col("cell.ci").alias("ci"), F.col("cell.cj").alias("cj"))
    s = sites.select(
        "site_id", "slat", "slon",
        F.floor(F.col("slat") / CELL_DEG).alias("ci"),
        F.floor(F.col("slon") / CELL_DEG).alias("cj"),
    )
    dist = F.round(haversine_km(F.col("lat"), F.col("lon"), F.col("slat"), F.col("slon")), 6)
    hits = (
        u.join(s, ["ci", "cj"])
        .filter(dist <= RADIUS_KM)
        .groupBy("user_id")
        .agg(F.countDistinct("site_id").alias("n_sites"))
    )
    return (
        users.select("user_id")
        .join(hits, "user_id", "left")
        .select("user_id", F.coalesce("n_sites", F.lit(0)).alias("n_sites"))
        .orderBy("user_id")
    )


def q_join_geo_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    users = (
        load_events(spark, sf_dir)
        .select("user_id")
        .distinct()
        .select("user_id", *_derived_point(F.col("user_id"), "lat", "lon"))
    )
    sites = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("site_id"),
        *_derived_point(F.col("n_nationkey") + 1000, "slat", "slon"),
    )
    return geo_radius_join(users, sites)


QUERIES = {"join-geo-radius": q_join_geo_radius}

_POINT_SQL = """
    (('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 4))::BIGINT / 65536.0)
      * 120.0 - 60.0 AS {lat},
    (('0x' || substr(md5(CAST({key} AS VARCHAR)), 5, 4))::BIGINT / 65536.0)
      * 360.0 - 180.0 AS {lon}
"""

ORACLES = {
    "join-geo-radius": f"""
        WITH u AS (
          SELECT user_id, {_POINT_SQL.format(key="user_id", lat="lat", lon="lon")}
          FROM (SELECT DISTINCT user_id FROM events)),
        s AS (
          SELECT n_nationkey AS site_id,
                 {_POINT_SQL.format(key="n_nationkey + 1000", lat="slat", lon="slon")}
          FROM nation),
        d AS (
          SELECT u.user_id, s.site_id,
                 ROUND(2 * 6371.0 * asin(sqrt(
                   sin(radians(s.slat - u.lat) / 2) * sin(radians(s.slat - u.lat) / 2)
                   + cos(radians(u.lat)) * cos(radians(s.slat))
                     * sin(radians(s.slon - u.lon) / 2)
                     * sin(radians(s.slon - u.lon) / 2))), 6) AS dist
          FROM u CROSS JOIN s)
        SELECT u.user_id,
               CAST(COALESCE(h.n_sites, 0) AS BIGINT) AS n_sites
        FROM u LEFT JOIN (
          SELECT user_id, COUNT(DISTINCT site_id) AS n_sites
          FROM d WHERE dist <= {RADIUS_KM} GROUP BY user_id) h
          USING (user_id)
        ORDER BY u.user_id
    """,
}
