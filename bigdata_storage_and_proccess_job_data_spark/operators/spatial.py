"""Geospatial radius joins: grid-blocked candidate generation + exact
haversine verify, all DataFrame ops.

The reference has no spatial operators; this brings the
block-then-verify discipline used throughout the engine (neardup's
LSH bands, rangejoin's bin-and-verify) to
coordinates: find all (left, right) pairs within ``radius_km`` WITHOUT
a cartesian product. Rows map to cells of a latitude-band grid; only
rows sharing a probe cell meet in an equi-join; an exact haversine
filter keeps true pairs. The verify step makes the result exact as
long as blocking is COMPLETE -- the geometry below is sized so that no
qualifying pair can land outside the 3x3 probe neighborhood (tested
against a brute-force oracle).

Grid geometry. Bands are ``cell_deg = radius_km / 110.5`` degrees of
latitude tall (110.5 km/deg is the polar MINIMUM of km-per-degree
latitude -- undersizing the denominator oversizes cells, which only
adds candidates, never loses pairs). Within a band, longitude cell
width is ``cell_deg / cos(phi)`` where phi is the most poleward edge
of the band and its two neighbors (again the conservative choice),
capped at 360 deg -- so polar bands degrade gracefully to a single
cell per band and the antimeridian wraps via modular cell indices.
Any pair within radius differs by <= 1 band and <= 1 longitude cell
(locally-flat bound, valid for radius << Earth radius; the operator
gates radius_km <= 1000 where the small-angle slack is orders of
magnitude above the approximation error).

Scale shape: each left row explodes to at most 9 probe cells (3 bands
x 3 cells -- a constant, not data-dependent), both sides shuffle on
(band, cell) only, and the exact verify runs on co-located candidates.
Hot cells (urban clusters) are a bounded skew: cell population, never
cell-count blowup; AQE skew-join splitting applies as usual.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_EARTH_RADIUS_KM = 6371.0088
_KM_PER_DEG_LAT_MIN = 110.5


def haversine_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """Great-circle distance in km (haversine, mean Earth radius) --
    one codegen'd expression, no UDF."""
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dp = F.radians(lat2 - lat1) / 2
    dl = F.radians(lon2 - lon1) / 2
    a = (
        F.sin(dp) * F.sin(dp)
        + F.cos(p1) * F.cos(p2) * F.sin(dl) * F.sin(dl)
    )
    # clamp: float drift above 1.0 would NaN the asin
    a = F.least(a, F.lit(1.0))
    return 2 * _EARTH_RADIUS_KM * F.asin(F.sqrt(a))


def _cell_width(cell_deg: float, band: Column) -> Column:
    """Longitude cell width (deg) for a band index: cell_deg scaled by
    the cosine of the most poleward edge among the band and both
    neighbors, capped at a full circle."""
    edge = F.least(
        F.lit(89.9), (F.abs(band) + 2) * F.lit(cell_deg)
    )
    return F.least(
        F.lit(360.0),
        F.lit(cell_deg)
        / F.greatest(F.cos(F.radians(edge)), F.lit(1e-9)),
    )


def _n_cells(width: Column) -> Column:
    """Cells per band: floor(360 / width), so the UNIFORM effective
    width 360/n is always >= the requested minimum width -- including
    the seam-adjacent cell. (Antimeridian completeness: ceil() would
    leave the seam's remainder cell NARROWER than the max in-radius
    longitude separation, so a qualifying pair could land 2 cells
    apart mod n and escape the +-1 probe.)"""
    return F.greatest(F.lit(1), F.floor(F.lit(360.0) / width)).cast(
        "long"
    )


def _cell_index(lon: Column, n: Column) -> Column:
    """Cell index of a longitude under n uniform cells of 360/n deg:
    floor((lon+180) * n / 360), wrapped (lon exactly 180 -> cell 0)."""
    return F.pmod(F.floor((lon + 180.0) * n / F.lit(360.0)), n)


def _validated(radius_km: float) -> float:
    if not 0 < radius_km <= 1000:
        raise ValueError(
            "radius_km must be in (0, 1000] -- the locally-flat cell "
            "geometry is not sized for continental radii"
        )
    return float(radius_km)


def spatial_join_radius(
    left: DataFrame,
    right: DataFrame,
    radius_km: float,
    left_id: str = "l_id",
    right_id: str = "r_id",
) -> DataFrame:
    """All (left_id, right_id, distance_km) pairs with haversine
    distance <= radius_km. ``left``/``right`` need an id column plus
    ``lat`` (degrees, [-90, 90]) and ``lon`` ([-180, 180]);
    NULL coordinates drop. Ids should be unique per side (duplicate
    ids produce duplicate pair rows, like any join)."""
    r = _validated(radius_km)
    cell_deg = r / _KM_PER_DEG_LAT_MIN

    rt = right.select(
        F.col(right_id).alias("_rid"),
        F.col("lat").cast("double").alias("_rlat"),
        F.col("lon").cast("double").alias("_rlon"),
    ).filter(F.col("_rlat").isNotNull() & F.col("_rlon").isNotNull())
    band_r = F.floor(F.col("_rlat") / F.lit(cell_deg))
    n_r = _n_cells(_cell_width(cell_deg, band_r))
    rt = rt.select(
        "_rid",
        "_rlat",
        "_rlon",
        band_r.alias("_band"),
        _cell_index(F.col("_rlon"), n_r).alias("_cell"),
    )

    lt = left.select(
        F.col(left_id).alias("_lid"),
        F.col("lat").cast("double").alias("_llat"),
        F.col("lon").cast("double").alias("_llon"),
    ).filter(F.col("_llat").isNotNull() & F.col("_llon").isNotNull())
    offsets = F.array(F.lit(-1), F.lit(0), F.lit(1))
    lt = lt.withColumn("_db", F.explode(offsets)).withColumn(
        "_band",
        F.floor(F.col("_llat") / F.lit(cell_deg)) + F.col("_db"),
    )
    n_l = _n_cells(_cell_width(cell_deg, F.col("_band")))
    base = _cell_index(F.col("_llon"), n_l)
    lt = (
        lt.withColumn("_dc", F.explode(offsets))
        .withColumn("_cell", F.pmod(base + F.col("_dc"), n_l))
        # tiny polar bands (n <= 3) make distinct probes collide; dedup
        # so each (left, right) pair meets exactly once
        .dropDuplicates(["_lid", "_band", "_cell"])
        .drop("_db", "_dc")
    )

    dist = haversine_km(
        F.col("_llat"), F.col("_llon"), F.col("_rlat"), F.col("_rlon")
    )
    return (
        lt.join(rt, ["_band", "_cell"])
        .withColumn("distance_km", dist)
        .filter(F.col("distance_km") <= F.lit(r))
        .select(
            F.col("_lid").alias(left_id),
            F.col("_rid").alias(right_id),
            "distance_km",
        )
    )


def spatial_self_pairs(
    df: DataFrame,
    radius_km: float,
) -> DataFrame:
    """Unordered pairs (id_a < id_b, distance_km) of ``df``'s (id, lat,
    lon) rows closer than radius_km -- the geo-dedup shape (same venue
    scraped twice, duplicate POIs). One blocked join, each pair reported
    once."""
    out = spatial_join_radius(
        df,
        df.select(F.col("id").alias("id__r"), F.col("lat"), F.col("lon")),
        radius_km,
        left_id="id",
        right_id="id__r",
    )
    return out.filter(F.col("id") < F.col("id__r")).select(
        F.col("id").alias("id_a"),
        F.col("id__r").alias("id_b"),
        "distance_km",
    )
