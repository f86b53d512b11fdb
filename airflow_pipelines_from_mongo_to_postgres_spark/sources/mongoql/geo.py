"""``$geoNear`` — index-free haversine lowering: GeoJSON meters /
legacy radians / flat, clamped asin, query/min/maxDistance/
distanceMultiplier/includeLocs; with ``$limit`` the nearest-first
sort fuses to TakeOrderedAndProject (plan-gated). Split from
sources/mongoql.py in r15."""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql.expr import (
    _field_type,
)
from airflow_pipelines_from_mongo_to_postgres_spark.sources.mongoql.match import (
    _match_cond,
)


#: MongoDB's spherical-geometry Earth radius — the docs' "approximate
#: equatorial radius of 6,378.1 kilometers" used to convert between
#: radians and meters for 2dsphere distances.
_EARTH_RADIUS_M = 6378100.0


def _geo_near_point(near: Any) -> tuple[float, float, bool]:
    """``$geoNear.near`` spec → (lon, lat, is_geojson). GeoJSON Point
    (``{type: 'Point', coordinates: [lon, lat]}``) selects spherical
    meters; a legacy coordinate pair (``[lon, lat]`` array or two-field
    document, field order = lon, lat) selects legacy semantics (radians
    when ``spherical: true``, flat units otherwise) — Mongo's own rule."""
    if isinstance(near, dict) and near.get("type") == "Point":
        coords = near.get("coordinates")
        if not isinstance(coords, (list, tuple)) or len(coords) != 2:
            raise ValueError(
                "$geoNear: GeoJSON near needs coordinates: [lon, lat]")
        return float(coords[0]), float(coords[1]), True
    if isinstance(near, (list, tuple)) and len(near) == 2:
        return float(near[0]), float(near[1]), False
    if isinstance(near, dict) and len(near) == 2 and "type" not in near:
        lon, lat = near.values()  # legacy embedded doc: field order
        return float(lon), float(lat), False
    raise ValueError(
        "$geoNear: near must be a GeoJSON Point "
        "({type: 'Point', coordinates: [lon, lat]}) or a legacy "
        "[lon, lat] coordinate pair")


def _geo_key_lonlat(df: DataFrame, key: str) -> tuple[Column, Column]:
    """Resolve the document location field ``key`` (dotted paths OK) to
    (lon, lat) Columns. Accepts a GeoJSON Point struct (has
    ``coordinates``), a legacy ``[lon, lat]`` array, or a two-field
    legacy point document (field order = lon, lat)."""
    from pyspark.sql import types as ST

    dt = _field_type(df.schema, key)
    if dt is None or "." in key and isinstance(
            _field_type(df.schema, key.rsplit(".", 1)[0]), ST.ArrayType):
        raise ValueError(f"$geoNear: key {key!r} not found in the document "
                         "schema, or read through an array")
    col = F.col(key)
    if isinstance(dt, ST.StructType) and "coordinates" in dt.fieldNames():
        return col["coordinates"][0], col["coordinates"][1]
    if isinstance(dt, ST.ArrayType):
        return col[0], col[1]
    if isinstance(dt, ST.StructType) and len(dt.fields) == 2:
        f0, f1 = dt.fieldNames()
        return col[f0], col[f1]
    raise ValueError(
        f"$geoNear: key {key!r} must be a GeoJSON Point struct (with "
        "'coordinates'), a legacy [lon, lat] array, or a two-field "
        f"legacy point document — got {dt.simpleString()}")


def _geo_near(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """``$geoNear`` lowered to expression math — no geospatial index
    needed. Distance mode follows Mongo: a GeoJSON ``near`` computes the
    spherical (haversine) distance in METERS (radius 6378.1 km, the
    documented constant); a legacy ``near`` computes radians when
    ``spherical: true`` and flat Euclidean coordinate units otherwise.
    ``minDistance``/``maxDistance`` filter on the RAW distance (Mongo's
    unit rule), ``distanceMultiplier`` scales only the output field, and
    ``query`` is an ordinary ``$match`` document. Documents whose
    location is null/missing are excluded, as an index-backed $geoNear
    would. The result is globally sorted nearest-first — with a
    following ``$limit`` Spark plans TakeOrdered (per-partition top-k +
    one k-row merge), so the usual $geoNear+$limit idiom never performs
    a full sort at scale. ``key`` is REQUIRED (there is no index to
    infer the location field from).

    Per-row trig stays inside whole-stage codegen; the haversine operand
    is clamped to [0, 1] before ``asin`` so antipodal floating-point
    noise can't produce NaN."""
    allowed = {"near", "distanceField", "key", "spherical", "maxDistance",
               "minDistance", "query", "distanceMultiplier", "includeLocs"}
    unknown = set(spec) - allowed
    if unknown:
        raise ValueError(
            f"$geoNear: unsupported options {sorted(unknown)} "
            f"(supported: {sorted(allowed)})")
    if "near" not in spec or "distanceField" not in spec:
        raise ValueError("$geoNear requires 'near' and 'distanceField'")
    out_field = spec["distanceField"]
    if not isinstance(out_field, str) or "." in out_field:
        raise ValueError(
            "$geoNear: distanceField must be a top-level field name "
            "(dotted paths are unsupported — $addFields the struct after)")
    key = spec.get("key")
    if not key:
        raise ValueError(
            "$geoNear: 'key' is required — there is no geospatial index "
            "to infer the location field from; name the document field "
            "holding [lon, lat] or a GeoJSON Point")
    nlon, nlat, geojson = _geo_near_point(spec["near"])
    dlon, dlat = _geo_key_lonlat(df, key)
    spherical = bool(spec.get("spherical", False)) or geojson
    if spherical:
        lat1, lon1 = F.radians(F.lit(nlat)), F.radians(F.lit(nlon))
        lat2 = F.radians(dlat.cast("double"))
        lon2 = F.radians(dlon.cast("double"))
        hav = (F.pow(F.sin((lat2 - lat1) / F.lit(2.0)), F.lit(2.0))
               + F.cos(lat1) * F.cos(lat2)
               * F.pow(F.sin((lon2 - lon1) / F.lit(2.0)), F.lit(2.0)))
        # clamp fp noise past 1.0 before asin — but NOT via F.least,
        # which skips NULLs and would turn a missing location into a
        # phantom antipodal distance instead of propagating null
        root = F.sqrt(hav)
        dist = F.lit(2.0) * F.asin(
            F.when(root > F.lit(1.0), F.lit(1.0)).otherwise(root))
        if geojson:
            dist = dist * F.lit(_EARTH_RADIUS_M)
    else:
        dist = F.sqrt(
            F.pow(dlon.cast("double") - F.lit(nlon), F.lit(2.0))
            + F.pow(dlat.cast("double") - F.lit(nlat), F.lit(2.0)))
    tmp = "__geo_dist"
    df = df.withColumn(tmp, dist.cast("double")).filter(
        F.col(tmp).isNotNull())
    if "query" in spec:
        df = df.filter(_match_cond(spec["query"], df))
    if "maxDistance" in spec:
        df = df.filter(F.col(tmp) <= F.lit(float(spec["maxDistance"])))
    if "minDistance" in spec:
        df = df.filter(F.col(tmp) >= F.lit(float(spec["minDistance"])))
    if "includeLocs" in spec:
        inc = spec["includeLocs"]
        if not isinstance(inc, str) or "." in inc:
            raise ValueError(
                "$geoNear: includeLocs must be a top-level field name")
        df = df.withColumn(inc, F.col(key))
    out = F.col(tmp)
    if "distanceMultiplier" in spec:
        out = out * F.lit(float(spec["distanceMultiplier"]))
    return (df.withColumn(out_field, out.cast("double")).drop(tmp)
            .orderBy(F.col(out_field).asc()))
