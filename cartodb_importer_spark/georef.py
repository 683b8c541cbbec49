"""Georeferencing operators (O11-O13) as vectorized column expressions.

The reference does this in PostGIS: a per-row UPDATE loop for GeoJSON cells
(importer.rb:277-285 — with the author's own "should probably window this"
TODO) and one set-based UPDATE for lat/lon points (importer.rb:320-331).
Here both are single ``withColumn`` passes — whole-stage codegen, no Python
in the row path, no loop.

Geometry model: ``the_geom`` is a WKT string column, SRID fixed 4326, 2D
(matching importer.rb:273,318,380). Spark has no native geometry type and
Sedona is out of the dependency set by design (SURVEY §7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

# importer.rb:299-300 — candidate column names, lowercase, first match wins.
LATITUDE_CANDIDATES = ["latitude", "lat", "latitudedecimal", "latitud", "lati"]
LONGITUDE_CANDIDATES = ["longitude", "lon", "lng", "longitudedecimal", "longitud", "long"]

# importer.rb:327-329 — range-validating guard regexes, verbatim.
LON_RX = r"^(([-+]?(([0-9]|[1-9][0-9]|1[0-7][0-9])(\.[0-9]+)?))|[-+]?180)$"
LAT_RX = r"^(([-+]?(([0-9]|[1-8][0-9])(\.[0-9]+)?))|[-+]?90)$"


def find_latlon_columns(columns: list[str]) -> tuple[str | None, str | None]:
    """O12 (importer.rb:296-313): case-insensitive first-hit lookup of the
    candidate lat/lon names over the actual column list."""
    lower = {c.lower(): c for c in columns}
    lat = next((lower[c] for c in LATITUDE_CANDIDATES if c in lower), None)
    lon = next((lower[c] for c in LONGITUDE_CANDIDATES if c in lower), None)
    return lat, lon


def _coord_ok(df: DataFrame, col: str, bound: int, rx: str) -> Column:
    """Range guard of one coordinate column. The reference's regexes were
    written for plain decimal text, but Spark's string cast writes 0.0005
    as 5.0E-4 and 90 as 90.0, so a numeric column gets the range the
    regexes express, -bound <= col <= bound. NaN fails it: Spark orders
    NaN above every number. Any other column keeps the verbatim regex on
    its text."""
    if isinstance(df.schema[col].dataType, NumericType):
        return F.col(col).between(-bound, bound)
    return F.col(col).cast("string").rlike(rx)


def point_wkt(df: DataFrame, lon: str, lat: str) -> Column:
    """O13: WKT POINT from df's ``lon``/``lat`` columns, guarded like the
    reference's UPDATE — rows whose lon/lat fail validation get NULL
    geometry, exactly like its WHERE clause. The WKT carries Spark's
    string cast of each coordinate."""
    lon_s = F.col(lon).cast("string")
    lat_s = F.col(lat).cast("string")
    return F.when(
        _coord_ok(df, lon, 180, LON_RX) & _coord_ok(df, lat, 90, LAT_RX),
        F.concat(F.lit("POINT("), lon_s, F.lit(" "), lat_s, F.lit(")")),
    )


def georeference_points(df: DataFrame) -> DataFrame:
    """Auto-georeference: if the DataFrame has no ``the_geom`` but has
    discoverable lat/lon columns, add ``the_geom`` (O12+O13). No-op
    otherwise, mirroring importer.rb:296-298."""
    if "the_geom" in df.columns:
        return df
    lat, lon = find_latlon_columns(df.columns)
    if lat is None or lon is None:
        return df
    return df.withColumn("the_geom", point_wkt(df, lon, lat))


def geojson_point_to_wkt(geom: Column) -> Column:
    """O11 (importer.rb:252-294) for Point geometries: GeoJSON text cell ->
    WKT, unparseable -> NULL (the reference's silent per-row failure,
    importer.rb:282-284, becomes a vectorized null)."""
    gtype = F.get_json_object(geom, "$.type")
    x = F.get_json_object(geom, "$.coordinates[0]")
    y = F.get_json_object(geom, "$.coordinates[1]")
    return F.when(
        (gtype == "Point") & x.isNotNull() & y.isNotNull(),
        F.concat(F.lit("POINT("), x, F.lit(" "), y, F.lit(")")),
    )


def _ring_to_wkt(ring: Column) -> Column:
    """array<array<double>> ring -> '(x y, x y, ...)'"""
    return F.concat(
        F.lit("("),
        F.array_join(
            F.transform(
                ring,
                lambda pt: F.concat(
                    pt.getItem(0).cast("string"),
                    F.lit(" "),
                    pt.getItem(1).cast("string"),
                ),
            ),
            ", ",
        ),
        F.lit(")"),
    )


def geojson_to_wkt(geom: Column) -> Column:
    """General GeoJSON -> WKT for the types the reference exercises
    (Point / MultiPolygon per spec fixtures, plus Polygon). Coordinates are
    parsed with from_json into typed arrays; everything stays JVM-side."""
    gtype = F.get_json_object(geom, "$.type")
    # Point
    point = geojson_point_to_wkt(geom)
    # Polygon: coordinates array<ring>; ring = array<point>
    poly_coords = F.from_json(
        F.get_json_object(geom, "$.coordinates"), "array<array<array<double>>>"
    )
    polygon = F.concat(
        F.lit("POLYGON("),
        F.array_join(F.transform(poly_coords, _ring_to_wkt), ", "),
        F.lit(")"),
    )
    # MultiPolygon: array<polygon>
    mpoly_coords = F.from_json(
        F.get_json_object(geom, "$.coordinates"),
        "array<array<array<array<double>>>>",
    )
    mpolygon = F.concat(
        F.lit("MULTIPOLYGON("),
        F.array_join(
            F.transform(
                mpoly_coords,
                lambda poly: F.concat(
                    F.lit("("),
                    F.array_join(F.transform(poly, _ring_to_wkt), ", "),
                    F.lit(")"),
                ),
            ),
            ", ",
        ),
        F.lit(")"),
    )
    return (
        F.when(gtype == "Point", point)
        .when(gtype == "Polygon", polygon)
        .when(gtype == "MultiPolygon", mpolygon)
    )


def rebuild_the_geom(df: DataFrame) -> DataFrame:
    """Full O11: if ``the_geom`` holds GeoJSON text, convert the column to
    WKT in one vectorized pass (reference: rename to the_geom_orig, row
    loop, drop — importer.rb:262-294)."""
    if "the_geom" not in df.columns:
        return df
    return df.withColumn("the_geom", geojson_to_wkt(F.col("the_geom")))
