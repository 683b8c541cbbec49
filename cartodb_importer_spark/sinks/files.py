"""File export sinks (O28-O31, exporter.rb:43-161): a table out to zipped
CSV, KMZ (doc.kml entry), or zipped SHP — plus the Spark-native
csv/json/parquet directory sinks.

The zip assembly is driver-side (the reference zips too); the single-file
variants coalesce(1), which is correct for export-to-download semantics and
deliberately NOT the 100 TB path (that's the partitioned directory sinks).
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import tempfile
import zipfile

from pyspark.sql import DataFrame

#: Max rows the driver-side export paths (KMZ/SHP zip assembly) will
#: collect. Export-to-download is a bounded workflow by contract; this
#: guard keeps an accidental 100 TB table from OOMing the driver.
EXPORT_ROW_CAP = 1_000_000


def _collect_capped(df: DataFrame) -> list:
    """Collect df for a driver-side export, or raise if it has more than
    EXPORT_ROW_CAP rows. One ``limit(cap + 1)`` collect both fetches the
    rows and tells whether the cap is exceeded: the scan stops after
    cap + 1 rows, so it stays cheap even when the input is huge."""
    rows = df.limit(EXPORT_ROW_CAP + 1).collect()
    if len(rows) > EXPORT_ROW_CAP:
        raise ValueError(
            f"export exceeds the driver-side row cap ({EXPORT_ROW_CAP}); use "
            "the partitioned directory sinks (write_csv_dir/write_parquet_dir) "
            "for large tables"
        )
    return rows


def write_csv_dir(df: DataFrame, path: str, header: bool = True) -> None:
    """Partitioned CSV directory — the scalable export."""
    df.write.mode("overwrite").option("header", header).csv(path)


def write_json_dir(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def write_parquet_dir(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _single_csv(df: DataFrame, directory: str) -> str:
    # escape='"' writes RFC4180 doubled-quote escaping — the dialect Ruby
    # CSV and our own reader speak; Spark's default backslash escaping
    # would round-trip wrong through either.
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        .csv(directory)
    )
    return glob.glob(os.path.join(directory, "part-*.csv"))[0]


def export_csv_zip(df: DataFrame, name: str, out_dir: str) -> str:
    """O28: zipped single CSV, entry named <name>.csv (exporter.rb:53-73)."""
    os.makedirs(out_dir, exist_ok=True)
    zip_path = os.path.join(out_dir, f"{name}.zip")
    with tempfile.TemporaryDirectory() as tmp:
        part = _single_csv(df, os.path.join(tmp, "csv"))
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.write(part, f"{name}.csv")
    return zip_path


#: one WKT number: optional sign, digits with an optional fraction, and an
#: optional signed exponent (Python's repr writes 1e-05)
_WKT_NUM = r"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?"
_COORD = rf"({_WKT_NUM})\s+({_WKT_NUM})"


def _wkt_to_kml(wkt: str | None) -> str:
    if not wkt:
        return ""
    def coords(body: str) -> str:
        return " ".join(
            f"{m.group(1)},{m.group(2)}" for m in re.finditer(_COORD, body)
        )
    if wkt.startswith("POINT"):
        return f"<Point><coordinates>{coords(wkt)}</coordinates></Point>"
    if wkt.startswith("LINESTRING"):
        return (
            f"<LineString><coordinates>{coords(wkt)}</coordinates></LineString>"
        )
    def polygon_kml(rings: list[str]) -> str:
        inner = "".join(
            (
                "<outerBoundaryIs>" if i == 0 else "<innerBoundaryIs>"
            )
            + f"<LinearRing><coordinates>{coords(r)}</coordinates></LinearRing>"
            + ("</outerBoundaryIs>" if i == 0 else "</innerBoundaryIs>")
            for i, r in enumerate(rings)
        )
        return f"<Polygon>{inner}</Polygon>"

    if wkt.startswith("MULTIPOLYGON"):
        polys = re.findall(r"\((\([^()]*\)(?:\s*,\s*\([^()]*\))*)\)", wkt)
        parts = "".join(
            polygon_kml(re.findall(r"\(([^()]+)\)", p)) for p in polys
        )
        return f"<MultiGeometry>{parts}</MultiGeometry>"
    if wkt.startswith("POLYGON"):
        return polygon_kml(re.findall(r"\(([^()]+)\)", wkt))
    return ""


def export_kmz(
    df: DataFrame, name: str, out_dir: str, geom_col: str = "the_geom"
) -> str:
    """O29: KMZ whose single entry is always doc.kml (exporter.rb:82).
    Placemark per row; non-geometry columns become ExtendedData."""
    os.makedirs(out_dir, exist_ok=True)
    attr_cols = [c for c in df.columns if c != geom_col]
    rows = _collect_capped(df)
    placemarks = []
    for r in rows:
        data = "".join(
            f'<Data name="{c}"><value>{"" if r[c] is None else str(r[c])}</value></Data>'
            for c in attr_cols
        )
        geom = _wkt_to_kml(r[geom_col]) if geom_col in df.columns else ""
        placemarks.append(
            f"<Placemark><ExtendedData>{data}</ExtendedData>{geom}</Placemark>"
        )
    kml = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
        + "".join(placemarks)
        + "</Document></kml>"
    )
    kmz_path = os.path.join(out_dir, f"{name}.kmz")
    with zipfile.ZipFile(kmz_path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("doc.kml", kml)
    return kmz_path


def _parse_wkt_parts(wkt: str | None):
    """WKT -> ('point'|'line'|'polygon', [part -> [(x, y), ...]]) or None.
    Covers POINT, LINESTRING, MULTILINESTRING, POLYGON (holes = parts) —
    the geometry kinds readers/shp.py emits."""
    if not wkt:
        return None

    def pts(body: str):
        return [
            (float(m.group(1)), float(m.group(2)))
            for m in re.finditer(_COORD, body)
        ]

    w = wkt.strip()
    if w.startswith("POINT"):
        p = pts(w)
        return ("point", [p]) if p else None
    if w.startswith("MULTILINESTRING"):
        parts = [pts(b) for b in re.findall(r"\(([^()]+)\)", w)]
        return ("line", [p for p in parts if p]) or None
    if w.startswith("LINESTRING"):
        p = pts(w)
        return ("line", [p]) if p else None
    if w.startswith("POLYGON") or w.startswith("MULTIPOLYGON"):
        # A shapefile polygon record is a flat ring list; MULTIPOLYGON
        # membership is carried purely by ring winding, so flattening the
        # innermost paren groups is the exact inverse of the reader's
        # _polygon_wkt assembly.
        parts = [pts(b) for b in re.findall(r"\(([^()]+)\)", w)]
        return ("polygon", [p for p in parts if p]) or None
    return None


_SHP_TYPE = {"point": 1, "line": 3, "polygon": 5}


def _shp_record(kind: str, parts) -> bytes:
    """One .shp record body for a parsed geometry (ESRI shapefile spec:
    point = type+x+y; polyline/polygon = type+bbox+counts+part index+points)."""
    import struct

    if kind == "point":
        (x, y) = parts[0][0]
        return struct.pack("<idd", 1, x, y)
    allpts = [p for part in parts for p in part]
    xs = [p[0] for p in allpts]
    ys = [p[1] for p in allpts]
    out = [
        struct.pack(
            "<i4dii",
            _SHP_TYPE[kind], min(xs), min(ys), max(xs), max(ys),
            len(parts), len(allpts),
        )
    ]
    start = 0
    for part in parts:
        out.append(struct.pack("<i", start))
        start += len(part)
    for x, y in allpts:
        out.append(struct.pack("<dd", x, y))
    return b"".join(out)


def export_shp_zip(
    df: DataFrame, name: str, out_dir: str, geom_col: str = "the_geom"
) -> str:
    """O30/O31: zipped shapefile set (.shp/.shx/.dbf/.prj), each member
    best-effort like the reference (exporter.rb:104-152). Point, polyline
    (LINESTRING/MULTILINESTRING), and polygon (holes as parts) geometries;
    a shapefile holds ONE shape type (spec), so the file's type comes from
    the first non-null geometry and rows of any other kind export as null
    shapes. Attributes all exported as C fields."""
    import struct

    from ..readers.dbf import write_dbf

    os.makedirs(out_dir, exist_ok=True)
    attr_cols = [c for c in df.columns if c != geom_col]
    rows = _collect_capped(df)

    geoms = [
        _parse_wkt_parts(r[geom_col] if geom_col in df.columns else None)
        for r in rows
    ]
    file_kind = next((g[0] for g in geoms if g), "point")

    with tempfile.TemporaryDirectory() as tmp:
        base = os.path.join(tmp, name)
        # --- .shp + .shx (null shape type 0 for missing/mismatched kinds)
        recs = []
        for g in geoms:
            if g is None or g[0] != file_kind:
                recs.append(struct.pack("<i", 0))
            else:
                recs.append(_shp_record(*g))
        content_len = sum(8 + len(r) for r in recs)
        allpts = [
            p for g in geoms if g and g[0] == file_kind
            for part in g[1] for p in part
        ]
        xs = [p[0] for p in allpts] or [0.0]
        ys = [p[1] for p in allpts] or [0.0]
        header = struct.pack(
            ">i5ii", 9994, 0, 0, 0, 0, 0, (100 + content_len) // 2
        ) + struct.pack("<ii4d4d", 1000, _SHP_TYPE[file_kind], min(xs), min(ys),
                        max(xs), max(ys), 0.0, 0.0, 0.0, 0.0)
        with open(base + ".shp", "wb") as f:
            f.write(header)
            for i, rec in enumerate(recs):
                f.write(struct.pack(">ii", i + 1, len(rec) // 2))
                f.write(rec)
        with open(base + ".shx", "wb") as f:
            f.write(
                struct.pack(">i5ii", 9994, 0, 0, 0, 0, 0, (100 + 8 * len(recs)) // 2)
                + struct.pack("<ii4d4d", 1000, _SHP_TYPE[file_kind], min(xs),
                              min(ys), max(xs), max(ys), 0.0, 0.0, 0.0, 0.0)
            )
            offset = 50
            for rec in recs:
                f.write(struct.pack(">ii", offset, len(rec) // 2))
                offset += 4 + len(rec) // 2
        # --- .dbf (all attributes as C(254) strings, reference-style
        # lowest-common-denominator export)
        specs = [("C", 254, 0)] * len(attr_cols)
        records = [
            ["" if r[c] is None else str(r[c]) for c in attr_cols] for r in rows
        ]
        with open(base + ".dbf", "wb") as f:
            write_dbf(f, attr_cols, specs, records)
        # --- .prj (EPSG:4326)
        with open(base + ".prj", "w") as f:
            f.write(
                'GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
                'SPHEROID["WGS_1984",6378137,298.257223563]],'
                'PRIMEM["Greenwich",0],UNIT["Degree",0.017453292519943295]]'
            )
        zip_path = os.path.join(out_dir, f"{name}.zip")
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for ext in (".shp", ".shx", ".dbf", ".prj", ".sbn"):
                member = base + ext
                if os.path.exists(member):  # best-effort per member
                    zf.write(member, name + ext)
    return zip_path
