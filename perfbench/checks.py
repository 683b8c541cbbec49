"""Output checks. Every failed check counts as a failed operation.

Export archives are read back with the standard library only, and query
results are compared with the registry's DuckDB oracle, so no check runs
through the engine code it is checking.
"""

from __future__ import annotations

import csv
import io
import re
import struct
import xml.etree.ElementTree as ET
import zipfile

_GEOREF = re.compile(r"georef metrics: (\d+) of (\d+) rows have null geometry")


def null_geometry(log: list[str]) -> tuple[int, int] | None:
    """(null the_geom rows, rows) from an ImportResult's Observation line."""
    for line in log:
        m = _GEOREF.search(line)
        if m:
            return int(m.group(1)), int(m.group(2))
    return None


def check_import(result, entry: dict) -> str | None:
    """None when the import published the manifest's rows and non-null
    geometry count, else the reason it did not."""
    if result.rows_imported != entry["rows"]:
        return f"rows {result.rows_imported} != {entry['rows']}"
    geo = null_geometry(result.log)
    if geo is None:
        return "no georef metrics in the import log"
    nulls, rows = geo
    if rows - nulls != entry["nonnull_geom"]:
        return f"non-null geometry {rows - nulls} != {entry['nonnull_geom']}"
    return None


def archive_rows(path: str, kind: str) -> int:
    """Row count of an exported archive: CSV records, KML placemarks, or
    the DBF record count of a shapefile set."""
    with zipfile.ZipFile(path) as zf:
        names = zf.namelist()
        if kind == "csv":
            (member,) = [n for n in names if n.endswith(".csv")]
            with zf.open(member) as f:
                rows = csv.reader(io.TextIOWrapper(f, "utf-8", newline=""))
                return sum(1 for _ in rows) - 1
        if kind == "kml":
            root = ET.fromstring(zf.read("doc.kml"))
            return sum(1 for el in root.iter() if el.tag.endswith("Placemark"))
        if kind == "shp":
            (member,) = [n for n in names if n.endswith(".dbf")]
            (n,) = struct.unpack("<4xL", zf.read(member)[:8])
            return n
    raise ValueError(f"unknown export kind {kind!r}")


# ------------------------------------------------------------ oracles
def canon(df):
    """Columns sorted by name, floats rounded, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif df[c].dtype.kind == "M":
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True)


def compare_frames(spark_df, oracle_df) -> str | None:
    """None when both frames hold the same rows (order-insensitive)."""
    import pandas as pd

    a, b = canon(spark_df), canon(oracle_df)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                      check_exact=False, rtol=1e-6, atol=1e-9)
    except AssertionError as e:
        return "values differ: " + str(e).splitlines()[-1]
    return None
