"""Seeded input generators for the three benchmark workloads.

Every upload format is encoded here with the standard library (csv, gzip,
zipfile, struct, xml text), never with the engine's own writers, so an
exporter bug cannot leak into the importer's inputs. The parquet
tables of ``query_sweep`` are drawn with numpy and written with pyarrow,
with the schema, physical types, row counts and value distributions of the
engine's sf0.01 test tables; their seed is fixed, so that workload does not
change with ``--seed``.

Each generated set has a ``manifest.json`` (one entry per file: path, format,
rows, rows with non-null geometry, bytes) and is cached per (workload, seed)
behind a ``.complete`` marker written last.
"""

from __future__ import annotations

import csv
import gzip
import io
import json
import os
import random
import shutil
import struct
import zipfile

#: one upload of each format per backlog pass, with its nominal row count
#: (the seed jitters each by at most 2%, so the latency mix stays the same)
UPLOAD_ROWS = {
    "csv": 5000,
    "csv_gz": 3000,
    "csv_zip": 4000,
    "xlsx": 1200,
    "geojson": 2000,
    "kml": 800,
    "gpx": 2500,
    "shp_zip": 520,
}
UPLOAD_SUFFIX = {
    "csv": ".csv",
    "csv_gz": ".csv.gz",
    "csv_zip": ".zip",
    "xlsx": ".xlsx",
    "geojson": ".geojson",
    "kml": ".kml",
    "gpx": ".gpx",
    "shp_zip": ".zip",
}
#: one row in BAD_EVERY has an out-of-range latitude (lat/lon formats) or
#: no geometry (GeoJSON, KML, SHP); GPX track points always carry one
BAD_EVERY = 20

SWEEP_SEED = 42

CATEGORIES = ["park", "school", "shop", "clinic", "station", "library", "cafe"]


def _done(d: str) -> bool:
    return os.path.exists(os.path.join(d, ".complete"))


def _finish(d: str, entries: list[dict]) -> list[dict]:
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump(entries, f, indent=1)
    with open(os.path.join(d, ".complete"), "w") as f:
        f.write("ok\n")
    return entries


def load_manifest(d: str) -> list[dict]:
    with open(os.path.join(d, "manifest.json")) as f:
        return json.load(f)


def _fresh(d: str) -> None:
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)


# ---------------------------------------------------------------- uploads
#: smallest coordinate magnitude drawn. Smaller ones are left out: the
#: engine's lat/lon georeference casts the double to a string, Spark writes
#: |x| < 1e-3 as e.g. "5.0E-4", and the range regexes then reject a valid
#: point (its the_geom is NULL). A benchmark run must not fail, so that
#: defect is named here and in README.md rather than measured.
MIN_DEGREES = 1e-3
#: one valid row in NEAR_ZERO_EVERY has a coordinate within 0.01 of the
#: equator or the prime meridian, just above MIN_DEGREES
NEAR_ZERO_EVERY = 25


def _coord(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.choice((-1, 1)) * rng.uniform(lo, hi), 6)


def upload_records(rng: random.Random, n: int) -> list[dict]:
    """Attribute rows shared by every upload format. ``bad`` rows carry an
    out-of-range latitude (lat/lon formats) or no geometry (others)."""
    bad = set(rng.sample(range(n), n // BAD_EVERY))
    out = []
    for i in range(n):
        lat = _coord(rng, MIN_DEGREES, 89.999)
        lon = _coord(rng, MIN_DEGREES, 179.999)
        if i in bad:
            lat = _coord(rng, 95.0, 120.0)
        elif i % NEAR_ZERO_EVERY == 0:
            if i % (2 * NEAR_ZERO_EVERY):
                lat = _coord(rng, MIN_DEGREES, 0.01)
            else:
                lon = _coord(rng, MIN_DEGREES, 0.01)
        out.append({
            "id": i + 1,
            "name": f"site {rng.randrange(10**6):06d}",
            "category": rng.choice(CATEGORIES),
            "value": round(rng.uniform(1.0, 5000.0), 3),
            "visits": rng.randrange(0, 10_000),
            "latitude": lat,
            "longitude": lon,
            "bad": i in bad,
        })
    return out


ATTRS = ["id", "name", "category", "value", "visits"]


def _zip(members: dict) -> bytes:
    """A deflated zip of name -> text or bytes. Every member has the same
    fixed timestamp, so the archive's bytes depend only on its content."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members.items():
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(info, data, compress_type=zipfile.ZIP_DEFLATED)
    return buf.getvalue()


def _csv_text(recs: list[dict]) -> str:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(ATTRS + ["latitude", "longitude"])
    for r in recs:
        w.writerow([r["id"], r["name"], r["category"], f"{r['value']:.3f}",
                    r["visits"], f"{r['latitude']:.6f}",
                    f"{r['longitude']:.6f}"])
    return buf.getvalue()


def _xlsx_bytes(recs: list[dict]) -> bytes:
    def col(i: int) -> str:
        return "ABCDEFGHIJ"[i]

    def cell(ref: str, v) -> str:
        if isinstance(v, str):
            return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'
        return f'<c r="{ref}"><v>{v}</v></c>'

    header = ATTRS + ["latitude", "longitude"]
    rows = [
        f'<row r="1">' + "".join(cell(f"{col(j)}1", h)
                                 for j, h in enumerate(header)) + "</row>"
    ]
    for i, r in enumerate(recs, start=2):
        vals = [r["id"], r["name"], r["category"], f"{r['value']:.3f}",
                r["visits"], f"{r['latitude']:.6f}", f"{r['longitude']:.6f}"]
        rows.append(
            f'<row r="{i}">'
            + "".join(cell(f"{col(j)}{i}", v) for j, v in enumerate(vals))
            + "</row>"
        )
    main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg = "http://schemas.openxmlformats.org/package/2006/relationships"
    parts = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://'
            'schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxml'
            'formats-package.relationships+xml"/><Default Extension="xml" '
            'ContentType="application/xml"/><Override PartName="/xl/'
            'workbook.xml" ContentType="application/vnd.openxmlformats-'
            'officedocument.spreadsheetml.sheet.main+xml"/><Override '
            'PartName="/xl/worksheets/sheet1.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>"
        ),
        "_rels/.rels": (
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="'
            f'{pkg}"><Relationship Id="rId1" Type="{rel}/officeDocument" '
            'Target="xl/workbook.xml"/></Relationships>'
        ),
        "xl/workbook.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{main}" '
            f'xmlns:r="{rel}"><sheets><sheet name="data" sheetId="1" '
            'r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="'
            f'{pkg}"><Relationship Id="rId1" Type="{rel}/worksheet" '
            'Target="worksheets/sheet1.xml"/></Relationships>'
        ),
        "xl/worksheets/sheet1.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="{main}">'
            "<sheetData>" + "".join(rows) + "</sheetData></worksheet>"
        ),
    }
    return _zip(parts)


def _geojson_text(recs: list[dict]) -> str:
    feats = []
    for r in recs:
        geom = None if r["bad"] else {
            "type": "Point", "coordinates": [r["longitude"], r["latitude"]]
        }
        feats.append({
            "type": "Feature",
            "properties": {k: r[k] for k in ATTRS},
            "geometry": geom,
        })
    return json.dumps({"type": "FeatureCollection", "features": feats})


def _kml_text(recs: list[dict]) -> str:
    pms = []
    for r in recs:
        data = "".join(
            f'<Data name="{k}"><value>{r[k]}</value></Data>'
            for k in ("category", "value", "visits")
        )
        geom = "" if r["bad"] else (
            f"<Point><coordinates>{r['longitude']},{r['latitude']}"
            "</coordinates></Point>"
        )
        pms.append(
            f"<Placemark><name>{r['name']}</name><description>site "
            f"{r['id']}</description><ExtendedData>{data}</ExtendedData>"
            f"{geom}</Placemark>"
        )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
        + "".join(pms) + "</Document></kml>"
    )


def _gpx_text(recs: list[dict]) -> str:
    pts = []
    for i, r in enumerate(recs):
        # track points stay on the map: a bad row's latitude folds back
        lat = abs(r["latitude"]) - 90.0 if r["bad"] else r["latitude"]
        pts.append(
            f'<trkpt lat="{lat:.6f}" lon="{r["longitude"]}"><ele>'
            f'{r["visits"] % 3000}</ele><time>2024-01-01T{i // 3600 % 24:02d}'
            f':{i // 60 % 60:02d}:{i % 60:02d}Z</time></trkpt>'
        )
    return (
        '<?xml version="1.0"?><gpx xmlns="http://www.topografix.com/GPX/1/1"'
        ' version="1.1"><trk><name>track</name><trkseg>'
        + "".join(pts) + "</trkseg></trk></gpx>"
    )


def _dbf_bytes(recs: list[dict]) -> bytes:
    fields = [("ID", "N", 10, 0), ("NAME", "C", 20, 0),
              ("CATEGORY", "C", 12, 0), ("VALUE", "N", 12, 3),
              ("VISITS", "N", 8, 0)]
    reclen = 1 + sum(f[2] for f in fields)
    hlen = 32 + 32 * len(fields) + 1
    out = [struct.pack("<B3BLHH20x", 3, 124, 1, 1, len(recs), hlen, reclen)]
    for name, typ, size, deci in fields:
        out.append(struct.pack("<11sc4xBB14x", name.encode(), typ.encode(),
                               size, deci))
    out.append(b"\r")
    for r in recs:
        vals = [str(r["id"]).rjust(10), r["name"].ljust(20)[:20],
                r["category"].ljust(12)[:12], f"{r['value']:.3f}".rjust(12),
                str(r["visits"]).rjust(8)]
        out.append(b" " + "".join(vals).encode("latin-1"))
    out.append(b"\x1a")
    return b"".join(out)


def _shp_zip_bytes(recs: list[dict], stem: str) -> bytes:
    """Point shapefile (.shp/.shx/.dbf/.prj) zipped; bad rows are null
    shapes (type 0)."""
    body, index, offset = [], [], 50
    xs = [r["longitude"] for r in recs if not r["bad"]]
    ys = [r["latitude"] for r in recs if not r["bad"]]
    for i, r in enumerate(recs, start=1):
        content = (struct.pack("<i", 0) if r["bad"] else
                   struct.pack("<i2d", 1, r["longitude"], r["latitude"]))
        body.append(struct.pack(">2i", i, len(content) // 2) + content)
        index.append(struct.pack(">2i", offset, len(content) // 2))
        offset += 4 + len(content) // 2
    bbox = struct.pack("<4d4d", min(xs), min(ys), max(xs), max(ys), 0, 0, 0, 0)

    def header(total_bytes: int) -> bytes:
        return (struct.pack(">7i", 9994, 0, 0, 0, 0, 0, total_bytes // 2)
                + struct.pack("<2i", 1000, 1) + bbox)

    shp = b"".join(body)
    shx = b"".join(index)
    prj = ('GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",'
           '6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["Degree",'
           '0.017453292519943295]]')
    return _zip({f"{stem}.shp": header(100 + len(shp)) + shp,
                 f"{stem}.shx": header(100 + len(shx)) + shx,
                 f"{stem}.dbf": _dbf_bytes(recs),
                 f"{stem}.prj": prj})


def _encode(fmt: str, recs: list[dict], stem: str) -> bytes:
    if fmt == "csv":
        return _csv_text(recs).encode()
    if fmt == "csv_gz":
        return gzip.compress(_csv_text(recs).encode(), mtime=0)
    if fmt == "csv_zip":
        return _zip({f"{stem}.csv": _csv_text(recs)})
    if fmt == "xlsx":
        return _xlsx_bytes(recs)
    if fmt == "geojson":
        return _geojson_text(recs).encode()
    if fmt == "kml":
        return _kml_text(recs).encode()
    if fmt == "gpx":
        return _gpx_text(recs).encode()
    if fmt == "shp_zip":
        return _shp_zip_bytes(recs, stem)
    raise ValueError(fmt)


def upload_backlog(out: str, seed: int) -> list[dict]:
    """One file per upload format, in a seeded order."""
    if _done(out):
        return load_manifest(out)
    _fresh(out)
    rng = random.Random(seed)
    fmts = list(UPLOAD_ROWS)
    rng.shuffle(fmts)
    entries = []
    for k, fmt in enumerate(fmts):
        n = UPLOAD_ROWS[fmt]
        n += rng.randint(-n // 50, n // 50)
        recs = upload_records(rng, n)
        stem = f"upload_{k}_{fmt}"
        data = _encode(fmt, recs, stem)
        path = os.path.join(out, stem + UPLOAD_SUFFIX[fmt])
        with open(path, "wb") as f:
            f.write(data)
        nonnull = n if fmt == "gpx" else sum(not r["bad"] for r in recs)
        entries.append({"path": path, "format": fmt, "rows": n,
                        "nonnull_geom": nonnull, "bytes": len(data)})
    return _finish(out, entries)


# ------------------------------------------------------- star-schema tables
NEAR_DUP_EVERY = 20
WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector join customer the").split()


def sweep_tables(out: str, sf: float) -> str:
    """TPC-H-ish star schema plus events/documents/embeddings at scale
    factor ``sf`` (lineitem 6M x sf rows), one single-row-group parquet per
    table."""
    if _done(out):
        return out
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    _fresh(out)
    g = np.random.default_rng(SWEEP_SEED)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                       row_group_size=1 << 30)

    def days(n, start, end):
        lo = np.datetime64(start, "D")
        span = (np.datetime64(end, "D") - lo).astype(int)
        return (lo + g.integers(0, span + 1, n)).astype("datetime64[us]")

    def pick(options, n):
        return np.array(options, dtype=object)[g.integers(0, len(options), n)]

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())})
    nc, ns, npart, no = (int(n * sf) for n in (150_000, 10_000, 200_000,
                                                 1_500_000))
    put("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": g.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(g.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], nc),
    })
    put("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": g.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(g.uniform(-999.99, 9999.99, ns), 2),
    })
    adj = ["small", "hot", "red", "blue", "large", "old", "cold", "new"]
    noun = ["widget", "gear", "plate", "bolt", "ring", "rod", "gizmo", "anvil"]
    put("part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(g.integers(0, 8, npart), g.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, npart)],
        "p_type": pick(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                        "PROMO"], npart),
        "p_size": g.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    put("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": g.integers(0, nc, no),
        "o_orderstatus": pick(["F", "O", "P"], no),
        "o_totalprice": np.round(g.uniform(1000, 500_000, no), 2),
        "o_orderdate": days(no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], no),
    })
    nl = int(6_000_000 * sf)
    put("lineitem", {
        "l_orderkey": g.integers(0, no, nl),
        "l_partkey": g.integers(0, npart, nl),
        "l_suppkey": g.integers(0, ns, nl),
        "l_linenumber": g.integers(1, 8, nl).astype(np.int32),
        "l_quantity": g.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(g.uniform(900, 105_000, nl), 2),
        "l_discount": g.integers(0, 11, nl) / 100.0,
        "l_tax": g.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], nl),
        "l_linestatus": pick(["O", "F"], nl),
        "l_shipdate": days(nl, "1995-01-02", "2001-11-04"),
    })
    ne, users = int(1_000_000 * sf), int(15_000 * sf)
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + g.integers(0, 30 * 86_400 * 10**6, ne).astype(
                     "timedelta64[us]"))
    put("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts,
        "user_id": g.integers(0, users, ne),
        "event_type": pick(["signup", "click", "error", "view", "purchase"],
                           ne),
        "value": np.maximum(np.round(g.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, ne)],
    })
    nd = int(50_000 * sf)
    lens = g.integers(10, 101, nd)
    texts = [" ".join(WORDS[w] for w in g.integers(0, len(WORDS), n))
             for n in lens]
    # one document in NEAR_DUP_EVERY is another one with " dup" appended,
    # the near-duplicates llm_near_dedup is there to find
    for i, src in zip(g.choice(nd, nd // NEAR_DUP_EVERY, replace=False),
                      g.integers(0, nd, nd // NEAR_DUP_EVERY)):
        texts[i] = texts[src] + " dup"
    put("documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], nd),
        "source": [f"src{s}" for s in g.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # unit vectors in random directions; the label is independent of them
    nv, dim = max(500, int(20_000 * sf)), 64
    labels = g.integers(0, 10, nv)
    vecs = g.normal(0, 1, (nv, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    _finish(out, [])
    return out
