"""ESRI shapefile ingestion without external GIS dependencies.

Parity: ``Shp2pgsqlOperator`` (reference ``operators/shp2pgsql.py:11-27``)
pipes ``shp2pgsql -d shapefile table | psql`` to load a shapefile into a
PostGIS table, dropping it first. Here a minimal pure-Python parser reads
the ``.shp`` geometry file and its ``.dbf`` attribute table and produces a
DataFrame with the geometry as a WKT string column plus typed attributes —
the engine's geometry representation (SURVEY.md §1.5: WKT/WKB strings, no
PostGIS type system). ``mode("overwrite")`` reproduces ``-d``.

Supported shape types: Null(0), Point(1), PolyLine(3), Polygon(5),
MultiPoint(8), every Z variant (11/13/15/18), every M variant
(21/23/25/28), and MultiPatch(31, flattened to MULTIPOLYGON Z) — the
full set shp2pgsql accepts (reference ``operators/shp2pgsql.py:13-27``). Z coordinates surface as ``POINT Z
(x y z)``-style WKT; measure values as ``POINT M``/``POINT ZM``. A
measure array whose values are all shapefile "no data" (< -1e38) is
dropped, matching shp2pgsql's treatment of absent measures.

Scale note: one shapefile parses driver-side (the reference's shp2pgsql is
also a single process). A directory of many shapefiles would distribute by
file via ``spark.read.format("binaryFile")`` + this parser inside
``mapInPandas``; the format itself (single contiguous .shp) is not
splittable.
"""

from __future__ import annotations

import struct
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from data_preparation_plugin_spark.operators.base import BaseOperator, _quote


#: Shapefile "no data" threshold: any measure below this is absent (spec).
_NODATA = -1e38

#: shape type -> (geometry kind, dimension suffix). Z types may carry an
#: optional trailing M block (making them ZM); M types always carry M.
_SHAPE_KINDS = {
    1: ("point", ""), 3: ("line", ""), 5: ("poly", ""), 8: ("mpoint", ""),
    11: ("point", "Z"), 13: ("line", "Z"), 15: ("poly", "Z"),
    18: ("mpoint", "Z"),
    21: ("point", "M"), 23: ("line", "M"), 25: ("poly", "M"),
    28: ("mpoint", "M"),
}


def _coords_wkt(points: list[tuple[float, ...]]) -> str:
    return (
        "("
        + ", ".join(" ".join(f"{c:g}" for c in p) for p in points)
        + ")"
    )


def _tag(base: str, dim: str) -> str:
    return f"{base} {dim} " if dim else f"{base} "


def _zip_dims(
    pairs: list[tuple[float, float]],
    zs: list[float] | None,
    ms: list[float] | None,
) -> tuple[list[tuple[float, ...]], str]:
    """Attach Z/M arrays to xy pairs -> (tuples, WKT dimension suffix).

    An M array whose every value is shapefile no-data is dropped (the
    writer had no measures), matching shp2pgsql.
    """
    if ms is not None and all(m < _NODATA for m in ms):
        ms = None
    if zs is not None and ms is not None:
        return [(*p, z, m) for p, z, m in zip(pairs, zs, ms)], "ZM"
    if zs is not None:
        return [(*p, z) for p, z in zip(pairs, zs)], "Z"
    if ms is not None:
        return [(*p, m) for p, m in zip(pairs, ms)], "M"
    return [tuple(p) for p in pairs], ""


def _read_doubles(body: bytes, offset: int, n: int) -> list[float]:
    return list(struct.unpack(f"<{n}d", body[offset : offset + 8 * n]))


#: MultiPatch part types (ESRI spec): triangle surfaces become one polygon
#: per triangle; ring types group into polygons (outer/first ring opens a
#: polygon, inner/ring parts attach as holes of the open polygon).
_PATCH_TRIANGLE_STRIP = 0
_PATCH_TRIANGLE_FAN = 1
_PATCH_OUTER_RING = 2
_PATCH_INNER_RING = 3
_PATCH_FIRST_RING = 4
_PATCH_RING = 5


def _parse_multipatch(body: bytes) -> str:
    """MultiPatch (type 31) -> ``MULTIPOLYGON Z`` WKT.

    The reference's ``shp2pgsql`` accepts every shape type including
    MultiPatch (reference ``operators/shp2pgsql.py:13-27``); GIS tooling
    conventionally flattens the surface description to its constituent
    polygons: each triangle of a strip/fan is one triangle polygon, and
    ring parts regroup as (outer + following inner) polygons. Rings
    arrive closed per the spec; triangles are closed here explicitly.
    """
    n_parts, n_points = struct.unpack("<ii", body[36:44])
    cursor = 44
    parts = struct.unpack(f"<{n_parts}i", body[cursor : cursor + 4 * n_parts])
    cursor += 4 * n_parts
    part_types = struct.unpack(
        f"<{n_parts}i", body[cursor : cursor + 4 * n_parts]
    )
    cursor += 4 * n_parts
    flat = _read_doubles(body, cursor, 2 * n_points)
    pairs = list(zip(flat[::2], flat[1::2]))
    cursor += 16 * n_points
    zs = _read_doubles(body, cursor + 16, n_points)  # skip z-range
    pts = [(*p, z) for p, z in zip(pairs, zs)]
    bounds = list(parts) + [n_points]
    polygons: list[list[list[tuple[float, ...]]]] = []
    for i in range(n_parts):
        part = pts[bounds[i] : bounds[i + 1]]
        ptype = part_types[i]
        if ptype in (_PATCH_TRIANGLE_STRIP, _PATCH_TRIANGLE_FAN):
            for t in range(len(part) - 2):
                a = part[0] if ptype == _PATCH_TRIANGLE_FAN else part[t]
                tri = [a, part[t + 1], part[t + 2], a]
                polygons.append([tri])
        elif ptype in (_PATCH_OUTER_RING, _PATCH_FIRST_RING):
            polygons.append([part])
        elif ptype in (_PATCH_INNER_RING, _PATCH_RING):
            if polygons:
                polygons[-1].append(part)
            else:  # dangling ring: stands alone, like shp2pgsql
                polygons.append([part])
        else:
            raise NotImplementedError(f"MultiPatch part type {ptype}")
    return (
        "MULTIPOLYGON Z ("
        + ", ".join(
            "(" + ", ".join(_coords_wkt(ring) for ring in rings) + ")"
            for rings in polygons
        )
        + ")"
    )


def _parse_shp(data: bytes) -> list[str | None]:
    """Parse a .shp file body into WKT strings (None for null shapes)."""
    geoms: list[str | None] = []
    # Main header is 100 bytes: file code, length (big-endian), then
    # version/type/bbox (little-endian).
    offset = 100
    total = len(data)
    while offset + 8 <= total:
        (_, content_words) = struct.unpack(">ii", data[offset : offset + 8])
        offset += 8
        body = data[offset : offset + content_words * 2]
        offset += content_words * 2
        shape_type = struct.unpack("<i", body[:4])[0]
        if shape_type == 0:
            geoms.append(None)
            continue
        if shape_type == 31:
            geoms.append(_parse_multipatch(body))
            continue
        if shape_type not in _SHAPE_KINDS:
            raise NotImplementedError(f"shapefile shape type {shape_type}")
        kind, dim = _SHAPE_KINDS[shape_type]
        if kind == "point":
            x, y = struct.unpack("<dd", body[4:20])
            zs = ms = None
            if dim == "Z":
                zs = [struct.unpack("<d", body[20:28])[0]]
                if len(body) >= 36:  # optional trailing measure
                    ms = [struct.unpack("<d", body[28:36])[0]]
            elif dim == "M":
                ms = [struct.unpack("<d", body[20:28])[0]]
            pts, suffix = _zip_dims([(x, y)], zs, ms)
            geoms.append(_tag("POINT", suffix) + _coords_wkt(pts))
        elif kind == "mpoint":
            (n,) = struct.unpack("<i", body[36:40])
            flat = _read_doubles(body, 40, 2 * n)
            pairs = list(zip(flat[::2], flat[1::2]))
            cursor = 40 + 16 * n
            zs = ms = None
            if dim == "Z":
                zs = _read_doubles(body, cursor + 16, n)  # skip z-range
                cursor += 16 + 8 * n
            if dim == "M" or (dim == "Z" and len(body) >= cursor + 16 + 8 * n):
                ms = _read_doubles(body, cursor + 16, n)  # skip m-range
            pts, suffix = _zip_dims(pairs, zs, ms)
            geoms.append(_tag("MULTIPOINT", suffix) + _coords_wkt(pts))
        else:  # line / poly
            n_parts, n_points = struct.unpack("<ii", body[36:44])
            parts = struct.unpack(f"<{n_parts}i", body[44 : 44 + 4 * n_parts])
            cursor = 44 + 4 * n_parts
            flat = _read_doubles(body, cursor, 2 * n_points)
            pairs = list(zip(flat[::2], flat[1::2]))
            cursor += 16 * n_points
            zs = ms = None
            if dim == "Z":
                zs = _read_doubles(body, cursor + 16, n_points)
                cursor += 16 + 8 * n_points
            if dim == "M" or (
                dim == "Z" and len(body) >= cursor + 16 + 8 * n_points
            ):
                ms = _read_doubles(body, cursor + 16, n_points)
            pts, suffix = _zip_dims(pairs, zs, ms)
            bounds = list(parts) + [n_points]
            rings = [pts[bounds[i] : bounds[i + 1]] for i in range(n_parts)]
            if kind == "line":
                if len(rings) == 1:
                    geoms.append(
                        _tag("LINESTRING", suffix) + _coords_wkt(rings[0])
                    )
                else:
                    geoms.append(
                        _tag("MULTILINESTRING", suffix)
                        + "("
                        + ", ".join(_coords_wkt(r) for r in rings)
                        + ")"
                    )
            else:
                geoms.append(
                    _tag("POLYGON", suffix)
                    + "("
                    + ", ".join(_coords_wkt(r) for r in rings)
                    + ")"
                )
    return geoms


def _parse_dbf(data: bytes) -> tuple[list[tuple[str, str]], list[list]]:
    """Parse a .dbf attribute table -> (fields [(name, type)], records)."""
    n_records = struct.unpack("<i", data[4:8])[0]
    header_size, record_size = struct.unpack("<hh", data[8:12])
    fields: list[tuple[str, str, int, int]] = []
    pos = 32
    while data[pos] != 0x0D:
        desc = data[pos : pos + 32]
        name = desc[:11].split(b"\x00")[0].decode("ascii")
        ftype = chr(desc[11])
        length = desc[16]
        decimals = desc[17]
        fields.append((name, ftype, length, decimals))
        pos += 32
    records: list[list] = []
    for i in range(n_records):
        start = header_size + i * record_size
        row_bytes = data[start : start + record_size]
        if not row_bytes or row_bytes[0:1] == b"*":  # deleted record
            continue
        row: list = []
        cursor = 1
        for _, ftype, length, decimals in fields:
            raw = row_bytes[cursor : cursor + length].decode(
                "latin-1"
            ).strip()
            cursor += length
            if ftype in ("N", "F"):
                if raw == "":
                    row.append(None)
                elif ftype == "N" and decimals == 0:
                    row.append(int(raw))
                else:
                    row.append(float(raw))
            elif ftype == "L":
                row.append(raw in ("Y", "y", "T", "t") if raw else None)
            else:
                row.append(raw or None)
        records.append(row)
    schema = [
        (
            name,
            "bigint"
            if ftype == "N" and dec == 0
            else "double"
            if ftype in ("N", "F")
            else "boolean"
            if ftype == "L"
            else "string",
        )
        for name, ftype, _, dec in fields
    ]
    return schema, records


def write_point_shapefile(
    path_base: Path,
    points: list[tuple[float, float]],
    attrs: list[tuple[int, str]],
) -> None:
    """Craft a minimal ``.shp``/``.dbf`` pair: point shapes + (N, C) fields.

    The writing half of the format round trip — used by tests and by the
    ``source_shapefile_ingest`` driver query to synthesize a real binary
    shapefile that :func:`read_shapefile` then parses back. Fields are
    ``id`` (numeric, width 8) and ``name`` (character, width 10), matching
    the shapes shp2pgsql meets in attribute tables.
    """
    records = b""
    for i, (x, y) in enumerate(points, start=1):
        content = struct.pack("<i", 1) + struct.pack("<dd", x, y)
        records += struct.pack(">ii", i, len(content) // 2) + content
    file_len_words = (100 + len(records)) // 2
    header = struct.pack(">iiiiiii", 9994, 0, 0, 0, 0, 0, file_len_words)
    header += struct.pack("<ii", 1000, 1)
    header += struct.pack("<8d", 0, 0, 0, 0, 0, 0, 0, 0)
    path_base.with_suffix(".shp").write_bytes(header + records)

    fields = [("id", "N", 8, 0), ("name", "C", 10, 0)]
    descs = b""
    for name, ftype, length, dec in fields:
        descs += (
            name.encode().ljust(11, b"\x00")
            + ftype.encode()
            + b"\x00" * 4
            + bytes([length, dec])
            + b"\x00" * 14
        )
    record_size = 1 + sum(f[2] for f in fields)
    header_size = 32 + len(descs) + 1
    dbf_header = (
        bytes([3, 124, 1, 1])
        + struct.pack("<i", len(attrs))
        + struct.pack("<hh", header_size, record_size)
        + b"\x00" * 20
    )
    body = b""
    for rid, name in attrs:
        body += b" " + str(rid).rjust(8).encode() + name.ljust(10).encode()
    path_base.with_suffix(".dbf").write_bytes(
        dbf_header + descs + b"\x0d" + body + b"\x1a"
    )


def read_shapefile(spark: SparkSession, shapefile: str) -> DataFrame:
    """Read ``.shp`` + sibling ``.dbf`` into a DataFrame(geometry WKT, attrs)."""
    shp_path = Path(shapefile)
    dbf_path = shp_path.with_suffix(".dbf")
    geoms = _parse_shp(shp_path.read_bytes())
    if dbf_path.exists():
        schema, records = _parse_dbf(dbf_path.read_bytes())
    else:
        schema, records = [], [[] for _ in geoms]
    if len(records) != len(geoms):
        raise ValueError(
            f"shapefile record count {len(geoms)} != dbf rows {len(records)}"
        )
    ddl = ", ".join(
        ["geometry string"] + [f"{name} {dtype}" for name, dtype in schema]
    )
    rows = [[geom, *attrs] for geom, attrs in zip(geoms, records)]
    return spark.createDataFrame(rows, schema=ddl)


class ShapefileLoadOperator(BaseOperator):
    """Load a shapefile into a catalog table, dropping it first (``-d``).

    Signature parity with the reference: ``(shapefile, table, ...)``
    (``operators/shp2pgsql.py:13-18``); the connection argument disappears
    because the warehouse is ambient.
    """

    def __init__(self, shapefile: str, table: str, **kwargs) -> None:
        super().__init__(**kwargs)
        self.shapefile = shapefile
        self.table = table

    def execute(self, spark: SparkSession) -> DataFrame:
        df = read_shapefile(spark, self.shapefile)
        quoted = _quote(self.table)
        df.write.mode("overwrite").format("parquet").saveAsTable(quoted)
        return spark.table(quoted)
