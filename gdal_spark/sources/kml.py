"""KML source + sink (OGC KML 2.2; the reference's kml/libkml drivers).

Reference: ``ogr/ogrsf_frmts/kml/ogrkmllayer.cpp`` (writer),
``ogr/ogrsf_frmts/libkml/`` (full reader); tests
``autotest/ogr/ogr_kml.py``.  Spark-first mapping mirrors the GeoJSON
FeatureCollection split: KML is a whole-XML-document format, so the
writer is a terminal single-file hop and the reader runs one task per
``.kml`` file (a directory of files — the common "regionated" layout —
parallelizes per file).  For bulk interchange the GeoJSONSeq/parquet
paths are the scale layer; KML exists for parity with the reference's
most-exported presentation format.

Geometry scope (the KML 2.2 feature set the reference writer emits):
Point, LineString, Polygon (outer + inner rings), MultiGeometry of
those; coordinates as ``lon,lat[,alt]`` tuples.  Attributes ride in
``ExtendedData/Data`` elements; the feature ``name`` maps to a column
(ogrkmllayer.cpp writes NameField the same way).  Coordinate text uses
``repr`` shortest-form doubles, so round-trips are bit-exact.
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.functions import geometry as G
from gdal_spark.sources.scan import scan_files

_KML_NS = "http://www.opengis.net/kml/2.2"


def _coords_text(arr: np.ndarray) -> str:
    pts = []
    for p in np.asarray(arr, dtype=np.float64):
        vals = [repr(float(v)) for v in p[: 3 if len(p) > 2 else 2]]
        pts.append(",".join(vals))
    return " ".join(pts)


def _parse_coords(text: str) -> np.ndarray:
    rows = []
    for tok in (text or "").split():
        parts = tok.split(",")
        rows.append([float(parts[0]), float(parts[1])]
                    + ([float(parts[2])] if len(parts) > 2 else []))
    width = max((len(r) for r in rows), default=2)
    return np.array([r + [0.0] * (width - len(r)) for r in rows],
                    dtype=np.float64)


def geom_to_kml(g: G.Geom) -> ET.Element:
    """Parsed Geom → KML geometry element."""
    t = g.gtype
    if t == G.WKB_POINT:
        el = ET.Element("Point")
        ET.SubElement(el, "coordinates").text = _coords_text(
            g.full[0] if g.full else g.coords[0])
        return el
    if t == G.WKB_LINESTRING:
        el = ET.Element("LineString")
        ET.SubElement(el, "coordinates").text = _coords_text(
            g.full[0] if g.full else g.coords[0])
        return el
    if t == G.WKB_POLYGON:
        el = ET.Element("Polygon")
        rings = g.full if g.full else g.rings
        for ring, is_ext in zip(rings, g.ring_roles):
            bound = ET.SubElement(
                el, "outerBoundaryIs" if is_ext else "innerBoundaryIs")
            lr = ET.SubElement(bound, "LinearRing")
            ET.SubElement(lr, "coordinates").text = _coords_text(ring)
        return el
    if t in (G.WKB_MULTIPOINT, G.WKB_MULTILINESTRING, G.WKB_MULTIPOLYGON,
             G.WKB_GEOMETRYCOLLECTION):
        el = ET.Element("MultiGeometry")
        # flat polygonal Geoms (kernel outputs) regain their sub-
        # structure through a WKB re-emit, which groups rings by role
        parts = g.parts or G.parse_wkb(G.geom_to_wkb(g)).parts
        for p in parts:
            el.append(geom_to_kml(p))
        return el
    raise ValueError(f"cannot map WKB type {t} to KML")


def kml_to_wkb(el: ET.Element) -> bytes:
    """KML geometry element → ISO WKB."""
    tag = el.tag.split("}")[-1]
    if tag == "Point":
        c = _parse_coords(el.findtext(_q("coordinates")) or "")
        return G.wkb_point(*c[0])
    if tag == "LineString":
        return G.wkb_linestring(_parse_coords(el.findtext(_q("coordinates"))))
    if tag == "Polygon":
        rings = []
        outer = el.find(_q("outerBoundaryIs"))
        if outer is not None:
            rings.append(_parse_coords(
                outer.find(_q("LinearRing")).findtext(_q("coordinates"))))
        for inner in el.findall(_q("innerBoundaryIs")):
            rings.append(_parse_coords(
                inner.find(_q("LinearRing")).findtext(_q("coordinates"))))
        return G.wkb_polygon(rings)
    if tag == "MultiGeometry":
        import struct

        members = [kml_to_wkb(c) for c in el
                   if c.tag.split("}")[-1] in
                   ("Point", "LineString", "Polygon", "MultiGeometry")]
        tags = {c.tag.split("}")[-1] for c in el}
        if tags == {"Polygon"}:
            code = G.WKB_MULTIPOLYGON
        elif tags == {"Point"}:
            code = G.WKB_MULTIPOINT
        elif tags == {"LineString"}:
            code = G.WKB_MULTILINESTRING
        else:
            return G.wkb_geometrycollection(members)
        return struct.pack("<BII", 1, code, len(members)) + b"".join(members)
    raise ValueError(f"unsupported KML geometry {tag}")


def _q(tag: str) -> str:
    return f"{{{_KML_NS}}}{tag}"


def write_kml(df: DataFrame, path: str, geom_col: str = "geom",
              name_col: str | None = None, doc_name: str = "gdal_spark") -> int:
    """Terminal single-file KML writer (Document of Placemarks)."""
    attr_cols = [c for c in df.columns if c not in (geom_col, name_col)]
    kml = ET.Element("kml", xmlns=_KML_NS)
    doc = ET.SubElement(kml, "Document")
    ET.SubElement(doc, "name").text = doc_name
    n = 0
    sel = [geom_col] + ([name_col] if name_col else []) + attr_cols
    for row in df.select(*sel).toLocalIterator(prefetchPartitions=True):
        pm = ET.SubElement(doc, "Placemark")
        off = 1
        if name_col:
            ET.SubElement(pm, "name").text = str(row[1])
            off = 2
        if attr_cols:
            ext = ET.SubElement(pm, "ExtendedData")
            for c, v in zip(attr_cols, row[off:]):
                d = ET.SubElement(ext, "Data", name=c)
                ET.SubElement(d, "value").text = (
                    "" if v is None else
                    repr(float(v)) if isinstance(v, float) else str(v))
        if row[0] is not None:
            pm.append(geom_to_kml(G.parse_wkb(bytes(row[0]))))
        n += 1
    ET.ElementTree(kml).write(path, encoding="utf-8", xml_declaration=True)
    return n


def read_kml(spark: SparkSession, path: str, props_schema: str,
             name_col: str | None = "name") -> DataFrame:
    """Per-file-parallel KML reader → DataFrame(geom WKB, name?, attrs).

    ``props_schema`` types the ExtendedData columns (Spark DDL)."""
    keys = [c.strip().split(" ", 1)[0].strip("`")
            for c in props_schema.split(",")]
    types = {k: c.strip().split(" ", 1)[1].strip().lower()
             for k, c in zip(keys, props_schema.split(","))}

    def _cast(v, t):
        if v in (None, ""):
            return None
        if t in ("long", "bigint", "int"):
            return int(v)
        if t in ("double", "float"):
            return float(v)
        if t == "boolean":
            return v.lower() in ("1", "true", "t")
        return v

    def parse(_, content):
        root = ET.fromstring(content)
        out = {"geom": []}
        if name_col:
            out[name_col] = []
        for k in keys:
            out[k] = []
        for pm in root.iter(_q("Placemark")):
            geom_el = None
            for tag in ("Point", "LineString", "Polygon", "MultiGeometry"):
                geom_el = pm.find(_q(tag))
                if geom_el is not None:
                    break
            out["geom"].append(
                kml_to_wkb(geom_el) if geom_el is not None else None)
            if name_col:
                out[name_col].append(pm.findtext(_q("name")))
            vals = {d.get("name"): d.findtext(_q("value"))
                    for d in pm.iter(_q("Data"))}
            for k in keys:
                out[k].append(_cast(vals.get(k), types[k]))
        yield pd.DataFrame(out)

    name_part = f"{name_col} string, " if name_col else ""
    return scan_files(spark, path, f"geom binary, {name_part}{props_schema}",
                      parse, "*.kml" if os.path.isdir(path) else None)
