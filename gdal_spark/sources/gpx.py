"""GPX 1.1 source + sink (the reference's GPX driver).

Reference: ``ogr/ogrsf_frmts/gpx/ogrgpxdatasource.cpp`` (validation +
metadata expat handlers), ``ogrgpxlayer.cpp`` (five layers, field
model, writer); tests ``autotest/ogr/ogr_gpx.py``.

Layer model (``ogrgpxlayer.cpp`` ctor): ``waypoints`` (one POINT per
<wpt>), ``routes`` (LINESTRING per <rte>, EMPTY when pointless),
``tracks`` (MULTILINESTRING of <trkseg>s; segments with no points are
dropped, so an empty-segment track is MULTILINESTRING EMPTY —
autotest test_ogr_gpx_4), ``route_points`` (+route_fid,
route_point_id) and ``track_points`` (+track_fid, track_seg_id,
track_seg_point_id).  Point layers carry ele/time/magvar/geoidheight/
name/cmt/desc/src/linkN_{href,text,type}/sym/type/fix/sat/hdop/vdop/
pdop/ageofdgpsdata/dgpsid; route/track layers name/cmt/desc/src/
links/number/type.  Options mirrored: ``ele_as_25d``
(GPX_ELE_AS_25D), ``n_max_links`` (GPX_N_MAX_LINKS, default 2),
``short_names`` (GPX_SHORT_NAMES: track_seg_id→trksegid,
track_seg_point_id→trksegptid, route_point_id→rteptid).

Dataset metadata replicates the reference expat handler exactly —
including its stale-flag quirk: ``m_bInMetadataLink`` is never
cleared (``ogrgpxdatasource.cpp:379-386`` clears author/copyright
but not link), so <text>/<type> of depth-3 links in *features* after
</metadata> keep overwriting ``LINK_<last>_TEXT/TYPE`` (the autotest
pins LINK_2_TEXT == "text3" from the waypoint's third link).

OGR datetime strings are reproduced: ``2007-11-25T17:58:00+01:00`` →
``2007/11/25 17:58:00+01``.

GPX is a whole-XML-document format, so ``parse_gpx`` and
``write_gpx`` work on one document at a time (inside Arrow batches
when run from Spark); bulk interchange goes through
GeoJSONSeq/parquet.  The writer reproduces the reference's layout
byte-for-byte (OGRFormatDouble trailing ``.0``, two-space indents —
pinned against ``autotest/ogr/data/gpx/ogr_gpx_8_ref.txt``).
"""

from __future__ import annotations

import re
import xml.parsers.expat
import xml.etree.ElementTree as ET

GPX_NS = "http://www.topografix.com/GPX/1/1"

_PT_TAGS = ["magvar", "geoidheight", "name", "cmt", "desc", "src",
            "sym", "type", "fix", "sat", "hdop", "vdop", "pdop",
            "ageofdgpsdata", "dgpsid"]
_RT_TAGS = ["name", "cmt", "desc", "src", "number", "type"]
_INT_FIELDS = {"sat", "dgpsid", "number"}
_REAL_FIELDS = {"ele", "magvar", "geoidheight", "hdop", "vdop", "pdop",
                "ageofdgpsdata"}

_TIME_RE = re.compile(
    r"(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2}(?:\.\d+)?)"
    r"(Z|[+-]\d{2}:?\d{2})?")


def _ogr_time(iso: str) -> str:
    """ISO8601 → OGR field string (``2007/11/25 17:58:00+01``)."""
    m = _TIME_RE.match(iso.strip())
    if not m:
        return iso
    y, mo, d, h, mi, s, tz = m.groups()
    out = f"{y}/{mo}/{d} {h}:{mi}:{s}"
    if tz:
        if tz == "Z":
            out += "+00"
        else:
            sign, hh, mm = tz[0], tz[1:3], tz[-2:]
            out += f"{sign}{hh}" if mm == "00" else f"{sign}{hh}{mm}"
    return out


def _fmt(v: float) -> str:
    """OGRFormatDouble: %.15f with trailing zeros stripped, at least
    one decimal kept (49 → "49.0")."""
    txt = f"{float(v):.15f}".rstrip("0")
    if txt.endswith("."):
        txt += "0"
    return txt


def _wkt_num(v: float) -> str:
    txt = f"{float(v):.15g}"
    return txt


def _strip(el_tag: str) -> str:
    return el_tag.rsplit("}", 1)[-1]


def _cast(name: str, text: str):
    if name in _INT_FIELDS:
        return int(text)
    if name in _REAL_FIELDS:
        return float(text)
    return text


def _pt_attrs(el, n_max_links: int) -> dict:
    f = {}
    links = 0
    for ch in el:
        tag = _strip(ch.tag)
        if tag == "ele":
            f["ele"] = float(ch.text)
        elif tag == "time":
            f["time"] = _ogr_time(ch.text or "")
        elif tag == "link":
            links += 1
            if links <= n_max_links:
                f[f"link{links}_href"] = ch.get("href")
                for sub in ch:
                    st = _strip(sub.tag)
                    if st in ("text", "type"):
                        f[f"link{links}_{st}"] = sub.text
        elif tag in _PT_TAGS:
            if ch.text is not None:
                f[tag] = _cast(tag, ch.text)
    return f


def _line_attrs(el, n_max_links: int) -> dict:
    f = {}
    links = 0
    for ch in el:
        tag = _strip(ch.tag)
        if tag == "link":
            links += 1
            if links <= n_max_links:
                f[f"link{links}_href"] = ch.get("href")
                for sub in ch:
                    st = _strip(sub.tag)
                    if st in ("text", "type"):
                        f[f"link{links}_{st}"] = sub.text
        elif tag in _RT_TAGS:
            if ch.text is not None:
                f[tag] = _cast(tag, ch.text)
    return f


def _pt_wkt(el, ele_as_25d: bool, ele) -> str:
    lon = _wkt_num(float(el.get("lon")))
    lat = _wkt_num(float(el.get("lat")))
    if ele_as_25d and ele is not None:
        return f"POINT Z ({lon} {lat} {_wkt_num(ele)})"
    return f"POINT ({lon} {lat})"


def _line_wkt(pts, ele_as_25d: bool) -> str:
    if not pts:
        return "LINESTRING EMPTY"
    if ele_as_25d:
        body = ",".join(
            f"{_wkt_num(lon)} {_wkt_num(lat)} {_wkt_num(e or 0.0)}"
            for lon, lat, e in pts)
        return f"LINESTRING Z ({body})"
    body = ",".join(f"{_wkt_num(lon)} {_wkt_num(lat)}"
                    for lon, lat, _ in pts)
    return f"LINESTRING ({body})"


def parse_gpx(data: bytes, layer: str, ele_as_25d: bool = False,
              n_max_links: int = 2,
              short_names: bool = False) -> list[dict]:
    """Parse one GPX document into the requested layer's features.
    Each feature dict has a ``wkt`` key plus the layer fields."""
    root = ET.fromstring(data)
    if _strip(root.tag) != "gpx":
        raise ValueError("not a GPX document")
    segid = "trksegid" if short_names else "track_seg_id"
    segptid = "trksegptid" if short_names else "track_seg_point_id"
    rteptid = "rteptid" if short_names else "route_point_id"

    out = []
    if layer == "waypoints":
        for el in root:
            if _strip(el.tag) != "wpt":
                continue
            f = _pt_attrs(el, n_max_links)
            f["wkt"] = _pt_wkt(el, ele_as_25d, f.get("ele"))
            out.append(f)
    elif layer in ("routes", "route_points"):
        rte_fid = 0
        for el in root:
            if _strip(el.tag) != "rte":
                continue
            pts = [ch for ch in el if _strip(ch.tag) == "rtept"]
            if layer == "routes":
                f = _line_attrs(el, n_max_links)
                coords = []
                for p in pts:
                    e = next((float(c.text) for c in p
                              if _strip(c.tag) == "ele"), None)
                    coords.append((float(p.get("lon")),
                                   float(p.get("lat")), e))
                f["wkt"] = _line_wkt(coords, ele_as_25d)
                out.append(f)
            else:
                for k, p in enumerate(pts):
                    f = _pt_attrs(p, n_max_links)
                    f["route_fid"] = rte_fid
                    f[rteptid] = k
                    f["wkt"] = _pt_wkt(p, ele_as_25d, f.get("ele"))
                    out.append(f)
            rte_fid += 1
    elif layer in ("tracks", "track_points"):
        trk_fid = 0
        for el in root:
            if _strip(el.tag) != "trk":
                continue
            segs = [ch for ch in el if _strip(ch.tag) == "trkseg"]
            if layer == "tracks":
                f = _line_attrs(el, n_max_links)
                parts = []
                for seg in segs:
                    coords = [(float(p.get("lon")), float(p.get("lat")))
                              for p in seg if _strip(p.tag) == "trkpt"]
                    if coords:  # pointless segments dropped
                        parts.append(",".join(
                            f"{_wkt_num(x)} {_wkt_num(y)}"
                            for x, y in coords))
                f["wkt"] = ("MULTILINESTRING ((" + "),(".join(parts) + "))"
                            if parts else "MULTILINESTRING EMPTY")
                out.append(f)
            else:
                for s, seg in enumerate(segs):
                    k = 0
                    for p in seg:
                        if _strip(p.tag) != "trkpt":
                            continue
                        f = _pt_attrs(p, n_max_links)
                        f["track_fid"] = trk_fid
                        f[segid] = s
                        f[segptid] = k
                        f["wkt"] = _pt_wkt(p, ele_as_25d, f.get("ele"))
                        out.append(f)
                        k += 1
            trk_fid += 1
    else:
        raise ValueError(f"unknown GPX layer {layer!r}")
    return out


def parse_gpx_metadata(data: bytes) -> dict:
    """Dataset-level metadata, replicating the reference's expat
    handler state machine bug-for-bug (see module docstring)."""
    md = {}
    st = {"depth": 0, "in_md": False, "in_author": False,
          "in_copyright": False, "in_link": False,
          "in_author_link": False, "link_ctr": 0, "key": None,
          "val": ""}

    def commit():
        if st["key"]:
            md[st["key"]] = st["val"]
        st["key"] = None
        st["val"] = ""

    def start(name, attrs):
        name = name.rsplit("}", 1)[-1] if "}" in name else name
        d = st["depth"]
        if d == 1 and name == "metadata":
            st["in_md"] = True
        elif d == 2 and st["in_md"]:
            if name == "name":
                st["key"] = "NAME"
            elif name == "desc":
                st["key"] = "DESCRIPTION"
            elif name == "time":
                st["key"] = "TIME"
            elif name == "author":
                st["in_author"] = True
            elif name == "keywords":
                st["key"] = "KEYWORDS"
            elif name == "copyright":
                if attrs.get("author"):
                    md["COPYRIGHT_AUTHOR"] = attrs["author"]
                st["in_copyright"] = True
            elif name == "link":
                st["link_ctr"] += 1
                if attrs.get("href"):
                    md[f"LINK_{st['link_ctr']}_HREF"] = attrs["href"]
                st["in_link"] = True
        elif d == 3 and st["in_author"]:
            if name == "name":
                st["key"] = "AUTHOR_NAME"
            elif name == "email":
                if attrs.get("id") and attrs.get("domain"):
                    md["AUTHOR_EMAIL"] = (attrs["id"] + "@"
                                          + attrs["domain"])
            elif name == "link":
                if attrs.get("href"):
                    md["AUTHOR_LINK_HREF"] = attrs["href"]
                st["in_author_link"] = True
        elif d == 3 and st["in_copyright"]:
            if name == "year":
                st["key"] = "COPYRIGHT_YEAR"
            elif name == "license":
                st["key"] = "COPYRIGHT_LICENSE"
        elif d == 3 and st["in_link"]:
            if name == "text":
                st["key"] = f"LINK_{st['link_ctr']}_TEXT"
            elif name == "type":
                st["key"] = f"LINK_{st['link_ctr']}_TYPE"
        elif d == 4 and st["in_author_link"]:
            if name == "text":
                st["key"] = "AUTHOR_LINK_TEXT"
            elif name == "type":
                st["key"] = "AUTHOR_LINK_TYPE"
        st["depth"] += 1

    def end(_name):
        st["depth"] -= 1
        d = st["depth"]
        if d == 4 and st["in_author_link"]:
            commit()
        elif d == 3 and (st["in_author"] or st["in_copyright"]
                         or st["in_link"]):
            commit()
            st["in_author_link"] = False
        elif d == 2 and st["in_md"]:
            commit()
            st["in_author"] = False
            st["in_copyright"] = False
            # NB: in_link deliberately NOT cleared (reference quirk)
        elif d == 1 and st["in_md"]:
            st["in_md"] = False

    def chars(text):
        if st["key"]:
            st["val"] += text

    p = xml.parsers.expat.ParserCreate()
    p.StartElementHandler = start
    p.EndElementHandler = end
    p.CharacterDataHandler = chars
    p.Parse(data, True)
    return md


# ------------------------------------------------------------------ writer

def _esc(s) -> str:
    return (str(s).replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))


def _write_metadata(lines, md: dict) -> None:
    lines.append("<metadata>")
    if "NAME" in md:
        lines.append(f"  <name>{_esc(md['NAME'])}</name>")
    if "DESCRIPTION" in md:
        lines.append(f"  <desc>{_esc(md['DESCRIPTION'])}</desc>")
    if any(k.startswith("AUTHOR_") for k in md):
        lines.append("  <author>")
        if "AUTHOR_NAME" in md:
            lines.append(
                f"    <name>{_esc(md['AUTHOR_NAME'])}</name>")
        if "AUTHOR_EMAIL" in md and "@" in md["AUTHOR_EMAIL"]:
            i, dom = md["AUTHOR_EMAIL"].split("@", 1)
            lines.append(f'    <email id="{_esc(i)}" domain="{_esc(dom)}"/>')
        if "AUTHOR_LINK_HREF" in md:
            lines.append(f'    <link href="{_esc(md["AUTHOR_LINK_HREF"])}">')
            if "AUTHOR_LINK_TEXT" in md:
                lines.append(
                    f"      <text>{_esc(md['AUTHOR_LINK_TEXT'])}</text>")
            if "AUTHOR_LINK_TYPE" in md:
                lines.append(
                    f"      <type>{_esc(md['AUTHOR_LINK_TYPE'])}</type>")
            lines.append("    </link>")
        lines.append("  </author>")
    if "COPYRIGHT_AUTHOR" in md:
        lines.append(
            f'  <copyright author="{_esc(md["COPYRIGHT_AUTHOR"])}">')
        if "COPYRIGHT_YEAR" in md:
            lines.append(f"    <year>{_esc(md['COPYRIGHT_YEAR'])}</year>")
        if "COPYRIGHT_LICENSE" in md:
            lines.append(
                f"    <license>{_esc(md['COPYRIGHT_LICENSE'])}</license>")
        lines.append("  </copyright>")
    i = 1
    while f"LINK_{i}_HREF" in md:
        lines.append(f'  <link href="{_esc(md[f"LINK_{i}_HREF"])}">')
        if f"LINK_{i}_TEXT" in md:
            lines.append(f"    <text>{_esc(md[f'LINK_{i}_TEXT'])}</text>")
        if f"LINK_{i}_TYPE" in md:
            lines.append(f"    <type>{_esc(md[f'LINK_{i}_TYPE'])}</type>")
        lines.append("  </link>")
        i += 1
    if "TIME" in md:
        lines.append(f"  <time>{_esc(md['TIME'])}</time>")
    if "KEYWORDS" in md:
        lines.append(f"  <keywords>{_esc(md['KEYWORDS'])}</keywords>")
    lines.append("</metadata>")


def _pt_children(lines, f: dict, indent: str) -> None:
    if f.get("ele") is not None:
        lines.append(f"{indent}<ele>{_fmt(f['ele'])}</ele>")
    if f.get("name") is not None:
        lines.append(f"{indent}<name>{_esc(f['name'])}</name>")
    if f.get("cmt") is not None:
        lines.append(f"{indent}<cmt>{_esc(f['cmt'])}</cmt>")
    if f.get("desc") is not None:
        lines.append(f"{indent}<desc>{_esc(f['desc'])}</desc>")


_WKT_PT = re.compile(
    r"POINT\s*(?:Z\s*)?\(\s*(\S+)\s+(\S+)(?:\s+(\S+))?\s*\)")


def write_gpx(layer: str, features: list[dict],
              creator: str = "gdal_spark",
              metadata: dict | None = None) -> str:
    """Serialize one layer of features (dicts with ``wkt`` + fields)
    as a GPX 1.1 document, matching the reference writer's layout
    (two-space indents, OGRFormatDouble coordinates)."""
    lines = ['<?xml version="1.0"?>']
    lines.append(
        f'<gpx version="1.1" creator="{_esc(creator)}" '
        'xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance" '
        f'xmlns="{GPX_NS}" '
        'xsi:schemaLocation="http://www.topografix.com/GPX/1/1 '
        'http://www.topografix.com/GPX/1/1/gpx.xsd">')
    if metadata:
        _write_metadata(lines, metadata)

    def pt_lonlat(f):
        m = _WKT_PT.match(f["wkt"].strip())
        if not m:
            raise ValueError(f"not a POINT wkt: {f['wkt']}")
        return float(m.group(1)), float(m.group(2))

    if layer == "waypoints":
        for f in features:
            lon, lat = pt_lonlat(f)
            lines.append(f'<wpt lat="{_fmt(lat)}" lon="{_fmt(lon)}">')
            _pt_children(lines, f, "  ")
            lines.append("</wpt>")
    elif layer == "route_points":
        cur_fid = None
        for f in features:
            fid = f.get("route_fid", 0)
            if fid != cur_fid:
                if cur_fid is not None:
                    lines.append("</rte>")
                lines.append("<rte>")
                if f.get("route_name"):
                    lines.append(
                        f"  <name>{_esc(f['route_name'])}</name>")
                cur_fid = fid
            lon, lat = pt_lonlat(f)
            lines.append(f'  <rtept lat="{_fmt(lat)}" lon="{_fmt(lon)}">')
            _pt_children(lines, f, "    ")
            lines.append("  </rtept>")
        if cur_fid is not None:
            lines.append("</rte>")
    elif layer == "track_points":
        cur = (None, None)
        for f in features:
            fid = f.get("track_fid", 0)
            seg = f.get("track_seg_id", 0)
            if fid != cur[0]:
                if cur[0] is not None:
                    lines.append("  </trkseg>")
                    lines.append("</trk>")
                lines.append("<trk>")
                if f.get("track_name"):
                    lines.append(
                        f"  <name>{_esc(f['track_name'])}</name>")
                lines.append("  <trkseg>")
                cur = (fid, seg)
            elif seg != cur[1]:
                lines.append("  </trkseg>")
                lines.append("  <trkseg>")
                cur = (fid, seg)
            lon, lat = pt_lonlat(f)
            lines.append(
                f'    <trkpt lat="{_fmt(lat)}" lon="{_fmt(lon)}">')
            _pt_children(lines, f, "      ")
            lines.append("    </trkpt>")
        if cur[0] is not None:
            lines.append("  </trkseg>")
            lines.append("</trk>")
    elif layer == "routes":
        for f in features:
            lines.append("<rte>")
            if f.get("name"):
                lines.append(f"  <name>{_esc(f['name'])}</name>")
            wkt = f["wkt"].strip()
            body = wkt[wkt.find("(") + 1:wkt.rfind(")")] \
                if "EMPTY" not in wkt else ""
            for tok in filter(None, (t.strip() for t in body.split(","))):
                xy = tok.split()
                lines.append(f'  <rtept lat="{_fmt(float(xy[1]))}" '
                             f'lon="{_fmt(float(xy[0]))}">')
                lines.append("  </rtept>")
            lines.append("</rte>")
    elif layer == "tracks":
        for f in features:
            lines.append("<trk>")
            if f.get("name"):
                lines.append(f"  <name>{_esc(f['name'])}</name>")
            wkt = f["wkt"].strip()
            if "EMPTY" not in wkt:
                inner = wkt[wkt.find("((") + 2:wkt.rfind("))")]
                for part in inner.split("),("):
                    lines.append("  <trkseg>")
                    for tok in filter(None,
                                      (t.strip() for t in part.split(","))):
                        xy = tok.split()
                        lines.append(
                            f'    <trkpt lat="{_fmt(float(xy[1]))}" '
                            f'lon="{_fmt(float(xy[0]))}">')
                        lines.append("    </trkpt>")
                    lines.append("  </trkseg>")
            lines.append("</trk>")
    else:
        raise ValueError(f"unknown GPX layer {layer!r}")
    lines.append("</gpx>")
    return "\n".join(lines) + "\n"

