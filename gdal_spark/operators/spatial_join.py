"""Filter-and-refine spatial joins via quadkey cell-prefix hash joins.

The distributed re-expression of ``OGRLayer::Intersection``
(``ogr/ogrsf_frmts/generic/ogrlayer.cpp:5385-5615``) and the layer
spatial filter (``ogrlayer.cpp:4004-4076``):

reference (single machine)               this engine (Spark)
---------------------------------------  ------------------------------------
method-layer R-tree / quadtree probe     equi-join on XYZ cell id at a fixed
(``port/cpl_quad_tree.h``)               index zoom (both sides cell-encoded
                                         by pure SQL exprs — no UDF)
envelope pre-test (:4027-4031)           bbox range predicates in the join
                                         condition (Catalyst pushes them)
prepared-geometry Intersects (:5511)     vectorized NumPy ray-cast/edge test
exact GEOS refine (:5565)                in one ``mapInPandas`` pass over the
                                         joined candidates (Arrow batches)
—                                        explicit hot-cell salting + AQE skew
                                         join (north rule; the reference is
                                         single-node and never faced skew)

Cell-cover explosion uses ``sequence()`` + ``explode`` (JVM-side);
pair deduplication for box×box joins uses the *reference-cell* trick —
a pair is emitted only in the unique cell containing the max-min corner
of the two bboxes — so no distinct/shuffle dedup stage is needed.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gdal_spark.functions import geometry as G
from gdal_spark.functions import tile_math as tm

DEFAULT_ZOOM = 7


def with_point_cell(df: DataFrame, lon="lon", lat="lat", zoom=DEFAULT_ZOOM) -> DataFrame:
    """Attach the single index-cell of each point (pure SQL)."""
    tx = tm.lonlat_to_tile_x(F.col(lon), zoom)
    ty = tm.lonlat_to_tile_y(F.col(lat), zoom)
    return df.withColumn("_tx", tx).withColumn("_ty", ty).withColumn(
        "cell", tm.cell_id(F.col("_tx"), F.col("_ty"), zoom)
    )


def explode_bbox_cells(
    df: DataFrame,
    lon_min="lon_min",
    lat_min="lat_min",
    lon_max="lon_max",
    lat_max="lat_max",
    zoom=DEFAULT_ZOOM,
) -> DataFrame:
    """Explode each bbox row to its covering index cells (pure SQL:
    sequence + explode, the distributed tminmax enumeration of
    gdal2tiles.py:2801-2824)."""
    txmin = tm.lonlat_to_tile_x(F.col(lon_min), zoom)
    txmax = tm.lonlat_to_tile_x(F.col(lon_max), zoom)
    tymin = tm.lonlat_to_tile_y(F.col(lat_min), zoom)
    tymax = tm.lonlat_to_tile_y(F.col(lat_max), zoom)
    out = (
        df.withColumn("_tx", F.explode(F.sequence(txmin, txmax)))
        .withColumn("_ty", F.explode(F.sequence(tymin, tymax)))
        .withColumn("cell", tm.cell_id(F.col("_tx"), F.col("_ty"), zoom))
    )
    return out


def hot_cells(points_with_cell: DataFrame, threshold: int) -> list[int]:
    """Cells whose point count exceeds ``threshold`` — the explicit
    skew-handling knob (north rule). Cheap: one partial-agg job over
    just the cell column."""
    rows = (
        points_with_cell.groupBy("cell")
        .count()
        .filter(F.col("count") > threshold)
        .select("cell")
        .collect()
    )
    return [r.cell for r in rows]


def _apply_salt(
    points: DataFrame, polys: DataFrame, salt: int, hot: Iterable[int] | None
) -> tuple[DataFrame, DataFrame]:
    """Replicate the (small) poly side ×salt on hot cells; scatter the
    point side with a deterministic salt. Cold cells keep salt 0 so the
    replication cost is limited to the skewed keys."""
    hot = list(hot) if hot is not None else None
    if hot is not None and not hot:
        return points.withColumn("_salt", F.lit(0)), polys.withColumn("_salt", F.lit(0))
    is_hot_p = F.col("cell").isin(hot) if hot is not None else F.lit(True)
    # deterministic point salt: hash of the point's own coords
    points = points.withColumn(
        "_salt",
        F.when(is_hot_p, F.pmod(F.xxhash64("lon", "lat"), F.lit(salt)).cast("int")).otherwise(
            F.lit(0)
        ),
    )
    is_hot_q = F.col("cell").isin(hot) if hot is not None else F.lit(True)
    polys = polys.withColumn(
        "_salt",
        F.explode(
            F.when(is_hot_q, F.sequence(F.lit(0), F.lit(salt - 1))).otherwise(
                F.array(F.lit(0))
            )
        ),
    )
    return points, polys


def point_in_polygon_join(
    points: DataFrame,
    polys: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    geom: str = "geom",
    zoom: int = DEFAULT_ZOOM,
    salt: int = 0,
    hot: Iterable[int] | None = None,
    poly_bbox: tuple[str, str, str, str] | None = ("lon_min", "lat_min", "lon_max", "lat_max"),
    broadcast_polys: bool | None = None,
) -> DataFrame:
    """Point-in-polygon join (degenerate spatial join, SURVEY.md §2.3).

    Returns points columns + polys columns (minus helpers) for every
    (point, polygon) pair where the point is inside the polygon —
    even-odd containment exactly as ``OGRLinearRing::isPointInRing``.
    """
    p = with_point_cell(points, lon, lat, zoom)
    q = explode_bbox_cells(polys, *(poly_bbox or ()), zoom=zoom) if poly_bbox else None
    if q is None:
        raise ValueError("polys must carry bbox columns (envelope pre-filter)")
    q = q.drop("_tx", "_ty")
    p = p.drop("_tx", "_ty")

    if salt and salt > 1:
        p, q = _apply_salt(p, q, salt, hot)
        join_keys = ["cell", "_salt"]
    else:
        join_keys = ["cell"]

    if broadcast_polys is None:
        broadcast_polys = True  # AOI layers are dims; at scale pass False
    qj = F.broadcast(q) if broadcast_polys else q

    cond = [F.col(f"p.{k}") == F.col(f"q.{k}") for k in join_keys]
    if poly_bbox:
        bx0, by0, bx1, by1 = poly_bbox
        cond += [
            F.col(f"p.{lon}") >= F.col(f"q.{bx0}"),
            F.col(f"p.{lon}") <= F.col(f"q.{bx1}"),
            F.col(f"p.{lat}") >= F.col(f"q.{by0}"),
            F.col(f"p.{lat}") <= F.col(f"q.{by1}"),
        ]
    joined = p.alias("p").join(qj.alias("q"), cond, "inner")
    # resolve column collisions: keep all point cols, poly cols minus dups
    pcols = [c for c in points.columns]
    qcols = [c for c in polys.columns if c not in pcols]
    candidates = joined.select(
        *[F.col(f"p.{c}") for c in pcols], *[F.col(f"q.{c}") for c in qcols]
    )
    return refine_point_in_polygon(candidates, lon=lon, lat=lat, geom=geom)


def refine_point_in_polygon(candidates: DataFrame, lon="lon", lat="lat", geom="geom") -> DataFrame:
    """Exact refine: vectorized even-odd ray cast per Arrow batch,
    geometry parsed once per distinct polygon within a batch (the
    prepared-geometry-reuse analogue of ``ogrlayer.cpp:5509-5519``)."""
    out_schema = candidates.drop(geom).schema

    def refine(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            px = pdf[lon].to_numpy(dtype=np.float64)
            py = pdf[lat].to_numpy(dtype=np.float64)
            for wkb, idx in pdf.groupby(pdf[geom].map(bytes)).indices.items():
                g = G.parse_wkb(wkb)
                keep[idx] = G.points_in_geom(px[idx], py[idx], g)
            res = pdf.loc[keep].drop(columns=[geom])
            if len(res):
                yield res

    return candidates.mapInPandas(refine, schema=out_schema)


def bbox_intersection_join(
    left: DataFrame,
    polys: DataFrame,
    left_bbox=("lon_min", "lat_min", "lon_max", "lat_max"),
    poly_bbox=("lon_min", "lat_min", "lon_max", "lat_max"),
    geom: str = "geom",
    zoom: int = DEFAULT_ZOOM,
    refine: bool = True,
    broadcast_polys: bool = True,
    keep_geom: bool = False,
) -> DataFrame:
    """Bbox-footprint × polygon Intersects join with reference-cell
    dedup (each intersecting pair emitted in exactly one cell — no
    distinct stage). ``refine=False`` returns envelope-overlap pairs
    (the reference's envelope-only fast path, ``ogrlayer.cpp:4027``);
    ``keep_geom`` retains the polygon WKB on the unrefined output (for
    a downstream geometry-producing stage)."""
    lx0, ly0, lx1, ly1 = left_bbox
    qx0, qy0, qx1, qy1 = poly_bbox
    # disambiguate: prefix poly bbox cols if names collide
    rename = {}
    for c in (qx0, qy0, qx1, qy1):
        if c in left.columns:
            rename[c] = f"q_{c}"
    q = polys
    for old, new in rename.items():
        q = q.withColumnRenamed(old, new)
    qx0, qy0, qx1, qy1 = (rename.get(c, c) for c in (qx0, qy0, qx1, qy1))

    l_cells = explode_bbox_cells(left, lx0, ly0, lx1, ly1, zoom=zoom)
    q_cells = explode_bbox_cells(q, qx0, qy0, qx1, qy1, zoom=zoom).drop("_tx", "_ty")
    if broadcast_polys:
        q_cells = F.broadcast(q_cells)

    j = l_cells.alias("l").join(q_cells.alias("r"), on="cell", how="inner")
    # envelope overlap
    j = j.filter(
        (F.col(f"l.{lx0}") <= F.col(f"r.{qx1}"))
        & (F.col(f"r.{qx0}") <= F.col(f"l.{lx1}"))
        & (F.col(f"l.{ly0}") <= F.col(f"r.{qy1}"))
        & (F.col(f"r.{qy0}") <= F.col(f"l.{ly1}"))
    )
    # reference-cell dedup: the max-min corner lies in exactly one cell
    ref_x = F.greatest(F.col(f"l.{lx0}"), F.col(f"r.{qx0}"))
    ref_y = F.greatest(F.col(f"l.{ly0}"), F.col(f"r.{qy0}"))
    j = j.filter(
        (F.col("l._tx") == tm.lonlat_to_tile_x(ref_x, zoom))
        & (F.col("l._ty") == tm.lonlat_to_tile_y(ref_y, zoom))
    )
    lcols = [c for c in left.columns]
    rcols = [c for c in q.columns if c not in lcols]
    out = j.select(*[F.col(f"l.{c}") for c in lcols], *[F.col(f"r.{c}") for c in rcols])
    if not refine or geom not in rcols:
        if not refine and geom in out.columns and not keep_geom:
            out = out.drop(geom)
        return out
    return refine_bbox_intersects(out, left_bbox, geom)


def spatial_intersection_join(
    left: DataFrame,
    polys: DataFrame,
    left_bbox=("lon_min", "lat_min", "lon_max", "lat_max"),
    poly_bbox=("lon_min", "lat_min", "lon_max", "lat_max"),
    geom: str = "geom",
    zoom: int = DEFAULT_ZOOM,
    broadcast_polys: bool = True,
) -> DataFrame:
    """``OGRLayer::Intersection`` with the intersected *geometry*
    output (``ogrlayer.cpp:5565,5589-5592``) — not just matched pairs.

    Candidates come from the cell equi-join (reference-cell dedup);
    the refine stage clips the polygon's rings against the left row's
    bbox rectangle (Sutherland–Hodgman, exact for any polygon × box)
    and emits rows with ``int_geom`` (WKB) + ``int_area`` (shoelace of
    the clipped rings, holes subtracted). Pair membership is decided
    by STRICT envelope overlap (positive width × height) — evaluated
    JVM-side with the same greatest/least arithmetic an oracle uses —
    so a sliver thinner than double resolution still yields a row
    (area 0.0 after clipping) instead of silently vanishing; only
    pairs whose polygon clip is truly empty are dropped."""
    cand = bbox_intersection_join(
        left, polys, left_bbox, poly_bbox, geom=geom, zoom=zoom,
        refine=False, broadcast_polys=broadcast_polys, keep_geom=True,
    )
    lx0, ly0, lx1, ly1 = left_bbox
    qx0, qy0, qx1, qy1 = (
        f"q_{c}" if c in left.columns else c for c in poly_bbox
    )
    cand = cand.filter(
        (F.greatest(F.col(lx0), F.col(qx0)) < F.least(F.col(lx1), F.col(qx1)))
        & (F.greatest(F.col(ly0), F.col(qy0)) < F.least(F.col(ly1), F.col(qy1)))
    )
    from pyspark.sql.types import BinaryType, DoubleType, StructField, StructType

    out_schema = StructType(
        [f for f in cand.schema.fields]
        + [StructField("int_geom", BinaryType()), StructField("int_area", DoubleType())]
    )

    def clip(it):
        # group candidates by polygon: parse each polygon ONCE, clip
        # its rings against ALL of the group's boxes in one vectorized
        # batch (bit-identical to the scalar Sutherland–Hodgman — see
        # tests), shoelace the padded output in bulk. Only the WKB
        # byte assembly of surviving rows stays per-row.
        for pdf in it:
            if len(pdf) == 0:
                continue
            n = len(pdf)
            geoms: list = [None] * n
            areas = np.full(n, np.nan)
            pdf = pdf.reset_index(drop=True)
            for _, grp in pdf.groupby(geom, sort=False):
                g = G.parse_wkb(bytes(grp[geom].iloc[0]))
                rows = grp.index.to_numpy()
                boxes = grp[[lx0, ly0, lx1, ly1]].to_numpy(dtype=np.float64)
                per_row_rings: list[list] = [[] for _ in rows]
                row_area = np.zeros(len(rows))
                for ring, is_ext in zip(g.rings, g.ring_roles):
                    P, cnt = G.clip_ring_to_bboxes_batch(ring, boxes)
                    a = np.abs(G.batch_ring_signed_area(P, cnt))
                    ok = cnt >= 3
                    row_area += np.where(ok, a, 0.0) * (1.0 if is_ext else -1.0)
                    for j in np.flatnonzero(ok):
                        c = P[j, : cnt[j]]
                        per_row_rings[j].append(np.vstack([c, c[:1]]))
                for j, ri in enumerate(rows):
                    if per_row_rings[j]:
                        geoms[ri] = G.wkb_polygon(per_row_rings[j])
                        areas[ri] = row_area[j]
            pdf["int_geom"] = geoms
            pdf["int_area"] = [None if g_ is None else float(a) for g_, a in zip(geoms, areas)]
            pdf = pdf[pdf["int_geom"].notna()]
            if len(pdf):
                yield pdf

    return cand.mapInPandas(clip, schema=out_schema)


def _is_axis_rect(g: "G.Geom") -> bool:
    """True when the geometry is a single closed axis-aligned rectangle
    ring — for those, envelope overlap IS Intersects, so the exact
    refine can short-circuit (the reference's envelope-containment
    shortcut, ``ogrlayer.cpp:4035-4047``, generalized). The ring must
    be closed with 5 points and its 4 edges alternate horizontal and
    vertical with none of zero length; two x and two y values alone
    also admit the bowtie (0,0),(1,1),(1,0),(0,1)."""
    if g.gtype != G.WKB_POLYGON or len(g.rings) != 1 or len(g.rings[0]) != 5:
        return False
    r = g.rings[0].tolist()  # plain floats: 5 points cost less than NumPy calls
    if r[0] != r[4]:
        return False
    horiz = [a[1] == b[1] for a, b in zip(r, r[1:])]
    vert = [a[0] == b[0] for a, b in zip(r, r[1:])]
    # an edge both horizontal and vertical has zero length
    return all(h != v for h, v in zip(horiz, vert)) and (
        horiz[0] == horiz[2] != horiz[1] == horiz[3]
    )


def refine_bbox_intersects(candidates: DataFrame, left_bbox, geom="geom") -> DataFrame:
    """Exact Intersects(rect(left bbox), polygon) refine.

    Geometry parsed once per distinct polygon per batch; axis-aligned
    rectangles (the common AOI case) skip the exact test entirely —
    the join's envelope predicate already decided them.

    Non-rect polygons are decided in three vectorized passes over ALL
    rows of that polygon at once (no per-row Python except the rare
    final residual):
      1. any rect corner inside the polygon (4 batched ray casts),
      2. any polygon vertex inside the rect (broadcast compare),
      3. residual rows only: exact edge-crossing test per row —
         reached only when rect and polygon interleave without
         containing each other's vertices."""
    lx0, ly0, lx1, ly1 = left_bbox
    out_schema = candidates.drop(geom).schema

    def refine(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            x0a = pdf[lx0].to_numpy(dtype=np.float64)
            y0a = pdf[ly0].to_numpy(dtype=np.float64)
            x1a = pdf[lx1].to_numpy(dtype=np.float64)
            y1a = pdf[ly1].to_numpy(dtype=np.float64)
            for wkb, idx in pdf.groupby(pdf[geom].map(bytes)).indices.items():
                g = G.parse_wkb(wkb)
                if _is_axis_rect(g):
                    keep[idx] = True
                    continue
                x0, y0, x1, y1 = x0a[idx], y0a[idx], x1a[idx], y1a[idx]
                # (1) any rect corner inside the polygon
                inside = (
                    G.points_in_geom(x0, y0, g)
                    | G.points_in_geom(x1, y0, g)
                    | G.points_in_geom(x1, y1, g)
                    | G.points_in_geom(x0, y1, g)
                )
                # (2) any polygon vertex inside the rect
                verts = np.vstack([r[:-1] for r in g.rings])
                vx, vy = verts[:, 0][None, :], verts[:, 1][None, :]
                inside |= (
                    (vx >= x0[:, None]) & (vx <= x1[:, None])
                    & (vy >= y0[:, None]) & (vy <= y1[:, None])
                ).any(axis=1)
                # (3) residual: exact edge-crossing per undecided row
                for j in np.nonzero(~inside)[0]:
                    rect = G.Geom(
                        G.WKB_POLYGON,
                        rings=[
                            np.array(
                                [
                                    (x0[j], y0[j]), (x1[j], y0[j]),
                                    (x1[j], y1[j]), (x0[j], y1[j]),
                                    (x0[j], y0[j]),
                                ]
                            )
                        ],
                        ring_roles=[True],
                    )
                    inside[j] = G.geoms_intersect(rect, g)
                keep[idx] = inside
            res = pdf.loc[keep].drop(columns=[geom])
            if len(res):
                yield res

    return candidates.mapInPandas(refine, schema=out_schema)
