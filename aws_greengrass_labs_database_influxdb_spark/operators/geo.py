"""Geo-temporal operators: the Flux ``experimental/geo`` package surface.

Reference behavior (public Flux docs; the pinned influxdb:2.0.9 image
ships this package): rows carry ``lat``/``lon`` float columns and an
``s2_cell_id`` token tag; ``geo.filterRows`` = coarse grid filter +
exact strict filter; regions are box / circle / polygon records.

Spark-first design
------------------
* Region predicates (box, circle, polygon) compile to JVM Column
  expressions — filters stay inside WholeStageCodegen and push down to
  the parquet scan where possible. The polygon ray-cast unrolls its
  fixed vertex list into a chain of Column terms (no UDF).
* Distances use the haversine great-circle formula on the mean Earth
  radius 6371.0088 km (the convention the Flux geo package documents
  for ``units.distance: "km"``).
* S2 cell-ID tokens implement the PUBLIC S2 geometry quadtree
  algorithm (lat/lon → face/(u,v) → quadratic (s,t) → leaf (i,j) →
  Hilbert position; s2geometry.io): a vectorized-numpy pandas UDF, one
  Arrow batch at a time. Cross-library parity is golden-verified:
  the s2geometry project's published test vector (49.703498679,
  11.770681595) → leaf 0x47a1cbd595522b39 matches exactly (all 64
  bits), and levels 10-29 match the published leaf truncated by the
  documented parent arithmetic (tests/test_geo.py deep-level
  goldens); face-center tokens and the FaceUVtoXYZ roundtrip cover
  faces 3-5.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from ..schema import tag_set_key
from .errors import OperatorValidationError

EARTH_RADIUS_KM = 6371.0088

# --------------------------------------------------------------------- S2

_MAX_LEVEL = 30
_POS_BITS = 2 * _MAX_LEVEL + 1
# Hilbert curve base tables (public S2 constants): for each of the 4
# orientations, the order the 4 sub-cells are visited, and the
# orientation delta each sub-cell applies. swap=1, invert=2.
_SWAP, _INVERT = 1, 2
_IJ_TO_POS = (
    (0, 1, 3, 2),  # canonical order
    (0, 3, 1, 2),  # axes swapped
    (2, 3, 1, 0),  # bits inverted
    (2, 1, 3, 0),  # swapped & inverted
)
_POS_TO_ORIENTATION = (_SWAP, 0, 0, _INVERT + _SWAP)


def _xyz_to_face_uv(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    """Largest-axis face selection + gnomonic (u, v) on that face —
    the S2 cube-face projection."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az), np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    ).astype(np.int64)
    u = np.empty_like(x)
    v = np.empty_like(x)
    # denominator is the SIGNED dominant component on every face (the
    # public ValidFaceXYZtoUV: face 3 u=z/x v=y/x with x<0, face 4
    # u=z/y v=-x/y, face 5 u=-y/z v=-x/z). Dividing by the positive
    # magnitude on faces 3-5 would negate both u and v — internally
    # consistent, but diverging from real S2 ids for any point whose
    # dominant axis is negative. Pinned by the
    # FaceUVtoXYZ roundtrip + face-center golden tests.
    for f, (uexpr, vexpr, dexpr) in enumerate((
        (lambda: y, lambda: z, lambda: x),
        (lambda: -x, lambda: z, lambda: y),
        (lambda: -x, lambda: -y, lambda: z),
        (lambda: z, lambda: y, lambda: x),
        (lambda: z, lambda: -x, lambda: y),
        (lambda: -y, lambda: -x, lambda: z),
    )):
        m = face == f
        if m.any():
            d = dexpr()[m]
            u[m] = uexpr()[m] / d
            v[m] = vexpr()[m] / d
    return face, u, v


def _uv_to_st(u: np.ndarray) -> np.ndarray:
    """S2's quadratic projection: equalizes cell area across a face."""
    # np.where evaluates both branches — clamp each sqrt argument at 0
    # so the unused branch can't emit invalid-value warnings
    return np.where(
        u >= 0,
        0.5 * np.sqrt(np.maximum(1.0 + 3.0 * u, 0.0)),
        1.0 - 0.5 * np.sqrt(np.maximum(1.0 - 3.0 * u, 0.0)),
    )


def _st_to_uv(s: np.ndarray) -> np.ndarray:
    s = np.asarray(s, dtype=np.float64)
    return np.where(
        s >= 0.5, (1.0 / 3.0) * (4.0 * s * s - 1.0),
        (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)),
    )


def _st_to_ij(s: np.ndarray) -> np.ndarray:
    return np.clip(
        np.floor(s * (1 << _MAX_LEVEL)).astype(np.int64), 0, (1 << _MAX_LEVEL) - 1
    )


def s2_cell_ids(lat_deg: np.ndarray, lon_deg: np.ndarray, level: int) -> np.ndarray:
    """Vectorized S2 cell IDs at ``level`` for degree arrays (uint64
    values in an int64 array — ids stay below 2^63 for faces 0-3 and
    use the sign bit for faces 4-5, same layout as the C++ library)."""
    if not 0 <= level <= _MAX_LEVEL:
        raise OperatorValidationError(f"s2 level must be 0..30, got {level}")
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    cos_lat = np.cos(lat)
    x, y, z = cos_lat * np.cos(lon), cos_lat * np.sin(lon), np.sin(lat)
    face, u, v = _xyz_to_face_uv(x, y, z)
    i = _st_to_ij(_uv_to_st(u))
    j = _st_to_ij(_uv_to_st(v))

    # Hilbert: walk levels 29..0, 2 bits per level, carrying the
    # orientation state. Vectorized via table lookups per level.
    ij_to_pos = np.asarray(_IJ_TO_POS, dtype=np.int64)  # [orient, ij2] -> pos
    pos_orient = np.asarray(_POS_TO_ORIENTATION, dtype=np.int64)
    # per the S2 library the starting orientation of a face cell is
    # (face & SWAP_MASK) — faces alternate the Hilbert seed
    orient = face & _SWAP
    pos = np.zeros(len(lat), dtype=np.int64)
    for k in range(_MAX_LEVEL - 1, -1, -1):
        ik = (i >> k) & 1
        jk = (j >> k) & 1
        ij2 = ik * 2 + jk
        p = ij_to_pos[orient, ij2]
        pos = (pos << 2) | p
        orient = orient ^ pos_orient[p]
    # leaf id: face(3 bits) . pos(60 bits) . 1 ; parent at `level`
    # zeroes the sub-level bits and sets the trailing marker bit.
    leaf = (face.astype(np.uint64) << np.uint64(_POS_BITS)) | (
        pos.astype(np.uint64) << np.uint64(1)
    ) | np.uint64(1)
    if level == _MAX_LEVEL:
        return leaf.view(np.int64)
    lsb = np.uint64(1) << np.uint64(2 * (_MAX_LEVEL - level))
    parent = (leaf & ~(lsb - np.uint64(1)) & ~lsb) | lsb
    return parent.view(np.int64)


def s2_token_of(cell_id: int) -> str:
    """Canonical S2 token: 16 hex digits of the uint64 id, trailing
    zeros stripped ('' is invalid; id 0 → 'X' per the C++ library)."""
    u = cell_id & 0xFFFFFFFFFFFFFFFF
    if u == 0:
        return "X"
    return f"{u:016x}".rstrip("0")


def s2_cell_token_column(lat: Column, lon: Column, level: int) -> Column:
    """``s2_cell_id`` token column — Arrow-batched pandas UDF over the
    vectorized id kernel (the only non-JVM piece of the geo package;
    the Hilbert walk has no Column-expression form)."""
    import pandas as pd

    def _tok(la, lo):
        ids = s2_cell_ids(la.to_numpy(np.float64), lo.to_numpy(np.float64), level)
        return pd.Series([s2_token_of(int(c)) for c in ids])

    return pandas_udf(_tok, "string")(lat, lon)


def s2_cell_level(cell_id: int) -> int:
    u = cell_id & 0xFFFFFFFFFFFFFFFF
    lsb = u & (~u + 1)
    return _MAX_LEVEL - (lsb.bit_length() - 1) // 2


def s2_cell_contains(parent_id: int, child_id: int) -> bool:
    """Range containment (the S2 interval trick: a cell contains every
    id within [id - lsb + 1, id + lsb - 1])."""
    pu = parent_id & 0xFFFFFFFFFFFFFFFF
    cu = child_id & 0xFFFFFFFFFFFFFFFF
    lsb = pu & (~pu + 1)
    return pu - lsb + 1 <= cu <= pu + lsb - 1


# ----------------------------------------------------------- region algebra


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km — pure Column trig (codegen'd)."""
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rl1) * F.cos(rl2) * F.sin(dlon) * F.sin(dlon)
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def _poly_contains(lat: Column, lon: Column, pts: Sequence[tuple[float, float]]) -> Column:
    """Planar ray-cast unrolled over the fixed vertex list: XOR of the
    per-edge crossing predicates. Matches the Flux docs' polygon
    semantics for the non-pole, non-antimeridian polygons dashboards
    draw; each edge contributes one codegen'd term."""
    if len(pts) < 3:
        raise OperatorValidationError("polygon region needs >= 3 points")
    inside = F.lit(False)
    n = len(pts)
    for k in range(n):
        la1, lo1 = pts[k]
        la2, lo2 = pts[(k + 1) % n]
        if la1 == la2:  # horizontal edge never crosses the cast ray
            continue
        crosses = ((F.lit(la1) > lat) != (F.lit(la2) > lat)) & (
            lon
            < (F.lit(lo2 - lo1) * (lat - F.lit(la1)) / F.lit(la2 - la1) + F.lit(lo1))
        )
        inside = inside != crosses  # boolean != is XOR
    return inside


def region_strict_predicate(region: dict, lat: Column, lon: Column) -> Column:
    """Exact containment Column for a Flux geo region record:
    box {minLat,maxLat,minLon,maxLon} / circle {lat,lon,radius(km)} /
    polygon {points: [{lat,lon},...]}."""
    if {"minLat", "maxLat", "minLon", "maxLon"} <= region.keys():
        return (
            (lat >= F.lit(float(region["minLat"])))
            & (lat <= F.lit(float(region["maxLat"])))
            & (lon >= F.lit(float(region["minLon"])))
            & (lon <= F.lit(float(region["maxLon"])))
        )
    if {"lat", "lon", "radius"} <= region.keys():
        return haversine_km(
            lat, lon, F.lit(float(region["lat"])), F.lit(float(region["lon"]))
        ) <= F.lit(float(region["radius"]))
    if "points" in region:
        pts = [(float(p["lat"]), float(p["lon"])) for p in region["points"]]
        return _poly_contains(lat, lon, pts)
    raise OperatorValidationError(f"unrecognized geo region record: {sorted(region)}")


def region_bbox(region: dict) -> tuple[float, float, float, float]:
    """(minLat, maxLat, minLon, maxLon) cover of a region — the grid
    filter's coarse shape. Circle covers pad longitude by the latitude-
    scaled radius (clamped at the poles to the full lon range)."""
    if {"minLat", "maxLat", "minLon", "maxLon"} <= region.keys():
        return (
            float(region["minLat"]), float(region["maxLat"]),
            float(region["minLon"]), float(region["maxLon"]),
        )
    if {"lat", "lon", "radius"} <= region.keys():
        la, lo, r = float(region["lat"]), float(region["lon"]), float(region["radius"])
        dlat = math.degrees(r / EARTH_RADIUS_KM)
        cos_la = math.cos(math.radians(la))
        max_cos = math.cos(math.radians(min(abs(la) + dlat, 90.0)))
        scale = max(min(cos_la, max_cos), 1e-9)
        dlon = math.degrees(r / (EARTH_RADIUS_KM * scale))
        if dlon >= 180.0:
            return (max(la - dlat, -90.0), min(la + dlat, 90.0), -180.0, 180.0)
        return (
            max(la - dlat, -90.0), min(la + dlat, 90.0), lo - dlon, lo + dlon
        )
    if "points" in region:
        las = [float(p["lat"]) for p in region["points"]]
        los = [float(p["lon"]) for p in region["points"]]
        return (min(las), max(las), min(los), max(los))
    raise OperatorValidationError(f"unrecognized geo region record: {sorted(region)}")


def region_grid_predicate(region: dict, lat: Column, lon: Column) -> Column:
    """Coarse cover Column — the pushdown-friendly prefilter
    ``geo.gridFilter`` provides. A bounding box plays the same plan
    role stock's s2 cell-union cover plays: cheap, scan-pushable,
    superset of the exact region (COVERAGE.md documents the
    divergence: stock covers with s2 cells, we cover with the box)."""
    lo_la, hi_la, lo_lo, hi_lo = region_bbox(region)
    p = (lat >= F.lit(lo_la)) & (lat <= F.lit(hi_la))
    if (lo_lo, hi_lo) != (-180.0, 180.0):
        if lo_lo < -180.0 or hi_lo > 180.0:  # antimeridian wrap
            lo_w = ((lo_lo + 180.0) % 360.0) - 180.0
            hi_w = ((hi_lo + 180.0) % 360.0) - 180.0
            p = p & ((lon >= F.lit(lo_w)) | (lon <= F.lit(hi_w)))
        else:
            p = p & (lon >= F.lit(lo_lo)) & (lon <= F.lit(hi_lo))
    return p


# ------------------------------------------------------------- frame shape


#: per-point columns that differ between the lat row and the lon row
#: of the same observation — excluded from the pivot key so the two
#: field rows of one (series, timestamp) merge into one geo row
_PER_POINT_COLS = frozenset(
    {"f_int", "f_uint", "f_str", "f_bool", "ftype", "ingest_seq", "props"}
)


def shape_data(
    df: DataFrame,
    lat_field: str,
    lon_field: str,
    level: int,
    field_col: str = "field",
    value_col: str = "f_float",
) -> DataFrame:
    """``geo.shapeData``: pivot the lat/lon FIELDS of each point into
    ``lat``/``lon`` COLUMNS (one row per timestamp per series) and tag
    with the level-N ``s2_cell_id`` token.

    One conditional-aggregation shuffle on the natural (series,
    timestamp) key — no ``.pivot()`` (whose column naming fights extra
    carried aggregates) and no map-typed grouping column (Spark can't
    group on maps; the tags map rides along as ``first()``). The token
    UDF runs on the pivoted (halved) frame."""
    if field_col not in df.columns or value_col not in df.columns:
        raise OperatorValidationError("shape_data needs field/value columns (points frame)")
    # Grouping key per SERIES (sans field): the tags map can't be a
    # grouping key (Spark restriction) and first()-ing it across
    # DIFFERENT series would merge them — serialize sorted k=v pairs
    # WITHOUT the field suffix (the lat row and the lon row of one
    # observation differ exactly in field, and must merge). Any
    # incoming series_key (which embeds the field) is replaced.
    if "tags" in df.columns:
        tag_ser = tag_set_key(F.col("tags"))
        mcol = F.col("measurement") if "measurement" in df.columns else F.lit("")
        df = df.withColumn("series_key", F.concat_ws("|", mcol, tag_ser))
    elif "series_key" in df.columns:
        # canonical measurement|tags|field format — strip the field
        df = df.withColumn(
            "series_key", F.regexp_replace("series_key", r"\|[^|]*$", "")
        )
    map_cols = [c for c, t in df.dtypes if t.startswith("map<")]
    keys = [
        c for c in df.columns
        if c not in _PER_POINT_COLS
        and c not in (field_col, value_col)
        and c not in map_cols
    ]
    slot = F.col(value_col)
    aggs = [
        F.first(F.when(F.col(field_col) == lat_field, slot), ignorenulls=True)
        .alias("lat"),
        F.first(F.when(F.col(field_col) == lon_field, slot), ignorenulls=True)
        .alias("lon"),
    ] + [F.first(c).alias(c) for c in map_cols]
    wide = (
        df.filter(F.col(field_col).isin([lat_field, lon_field]))
        .groupBy(*keys)
        .agg(*aggs)
        .filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
    )
    return wide.withColumn(
        "s2_cell_id", s2_cell_token_column(F.col("lat"), F.col("lon"), level)
    )
