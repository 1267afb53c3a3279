"""Independent driver-side references for every answer the benchmark checks.

Nothing here imports `osmspark`: the references re-derive each answer from
the raw inputs with numpy, pyarrow and Python's `json`/`re`, so a wrong
operator cannot also be wrong in its own check.  Where two correct
implementations may legitimately disagree (a point within float rounding
of a polygon edge, a tile edge or a radius), the reference returns a band
``[lo, hi]`` instead of a single number, and those points count as
ambiguous rather than as failures.
"""

from __future__ import annotations

import json
import math
import re
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

EARTH_RADIUS_M = 6371008.8  # mean Earth radius (IUGG), the engine's metric
EDGE_EPS_DEG = 1e-9  # ~0.1 mm: closer than this to an edge is ambiguous
DIST_REL_EPS = 1e-9

# --------------------------------------------------------------------------
# input tables
# --------------------------------------------------------------------------


def read_nodes(path: str) -> dict[str, np.ndarray]:
    """(id, lat, lon) of a parquet node table, sorted by id."""
    t = pq.read_table(path, columns=["id", "lat", "lon"])
    ids = np.array(t.column("id").to_pylist(), dtype=object)
    lat = t.column("lat").to_numpy()
    lon = t.column("lon").to_numpy()
    order = np.argsort(ids.astype(str), kind="stable")
    return {"id": ids[order], "lat": lat[order], "lon": lon[order]}


def parse_doc_nodes(docs_path: str) -> dict:
    """Node spans of a documents parquet, parsed with Python's json.

    Returns columns id/lat/lon/street/postcode (street and postcode None
    where the node carries no such tag)."""
    t = pq.read_table(docs_path, columns=["spans"])
    ids, lat, lon, street, postcode = [], [], [], [], []
    for spans in t.column("spans").to_pylist():
        for s in spans:
            if s["kind"] != "node":
                continue
            try:
                d = json.loads(s["text"])
            except (TypeError, ValueError):
                continue
            if d.get("id") is None:
                continue
            tags = d.get("tags") or {}
            ids.append(str(d["id"]))
            lat.append(float(d["lat"]))
            lon.append(float(d["lon"]))
            street.append(tags.get("addr:street"))
            postcode.append(tags.get("addr:postcode"))
    return {"id": np.array(ids, dtype=object), "lat": np.array(lat),
            "lon": np.array(lon), "street": street, "postcode": postcode}


# --------------------------------------------------------------------------
# point in polygon
# --------------------------------------------------------------------------


def _seg_dist_deg(lat, lon, y1, x1, y2, x2):
    """Planar distance (degrees) from points to one segment."""
    dy, dx = y2 - y1, x2 - x1
    L2 = dy * dy + dx * dx
    t = np.clip(((lat - y1) * dy + (lon - x1) * dx) / (L2 if L2 else 1.0),
                0.0, 1.0)
    return np.hypot(lat - (y1 + t * dy), lon - (x1 + t * dx))


def pip_mask(lat, lon, ring):
    """(inside, ambiguous) boolean arrays for points vs one closed ring
    given as [(lat, lon), ...]: even-odd crossing number on a ray toward
    +lon, the half-open straddle rule for vertices."""
    ry = np.array([p[0] for p in ring])
    rx = np.array([p[1] for p in ring])
    inside = np.zeros(len(lat), dtype=bool)
    amb = np.zeros(len(lat), dtype=bool)
    for i in range(len(ry) - 1):
        y1, y2, x1, x2 = ry[i], ry[i + 1], rx[i], rx[i + 1]
        straddle = (y1 > lat) != (y2 > lat)
        if y2 != y1:
            xint = x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
            inside ^= straddle & (lon < xint)
        amb |= _seg_dist_deg(lat, lon, y1, x1, y2, x2) < EDGE_EPS_DEG
    return inside, amb


def polygon_members(nodes: dict, polys: list[dict]) -> dict[str, tuple]:
    """poly_id -> (inside mask, ambiguous mask) over `nodes`."""
    return {p["poly_id"]: pip_mask(nodes["lat"], nodes["lon"], p["ring"])
            for p in polys}


def count_band(mask_pair) -> tuple[int, int]:
    inside, amb = mask_pair
    return int((inside & ~amb).sum()), int((inside | amb).sum())


# --------------------------------------------------------------------------
# great-circle distance, kNN and radius
# --------------------------------------------------------------------------


def haversine(lat1, lon1, lat2, lon2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = (np.sin((p2 - p1) / 2) ** 2
         + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2)
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


class GridIndex:
    """Nodes bucketed on a lat/lon grid; candidate lookups by square of
    cells.  Exact for kNN and radius because every search radius is
    checked against the distance the searched square provably covers."""

    def __init__(self, nodes: dict, cell_deg: float = 0.002):
        self.nodes = nodes
        self.cell = cell_deg
        cy = np.floor(nodes["lat"] / cell_deg).astype(np.int64)
        cx = np.floor(nodes["lon"] / cell_deg).astype(np.int64)
        self.key = cx * (1 << 32) + (cy + (1 << 31))
        self.order = np.argsort(self.key, kind="stable")
        self.skey = self.key[self.order]
        self.max_abs_lat = float(np.abs(nodes["lat"]).max()) + 1.0

    def _square(self, qlat, qlon, r):
        cy = int(math.floor(qlat / self.cell))
        cx = int(math.floor(qlon / self.cell))
        parts = []
        for x in range(cx - r, cx + r + 1):
            lo = x * (1 << 32) + (cy - r + (1 << 31))
            hi = x * (1 << 32) + (cy + r + (1 << 31))
            a, b = np.searchsorted(self.skey, [lo, hi + 1])
            if b > a:
                parts.append(self.order[a:b])
        return np.concatenate(parts) if parts else np.zeros(0, np.int64)

    def _covered_m(self, qlat, qlon, r):
        """Distance every node outside the searched square is beyond."""
        cy = math.floor(qlat / self.cell)
        cx = math.floor(qlon / self.cell)
        dlat = min(qlat - (cy - r) * self.cell, (cy + r + 1) * self.cell - qlat)
        dlon = min(qlon - (cx - r) * self.cell, (cx + r + 1) * self.cell - qlon)
        m_per_deg = EARTH_RADIUS_M * math.pi / 180.0
        return 0.99 * m_per_deg * min(
            dlat, dlon * math.cos(math.radians(self.max_abs_lat)))

    def knn_dists(self, qlat, qlon, k):
        n = len(self.nodes["lat"])
        r = 1
        while True:
            idx = self._square(qlat, qlon, r)
            if len(idx) >= min(k, n):
                d = np.sort(haversine(qlat, qlon, self.nodes["lat"][idx],
                                      self.nodes["lon"][idx]))[:k]
                if len(idx) == n or d[-1] <= self._covered_m(qlat, qlon, r):
                    return d
            r *= 2

    def radius_band(self, qlat, qlon, radius_m):
        r = 1
        while self._covered_m(qlat, qlon, r) <= radius_m * 1.001:
            r *= 2
        idx = self._square(qlat, qlon, r)
        d = haversine(qlat, qlon, self.nodes["lat"][idx],
                      self.nodes["lon"][idx])
        return (int((d <= radius_m * (1 - DIST_REL_EPS)).sum()),
                int((d <= radius_m * (1 + DIST_REL_EPS)).sum()))


def same_dists(got, want) -> bool:
    got, want = np.sort(np.asarray(got, float)), np.asarray(want, float)
    return len(got) == len(want) and bool(
        np.all(np.abs(got - want) <= 1e-6 + DIST_REL_EPS * want))


# --------------------------------------------------------------------------
# Web-Mercator tiles
# --------------------------------------------------------------------------


def tile_xy(lat, lon, zoom):
    """(tile_x, tile_y, ambiguous) per point for the z/x/y scheme."""
    n = float(1 << zoom)
    fx = (np.asarray(lon) + 180.0) / 360.0 * n
    phi = np.radians(np.asarray(lat))
    fy = (1.0 - np.log(np.tan(phi) + 1.0 / np.cos(phi)) / math.pi) / 2.0 * n
    amb = ((np.abs(fx - np.round(fx)) < 1e-9 * n)
           | (np.abs(fy - np.round(fy)) < 1e-9 * n))
    top = (1 << zoom) - 1
    tx = np.minimum(np.floor(fx), top).astype(np.int64)
    ty = np.minimum(np.floor(fy), top).astype(np.int64)
    return tx, ty, amb


def tile_bbox(tx, ty, zoom):
    """(lat_min, lat_max, lon_min, lon_max) of one tile."""
    n = float(1 << zoom)

    def lat_of(y):
        return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * y / n))))

    return lat_of(ty + 1), lat_of(ty), tx / n * 360.0 - 180.0, \
        (tx + 1) / n * 360.0 - 180.0


def tile_count_band(nodes: dict, zoom: int, tx: int, ty: int):
    x, y, amb = tile_xy(nodes["lat"], nodes["lon"], zoom)
    hit = (x == tx) & (y == ty)
    return int((hit & ~amb).sum()), int((hit | amb).sum())


def distinct_tiles_band(nodes: dict, zoom: int):
    x, y, amb = tile_xy(nodes["lat"], nodes["lon"], zoom)
    sure = set(zip(x[~amb].tolist(), y[~amb].tolist()))
    return len(sure), len(sure) + int(amb.sum())


# --------------------------------------------------------------------------
# street and postcode audits (the reference project's update_name rules)
# --------------------------------------------------------------------------

STREET_MAPPING = {
    "St": "Street", "St.": "Street", "st": "Street",
    "Ave": "Avenue", "Ave.": "Avenue", "Av": "Avenue",
    "Rd": "Road", "Rd.": "Road", "rd": "Road",
    "Blvd": "Boulevard", "Dr": "Drive", "Dr.": "Drive",
    "Ct": "Court", "Pl": "Place", "Sq": "Square",
    "Ln": "Lane", "Cres": "Crescent", "Ter": "Terrace",
    "Upp": "Upper", "Jln": "Jalan", "Jln.": "Jalan",
    "Lor": "Lorong", "Lor.": "Lorong", "Bt": "Bukit",
}
PREFIX_TYPES = {"Jalan", "Lorong", "Bukit", "Taman", "Kampong", "Lengkok"}
PREFIX_FORMS = PREFIX_TYPES | {a for a, f in STREET_MAPPING.items()
                               if f in PREFIX_TYPES}
_LAST_TOKEN = re.compile(r"\b(\S+?)\.?$")


def normalize_street(street: str) -> tuple[str, str]:
    """(normalized_type, normalized_street): a Malay prefix type in first
    position is the street type, otherwise the last token without its
    trailing period; abbreviations map to their canonical form."""
    first = street.split(" ")[0]
    if first in PREFIX_FORMS:
        stype = first
    else:
        m = _LAST_TOKEN.search(street)
        stype = m.group(1) if m else ""
    norm = STREET_MAPPING.get(stype, stype)
    if stype == first:
        return norm, norm + re.sub(r"^\S+", "", street, count=1)
    return norm, re.sub(r"\S+\.?$", norm, street, count=1)


def street_type_counts(streets) -> Counter:
    return Counter(normalize_street(s)[0] for s in streets if s is not None)


def postcode_class(pc: str) -> str:
    if re.fullmatch(r"[0-8][0-9]{5}", pc):
        return "valid_sg"
    if re.fullmatch(r"[0-9]{5}", pc):
        return "out_of_area"
    return "invalid"


def repair_postcode(pc: str | None) -> str | None:
    if pc is None:
        return None
    digits = re.sub(r"[^0-9]", "", pc)
    return digits if re.fullmatch(r"[0-9]{6}", digits) else pc


def postcode_class_counts(postcodes) -> Counter:
    return Counter(postcode_class(p) for p in postcodes if p is not None)
