"""Independent oracle for the benchmark's outputs.

Elevations come from the closed-form DEM (``fixtures.dem_value``) with the
reference's bilinear op order written out here, not taken from
``kernels``, so a decode or interpolation defect in the engine shows as a
mismatch.  ``count_failures`` turns an actual-vs-expected comparison into
the number of missing, extra and non-identical output rows that feeds
``ok_frac`` (= 1 - failed_frac).
"""

from __future__ import annotations

import json
import math

import numpy as np
import pandas as pd

from elevation_service_spark import fixtures

VOID = -32768
# (sw_lat, sw_lon) -> grid size of every tile in the benchmark's tile table
TILE_SIZES = {(t[1], t[2]): t[3] for t in fixtures.FIXTURE_TILES}


def _node(sw_lat: int, sw_lon: int, n: int, r: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Grid sample (row r, col c) of the tile at (sw_lat, sw_lon) as float64,
    including the void sample planted at fixtures.VOID_NODE."""
    v = fixtures.dem_value((sw_lat + 90) * n + r, (sw_lon + 180) * n + c).astype(np.float64)
    vr, vc = fixtures.VOID_NODE
    return np.where((r == vr) & (c == vc), float(VOID), v)


def elevations(lat: np.ndarray, lon: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(elevation with NaN, status) per point, as the engine must produce."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    elev = np.full(len(lat), np.nan)
    status = np.full(len(lat), "TILE_MISSING", dtype=object)
    fl_lat = np.floor(lat).astype(np.int64)
    fl_lon = np.floor(lon).astype(np.int64)
    for (sw_lat, sw_lon), size in TILE_SIZES.items():
        m = (fl_lat == sw_lat) & (fl_lon == sw_lon)
        if not m.any():
            continue
        n = size - 1
        row = (lat[m] - sw_lat) * n
        col = (lon[m] - sw_lon) * n
        r0 = np.floor(row).astype(np.int64)
        c0 = np.floor(col).astype(np.int64)
        rf = row - r0
        cf = col - c0
        r1 = np.minimum(r0 + 1, n)
        c1 = np.minimum(c0 + 1, n)
        v00 = _node(sw_lat, sw_lon, n, r0, c0)
        v10 = _node(sw_lat, sw_lon, n, r0, c1)
        v01 = _node(sw_lat, sw_lon, n, r1, c0)
        v11 = _node(sw_lat, sw_lon, n, r1, c1)
        v1 = v00 + (v10 - v00) * cf
        v2 = v01 + (v11 - v01) * cf
        elev[m] = v1 + (v2 - v1) * rf
        status[m] = "OK"
    return elev, status


def skadi_keys(lat: np.ndarray, lon: np.ndarray) -> list[str]:
    out = []
    for a, o in zip(np.floor(lat).astype(int).tolist(), np.floor(lon).astype(int).tolist()):
        out.append(f"{'S' if a < 0 else 'N'}{abs(a):02d}{'W' if o < 0 else 'E'}{abs(o):03d}")
    return out


def expected_points(points: pd.DataFrame) -> pd.DataFrame:
    """Enriched rows for a points frame (url, point_idx, lat, lon, ...)."""
    out = points.copy()
    lat = out["lat"].to_numpy(np.float64)
    lon = out["lon"].to_numpy(np.float64)
    out["tile_key"] = skadi_keys(lat, lon)
    out["elevation"], out["status"] = elevations(lat, lon)
    return out


# -- GeoJSON ------------------------------------------------------------------

def _positions(obj) -> list:
    t = obj.get("type") if isinstance(obj, dict) else None
    c = obj.get("coordinates") if t else None
    if t == "Point":
        return [c]
    if t in ("MultiPoint", "LineString"):
        return list(c)
    if t in ("MultiLineString", "Polygon"):
        return [p for ring in c for p in ring]
    if t == "MultiPolygon":
        return [p for poly in c for ring in poly for p in ring]
    if t == "GeometryCollection":
        return [p for g in obj["geometries"] for p in _positions(g)]
    if t == "Feature":
        return _positions(obj["geometry"]) if obj.get("geometry") else []
    if t == "FeatureCollection":
        return [p for f in obj["features"] for p in _positions(f)]
    raise ValueError(t)


def _is_number(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def expected_docs(docs: pd.DataFrame, max_doc_bytes: int) -> pd.DataFrame:
    """(url, geojson_out, n_positions, n_enriched, status) per document:
    coords[2] set to the elevation where one exists, canonical JSON out."""
    parsed = []
    lats, lons = [], []
    for url, raw in zip(docs["url"], docs["geojson"]):
        if len(raw.encode("utf-8")) > max_doc_bytes:
            parsed.append((url, None, None, "TOO_LARGE"))
            continue
        try:
            obj = json.loads(raw)
        except ValueError:
            parsed.append((url, None, None, "INVALID_JSON"))
            continue
        try:
            pos = _positions(obj)
            ok = all(isinstance(p, list) and len(p) >= 2
                     and _is_number(p[0]) and _is_number(p[1]) for p in pos)
        except (ValueError, KeyError, TypeError):
            ok = False
        if not ok:
            parsed.append((url, None, None, "NOT_GEOJSON"))
            continue
        parsed.append((url, obj, pos, len(lats)))
        lats.extend(float(p[1]) for p in pos)
        lons.extend(float(p[0]) for p in pos)
    elev, _ = elevations(np.array(lats), np.array(lons))
    rows = []
    for url, obj, pos, start in parsed:
        if obj is None:
            rows.append((url, None, 0, 0, start))
            continue
        n_enr = 0
        for i, p in enumerate(pos):
            e = elev[start + i]
            if not math.isnan(e):
                if len(p) >= 3:
                    p[2] = float(e)
                else:
                    p.append(float(e))
                n_enr += 1
        status = "EMPTY" if not pos else "OK" if n_enr == len(pos) else "PARTIAL"
        rows.append((url, json.dumps(obj, separators=(",", ":"), sort_keys=True),
                     len(pos), n_enr, status))
    return pd.DataFrame(rows, columns=["url", "geojson_out", "n_positions",
                                       "n_enriched", "status"])


# -- comparison ---------------------------------------------------------------

def _same(a: pd.Series, b: pd.Series) -> np.ndarray:
    if a.dtype.kind == "f" or b.dtype.kind == "f":
        x = np.nan_to_num(a.to_numpy(np.float64), nan=np.inf, posinf=np.inf)
        y = np.nan_to_num(b.to_numpy(np.float64), nan=np.inf, posinf=np.inf)
        # bit-identical (distinguishes -0.0 and every last-ulp difference)
        return x.view(np.int64) == y.view(np.int64)
    na = a.isna().to_numpy()
    nb = b.isna().to_numpy()
    eq = (a.to_numpy(object) == b.to_numpy(object))
    return (na & nb) | (~na & ~nb & eq)


def count_failures(expected: pd.DataFrame, actual: pd.DataFrame,
                   key: list[str]) -> int:
    """Expected rows that are missing, plus actual rows that are extra or
    duplicated, plus matched rows whose any compared column differs."""
    cols = [c for c in expected.columns if c not in key]
    actual = actual[key + cols]
    dup = actual.duplicated(key)
    actual = actual[~dup]
    m = expected.merge(actual, on=key, how="outer", suffixes=("_e", "_a"),
                       indicator=True)
    missing = int((m["_merge"] == "left_only").sum())
    extra = int((m["_merge"] == "right_only").sum()) + int(dup.sum())
    both = m[m["_merge"] == "both"]
    bad = np.zeros(len(both), dtype=bool)
    for c in cols:
        bad |= ~_same(both[c + "_e"], both[c + "_a"])
    return missing + extra + int(bad.sum())
