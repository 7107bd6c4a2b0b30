"""Seeded benchmark inputs, written as parquet files the engine reads.

Inputs are a pure function of (workload, seed, scale).  They are cached
under ``perfbench/_cache/<workload>-s<seed>-x<scale>/`` so a repeated run
skips generation; generation time is never part of a timed metric.

Each input table is split into more parquet files than cores, the way a
crawl shard arrives, so the scan itself supplies the parallelism and
``operators/spread.py`` stays a no-op.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from elevation_service_spark import fixtures
from elevation_service_spark.operators.geojson import DEFAULT_MAX_DOC_BYTES

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, "_cache")
KEEP_ENTRIES = 12

# rows per workload at scale 1.0
SIZES = {
    "crawl_pages": 12_000,        # pages (~2.5 points each)
    "hot_tile_cogroup": 260_000,  # points; hot tile > 200k points -> salted
    "geojson_docs": 9_000,        # documents (~37 positions each)
}
# side samples: layers a workload does not run are probed on these
SIDE_PAGES = 3_000
SIDE_DOCS = 1_500

HOT_SHARE_COGROUP = 0.8
MISSING_SHARE = 0.01
DOC_MISSING_SHARE = 0.03

TILES_SCHEMA = pa.schema([
    ("tile_key", pa.string()), ("z", pa.int32()), ("x", pa.int32()),
    ("y", pa.int32()), ("sw_lat", pa.int32()), ("sw_lon", pa.int32()),
    ("size", pa.int32()), ("encoding", pa.string()), ("data", pa.binary()),
    ("lat_band", pa.int32()),
])

# hot_tile_cogroup reads hgt / hgt.gz only; crawl and geojson read the
# mixed fixture encodings (hgt, hgt.gz, 3601^2 hgt, terrarium PNG)
HGT_ONLY = {"S01W001": "hgt.gz", "N59E179": "hgt.gz"}


def n_files() -> int:
    return max(8, 2 * len(os.sched_getaffinity(0)))


def _write_split(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    k = n_files()
    step = -(-table.num_rows // k)
    for i in range(k):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:04d}.parquet"))


def write_tiles(path: str, encodings: dict[str, str] | None) -> None:
    """Tile table in the layout ``sources.tiles.write_tiles`` produces
    (parquet partitioned by 10-degree latitude band)."""
    rows = fixtures.tiles_rows(encodings=encodings)
    cols = {name: [r[name] for r in rows] for name in TILES_SCHEMA.names[:-1]}
    cols["lat_band"] = [int(r["sw_lat"] / 10) * 10 for r in rows]
    pq.write_to_dataset(pa.table(cols, schema=TILES_SCHEMA), path,
                        partition_cols=["lat_band"])


def _publish(tmp: str, path: str) -> None:
    """Move a finished cache entry into place; a concurrent run that got
    there first wins (both wrote the same seeded content)."""
    try:
        os.replace(tmp, path)
    except OSError:
        if not os.path.isdir(path):
            raise
        shutil.rmtree(tmp, ignore_errors=True)


def tiles_path(hgt_only: bool) -> str:
    path = os.path.join(CACHE, "tiles-hgt" if hgt_only else "tiles-mixed")
    if not os.path.isdir(path):
        tmp = path + f".tmp{os.getpid()}"
        write_tiles(tmp, HGT_ONLY if hgt_only else None)
        _publish(tmp, path)
    return path


# -- crawl pages --------------------------------------------------------------

def pages_table(n: int, seed: int) -> tuple[pa.Table, pa.Table]:
    """(pages, extraction golden) in the ``fixtures.pages_rows`` shape."""
    pages, golden = fixtures.pages_rows(n, seed=seed)
    return pa.Table.from_pylist(pages), pa.Table.from_pylist(golden)


# -- pre-extracted points -----------------------------------------------------

def points_table(n: int, seed: int) -> pa.Table:
    """Points with the ``extract_coords`` output schema: 80% on the hot
    tile, 1% on the missing tile, the rest over the other fixture tiles."""
    rng = np.random.default_rng(seed)
    others = [t for t in fixtures.FIXTURE_TILES if t[0] != fixtures.HOT_TILE]
    hot = next(t for t in fixtures.FIXTURE_TILES if t[0] == fixtures.HOT_TILE)
    u = rng.random(n)
    pick = rng.integers(0, len(others), n)
    sw_lat = np.array([t[1] for t in others])[pick]
    sw_lon = np.array([t[2] for t in others])[pick]
    sw_lat = np.where(u < HOT_SHARE_COGROUP, hot[1], sw_lat)
    sw_lon = np.where(u < HOT_SHARE_COGROUP, hot[2], sw_lon)
    miss = u > 1.0 - MISSING_SHARE
    sw_lat = np.where(miss, fixtures.MISSING_TILE[1], sw_lat)
    sw_lon = np.where(miss, fixtures.MISSING_TILE[2], sw_lon)
    lat = np.round(sw_lat + np.round(rng.uniform(0.02, 0.98, n), 4), 4)
    lon = np.round(sw_lon + np.round(rng.uniform(0.02, 0.98, n), 4), 4)
    idx = np.arange(n)
    url = pa.array([f"https://example.org/page/{i}" for i in (idx // 4).tolist()])
    return pa.table({"url": url, "point_idx": pa.array(idx % 4, pa.int32()),
                     "lat": lat, "lon": lon})


# -- GeoJSON documents --------------------------------------------------------

def _doc_positions(rng: random.Random, k: int, missing: bool) -> list[list[float]]:
    key = (fixtures.HOT_TILE if rng.random() < 0.5
           else rng.choice([t[0] for t in fixtures.FIXTURE_TILES]))
    sw = next((t[1], t[2]) for t in fixtures.FIXTURE_TILES if t[0] == key)
    pos = [[round(sw[1] + rng.uniform(0.02, 0.98), 6),
            round(sw[0] + rng.uniform(0.02, 0.98), 6)] for _ in range(k)]
    if missing and pos:
        m = fixtures.MISSING_TILE
        pos[rng.randrange(len(pos))] = [round(m[2] + rng.uniform(0.02, 0.98), 6),
                                        round(m[1] + rng.uniform(0.02, 0.98), 6)]
    return pos


def _ring(rng: random.Random, missing: bool) -> list[list[float]]:
    ring = _doc_positions(rng, rng.randint(8, 24), missing)
    return ring + [list(ring[0])]


def _geometry(rng: random.Random, kind: str, missing: bool) -> dict:
    if kind == "Point":
        return {"type": "Point", "coordinates": _doc_positions(rng, 1, missing)[0]}
    if kind == "LineString":
        line = _doc_positions(rng, rng.randint(30, 70), missing)
        if rng.random() < 0.1:  # 3-D positions: coords[2] is overwritten
            line = [p + [0.0] for p in line]
        return {"type": "LineString", "coordinates": line}
    if kind == "Polygon":
        rings = [_ring(rng, missing)]
        if rng.random() < 0.3:
            rings.append(_ring(rng, False))
        return {"type": "Polygon", "coordinates": rings}
    if kind == "MultiPolygon":
        return {"type": "MultiPolygon",
                "coordinates": [[_ring(rng, missing and i == 0)]
                                for i in range(rng.randint(2, 3))]}
    raise ValueError(kind)


_KINDS = [("Point", 0.20), ("LineString", 0.33), ("Polygon", 0.15),
          ("MultiPolygon", 0.10), ("FeatureCollection", 0.15),
          ("EMPTY", 0.02), ("INVALID_JSON", 0.02), ("NOT_GEOJSON", 0.02),
          ("MALFORMED", 0.01)]


def docs_table(n: int, seed: int) -> pa.Table:
    """(url, geojson) documents: geometries, feature collections, and a
    small share of invalid-JSON, non-GeoJSON and oversize documents."""
    rng = random.Random(seed)
    names = [k for k, _ in _KINDS]
    weights = [w for _, w in _KINDS]
    urls, texts = [], []
    for i in range(n):
        kind = rng.choices(names, weights)[0]
        missing = rng.random() < DOC_MISSING_SHARE
        if i % 2000 == 1999:  # over the size cap: TOO_LARGE, never parsed
            blob = "x" * (DEFAULT_MAX_DOC_BYTES + 1)
            doc = {"type": "Feature", "properties": {"blob": blob},
                   "geometry": _geometry(rng, "Point", False)}
        elif kind == "FeatureCollection":
            doc = {"type": "FeatureCollection", "features": [
                {"type": "Feature", "properties": {"name": f"f{i}-{j}", "rank": j},
                 "geometry": _geometry(rng, rng.choice(["Point", "LineString", "Polygon"]),
                                       missing and j == 0)}
                for j in range(rng.randint(2, 5))]}
        elif kind == "EMPTY":
            doc = {"type": "FeatureCollection", "features": []}
        elif kind == "INVALID_JSON":
            texts.append('{"type": "Point", "coordinates": [11.5, 57' + "," * rng.randint(1, 3))
            urls.append(f"geojson://doc/{i}")
            continue
        elif kind == "NOT_GEOJSON":
            doc = {"hello": "world", "n": i}
        elif kind == "MALFORMED":
            doc = {"type": "LineString", "coordinates": [["a", "b"], [11.5, 57.5]]}
        else:
            doc = _geometry(rng, kind, missing)
            if rng.random() < 0.3:
                doc = {"type": "Feature", "properties": {"id": i}, "geometry": doc}
        urls.append(f"geojson://doc/{i}")
        texts.append(json.dumps(doc, separators=(",", ":")))
    return pa.table({"url": urls, "geojson": texts})


# -- cache --------------------------------------------------------------------

def _evict() -> None:
    entries = [os.path.join(CACHE, d) for d in os.listdir(CACHE)
               if not d.startswith("tiles-") and ".tmp" not in d]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[KEEP_ENTRIES:]:
        shutil.rmtree(old, ignore_errors=True)


def _entry(name: str, build) -> str:
    """Cache directory ``name``, written by ``build(tmp_dir)`` on a miss."""
    path = os.path.join(CACHE, name)
    if os.path.isdir(path):
        os.utime(path)
        return path
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    _publish(tmp, path)
    _evict()
    return path


def ensure_inputs(workload: str, seed: int, scale: float, side: bool) -> dict[str, str]:
    """Paths of the seeded inputs for one run, generating them on a miss.

    ``side`` adds the small side samples (pages, documents) that the traced
    run probes for layers the workload itself does not exercise."""
    os.makedirs(CACHE, exist_ok=True)
    n = max(1, int(SIZES[workload] * scale))

    def build(tmp: str) -> None:
        if workload == "crawl_pages":
            pages, golden = pages_table(n, seed)
            _write_split(pages, os.path.join(tmp, "pages"))
            pq.write_table(golden, os.path.join(tmp, "golden.parquet"))
        elif workload == "hot_tile_cogroup":
            _write_split(points_table(n, seed), os.path.join(tmp, "points"))
        else:
            _write_split(docs_table(n, seed), os.path.join(tmp, "docs"))

    def build_side(tmp: str) -> None:
        side_seed = seed + 7_919
        pages, _ = pages_table(max(1, int(SIDE_PAGES * min(scale, 1.0))), side_seed)
        _write_split(pages, os.path.join(tmp, "pages"))
        _write_split(docs_table(max(1, int(SIDE_DOCS * min(scale, 1.0))), side_seed),
                     os.path.join(tmp, "docs"))

    entry = _entry(f"{workload}-s{seed}-x{scale:g}", build)
    paths = {name: os.path.join(entry, name) for name in os.listdir(entry)}
    if side:
        side_entry = _entry(f"side-s{seed}-x{scale:g}", build_side)
        for name in ("pages", "docs"):
            paths.setdefault(name, os.path.join(side_entry, name))
    paths["tiles"] = tiles_path(hgt_only=workload == "hot_tile_cogroup")
    return paths
