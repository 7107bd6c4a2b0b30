"""GeoJSON coordinate augmentation (SURVEY.md §2 ops 3, 4, 12, 14).

Reference semantics (geojson-elevation/index.js § addElevation):
- recursive dispatch on ``type`` visiting every position of Point /
  MultiPoint / LineString / MultiLineString / Polygon / MultiPolygon /
  GeometryCollection / Feature / FeatureCollection, in document order;
- coordinates are GeoJSON ``[lon, lat]``; the provider is called with
  ``[lat, lon]``; elevation is written back as ``coords[2]``;
- the rest of the document (properties, foreign members) passes through
  untouched.

Spark shape: GeoJSON nesting is ragged (1-4 deep depending on geometry
type), which StructType cannot express — documents stay raw JSON strings
and the walk happens batch-at-a-time inside Arrow UDFs (SURVEY.md §1.2).
Positions of one document co-locate via groupBy(url); document size is
bounded (the reference caps POST bodies ~500 kB), so per-group memory is
bounded and there is no intra-group skew concern at scale.

Engine error surface (op 14, total — never throws per-row):
doc status ∈ OK | PARTIAL (some positions unenriched) | EMPTY (no
positions) | INVALID_JSON | NOT_GEOJSON | TOO_LARGE (reference
MAX_POST_SIZE parity: documents over ``max_doc_bytes`` are statused and
never parsed).
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .lookup import enrich_points, tiles_bytes

_GEOM_TYPES = {"Point", "MultiPoint", "LineString", "MultiLineString",
               "Polygon", "MultiPolygon", "GeometryCollection", "Feature",
               "FeatureCollection"}

# reference parity: elevation-service caps POST bodies (~500 kB); documents
# over the cap are statused TOO_LARGE without ever being parsed
DEFAULT_MAX_DOC_BYTES = 500_000


def walk_positions(obj) -> Iterator[list]:
    """Yield every position array of a GeoJSON value, in the reference's
    visit order (document order, depth-first).  Yields the *mutable* lists
    so the re-assembly pass can write coords[2] in place."""
    t = obj.get("type") if isinstance(obj, dict) else None
    if t == "Point":
        yield obj["coordinates"]
    elif t in ("MultiPoint", "LineString"):
        yield from obj["coordinates"]
    elif t in ("MultiLineString", "Polygon"):
        for ring in obj["coordinates"]:
            yield from ring
    elif t == "MultiPolygon":
        for poly in obj["coordinates"]:
            for ring in poly:
                yield from ring
    elif t == "GeometryCollection":
        for g in obj["geometries"]:
            yield from walk_positions(g)
    elif t == "Feature":
        if obj.get("geometry"):
            yield from walk_positions(obj["geometry"])
    elif t == "FeatureCollection":
        for f in obj["features"]:
            yield from walk_positions(f)
    else:
        raise ValueError(f"not a GeoJSON value: type={t!r}")


def validated_positions(obj) -> list:
    """walk_positions + per-position validation: every position must be a
    list of >= 2 numbers.  Raises ValueError on a malformed position so a
    structurally-valid JSON doc with e.g. ``coordinates: []`` or
    non-numeric coords is routed to NOT_GEOJSON instead of crashing the
    Arrow worker (op-14 total error surface)."""
    positions = list(walk_positions(obj))
    for pos in positions:
        if (not isinstance(pos, list) or len(pos) < 2
                or not all(isinstance(v, (int, float)) and not isinstance(v, bool)
                           for v in pos[:2])):
            raise ValueError(f"malformed position: {pos!r}")
    return positions


def canonical_json(obj) -> str:
    """Canonical serialization for byte-comparison goldens: sorted keys,
    no whitespace (FIXTURES.md §4)."""
    return json.dumps(obj, separators=(",", ":"), sort_keys=True)


_FLAT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("pos_idx", T.IntegerType(), False),
    T.StructField("lat", T.DoubleType(), True),
    T.StructField("lon", T.DoubleType(), True),
])


def flatten_geojson(docs: DataFrame, url_col: str = "url",
                    geojson_col: str = "geojson",
                    max_doc_bytes: int = DEFAULT_MAX_DOC_BYTES) -> DataFrame:
    """One row per GeoJSON position: (url, pos_idx, lat, lon).  Invalid,
    non-GeoJSON, malformed-position, or oversize documents yield no rows
    here; they are re-detected (and statused) by reassembly, so the
    flatten stays a pure generator.  The size cap is a JVM-side filter —
    oversize payloads never cross the Arrow boundary."""
    cols = (url_col, geojson_col)
    from pyspark.sql import functions as F
    docs = docs.filter(F.octet_length(F.col(geojson_col)) <= max_doc_bytes)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, idxs, lats, lons = [], [], [], []
            for url, raw in zip(pdf[url_col], pdf[geojson_col]):
                try:
                    obj = json.loads(raw)
                    positions = validated_positions(obj)
                except (ValueError, TypeError, KeyError):
                    continue
                for i, pos in enumerate(positions):
                    urls.append(url)
                    idxs.append(i)
                    # GeoJSON order [lon, lat]; provider order [lat, lon] (op 4)
                    lons.append(float(pos[0]))
                    lats.append(float(pos[1]))
            yield pd.DataFrame({"url": pd.Series(urls, dtype=object),
                                "pos_idx": pd.Series(idxs, dtype="int32"),
                                "lat": pd.Series(lats, dtype="float64"),
                                "lon": pd.Series(lons, dtype="float64")})

    return docs.select(*cols).mapInPandas(gen, _FLAT_SCHEMA)


_DOC_OUT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("geojson_out", T.StringType(), True),
    T.StructField("n_positions", T.IntegerType(), False),
    T.StructField("n_enriched", T.IntegerType(), False),
    T.StructField("status", T.StringType(), False),
])


def reassemble_geojson(docs: DataFrame, enriched: DataFrame,
                       url_col: str = "url",
                       geojson_col: str = "geojson",
                       max_doc_bytes: int = DEFAULT_MAX_DOC_BYTES) -> DataFrame:
    """Inverse of flatten (op 12): write elevations back as coords[2] in
    the original documents.  enriched: (url, pos_idx, elevation, ...).
    Output position order == input order.

    Physical shape (SURVEY.md §2 op-12): elevations are gathered per doc
    with a JVM-side ``sort_array(collect_list(struct(pos_idx, elevation)))``
    aggregation, hash-joined back to the documents, and the JSON rewrite
    runs as ONE batched mapInPandas — NOT a per-url cogroup (one Arrow
    batch per tiny group is ~30x slower at millions of docs)."""
    from pyspark.sql import functions as F
    agg = (enriched.groupBy("url")
           .agg(F.sort_array(F.collect_list(F.struct("pos_idx", "elevation")))
                .alias("_elevs")))
    joined = (docs.select(F.col(url_col).alias("url"), geojson_col)
              .join(agg, "url", "left"))

    def gen(batches):
        for pdf in batches:
            out = {"url": [], "geojson_out": [], "n_positions": [],
                   "n_enriched": [], "status": []}
            for url, raw, elev_rows in zip(pdf["url"], pdf[geojson_col], pdf["_elevs"]):
                elevs = ([e["elevation"] for e in elev_rows]
                         if elev_rows is not None else [])
                geojson_out, n_pos, n_enr, status = None, 0, 0, "OK"
                if raw is not None and len(raw.encode("utf-8")) > max_doc_bytes:
                    # MAX_POST_SIZE parity: statused without parsing
                    out["url"].append(url)
                    out["geojson_out"].append(None)
                    out["n_positions"].append(0)
                    out["n_enriched"].append(0)
                    out["status"].append("TOO_LARGE")
                    continue
                try:
                    obj = json.loads(raw)
                except (ValueError, TypeError):
                    status = "INVALID_JSON"
                    obj = None
                if obj is not None:
                    try:
                        positions = validated_positions(obj)
                    except (ValueError, TypeError, KeyError):
                        status = "NOT_GEOJSON"
                        positions = None
                    if positions is not None:
                        n_pos = len(positions)
                        for i, pos in enumerate(positions):
                            ele = elevs[i] if i < len(elevs) else None
                            if ele is not None and ele == ele:  # not NaN
                                if len(pos) >= 3:
                                    pos[2] = float(ele)
                                else:
                                    pos.append(float(ele))
                                n_enr += 1
                        geojson_out = canonical_json(obj)
                        status = ("EMPTY" if n_pos == 0
                                  else "OK" if n_enr == n_pos else "PARTIAL")
                out["url"].append(url)
                out["geojson_out"].append(geojson_out)
                out["n_positions"].append(n_pos)
                out["n_enriched"].append(n_enr)
                out["status"].append(status)
            yield pd.DataFrame({
                "url": pd.Series(out["url"], dtype=object),
                "geojson_out": pd.Series(out["geojson_out"], dtype=object),
                "n_positions": pd.Series(out["n_positions"], dtype="int32"),
                "n_enriched": pd.Series(out["n_enriched"], dtype="int32"),
                "status": pd.Series(out["status"], dtype=object),
            })

    return joined.mapInPandas(gen, _DOC_OUT_SCHEMA)


def add_elevation_docs_fused(docs: DataFrame, tiles: DataFrame, *,
                             interpolation: str = "bilinear",
                             url_col: str = "url", geojson_col: str = "geojson",
                             max_doc_bytes: int = DEFAULT_MAX_DOC_BYTES,
                             broadcast_bytes_threshold: int = 512 << 20,
                             _tiles_bytes: int | None = None) -> DataFrame:
    """Single-pass POST /geojson: ONE mapInPandas walks, enriches (broadcast
    tile map + the same batch-vectorized kernel as enrich_points'
    broadcast strategy), and rewrites each document in place — one JSON
    parse + one dump per doc, ZERO shuffle, and the document string
    crosses the Arrow boundary once each way (the flatten→enrich→reassemble
    pipeline parses twice and ships the doc text in twice).  Output rows,
    statuses, and elevation values are identical to add_elevation_docs
    (same walk, same kernel, same grid cache).

    The needed-tile working set is only knowable by PARSING the docs (the
    very pass fusion eliminates), so this path broadcasts the WHOLE tile
    table — guarded by ``broadcast_bytes_threshold`` (ADVICE r3: an
    unguarded collect here OOMs the driver on a large tile table).  Callers
    go through add_elevation_docs, which probes the size and falls back to
    the flatten→enrich→reassemble pipeline (which CAN prune tiles to the
    docs' working set) when the table is too big; a direct oversize call
    raises."""
    import numpy as np
    from pyspark.sql import functions as F

    from .lookup import _enrich_one_tile_codes, _tile_map

    sz = tiles_bytes(tiles) if _tiles_bytes is None else _tiles_bytes
    if sz > broadcast_bytes_threshold:
        raise ValueError(
            f"tile table is {sz} bytes > broadcast threshold "
            f"{broadcast_bytes_threshold}; the fused single-pass form cannot "
            "prune tiles — use add_elevation_docs(strategy='auto'/'broadcast'/"
            "'cogroup'), which prunes to the docs' tile working set")
    bc = docs.sparkSession.sparkContext.broadcast(_tile_map(tiles))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tile_map = bc.value
        for pdf in batches:
            # pass 1: parse + validate every doc, flatten the batch's
            # positions into one vector for the kernel
            parsed: list = []  # (url, obj|None, positions|None, status, start, n)
            lats: list[float] = []
            lons: list[float] = []
            for url, raw in zip(pdf[url_col], pdf[geojson_col]):
                if raw is not None and len(raw.encode("utf-8")) > max_doc_bytes:
                    parsed.append((url, None, None, "TOO_LARGE", 0, 0))
                    continue
                try:
                    obj = json.loads(raw)
                except (ValueError, TypeError):
                    parsed.append((url, None, None, "INVALID_JSON", 0, 0))
                    continue
                try:
                    positions = validated_positions(obj)
                except (ValueError, TypeError, KeyError):
                    parsed.append((url, None, None, "NOT_GEOJSON", 0, 0))
                    continue
                parsed.append((url, obj, positions, None, len(lats), len(positions)))
                for pos in positions:
                    lons.append(float(pos[0]))
                    lats.append(float(pos[1]))
            # pass 2: enrich the whole batch, grouped by tile id exactly
            # like _enrich_broadcast (non-finite coords get sentinel -1 ->
            # no tile; the kernel statuses them OUT_OF_BOUNDS regardless)
            lat = np.asarray(lats, dtype=np.float64)
            lon = np.asarray(lons, dtype=np.float64)
            elev = np.full(len(lat), np.nan)
            if len(lat):
                finite = np.isfinite(lat) & np.isfinite(lon)
                tid = np.full(len(lat), -1, dtype=np.int64)
                tid[finite] = ((np.floor(lat[finite]).astype(np.int64) + 90) * 512
                               + np.floor(lon[finite]).astype(np.int64) + 180)
                for key, idx in pd.Series(tid).groupby(tid, sort=False).indices.items():
                    e, _c = _enrich_one_tile_codes(lat[idx], lon[idx],
                                                   tile_map.get(key), interpolation)
                    elev[idx] = e
            # pass 3: write coords[2] back and serialize once
            out = {"url": [], "geojson_out": [], "n_positions": [],
                   "n_enriched": [], "status": []}
            for url, obj, positions, status, start, n_pos in parsed:
                geojson_out, n_enr = None, 0
                if status is None:
                    for i, pos in enumerate(positions):
                        ele = elev[start + i]
                        if ele == ele:  # not NaN
                            if len(pos) >= 3:
                                pos[2] = float(ele)
                            else:
                                pos.append(float(ele))
                            n_enr += 1
                    geojson_out = canonical_json(obj)
                    status = ("EMPTY" if n_pos == 0
                              else "OK" if n_enr == n_pos else "PARTIAL")
                out["url"].append(url)
                out["geojson_out"].append(geojson_out)
                out["n_positions"].append(n_pos)
                out["n_enriched"].append(n_enr)
                out["status"].append(status)
            yield pd.DataFrame({
                "url": pd.Series(out["url"], dtype=object),
                "geojson_out": pd.Series(out["geojson_out"], dtype=object),
                "n_positions": pd.Series(out["n_positions"], dtype="int32"),
                "n_enriched": pd.Series(out["n_enriched"], dtype="int32"),
                "status": pd.Series(out["status"], dtype=object),
            })

    # Map-only: parallelism comes from the input scan, as at real scale.
    # Deliberately NO local repartition for thin fixture inputs — spreading
    # a tiny corpus across 32 workers makes every worker cold-decode every
    # tile into its own cache (measured 3-5x slower end-to-end than letting
    # one warm worker stream through it).  Callers with a genuinely large
    # single-file input should .repartition() before calling.
    return (docs.select(F.col(url_col).alias("url"), geojson_col)
            .mapInPandas(gen, _DOC_OUT_SCHEMA))


def add_elevation_docs(docs: DataFrame, tiles: DataFrame, *,
                       interpolation: str = "bilinear",
                       strategy: str = "auto",
                       max_doc_bytes: int = DEFAULT_MAX_DOC_BYTES,
                       broadcast_bytes_threshold: int = 512 << 20) -> DataFrame:
    """The full POST /geojson equivalent.  Returns (url, geojson_out,
    n_positions, n_enriched, status).

    strategy="fused" runs the single-pass map-only form
    (add_elevation_docs_fused) when the WHOLE tile table fits the broadcast
    threshold, falling back to the pipeline otherwise (the fused pass
    cannot prune tiles — ADVICE r3); "auto" makes the same size-probed
    choice, routing small tile tables through the fused form and large
    ones through the pipeline with enrich_points' own auto
    broadcast/cogroup pick; "broadcast" / "cogroup" force the flatten →
    enrich → re-assemble pipeline with that kernel-join strategy."""
    if strategy in ("fused", "auto"):
        sz = tiles_bytes(tiles)  # sum(length(data)) — the data column is a
        # full scan on a big tile table, so probe ONCE and hand the result down
        if sz <= broadcast_bytes_threshold:
            return add_elevation_docs_fused(
                docs, tiles, interpolation=interpolation,
                max_doc_bytes=max_doc_bytes,
                broadcast_bytes_threshold=broadcast_bytes_threshold,
                _tiles_bytes=sz)
        if strategy == "fused":
            # the caller asked for the map-only single-pass plan by name;
            # the fallback is a materially different plan (shuffling,
            # double-parse) — downgrade loudly, not silently (ADVICE r4)
            import warnings
            warnings.warn(
                f"add_elevation_docs: strategy='fused' downgraded to the "
                f"flatten/enrich/reassemble pipeline — tile table is {sz} "
                f"bytes > broadcast threshold {broadcast_bytes_threshold}",
                RuntimeWarning, stacklevel=2)
        strategy = "auto"  # oversize: pipeline + enrich's own size probe
    flat = flatten_geojson(docs, max_doc_bytes=max_doc_bytes)
    # forward the caller's driver-memory bound: enrich's broadcast-vs-
    # cogroup pick must honor the same threshold the fused guard applied
    enriched = enrich_points(flat, tiles, interpolation=interpolation,
                             strategy=strategy,
                             broadcast_bytes_threshold=broadcast_bytes_threshold)
    return reassemble_geojson(docs, enriched, max_doc_bytes=max_doc_bytes)
