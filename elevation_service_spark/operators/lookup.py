"""points ⨝ tiles elevation lookup — the engine's core operator.

Reference parity (SURVEY.md §2): op-7 HGT decode, op-8 grid transform +
bounds check, op-9 bilinear, op-10 nearest, op-11 the point⨝tile join,
op-13 cache→locality, op-14 total error surface (never throws per-row:
``elevation:double NULL`` + ``status``).

Two physical strategies, chosen for the 100 TB case:

- ``broadcast``: when the *working set* of tiles is small (the common case —
  a query touches a bounded region), ship the tile bytes to every worker
  once and enrich with a single ``mapInPandas`` pass over the points.
  **Zero shuffle of the points table** — at 100 TB of pages this is the
  difference between a map-only job and a full-table shuffle.  The
  reference's LRU tile cache (tileset.js § TileSet, TILE_SET_CACHE=128)
  reappears as a per-worker decoded-grid LRU of the same default size.
  Only requested tiles are fetched: ONE per-tile count probe of the
  points per call yields the working set that prunes the broadcast.

- ``cogroup``: when the tile working set is too big to broadcast, shuffle
  both sides by tile_key and run the kernel per cogroup.  The tile blob
  crosses the wire once per group — never replicated per point row (a plain
  join would glue 2.9 MB onto every point).  Optional salting splits
  hotspot tiles (a landmark tile holding a large share of all points)
  into ``salt_factor`` sub-groups; AQE skew-join cannot help here because
  the skew is inside a single group, not a partition of many keys.
"""

from __future__ import annotations

import gzip
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import kernels
from ..functions.keys import skadi_key_col

STATUS_OK = "OK"
STATUS_OUT_OF_BOUNDS = "OUT_OF_BOUNDS"
STATUS_TILE_MISSING = "TILE_MISSING"
STATUS_BAD_TILE = "BAD_TILE"

# per-worker decoded-grid LRU (TILE_SET_CACHE parity).  Grids are cached
# already converted to float64 — the kernel's dominant cost is otherwise an
# int16->float64 conversion of the whole grid on EVERY batch (104 MB for a
# 3601 tile; measured 10x the lerp itself).  Eviction is by byte budget,
# not entry count, since float64 grids are 4x the wire size.
_GRID_CACHE: OrderedDict = OrderedDict()
_GRID_CACHE_MAX_BYTES = int(__import__("os").environ.get(
    "SPARK_GRAFT_GRID_CACHE_BYTES", str(2 << 30)))
# per-worker counters; surfaced to the driver through accumulators when the
# caller passes cache_metrics (grid_cache_accumulators) — the locality claim
# (cache -> join-locality parity) is then measured per job, not asserted
_GRID_CACHE_STATS = {"hits": 0, "misses": 0, "evictions": 0}


def grid_cache_accumulators(spark) -> dict:
    """Driver-side accumulators for the per-worker grid cache; pass as
    ``enrich_points(..., cache_metrics=...)`` and read ``.value`` after the
    job.  hit_rate = hits / (hits + misses)."""
    sc = spark.sparkContext
    return {k: sc.accumulator(0) for k in ("hits", "misses", "evictions")}


def decode_tile_bytes(encoding: str, data: bytes,
                      allow_overview: bool = False) -> np.ndarray:
    """tile bytes -> south-origin elevation grid (raises on bad bytes).
    ``allow_overview=True`` opts in to non-SRTM 2*s^2 HGT sizes — only the
    pyramid/mosaic operators (which produce and compose such tiles) set
    it; the ingest/lookup path keeps the reference's strict size sniff."""
    if encoding == "hgt":
        return kernels.decode_hgt(data, allow_overview=allow_overview)
    if encoding == "hgt.gz":
        return kernels.decode_hgt(gzip.decompress(data),
                                  allow_overview=allow_overview)
    if encoding == "terrarium-png":
        return kernels.decode_terrarium_png(data)
    raise ValueError(f"Unknown tile encoding: {encoding}")


def _cached_grid(tile_key: str, encoding: str, data: bytes) -> np.ndarray:
    import zlib
    # full-payload CRC: keying on a prefix would return a stale grid on
    # long-lived workers if a tile's bytes changed only past the prefix at
    # the same length; one crc32 pass is cheap next to the decode it gates
    ck = (tile_key, encoding, len(data), zlib.crc32(data))
    grid = _GRID_CACHE.get(ck)
    if grid is None:
        _GRID_CACHE_STATS["misses"] += 1
        grid = decode_tile_bytes(encoding, data).astype(np.float64)
        _GRID_CACHE[ck] = grid
        total = sum(g.nbytes for g in _GRID_CACHE.values())
        while total > _GRID_CACHE_MAX_BYTES and len(_GRID_CACHE) > 1:
            _, evicted = _GRID_CACHE.popitem(last=False)
            total -= evicted.nbytes
            _GRID_CACHE_STATS["evictions"] += 1
    else:
        _GRID_CACHE_STATS["hits"] += 1
        _GRID_CACHE.move_to_end(ck)
    return grid


# numeric status codes keep the Python->JVM Arrow traffic to one tinyint per
# row; the string column is materialized JVM-side (codegen CASE)
CODE_OK, CODE_OUT_OF_BOUNDS, CODE_TILE_MISSING, CODE_BAD_TILE = 0, 1, 2, 3
STATUS_BY_CODE = [STATUS_OK, STATUS_OUT_OF_BOUNDS, STATUS_TILE_MISSING, STATUS_BAD_TILE]


def _enrich_one_tile_codes(lat: np.ndarray, lon: np.ndarray,
                           tile: tuple | None, interpolation: str
                           ) -> tuple[np.ndarray, np.ndarray]:
    """(elev float64 w/ NaN, status code int8 array) for points of ONE tile.
    tile = (sw_lat, sw_lon, encoding, data) or None if missing."""
    n = len(lat)
    elev = np.full(n, np.nan)
    code = np.full(n, CODE_OK, dtype=np.int8)
    invalid = ~((lat >= -90.0) & (lat <= 90.0) & (lon >= -180.0) & (lon <= 180.0))
    code[invalid] = CODE_OUT_OF_BOUNDS
    ok_mask = ~invalid
    if tile is None:
        code[ok_mask] = CODE_TILE_MISSING
        return elev, code
    sw_lat, sw_lon, encoding, data = tile
    try:
        grid = _cached_grid(f"{sw_lat}/{sw_lon}", encoding, data)
    except Exception:
        code[ok_mask] = CODE_BAD_TILE
        return elev, code
    if ok_mask.any():
        e, inb = kernels.lookup_elevation(grid, sw_lat, sw_lon,
                                          lat[ok_mask], lon[ok_mask],
                                          interpolation=interpolation)
        idx = np.nonzero(ok_mask)[0]
        elev[idx] = e
        code[idx[~inb]] = CODE_OUT_OF_BOUNDS
        elev[idx[~inb]] = np.nan
    return elev, code


def tiles_bytes(tiles: DataFrame) -> int:
    """Total payload bytes of a tile table — one map-only job that moves
    no tile bytes (one length per tile row, summed on the driver).  The
    single size metric behind every broadcast-vs-spill decision (enrich's
    broadcast/cogroup pick and the fused-GeoJSON guard), so the two can
    never diverge."""
    return sum(r[0] or 0 for r in tiles.select(F.length("data")).collect())


def _tile_map(tiles: DataFrame) -> dict:
    """{packed tile id: (sw_lat, sw_lon, encoding, data)} for every row of
    ``tiles`` — the broadcast payload of enrich_points and of the fused
    GeoJSON path.  Tiles are keyed by packed int id
    (sw_lat+90)*512 + (sw_lon+180): an int32 crosses the Arrow boundary
    per row instead of a string, and the per-batch groupby hashes int64s
    instead of strings."""
    rows = tiles.select("sw_lat", "sw_lon", "encoding", "data").collect()
    return {(r["sw_lat"] + 90) * 512 + (r["sw_lon"] + 180):
            (r["sw_lat"], r["sw_lon"], r["encoding"], bytes(r["data"]))
            for r in rows}


def _working_set(points: DataFrame) -> dict[str, int]:
    """Point count per non-null tile key: the ONE probe of the points an
    enrich_points call makes.  Its keys are the tile working set (auto
    pick, broadcast prune, cogroup tile side) and its counts size the
    adaptive salt map.  Null keys (null coords) name no tile and are left
    out.  Map-side-combined and tiny: one row per tile."""
    rows = (points.where(F.col("tile_key").isNotNull())
            .groupBy("tile_key").count().collect())
    return {r[0]: r[1] for r in rows}


def with_tile_key(points: DataFrame, key_col: str = "tile_key") -> DataFrame:
    if key_col in points.columns:
        return points
    return points.withColumn(key_col, skadi_key_col(F.col("lat"), F.col("lon")))


def enrich_points(points: DataFrame, tiles: DataFrame, *,
                  interpolation: str = "bilinear",
                  strategy: str = "auto",
                  salt_factor: int | None = None,
                  broadcast_bytes_threshold: int = 512 << 20,
                  prune_tiles: bool = True,
                  cache_metrics: dict | None = None,
                  partition_by_key: bool | None = None) -> DataFrame:
    """Add (tile_key, elevation, status) to a points DataFrame.

    points: any schema containing lat:double, lon:double.
    tiles:  TILES_SCHEMA (sources/tiles.py).

    partition_by_key=True hash-partitions the points on tile_key before the
    broadcast kernel: each worker then decodes ONLY its own tiles, so decode
    wall-clock parallelizes across distinct tiles WITHOUT the per-worker
    cache duplication a round-robin spread causes (every worker decoding
    every tile was measured 3-5x slower).  Costs one shuffle of the points;
    worth it when expensive decodes (terrarium PNG) dominate and the input
    arrives in few splits.  The default (None = auto, VERDICT r3 #4)
    enables it exactly then: the broadcast path turns it on when the
    MAJORITY of working-set tiles need an expensive decode (not hgt /
    hgt.gz) AND the points arrive in fewer splits than workers; cheap-decode
    (HGT) plans stay map-only.  False forces the map-only plan.

    The call probes the points once for their per-tile counts
    (_working_set); the broadcast ships only those tiles (prune_tiles=False
    skips the probe for a forced broadcast of a known-small table).  The
    tile working set is therefore fixed when enrich_points is CALLED, for
    both strategies: if the points' source changes before the returned
    DataFrame runs, rows on a tile key the probe did not see come out
    TILE_MISSING.  Only a forced cogroup with an explicit ``salt_factor``
    makes no probe and prunes its tile side lazily, inside the action."""
    clash = {"elevation", "status"} & set(points.columns)
    if clash:
        # fail fast and identically for BOTH strategies: the broadcast
        # path's withColumn would silently REPLACE the caller's column
        # while the cogroup join-back would emit a duplicate name that
        # explodes later as AMBIGUOUS_REFERENCE (r5 code-review)
        raise ValueError(f"enrich_points: points already has {sorted(clash)} "
                         "— rename before enriching")
    points = with_tile_key(points)
    if partition_by_key is True and not points.isStreaming:
        points = points.repartition(F.col("tile_key"))
    if points.isStreaming:
        # stream-static pattern: the working-set probe and tile pruning
        # would require executing the stream — broadcast the whole tile
        # table instead (cogroup is not stream-composable)
        if strategy == "cogroup":
            raise ValueError("cogroup strategy is not supported on streaming points")
        return _enrich_broadcast(points, tiles, interpolation,
                                 cache_metrics=cache_metrics)
    if strategy not in ("auto", "broadcast"):
        counts = _working_set(points) if salt_factor is None else None
        return _enrich_cogroup(points, tiles, interpolation, salt_factor, counts)
    # fetch only requested tiles (reference lazy-load parity): the ONE
    # probe's keys drive both the auto pick and the prune
    counts, src = None, tiles
    if strategy == "auto" or prune_tiles:
        counts = _working_set(points)
        src = tiles.where(F.col("tile_key").isin(list(counts)))
    if strategy == "auto" and tiles_bytes(src) > broadcast_bytes_threshold:
        return _enrich_cogroup(points, tiles, interpolation, salt_factor, counts)
    return _enrich_broadcast(points, src, interpolation,
                             cache_metrics=cache_metrics,
                             auto_partition=partition_by_key is None)


_CHEAP_DECODE = ("hgt", "hgt.gz")

def _few_input_splits(points: DataFrame, spark) -> bool:
    """True when the points frame is a shuffle-free derivation of fewer
    input files than cores — the case where the scan undersupplies
    parallelism and a tile-key spread pays for itself.  Shared with the
    r8 tokenize-spread helper (operators/spread.py — see there for the
    metadata-only probe rules)."""
    from .spread import few_input_splits
    return few_input_splits(points, spark)


def _enrich_broadcast(points: DataFrame, tiles: DataFrame,
                      interpolation: str, cache_metrics: dict | None = None,
                      auto_partition: bool = False) -> DataFrame:
    """``tiles`` is the (already pruned) table to broadcast."""
    spark = points.sparkSession
    tile_map = _tile_map(tiles)
    if auto_partition and tile_map:
        # auto partition_by_key (enrich_points docstring): shuffle-spread
        # the points over tiles only when the decode bill is dominated by
        # expensive encodings AND the scan undersupplies parallelism
        n_exp = sum(1 for t in tile_map.values() if t[2] not in _CHEAP_DECODE)
        if 2 * n_exp > len(tile_map) and _few_input_splits(points, spark):
            points = points.repartition(F.col("tile_key"))
    bc = spark.sparkContext.broadcast(tile_map)

    # scalar pandas_udf over exactly (tid, lat, lon): every other column of
    # the points table stays JVM-side and never crosses the Arrow boundary;
    # the UDF returns one double + one tinyint per row.
    result_type = T.StructType([
        T.StructField("elevation", T.DoubleType(), True),
        T.StructField("code", T.ByteType(), False),
    ])

    def lookup(tid: pd.Series, lat_s: pd.Series, lon_s: pd.Series) -> pd.DataFrame:
        tile_map = bc.value
        if cache_metrics:
            # resolve the module at call time: this nested fn is cloudpickled
            # BY VALUE, which snapshots referenced globals — a direct
            # _GRID_CACHE_STATS reference would read a frozen copy while
            # _cached_grid (pickled by reference) mutates the real module's
            from elevation_service_spark.operators import lookup as _live
            stats = _live._GRID_CACHE_STATS
            stats0 = dict(stats)
        n = len(tid)
        lat = lat_s.to_numpy(dtype=np.float64)
        lon = lon_s.to_numpy(dtype=np.float64)
        elev = np.full(n, np.nan)
        # null lat/lon -> null tid; pandas groupby DROPS NaN keys, so those
        # rows would otherwise keep the OK preset with NULL elevation —
        # preset them to OUT_OF_BOUNDS (op-14: invalid input, never OK)
        code = np.where(tid.isna(), CODE_OUT_OF_BOUNDS, CODE_OK).astype(np.int8)
        for key, idx in tid.groupby(tid, sort=False).indices.items():
            e, c = _enrich_one_tile_codes(lat[idx], lon[idx],
                                          tile_map.get(key), interpolation)
            elev[idx] = e
            code[idx] = c
        if cache_metrics:
            for k, acc in cache_metrics.items():
                acc.add(stats[k] - stats0[k])
        return pd.DataFrame({"elevation": elev, "code": code})

    lookup_udf = F.pandas_udf(lookup, returnType=result_type)
    status_col = F.element_at(
        F.array(*[F.lit(s) for s in STATUS_BY_CODE]),
        F.col("_r.code").cast("int") + 1)
    tid_col = ((F.floor(F.col("lat")).cast("int") + 90) * 512
               + F.floor(F.col("lon")).cast("int") + 180)
    return (points
            .withColumn("_r", lookup_udf(tid_col, F.col("lat"), F.col("lon")))
            .withColumn("elevation", F.col("_r.elevation"))
            .withColumn("status", status_col)
            .drop("_r"))


def _adaptive_salt_map(counts: dict[str, int], target_points_per_group: int,
                       max_salt: int) -> dict[str, int]:
    """Per-tile salt factor proportional to the tile's point count
    (``counts``, from _working_set) — the 'tile-hotspot salting' of
    SURVEY.md §4.  Only hot tiles pay the cost of replicating their tile
    row; cold tiles keep one group."""
    return {key: max(1, min(max_salt, -(-n // target_points_per_group)))
            for key, n in counts.items()}


#: column types that cross the Arrow boundary at fixed width — carrying
#: them through the cogroup kernel is cheaper than the join-back below
_ARROW_CHEAP_TYPES = ("tinyint", "smallint", "int", "bigint", "float",
                      "double", "boolean", "date", "timestamp",
                      "timestamp_ntz")
_CARRY_MAX_COLS = 8


def _enrich_cogroup(points: DataFrame, tiles: DataFrame,
                    interpolation: str, salt_factor: int | None,
                    counts: dict[str, int] | None,
                    target_points_per_group: int = 200_000,
                    max_salt: int = 64) -> DataFrame:
    """Shuffle strategy, two Arrow-width modes (r7):

    CARRY mode — when every extra point column is a fixed-width primitive
    (_ARROW_CHEAP_TYPES) and there are at most _CARRY_MAX_COLS of them,
    ALL columns ride through the cogroup kernel and the result is final:
    no join-back.  Measured on the salted bench shape (one bigint extra):
    7.6-8.9 exec-s vs 29-44 for the join-back form, identical rows — the
    join-back's sort-merge of the full point set on (tile_key, lat, lon)
    plus the in-group dedup dominated, while a few fixed-width columns
    through Arrow are nearly free.

    JOIN-BACK mode — wide/string/nested point schemas keep the r4
    Arrow-slim plan: only (tile_key, lat, lon) crosses the Python
    boundary — the kernel's entire input — and one
    (elevation, code) pair per DISTINCT coordinate comes back; every other
    point column stays JVM-side and is joined back on (tile_key, lat, lon)
    after the kernel (the same columns-don't-cross discipline as the
    broadcast path's scalar pandas_udf).  The kernel output is a pure
    function of those three columns, so the equi-join-back is exact;
    in-group pandas dedup makes the result side unique without an extra
    shuffle (Spark joins treat NaN = NaN and normalizes -0.0, matching the
    kernel's numeric view).  Null-key rows (null coords -> null tile_key)
    can't equi-join; they are exactly the OUT_OF_BOUNDS rows, restored by
    the coalesce below — pinned in
    test_null_coords_are_out_of_bounds_both_strategies.

    ``counts`` is the points' _working_set, probed when enrich_points was
    called: its keys filter the tile side and, when ``salt_factor`` is
    None, its counts size the adaptive salt map.  Only an explicit
    ``salt_factor`` may come without it; the tile side is then pruned by a
    lazy semi-join inside the action."""
    dtypes = dict(points.dtypes)
    nullable = {f.name: f.nullable for f in points.schema.fields}
    extras = [c for c in points.columns if c not in ("tile_key", "lat", "lon")]
    # NULLABLE bigint extras need masked transport (ADVICE r7): a bigint
    # column holding any null arrives in pandas as float64 (NaN-encodes
    # null), silently losing precision for values >= 2^53.  Carry them as
    # (coalesce(c, 0), c IS NULL) — both Arrow-exact — and rebuild a
    # pandas nullable Int64 inside the kernel; each such column therefore
    # counts twice against the carry width budget.  Smaller ints are
    # float64-exact and doubles NaN-roundtrip, so only bigint needs this.
    risky = [c for c in extras if dtypes[c] == "bigint" and nullable.get(c)]
    carry = (len(extras) + len(risky) <= _CARRY_MAX_COLS
             and all(dtypes[c] in _ARROW_CHEAP_TYPES for c in extras))
    keys = ["tile_key"]
    if carry:
        transport = [(F.coalesce(F.col(c), F.lit(0)).alias(c) if c in risky
                      else F.col(c)) for c in extras]
        transport += [F.col(c).isNull().alias(f"__null_{c}") for c in risky]
        slim = points.select("tile_key", "lat", "lon", *transport)
    else:
        slim = points.select("tile_key", "lat", "lon")
    if counts is None:
        tls = tiles.join(points.select("tile_key").distinct(), "tile_key", "left_semi")
    else:
        tls = tiles.where(F.col("tile_key").isin(list(counts)))
    tls = tls.select("tile_key", "sw_lat", "sw_lon", "encoding", "data")
    if salt_factor is None:
        # adaptive: split only hot tiles, k ~ point_count / target
        salt_map = _adaptive_salt_map(counts, target_points_per_group, max_salt)
        if any(k > 1 for k in salt_map.values()):
            entries = [x for key, k in salt_map.items() for x in (F.lit(key), F.lit(k))]
            k_col = F.coalesce(F.create_map(*entries)[F.col("tile_key")], F.lit(1))
            slim = slim.withColumn("_salt", F.pmod(F.hash("lat", "lon"), k_col))
            tls = tls.withColumn(
                "_salt",
                F.explode(F.sequence(F.lit(0), F.coalesce(
                    F.create_map(*entries)[F.col("tile_key")], F.lit(1)) - 1)))
            keys = ["tile_key", "_salt"]
    elif salt_factor > 1:
        # explicit uniform salting: split every tile k ways
        slim = slim.withColumn("_salt", F.pmod(F.hash("lat", "lon"), F.lit(salt_factor)))
        tls = tls.withColumn("_salt", F.explode(F.array([F.lit(i) for i in range(salt_factor)])))
        keys = ["tile_key", "_salt"]

    if carry:
        out_cols = ["tile_key", "lat", "lon"] + extras
        carry_schema = (", ".join(f"`{c}` {dtypes[c]}" for c in out_cols)
                        + ", elevation double, code tinyint")

        def fn_carry(pts_pdf: pd.DataFrame, tls_pdf: pd.DataFrame) -> pd.DataFrame:
            for c in risky:
                # rebuild the exact nullable bigint from its masked
                # transport: int64 values (never float64) + bool mask
                pts_pdf[c] = pd.arrays.IntegerArray(
                    pts_pdf[c].to_numpy(dtype=np.int64),
                    pts_pdf[f"__null_{c}"].to_numpy(dtype=bool))
            base = pts_pdf[out_cols]
            n = len(base)
            if n == 0:
                elev = np.empty(0, dtype=np.float64)
                code = np.empty(0, dtype=np.int8)
            elif pd.isna(pts_pdf["tile_key"].iloc[0]):
                # null coords -> null tile_key (one all-null group): op-14
                # says OUT_OF_BOUNDS, never TILE_MISSING — mirrors the
                # join-back path's coalesce and the broadcast preset
                elev = np.full(n, np.nan)
                code = np.full(n, CODE_OUT_OF_BOUNDS, dtype=np.int8)
            else:
                tile = None
                if len(tls_pdf) > 0:
                    r = tls_pdf.iloc[0]
                    tile = (int(r["sw_lat"]), int(r["sw_lon"]),
                            r["encoding"], bytes(r["data"]))
                elev, code = _enrich_one_tile_codes(
                    base["lat"].to_numpy(dtype=np.float64),
                    base["lon"].to_numpy(dtype=np.float64),
                    tile, interpolation)
            out = base.copy()
            out["elevation"] = elev
            out["code"] = code
            return out

        res = (slim.groupBy(*keys).cogroup(tls.groupBy(*keys))
               .applyInPandas(fn_carry, carry_schema))
        status_col = F.element_at(
            F.array(*[F.lit(s) for s in STATUS_BY_CODE]),
            F.col("code").cast("int") + 1)
        return res.select(*points.columns, F.col("elevation"),
                          status_col.alias("status"))

    result_schema = ("tile_key string, lat double, lon double, "
                     "elevation double, code tinyint")

    def fn(pts_pdf: pd.DataFrame, tls_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pts_pdf) == 0:
            return pd.DataFrame({"tile_key": pd.Series([], dtype=object),
                                 "lat": pd.Series([], dtype="float64"),
                                 "lon": pd.Series([], dtype="float64"),
                                 "elevation": pd.Series([], dtype="float64"),
                                 "code": pd.Series([], dtype="int8")})
        tile = None
        if len(tls_pdf) > 0:
            r = tls_pdf.iloc[0]
            tile = (int(r["sw_lat"]), int(r["sw_lon"]), r["encoding"], bytes(r["data"]))
        # the kernel is per-coordinate: compute each distinct coord ONCE
        # (and keep the join-back side unique — NaNs dedup as equal in
        # pandas, matching Spark's NaN-normalized join)
        p = pts_pdf.drop_duplicates(subset=["lat", "lon"])
        lat = p["lat"].to_numpy(dtype=np.float64)
        lon = p["lon"].to_numpy(dtype=np.float64)
        elev, code = _enrich_one_tile_codes(lat, lon, tile, interpolation)
        return pd.DataFrame({"tile_key": p["tile_key"].to_numpy(dtype=object),
                             "lat": lat, "lon": lon,
                             "elevation": elev, "code": code})

    res = (slim.groupBy(*keys).cogroup(tls.groupBy(*keys))
           .applyInPandas(fn, result_schema)
           .withColumnRenamed("elevation", "__enrich_elev")
           .withColumnRenamed("code", "__enrich_code"))
    joined = points.join(res, ["tile_key", "lat", "lon"], "left")
    status_col = F.when(
        F.col("__enrich_code").isNull(), F.lit(STATUS_OUT_OF_BOUNDS)
    ).otherwise(F.element_at(F.array(*[F.lit(s) for s in STATUS_BY_CODE]),
                             F.col("__enrich_code").cast("int") + 1))
    return joined.select(*points.columns,
                         F.col("__enrich_elev").alias("elevation"),
                         status_col.alias("status"))


def missing_tiles(points: DataFrame, tiles: DataFrame) -> DataFrame:
    """Requested tile keys absent from the tile table (left-anti; §2.B)."""
    return (with_tile_key(points).select("tile_key").distinct()
            .join(tiles, "tile_key", "left_anti"))
