"""Isolated layer runs for the traced run.

Spark is lazy, so the spans of a pass give call time and action time
only; a layer's own (self) time comes from running its public function
alone on a materialized input, which is what each probe here does.

Probes use the workload's own input where the workload exercises the
layer.  ``extract`` always runs on the run's pages and ``geojson`` on its
documents: the crawl workload's pages and the geojson workload's
documents, else the small seeded side samples ``gen`` writes, so every
per-layer metric is a measurement on every workload.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from elevation_service_spark import fixtures, kernels
from elevation_service_spark.operators.extract import COMBINED_PATTERN, extract_coords
from elevation_service_spark.operators.geojson import add_elevation_docs, flatten_geojson
from elevation_service_spark.operators.lookup import (decode_tile_bytes, enrich_points,
                                                      grid_cache_accumulators)
from elevation_service_spark.sources.tiles import write_enriched

import oracle
from probe import warn
from workloads import noop_sink

STATUSES = ("OK", "TILE_MISSING", "OUT_OF_BOUNDS", "BAD_TILE")
DOC_STATUSES = ("OK", "PARTIAL", "EMPTY", "INVALID_JSON", "NOT_GEOJSON", "TOO_LARGE")
DECODES = {"hgt_1201": ("N57E011", "hgt"), "hgt_3601": ("N00E000", "hgt"),
           "hgt_gz": ("S34W071", "hgt.gz"), "terrarium_png": ("S01W001", "terrarium-png")}
BILINEAR_POINTS = 1_000_000


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _tree_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under a directory."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return size, files


class LayerProbes:
    def __init__(self, wl, seed: int):
        self.wl = wl
        self.spark = wl.spark
        self.seed = seed
        self.metrics: dict = {}
        self.points_path = os.path.join(wl.work, "points_m")
        self.enriched_path = os.path.join(wl.work, "enriched_m")

    def _strategy(self) -> dict:
        return {"strategy": "cogroup"} if self.wl.name == "hot_tile_cogroup" else {}

    def materialize_points(self) -> None:
        """The points the workload's lookup sees, written to parquet."""
        if self.wl.name == "crawl_pages":
            pts = extract_coords(self.wl.pages)
        elif self.wl.name == "geojson_docs":
            pts = flatten_geojson(self.wl.docs)
        else:
            self.points_path = self.wl.paths["points"]
            return
        pts.write.mode("overwrite").parquet(self.points_path)

    def lookup_cache(self) -> None:
        """Grid-cache counters and statuses of one default-strategy
        enrich_points over the materialized points.  Runs first, on cold
        Python workers, so misses count the per-worker decodes a cold pass
        pays.  (Only the broadcast path takes ``cache_metrics``.)"""
        acc = grid_cache_accumulators(self.spark)
        pts = self.spark.read.parquet(self.points_path)
        rows = (enrich_points(pts, self.wl.tiles, cache_metrics=acc)
                .groupBy("status").count().collect())
        by = {r["status"]: r["count"] for r in rows}
        hits, misses = acc["hits"].value, acc["misses"].value
        m = self.metrics
        m["lookup.grid_cache_hits"] = hits
        m["lookup.grid_cache_misses"] = misses
        m["lookup.grid_cache_evictions"] = acc["evictions"].value
        m["lookup.grid_cache_hit_rate"] = hits / (hits + misses) if hits + misses else None
        for s in STATUSES:
            m[f"lookup.status_{s.lower()}"] = by.get(s, 0)

    def lookup_busy(self) -> None:
        """enrich_points alone (the workload's strategy) on materialized
        points; its output is then written untimed for the sink probe."""
        pts = self.spark.read.parquet(self.points_path)
        self.metrics["lookup.busy_s"] = _timed(
            lambda: noop_sink(enrich_points(pts, self.wl.tiles, **self._strategy())))
        (enrich_points(pts, self.wl.tiles, **self._strategy())
         .write.mode("overwrite").parquet(self.enriched_path))

    def sink(self) -> None:
        enriched = self.spark.read.parquet(self.enriched_path)
        out = os.path.join(self.wl.work, "sink_out")
        self.metrics["sink.write_s"] = _timed(lambda: write_enriched(enriched, out))
        self.metrics["sink.bytes_written"], self.metrics["sink.files"] = _tree_stats(out)

    def extract(self) -> None:
        pages = self.spark.read.parquet(self.wl.paths["pages"])
        busy = _timed(lambda: noop_sink(extract_coords(pages)))
        row = pages.select(
            F.count(F.lit(1)).alias("pages"),
            F.sum(F.size(F.regexp_extract_all("text", F.lit(COMBINED_PATTERN), 0)))
            .alias("matches")).collect()[0]
        valid = extract_coords(pages).count()
        m = self.metrics
        m["extract.busy_s"] = busy
        m["extract.pages_per_s"] = row["pages"] / busy
        m["extract.points_per_page"] = valid / row["pages"]
        m["extract.valid_ratio"] = valid / row["matches"] if row["matches"] else None

    def geojson(self) -> None:
        docs = self.spark.read.parquet(self.wl.paths["docs"])
        rows = []

        def run():
            rows.extend(add_elevation_docs(docs, self.wl.tiles).groupBy("status")
                        .agg(F.count(F.lit(1)).alias("n"),
                             F.sum("n_positions").alias("pos")).collect())
        busy = _timed(run)
        n_docs = sum(r["n"] for r in rows)
        m = self.metrics
        m["geojson.busy_s"] = busy
        m["geojson.docs_per_s"] = n_docs / busy
        m["geojson.positions_per_doc"] = sum(r["pos"] for r in rows) / n_docs
        by = {r["status"]: r["n"] for r in rows}
        for s in DOC_STATUSES:
            m[f"geojson.status_{s.lower()}"] = by.get(s, 0)

    def kernels(self) -> None:
        """Driver-side decode of each tile encoding and the bilinear kernel
        on 1M seeded points of the hot tile (checked against the oracle)."""
        tiles = {(r["tile_key"], r["encoding"]): r["data"] for r in fixtures.tiles_rows()}
        for name, (key, enc) in DECODES.items():
            data = tiles[(key, enc)]
            self.metrics[f"kernels.decode_ms.{name}"] = 1e3 * statistics.median(
                _timed(lambda: decode_tile_bytes(enc, data)) for _ in range(5))
        key, sw_lat, sw_lon, _, _ = next(t for t in fixtures.FIXTURE_TILES
                                         if t[0] == fixtures.HOT_TILE)
        grid = decode_tile_bytes("hgt", tiles[(key, "hgt")]).astype(np.float64)
        rng = np.random.default_rng(self.seed)
        lat = sw_lat + rng.uniform(0.0, 1.0, BILINEAR_POINTS)
        lon = sw_lon + rng.uniform(0.0, 1.0, BILINEAR_POINTS)
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            elev, _ok = kernels.lookup_elevation(grid, sw_lat, sw_lon, lat, lon)
            runs.append(time.perf_counter() - t0)
        self.metrics["kernels.bilinear_ns_per_point"] = 1e9 * statistics.median(runs) / len(lat)
        want, _ = oracle.elevations(lat, lon)
        if not np.array_equal(elev, want):
            warn("kernels.lookup_elevation differs from the oracle")
