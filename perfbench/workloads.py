"""The three benchmark workloads, each driven through the library's public
entry points with their default arguments.

A workload loads its seeded inputs, runs one pass of its pipeline (the
timed unit), and verifies one untimed pass against the oracle.  Spans
wrap each call into the library, so a traced pass shows call time (the
eager probes Spark runs inside ``enrich_points``) apart from action time.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from elevation_service_spark.operators.extract import extract_coords
from elevation_service_spark.operators.geojson import (DEFAULT_MAX_DOC_BYTES,
                                                       add_elevation_docs)
from elevation_service_spark.operators.lookup import enrich_points
from elevation_service_spark.sources.tiles import read_enriched, write_enriched

import oracle
from probe import NO_TRACE


def noop_sink(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """One workload bound to a session, its tile table and its inputs."""

    name: str

    def __init__(self, spark, tiles: DataFrame, paths: dict, work: str):
        self.spark = spark
        self.tiles = tiles
        self.paths = paths
        self.work = work
        self.counters = None  # probe.SparkCounters while a pass is traced
        self.calls = []       # (seconds, Spark jobs) inside each traced entry call

    def _call(self, tracer, fn, *args, **kw) -> DataFrame:
        """Call the library entry point that reaches the lookup layer.  Its
        eager work (tile-size and working-set probes) runs here, before the
        sink's action; traced passes record its time and Spark jobs."""
        mark = self.counters.mark() if self.counters else None
        t0 = time.perf_counter()
        with tracer.span(fn.__name__):
            out = fn(*args, **kw)
        if self.counters:
            self.calls.append((time.perf_counter() - t0, self.counters.jobs_since(mark)))
        return out

    def run_pass(self, tracer, i: int) -> None:
        raise NotImplementedError

    def verify(self) -> tuple[int, int, int]:
        """(expected outputs, failed outputs, elevations produced); runs
        after the cold pass and before its ``end_pass``."""
        raise NotImplementedError

    def end_pass(self, i: int) -> None:
        """Untimed clean-up after pass ``i``."""


class CrawlPages(Workload):
    """pages -> extract_coords -> enrich_points (auto strategy, tile
    pruning) -> write_enriched into a fresh directory."""

    name = "crawl_pages"

    def __init__(self, *a):
        super().__init__(*a)
        self.pages = self.spark.read.parquet(self.paths["pages"])

    def _out(self, i: int) -> str:
        return os.path.join(self.work, "enriched", f"pass-{i}")

    def run_pass(self, tracer, i: int) -> None:
        with tracer.span("extract_coords"):
            points = extract_coords(self.pages)
        enriched = self._call(tracer, enrich_points, points, self.tiles)
        with tracer.span("write_enriched"):
            write_enriched(enriched, self._out(i))

    def verify(self) -> tuple[int, int, int]:
        # reads back the first (cold) pass's output
        actual = read_enriched(self.spark, self._out(0)).toPandas()
        expected = oracle.expected_points(pq.read_table(self.paths["golden.parquet"])
                                          .to_pandas())
        failed = oracle.count_failures(expected, actual, ["url", "point_idx"])
        return len(expected), failed, len(actual)

    def end_pass(self, i: int) -> None:
        shutil.rmtree(self._out(i), ignore_errors=True)


class HotTileCogroup(Workload):
    """pre-extracted points (80% on one tile) -> enrich_points with the
    cogroup strategy and adaptive salting -> noop sink."""

    name = "hot_tile_cogroup"

    def __init__(self, *a):
        super().__init__(*a)
        self.points = self.spark.read.parquet(self.paths["points"])

    def _pipeline(self, tracer) -> DataFrame:
        return self._call(tracer, enrich_points, self.points, self.tiles,
                          strategy="cogroup")

    def run_pass(self, tracer, i: int) -> None:
        enriched = self._pipeline(tracer)
        with tracer.span("sink"):
            noop_sink(enriched)

    def verify(self) -> tuple[int, int, int]:
        actual = self._pipeline(NO_TRACE).toPandas()
        expected = oracle.expected_points(pq.read_table(self.paths["points"]).to_pandas())
        failed = oracle.count_failures(expected, actual, ["url", "point_idx"])
        return len(expected), failed, len(actual)


class GeojsonDocs(Workload):
    """documents -> add_elevation_docs (auto, which picks the fused
    single-pass form for this tile table) -> noop sink."""

    name = "geojson_docs"

    def __init__(self, *a):
        super().__init__(*a)
        self.docs = self.spark.read.parquet(self.paths["docs"])

    def run_pass(self, tracer, i: int) -> None:
        out = self._call(tracer, add_elevation_docs, self.docs, self.tiles)
        with tracer.span("sink"):
            noop_sink(out)

    def verify(self) -> tuple[int, int, int]:
        actual = add_elevation_docs(self.docs, self.tiles).toPandas()
        docs = pq.read_table(self.paths["docs"]).to_pandas()
        expected = oracle.expected_docs(docs, DEFAULT_MAX_DOC_BYTES)
        failed = oracle.count_failures(expected, actual, ["url"])
        return len(expected), failed, int(actual["n_positions"].sum())


WORKLOADS = {w.name: w for w in (CrawlPages, HotTileCogroup, GeojsonDocs)}
