"""M1 end-to-end Spark tests: extraction → tile keys → tile join →
bilinear enrichment, verified against the independent scalar reference
and the fixture goldens."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from helpers import ref_bilinear, ref_nearest

from elevation_service_spark import fixtures, kernels
from elevation_service_spark.functions import (cell_id_col, mercator_x_col,
                                               mercator_y_col, skadi_key_col)
from elevation_service_spark.operators.extract import extract_coords
from elevation_service_spark.operators.lookup import (enrich_points,
                                                      missing_tiles,
                                                      with_tile_key)
from elevation_service_spark.sources.tiles import fixture_tiles_df

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.LongType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])


def pages_df(spark, n=120):
    pages, golden = fixtures.pages_rows(n)
    df = spark.createDataFrame(
        [(p["url"], p["warc_ts"], bytearray(p["html"]), p["text"], p["lang"]) for p in pages],
        schema=PAGES_SCHEMA)
    return df, golden


# --- extraction ------------------------------------------------------------

def test_extract_coords_matches_golden_byte_identical(spark):
    df, golden = pages_df(spark)
    got = extract_coords(df).orderBy("url", "point_idx").collect()
    exp = sorted(golden, key=lambda g: (g["url"], g["point_idx"]))
    assert len(got) == len(exp)
    for g, e in zip(got, exp):
        assert g["url"] == e["url"]
        assert g["point_idx"] == e["point_idx"]
        assert g["matched"] == e["matched"]          # byte-identical invariant
        assert g["lat"] == pytest.approx(e["lat"], abs=0)
        assert g["lon"] == pytest.approx(e["lon"], abs=0)


def test_extract_plan_is_pure_projection(spark):
    """The extraction must not shuffle and must not use Python UDFs."""
    df, _ = pages_df(spark, 10)
    plan = extract_coords(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython


# --- tile keys -------------------------------------------------------------

def test_skadi_key_col_matches_kernel(spark):
    cases = [(57.7, 11.9), (-33.5, -70.5), (-0.0001, -0.0001), (0.5, 0.5),
             (59.9999, 179.9999), (-89.5, -179.5), (1.0, 11.0)]
    df = spark.createDataFrame(cases, ["lat", "lon"])
    rows = df.select("lat", "lon", skadi_key_col(F.col("lat"), F.col("lon")).alias("k")).collect()
    for r in rows:
        assert r["k"] == kernels.skadi_key(r["lat"], r["lon"]), (r["lat"], r["lon"])


def test_mercator_and_cell_cols_match_kernel(spark):
    rng = np.random.default_rng(3)
    lats = rng.uniform(-85, 85, 200)
    lons = rng.uniform(-180, 180, 200)
    df = spark.createDataFrame([(float(a), float(b)) for a, b in zip(lats, lons)], ["lat", "lon"])
    rows = df.select(
        "lat", "lon",
        mercator_x_col(F.col("lon"), 10).alias("x"),
        mercator_y_col(F.col("lat"), 10).alias("y"),
        cell_id_col(F.col("lat"), F.col("lon"), 10).alias("cid"),
    ).collect()
    for r in rows:
        x, y = kernels.mercator_xy(np.array([r["lat"]]), np.array([r["lon"]]), 10)
        assert (r["x"], r["y"]) == (x[0], y[0])
        assert r["cid"] == int(kernels.cell_id(10, x, y)[0])


# --- enrichment (the core join + kernel) -----------------------------------

def _golden_points(spark, include_missing=True, include_oob=True):
    """Points with independently computed expected elevations."""
    grids = {t[0]: fixtures.tile_grid(t[1], t[2], t[3]) for t in fixtures.FIXTURE_TILES}
    sw = {t[0]: (t[1], t[2]) for t in fixtures.FIXTURE_TILES}
    rng = np.random.default_rng(11)
    rows, expected = [], []
    i = 0
    for key in grids:
        for _ in range(40):
            lat = sw[key][0] + float(rng.uniform(0.02, 0.98))
            lon = sw[key][1] + float(rng.uniform(0.02, 0.98))
            rows.append((i, lat, lon))
            expected.append((ref_bilinear(grids[key], lat, lon, *sw[key]), "OK"))
            i += 1
    if include_missing:
        rows.append((i, 10.5, 10.5)); expected.append((None, "TILE_MISSING")); i += 1
    if include_oob:
        rows.append((i, 95.0, 10.0)); expected.append((None, "OUT_OF_BOUNDS")); i += 1
        rows.append((i, 10.0, 185.0)); expected.append((None, "OUT_OF_BOUNDS")); i += 1
    df = spark.createDataFrame(rows, ["pid", "lat", "lon"])
    return df, expected


@pytest.mark.parametrize("strategy,salt", [("broadcast", None), ("cogroup", None), ("cogroup", 4)])
def test_enrich_points_bit_exact_all_strategies(spark, strategy, salt):
    pts, expected = _golden_points(spark)
    tiles = fixture_tiles_df(spark)
    out = enrich_points(pts, tiles, strategy=strategy, salt_factor=salt)
    got = {r["pid"]: r for r in out.collect()}
    assert len(got) == len(expected)
    for pid, (elev, status) in enumerate(expected):
        r = got[pid]
        assert r["status"] == status, (pid, r)
        if elev is None:
            assert r["elevation"] is None
        else:
            assert r["elevation"] == elev, (pid, r["elevation"], elev)  # bit-exact


def test_enrich_nearest_interpolation(spark):
    grids = {t[0]: fixtures.tile_grid(t[1], t[2], t[3]) for t in fixtures.FIXTURE_TILES}
    pts, _ = _golden_points(spark, include_missing=False, include_oob=False)
    tiles = fixture_tiles_df(spark)
    out = enrich_points(pts, tiles, interpolation="nearest", strategy="broadcast")
    sw = {t[0]: (t[1], t[2]) for t in fixtures.FIXTURE_TILES}
    for r in out.collect():
        key = kernels.skadi_key(r["lat"], r["lon"])
        assert r["elevation"] == ref_nearest(grids[key], r["lat"], r["lon"], *sw[key])


def test_bad_tile_status(spark):
    tiles = fixture_tiles_df(spark, include_bad=True)
    pts = spark.createDataFrame([(0, 20.5, 20.5)], ["pid", "lat", "lon"])
    out = enrich_points(pts, tiles, strategy="broadcast").collect()
    assert out[0]["status"] == "BAD_TILE" and out[0]["elevation"] is None
    out = enrich_points(pts, tiles, strategy="cogroup").collect()
    assert out[0]["status"] == "BAD_TILE"


def test_missing_tiles_anti_join(spark):
    pts = spark.createDataFrame([(0, 10.5, 10.5), (1, 57.5, 11.5)], ["pid", "lat", "lon"])
    tiles = fixture_tiles_df(spark)
    got = [r["tile_key"] for r in missing_tiles(pts, tiles).collect()]
    assert got == ["N10E010"]


def test_end_to_end_pages_to_elevations(spark):
    """The flagship path: pages → extract → enrich; verify against the
    extraction golden + scalar bilinear on fixture grids."""
    df, golden = pages_df(spark, 80)
    tiles = fixture_tiles_df(spark)
    pts = extract_coords(df)
    out = enrich_points(pts, tiles, strategy="broadcast")
    got = {(r["url"], r["point_idx"]): r for r in out.collect()}
    grids = {t[0]: fixtures.tile_grid(t[1], t[2], t[3]) for t in fixtures.FIXTURE_TILES}
    sw = {t[0]: (t[1], t[2]) for t in fixtures.FIXTURE_TILES}
    assert len(got) == len(golden)
    for g in golden:
        r = got[(g["url"], g["point_idx"])]
        key = kernels.skadi_key(g["lat"], g["lon"])
        if key in grids:
            assert r["status"] == "OK"
            assert r["elevation"] == ref_bilinear(grids[key], g["lat"], g["lon"], *sw[key])
        else:
            assert r["status"] == "TILE_MISSING"


def test_auto_strategy_switches_on_working_set_size(spark):
    """strategy='auto' probes the requested tile working-set bytes and
    picks broadcast for small sets, cogroup beyond the threshold."""
    pts, expected = _golden_points(spark, include_missing=False, include_oob=False)
    tiles = fixture_tiles_df(spark)
    # tiny threshold forces the cogroup path; huge threshold broadcast —
    # both must give identical, correct results
    for threshold in (1, 1 << 40):
        out = enrich_points(pts, tiles, strategy="auto",
                            broadcast_bytes_threshold=threshold)
        got = {r["pid"]: r for r in out.collect()}
        for pid, (elev, status) in enumerate(expected):
            assert got[pid]["status"] == status
            assert got[pid]["elevation"] == elev


def test_lsh_bucket_cap_bounds_pathological_bucket(spark):
    """One boilerplate bucket of m identical docs emits m(m-1)/2 candidate
    pairs uncapped; with max_bucket the oversize bucket is dropped BEFORE
    the self-join, genuinely different pairs still survive, and the dropped
    mass is observable via lsh_oversize_buckets."""
    from elevation_service_spark.operators import dedup
    boiler = [(i, "the same boilerplate footer text repeated on every page")
              for i in range(40)]
    pair = [(100, "a genuinely distinct doc about alpine elevation data"),
            (101, "a genuinely distinct doc about alpine elevation data")]
    docs = spark.createDataFrame(boiler + pair, ["doc_id", "text"])

    uncapped = dedup.lsh_candidate_pairs(docs).count()
    assert uncapped == 40 * 39 // 2 + 1

    capped = dedup.lsh_candidate_pairs(docs, max_bucket=10)
    got = {(r["id1"], r["id2"]) for r in capped.collect()}
    assert got == {(100, 101)}  # pathological bucket gone, real pair kept

    over = dedup.lsh_oversize_buckets(docs, max_bucket=10).collect()
    assert len(over) == dedup.NUM_HASHES // dedup.BAND_ROWS  # 1 per band
    assert all(r["n_members"] == 40 and r["representative"] == 0 for r in over)


def test_null_coords_are_out_of_bounds_both_strategies(spark):
    """NULL lat/lon must surface as OUT_OF_BOUNDS with NULL elevation —
    never OK (broadcast path regression: pandas groupby drops NaN tile-id
    keys, which used to leave the OK preset in place)."""
    rows = [(0, 57.5, 11.5), (1, None, 11.5), (2, 57.5, None), (3, None, None)]
    pts = spark.createDataFrame(rows, "pid int, lat double, lon double")
    tiles = fixture_tiles_df(spark)
    for strategy in ("broadcast", "cogroup"):
        got = {r["pid"]: r for r in
               enrich_points(pts, tiles, strategy=strategy).collect()}
        assert got[0]["status"] == "OK" and got[0]["elevation"] is not None
        for pid in (1, 2, 3):
            assert got[pid]["status"] == "OUT_OF_BOUNDS", (strategy, got[pid])
            assert got[pid]["elevation"] is None, (strategy, got[pid])


def _tile_points(spark, key, n=40, grid=None, seed=5):
    """Points inside one fixture tile and their expected bilinear
    elevations on ``grid`` (default: the fixture grid)."""
    _, sw_lat, sw_lon, size, _ = next(t for t in fixtures.FIXTURE_TILES if t[0] == key)
    if grid is None:
        grid = fixtures.tile_grid(sw_lat, sw_lon, size)
    rng = np.random.default_rng(seed)
    rows = [(i, sw_lat + float(rng.uniform(0.02, 0.98)),
             sw_lon + float(rng.uniform(0.02, 0.98))) for i in range(n)]
    expected = {i: ref_bilinear(grid, lat, lon, sw_lat, sw_lon) for i, lat, lon in rows}
    return spark.createDataFrame(rows, "pid int, lat double, lon double"), expected


def _elevations(df) -> dict:
    return {r["pid"]: r["elevation"] for r in df.collect()}


def test_salted_cogroup_with_null_coords(spark):
    """Salted cogroup whose tile side and salt map come from the one
    working-set probe (no null key): null-coordinate rows next to a salted
    hot tile still come out OUT_OF_BOUNDS, and the hot tile's rows stay
    bit-exact."""
    from elevation_service_spark.operators.lookup import (_enrich_cogroup,
                                                          _working_set)
    pts, expected = _tile_points(spark, "N57E011", n=12)
    pts = with_tile_key(pts.unionByName(spark.createDataFrame(
        [(100, None, 11.5), (101, 57.5, None)], "pid int, lat double, lon double")))
    tiles = fixture_tiles_df(spark)
    counts = _working_set(pts)
    assert counts == {"N57E011": 12}
    got = {r["pid"]: r for r in
           _enrich_cogroup(pts, tiles, "bilinear", None, counts,
                           target_points_per_group=4).collect()}
    assert {pid: got[pid]["elevation"] for pid in expected} == expected
    for pid in (100, 101):
        assert got[pid]["status"] == "OUT_OF_BOUNDS" and got[pid]["elevation"] is None


def test_changed_tile_bytes_give_new_elevations(spark):
    """Same tile key and payload length, different bytes: a later call
    over the changed table serves the new elevations, never the previous
    table's (the per-worker grid LRU keys on the full-payload CRC)."""
    from elevation_service_spark.sources.tiles import TILES_SCHEMA
    _, sw_lat, sw_lon, size, enc = fixtures.FIXTURE_TILES[0]
    assert enc == "hgt"  # raw HGT: the payload length is fixed by the size
    grid = fixtures.tile_grid(sw_lat, sw_lon, size, plant_void=False)

    def table(g):
        rows = [dict(r) for r in fixtures.tiles_rows()]
        rows[0]["data"] = fixtures.encode_tile(g, enc)
        return spark.createDataFrame(
            [tuple(r[f.name] for f in TILES_SCHEMA.fields) for r in rows], TILES_SCHEMA)

    pts, expected = _tile_points(spark, "N57E011", grid=grid)
    assert _elevations(enrich_points(pts, table(grid))) == expected
    shifted = grid + 7
    _, expected2 = _tile_points(spark, "N57E011", grid=shifted)
    assert _elevations(enrich_points(pts, table(shifted))) == expected2


def test_cogroup_carry_nullable_bigint_exact_past_2_53(spark):
    """ADVICE r7: a NULLABLE bigint extra used to cross the Arrow
    boundary as float64 (NaN-encodes null), silently losing precision
    for values >= 2^53.  Carry mode now transports such columns as
    (coalesce, null-mask) and rebuilds a pandas nullable Int64, so the
    round trip is exact for any int64 value, nulls preserved."""
    big = (1 << 53) + 1  # first value float64 cannot represent
    neg = -(1 << 62) - 7
    rows = [(0, 57.5, 11.5, big), (1, 57.6, 11.6, None),
            (2, 57.7, 11.7, neg), (3, None, 11.5, big + 2)]
    pts = spark.createDataFrame(rows, "pid int, lat double, lon double, tag long")
    tiles = fixture_tiles_df(spark)
    got = {r["pid"]: r for r in
           enrich_points(pts, tiles, strategy="cogroup").collect()}
    assert got[0]["tag"] == big          # would be big-1 via float64
    assert got[1]["tag"] is None
    assert got[2]["tag"] == neg
    assert got[3]["tag"] == big + 2 and got[3]["status"] == "OUT_OF_BOUNDS"
    # same answers through the join-back branch (string extra disables carry)
    pts2 = pts.withColumn("note", F.concat(F.lit("n"), F.col("pid")))
    got2 = {r["pid"]: r for r in
            enrich_points(pts2, tiles, strategy="cogroup").collect()}
    for pid in range(4):
        assert got2[pid]["tag"] == got[pid]["tag"]
        assert got2[pid]["status"] == got[pid]["status"]


def test_cogroup_join_back_branch_with_string_extra(spark):
    """ADVICE r7: pin the join-back branch directly (all other cogroup
    unit tests now exercise carry mode) — a string extra forces the
    Arrow-slim kernel + equi-join-back, including the null-coords
    OUT_OF_BOUNDS coalesce restore."""
    rows = [(0, 57.5, 11.5, "a"), (1, None, 11.5, "b"), (2, 10.5, 10.5, "c")]
    pts = spark.createDataFrame(rows, "pid int, lat double, lon double, label string")
    tiles = fixture_tiles_df(spark)
    got = {r["pid"]: r for r in
           enrich_points(pts, tiles, strategy="cogroup").collect()}
    assert got[0]["status"] == "OK" and got[0]["elevation"] is not None
    assert got[0]["label"] == "a"
    assert got[1]["status"] == "OUT_OF_BOUNDS" and got[1]["elevation"] is None
    assert got[1]["label"] == "b"
    assert got[2]["status"] == "TILE_MISSING" and got[2]["label"] == "c"


def test_fetch_tiles_plug_point(spark, tmp_path):
    """fetch_tiles turns requested keys + a fetcher callable into tile-table
    rows from the executors; missing keys vanish and downstream lookups
    surface TILE_MISSING (S3TileSet adapter seam, SURVEY §2.A row 6)."""
    import gzip as gz
    from elevation_service_spark.sources.tiles import fetch_tiles
    store = tmp_path / "store"
    store.mkdir()
    grid = fixtures.tile_grid(57, 11, 1201)
    (store / "N57E011.hgt.gz").write_bytes(gz.compress(kernels.encode_hgt(grid)))
    base = str(store)

    def fetcher(key):  # stand-in for the production S3/HTTP GET
        import os
        p = os.path.join(base, f"{key}.hgt.gz")
        if not os.path.exists(p):
            return None
        with open(p, "rb") as f:
            return f.read()

    tiles = fetch_tiles(spark, ["N57E011", "N10E010"], fetcher)
    rows = {r["tile_key"]: r for r in tiles.collect()}
    assert set(rows) == {"N57E011"}  # missing key omitted
    assert rows["N57E011"]["sw_lat"] == 57 and rows["N57E011"]["sw_lon"] == 11

    pts = spark.createDataFrame([(0, 57.5, 11.5), (1, 10.5, 10.5)],
                                "pid int, lat double, lon double")
    got = {r["pid"]: r for r in
           enrich_points(pts, tiles, strategy="broadcast").collect()}
    assert got[0]["status"] == "OK"
    assert got[0]["elevation"] == ref_bilinear(grid, 57.5, 11.5, 57, 11)
    assert got[1]["status"] == "TILE_MISSING"


def test_fetch_tiles_accepts_points_frame(spark, tmp_path):
    """The requested-key set can be a DataFrame (e.g. the distinct tile
    keys of a points table) — the lazy-load working-set shape."""
    import gzip as gz
    from elevation_service_spark.sources.tiles import fetch_tiles
    store = tmp_path / "store2"
    store.mkdir()
    (store / "N57E011.hgt.gz").write_bytes(
        gz.compress(kernels.encode_hgt(fixtures.tile_grid(57, 11, 1201))))
    base = str(store)

    def fetcher(key):
        import os
        p = os.path.join(base, f"{key}.hgt.gz")
        return open(p, "rb").read() if os.path.exists(p) else None

    pts = with_tile_key(spark.createDataFrame(
        [(0, 57.5, 11.5), (1, 57.6, 11.6)], "pid int, lat double, lon double"))
    tiles = fetch_tiles(spark, pts, fetcher)
    assert tiles.count() == 1  # one distinct key -> one fetch


def test_grid_cache_keys_on_full_payload():
    """Two same-length payloads differing only beyond the first 1 KB must
    decode to different cached grids (regression: the LRU used to CRC only
    data[:1024], returning stale grids on long-lived workers)."""
    from elevation_service_spark.operators.lookup import _cached_grid
    g1 = fixtures.tile_grid(57, 11, 1201)
    g2 = g1.copy()
    g2[600, 600] += 7  # byte offset far beyond 1 KB, same length
    d1, d2 = kernels.encode_hgt(g1), kernels.encode_hgt(g2)
    assert len(d1) == len(d2) and d1[:1024] == d2[:1024]
    a = _cached_grid("T", "hgt", d1)
    b = _cached_grid("T", "hgt", d2)
    assert a[600, 600] != b[600, 600]


def test_token_code_cross_engine_randomized(spark):
    """The md5-derived token code (the shuffle-free replacement for the
    round-1 dictionary) must agree with its DuckDB twin on arbitrary
    tokens: ASCII, unicode, digits, punctuation, long strings, empty."""
    import random
    import duckdb
    from elevation_service_spark.operators.dedup import (TOKEN_CODE_SQL,
                                                         token_code_col)
    rng = random.Random(42)
    alphabet = ("abcdefghijklmnopqrstuvwxyzABC0123456789_-.:/?&%$#@!"
                "äöüßéàçñ中文日本語한국어😀")
    toks = ["", "the", "x"] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 60)))
        for _ in range(400)]
    df = spark.createDataFrame([(t,) for t in toks], ["tok"])
    got = {r["tok"]: r["code"] for r in
           df.select("tok", token_code_col(F.col("tok")).alias("code")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(tok VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(t,) for t in toks])
    exp = {tok: code for tok, code in
           con.execute(f"SELECT tok, {TOKEN_CODE_SQL} FROM t").fetchall()}
    assert got == exp
    assert all(0 <= c < 2147483647 for c in got.values())


def test_connected_components_chain_and_convergence_guard(spark):
    """Min-label propagation resolves a long chain given enough rounds and
    FAILS LOUDLY (never returns partial labels) when max_iter is too small
    for the graph diameter."""
    import pytest as _pytest
    from elevation_service_spark.operators.cluster import connected_components
    chain = [(i, i + 1) for i in range(12)]  # path graph, diameter 12
    edges = spark.createDataFrame(chain, ["id1", "id2"])
    comps = connected_components(edges, max_iter=25).collect()
    assert {r["component"] for r in comps} == {0}
    assert len(comps) == 13
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)


def test_lsh_cap_subset_invariants(spark):
    """On a randomized corpus with planted duplicates: capped pairs are
    always a SUBSET of uncapped pairs, and a cap >= corpus size is an
    exact no-op."""
    import random
    from elevation_service_spark.operators import dedup
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(60):
        if i % 4 == 0:
            docs.append((i, "shared boilerplate tail " + " ".join(vocab[:6])))
        else:
            docs.append((i, " ".join(rng.choices(vocab, k=rng.randint(5, 25)))))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    full = {(r["id1"], r["id2"]) for r in dedup.lsh_candidate_pairs(df).collect()}
    capped = {(r["id1"], r["id2"])
              for r in dedup.lsh_candidate_pairs(df, max_bucket=5).collect()}
    noop = {(r["id1"], r["id2"])
            for r in dedup.lsh_candidate_pairs(df, max_bucket=60).collect()}
    assert capped <= full
    assert noop == full
    # planted boilerplate bucket (15 docs > cap 5) must be gone from capped
    boiler_ids = {i for i in range(60) if i % 4 == 0}
    assert not any(a in boiler_ids and b in boiler_ids for a, b in capped)


def test_hash_sampling_partitioning_independent(spark):
    """The deterministic sample must select the IDENTICAL row set under
    any partitioning (the property df.sample lacks), and hash_split must
    be disjoint + exhaustive with weights validated."""
    import pytest as _pytest
    from elevation_service_spark.operators.sampling import (
        deterministic_sample, hash_split)
    docs = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"] for r in deterministic_sample(docs, "doc_id", 1000).collect()}
    b = {r["doc_id"] for r in deterministic_sample(
        docs.repartition(17), "doc_id", 1000).collect()}
    assert a == b and 0 < len(a) < 5000
    split = hash_split(docs, "doc_id", {"train": 9000, "val": 500, "test": 500})
    counts = {r["split"]: r["n"] for r in
              split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 5000 and set(counts) == {"train", "val", "test"}
    # independent salt decorrelates
    c = {r["doc_id"] for r in deterministic_sample(docs, "doc_id", 1000,
                                                   salt="v2").collect()}
    assert c != a
    with _pytest.raises(ValueError):
        hash_split(docs, "doc_id", {"train": 5000, "val": 500})


def test_connected_components_star_long_chain_and_random(spark):
    """large-star/small-star converges in O(log n) rounds on a 4096-node
    chain (min-label would need ~4096) and matches min-label propagation
    on a random graph."""
    import random

    from elevation_service_spark.operators.cluster import (
        connected_components, connected_components_star)

    # chain 0-1-2-...-4095: one component rooted at 0
    chain = spark.range(4095).selectExpr("id AS id1", "id + 1 AS id2")
    comps = connected_components_star(chain, max_iter=20).collect()
    assert len(comps) == 4096
    assert {r["component"] for r in comps} == {0}

    # random graph: agree with the propagation variant exactly
    rng = random.Random(3)
    edges = [(rng.randrange(400), rng.randrange(400)) for _ in range(300)]
    edf = spark.createDataFrame(edges, ["id1", "id2"])
    verts = spark.range(400).select(F.col("id"))
    star = {(r["id"], r["component"])
            for r in connected_components_star(edf, vertices=verts).collect()}
    prop = {(r["id"], r["component"])
            for r in connected_components(edf, vertices=verts,
                                          max_iter=80).collect()}
    assert star == prop


def test_ngram_hof_matches_python_reference(spark):
    """The array-HOF shingle/n-gram builders (r3 rewrite of the lead()
    windows) must agree with a direct Python reference on randomized docs:
    empty strings, repeated tokens, docs shorter than n, multi-spaces."""
    import random

    from collections import Counter

    from elevation_service_spark.operators.dedup import ngram_shingles
    from elevation_service_spark.operators.text import top_ngrams_per_lang

    rng = random.Random(17)
    vocab = ["a", "bb", "ccc", "dd", "", "e f"]  # "" and a spaced token
    rows = []
    for i in range(60):
        n_tok = rng.randrange(0, 9)
        text = " ".join(rng.choice(vocab) for _ in range(n_tok))
        rows.append((i, text, rng.choice(["en", "de"])))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])

    for n in (2, 3, 5):
        got = {(r["id"], r["shingle"])
               for r in ngram_shingles(docs, n=n).collect()}
        exp = set()
        for i, text, _lang in rows:
            toks = text.split(" ")
            if len(toks) >= n:
                for j in range(len(toks) - n + 1):
                    exp.add((i, " ".join(toks[j:j + n])))
        assert got == exp, f"n={n}"

    # counting variant (multiplicity, per lang)
    got_counts = {(r["lang"], r["ngram"]): r["n_occ"]
                  for r in top_ngrams_per_lang(docs, n=2, k=10**6).collect()}
    exp_counter = Counter()
    for i, text, lang in rows:
        toks = text.split(" ")
        for j in range(len(toks) - 1):
            exp_counter[(lang, " ".join(toks[j:j + 2]))] += 1
    assert got_counts == dict(exp_counter)


def test_repetition_stats_semantics_and_plan(spark):
    """Gopher-style repetition signals: handcrafted docs with known ratios,
    the 1-token / no-gram edge, and a map-only no-Python plan."""
    from pyspark.sql import functions as F

    from elevation_service_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [(1, "spam spam spam spam"),        # one token 4x: top=1000, all grams dup
         (2, "a b c d"),                    # all distinct: top=250, no dups
         (3, "x"),                          # 1 token: no 2/3-grams -> 0
         (4, "a b a b a b")],               # top a=3/6=500; 2-grams: 5 occ, 2 distinct
        ["doc_id", "text"])
    got = {r["id"]: r for r in repetition_stats(docs).collect()}
    assert got[1]["top_tok_milli"] == 1000
    assert got[1]["dup2_milli"] == 666   # 3 grams, 1 distinct -> floor(2000/3)
    assert got[1]["dup3_milli"] == 500   # 2 grams, 1 distinct
    assert got[2]["top_tok_milli"] == 250
    assert got[2]["dup2_milli"] == 0 and got[2]["dup3_milli"] == 0
    assert got[3]["n_tokens"] == 1
    assert got[3]["dup2_milli"] == 0 and got[3]["dup3_milli"] == 0
    assert got[4]["top_tok_milli"] == 500
    assert got[4]["dup2_milli"] == 600   # 5 occurrences, 2 distinct -> floor(3000/5)
    plan = repetition_stats(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
    # no-CSE-across-lambda-elements guard (ADVICE r4): split/array_sort
    # must each appear exactly ONCE in the optimized plan — a split
    # referenced inside a HOF lambda would re-evaluate per element
    opt = repetition_stats(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(") == 1 and opt.count("array_sort") == 1


def test_repetition_stats_long_doc_bounded(spark):
    """VERDICT r4 #3: the top-token term must be O(n log n), not
    O(tokens^2) per document.  A single ~50k-token document under the old
    filter-per-distinct-token form costs ~2.5e9 comparisons inside ONE row
    (minutes); the sorted-run form completes in seconds.  Also pins the
    run-length fold against a Python reference on a skew-heavy token mix."""
    import collections
    import time

    from elevation_service_spark.operators.text import repetition_stats

    rng = [((i * 7919) % 9973) for i in range(50_000)]  # ~10k distinct
    text = " ".join(f"t{v}" for v in rng)
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    t0 = time.time()
    row = repetition_stats(docs).collect()[0]
    wall = time.time() - t0
    cnt = collections.Counter(text.split(" "))
    assert row["n_tokens"] == 50_000
    assert row["top_tok_milli"] == max(cnt.values()) * 1000 // 50_000
    assert wall < 30, f"50k-token doc took {wall:.1f}s — quadratic regression?"


def test_upsert_latest_semantics(spark):
    """MERGE latest-wins: highest version per key survives; on a version
    tie the updates side beats base; duplicate keys INSIDE the update
    batch resolve to the highest version; unmatched keys insert."""
    from elevation_service_spark.operators.merge import upsert_latest
    base = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 5), (3, "c", 0)], ["doc_id", "text", "version"])
    upd = spark.createDataFrame(
        [(1, "a2", 1),           # higher version -> wins
         (2, "b2", 5),           # TIE with base -> update wins
         (4, "d", 0),            # new key -> insert
         (4, "d2", 2)],          # in-batch dup key -> highest version
        ["doc_id", "text", "version"])
    got = {r["doc_id"]: (r["text"], r["version"])
           for r in upsert_latest(base, upd, version_col="version").collect()}
    assert got == {1: ("a2", 1), 2: ("b2", 5), 3: ("c", 0), 4: ("d2", 2)}
    import pytest
    with pytest.raises(ValueError, match="schema mismatch"):
        upsert_latest(base, upd.drop("text"))
    # reserved bookkeeping names must be rejected, not silently clobbered
    # (ADVICE r4: withColumn REPLACES an existing _src, corrupting the
    # updates-beat-base survivor rule)
    from pyspark.sql import functions as F
    with pytest.raises(ValueError, match="_src"):
        upsert_latest(base.withColumn("_src", F.lit(9)),
                      upd.withColumn("_src", F.lit(9)))
    with pytest.raises(ValueError, match="_rn"):
        upsert_latest(base.withColumn("_rn", F.lit(9)),
                      upd.withColumn("_rn", F.lit(9)))


def test_upsert_tiebreak_determinism(spark):
    """In-side (key, version) duplicates resolve by the caller-declared
    tiebreak column, ascending — stable across reruns/partitionings."""
    from elevation_service_spark.operators.merge import upsert_latest
    base = spark.createDataFrame([(1, "zz", 0)], ["doc_id", "text", "version"])
    upd = spark.createDataFrame(
        [(1, "b", 2), (1, "a", 2)], ["doc_id", "text", "version"])
    got = upsert_latest(base, upd, tiebreak_cols=("text",)).collect()
    assert [(r["doc_id"], r["text"], r["version"]) for r in got] == [(1, "a", 2)]


def test_upsert_random_replay_matches_dict_semantics(spark):
    """Property-style replay: random base/update batches vs a Python dict
    reference applying the same latest-wins rule (version desc, updates
    beat base on ties, in-batch dups by the tiebreak column)."""
    import random

    from elevation_service_spark.operators.merge import upsert_latest

    rng = random.Random(17)
    for trial in range(3):
        base_rows = [(k, f"b{rng.randrange(100)}", rng.randrange(4))
                     for k in rng.sample(range(40), 25)]
        upd_rows = [(rng.randrange(50), f"u{rng.randrange(100)}", rng.randrange(4))
                    for _ in range(30)]
        base = spark.createDataFrame(base_rows, ["doc_id", "text", "version"])
        upd = spark.createDataFrame(upd_rows, ["doc_id", "text", "version"])
        got = {r["doc_id"]: (r["text"], r["version"])
               for r in upsert_latest(base, upd,
                                      tiebreak_cols=("text",)).collect()}
        # reference: rank tuples exactly as the window orders them
        ref: dict = {}
        for src, rows in ((0, base_rows), (1, upd_rows)):
            for k, text, ver in rows:
                cand = (-ver, -src, text)
                if k not in ref or cand < ref[k][0]:
                    ref[k] = (cand, (text, ver))
        assert got == {k: v for k, (_, v) in ref.items()}, f"trial {trial}"


def test_url_normalize_rules(spark):
    """r5 webtext: each canonicalization rule individually and combined;
    path case preserved; non-matching URLs pass through."""
    from pyspark.sql import functions as F

    from elevation_service_spark.operators.web import canonicalize_urls

    cases = [
        (0, "HTTP://WWW.Example3.COM:80/Path/9#frag",
         "http://example3.com/Path/9", "example3.com", "example3.com"),
        (1, "http://News.Example3.com/Path/9?utm_campaign=a",
         "http://news.example3.com/Path/9", "news.example3.com",
         "example3.com"),
        (2, "http://example3.com/Path/9/",
         "http://example3.com/Path/9", "example3.com", "example3.com"),
        (3, "http://example3.com/Path/9/?utm_source=feed&x=2",
         "http://example3.com/Path/9/?x=2", "example3.com", "example3.com"),
        (4, "https://a.b.c.example.org/UPPER/Case",
         "https://a.b.c.example.org/UPPER/Case", "a.b.c.example.org",
         "example.org"),
        # r5 code-review cases:
        # a RUN of utm params must collapse cleanly (no stray '&')
        (5, "http://a.com/p?utm_s=1&utm_m=2&x=3",
         "http://a.com/p?x=3", "a.com", "a.com"),
        (6, "http://a.com/p?utm_s=1&utm_m=2",
         "http://a.com/p", "a.com", "a.com"),
        # ':80/' or '://www.' INSIDE a query must not be rewritten
        (7, "http://a.com/redirect?u=http://www.b.com:80/x",
         "http://a.com/redirect?u=http://www.b.com:80/x", "a.com", "a.com"),
        # slash-less :80 strips too; both spellings share one key
        (8, "HTTP://A.com:80", "http://a.com", "a.com", "a.com"),
        (9, "http://a.com:80/", "http://a.com", "a.com", "a.com"),
        # :80 on https is a REAL non-default port — preserved
        (10, "https://a.com:80/x", "https://a.com:80/x", "a.com", "a.com"),
        # r6 embedded public-suffix table: second-level ccTLD suffixes
        # take three labels; a bare suffix host falls back to itself;
        # non-listed two-label tails keep the two-label rule
        (11, "http://Shop.Example.CO.UK/p",
         "http://shop.example.co.uk/p", "shop.example.co.uk",
         "example.co.uk"),
        (12, "http://www.example.co.uk/p",
         "http://example.co.uk/p", "example.co.uk", "example.co.uk"),
        (13, "http://co.uk/p", "http://co.uk/p", "co.uk", "co.uk"),
        (14, "http://a.b.site.com.au/", "http://a.b.site.com.au",
         "a.b.site.com.au", "site.com.au"),
        (15, "http://deep.sub.example.org/", "http://deep.sub.example.org",
         "deep.sub.example.org", "example.org"),
    ]
    docs = spark.createDataFrame([(i, u) for i, u, *_ in cases],
                                 ["doc_id", "url"])
    got = {r["id"]: r for r in canonicalize_urls(docs).collect()}
    for i, _u, norm, host, domain in cases:
        assert got[i]["url_norm"] == norm, i
        assert got[i]["host"] == host, i
        assert got[i]["domain"] == domain, i
    # projection only: no Exchange, no Python
    plan = canonicalize_urls(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_url_dedup_survivor(spark):
    from elevation_service_spark.operators.web import url_dedup
    docs = spark.createDataFrame(
        [(5, "HTTP://WWW.X.COM:80/a#f"), (2, "http://x.com/a/"),
         (9, "http://x.com/a"), (7, "http://x.com/b")],
        ["doc_id", "url"])
    got = {r["id"]: r["is_survivor"] for r in url_dedup(docs).collect()}
    assert got == {2: True, 5: False, 9: False, 7: True}


def test_bigram_lm_matches_python_reference(spark):
    """r5: bigram-LM micro scores against a hand-rolled reference,
    including the <2-token zero row; no Python, no Window in the plan."""
    import collections

    from elevation_service_spark.operators.text import bigram_lm_scores

    texts = {1: "a b a b c", 2: "a b", 3: "x", 4: "b c a b"}
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {r["id"]: (r["n_bigrams"], r["lm_micro_sum"])
           for r in bigram_lm_scores(docs).collect()}
    c2, c1 = collections.Counter(), collections.Counter()
    grams = {}
    for i, t in texts.items():
        tk = t.split(" ")
        grams[i] = [(tk[j], tk[j + 1]) for j in range(len(tk) - 1)]
        for g in grams[i]:
            c2[g] += 1
            c1[g[0]] += 1
    for i in texts:
        exp = sum(c2[g] * 1_000_000 // c1[g[0]] for g in grams[i])
        assert got[i] == (len(grams[i]), exp), i
    plan = bigram_lm_scores(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Window" not in plan


def test_pagerank_integer_matches_python_reference(spark):
    """r5: integer fixed-point PageRank on a small irregular graph vs a
    dict-based reference — exact equality per node, including sinks with
    no in-edges (base rank) and a hub; plan has no Python stages."""
    from elevation_service_spark.operators.cluster import pagerank_integer

    edges = [(0, 1), (1, 2), (2, 0), (3, 0), (3, 1), (4, 4), (0, 2)]
    verts = list(range(6))  # 5 is isolated (no in/out edges)
    edf = spark.createDataFrame(edges, ["src", "dst"])
    vdf = spark.createDataFrame([(v,) for v in verts], ["doc_id"])
    got = {r["id"]: r["rank"]
           for r in pagerank_integer(edf, vdf, iters=4).collect()}

    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {v: 1_000_000 for v in verts}
    for _ in range(4):
        sums = {v: 0 for v in verts}
        for s, d in edges:
            sums[d] += rank[s] // outdeg[s]
        rank = {v: 150_000 + (85 * sums[v]) // 100 for v in verts}
    assert got == rank
    # isolated vertex holds the base rank; hub 0 outranks it
    assert got[5] == 150_000 and got[0] > got[5]


def test_sketches_properties_and_mergeability(spark):
    """r5 sketches: (a) CMS never underestimates any vocabulary token and
    is exact on absent ones' lower bound; (b) Bloom has NO false
    negatives; (c) both merge: sketch(A union B) == merge(sketch(A),
    sketch(B)) — re-sum for CMS cells, re-distinct for Bloom bits."""
    import collections
    import random

    from elevation_service_spark.operators import sketch

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(40)]
    rows = [(i, " ".join(rng.choices(vocab, k=rng.randint(3, 30))))
            for i in range(80)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    truth = collections.Counter(t for _, txt in rows for t in txt.split(" "))

    cms = sketch.cms_build(docs, width=16)  # narrow: collisions certain
    probes = spark.createDataFrame(
        [(t,) for t in vocab + ["absent_x"]], ["tok"])
    est = {r["tok"]: r["est"] for r in
           sketch.cms_lookup(cms, probes, width=16).collect()}
    for t in vocab:
        assert est[t] >= truth[t], t  # overestimate-only
    assert est["absent_x"] >= 0

    bits = sketch.bloom_build(docs, n_bits=256)
    member = {r["tok"]: r["is_member"] for r in
              sketch.bloom_lookup(bits, probes, n_bits=256).collect()}
    for t in vocab:
        assert member[t], t  # no false negatives, ever

    # mergeability
    a = docs.filter("doc_id < 40")
    b = docs.filter("doc_id >= 40")
    merged_cms = (sketch.cms_build(a, width=16)
                  .unionByName(sketch.cms_build(b, width=16))
                  .groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt")))
    whole_cms = {(r["row"], r["bucket"]): r["cnt"]
                 for r in sketch.cms_build(docs, width=16).collect()}
    assert {(r["row"], r["bucket"]): r["cnt"]
            for r in merged_cms.collect()} == whole_cms
    merged_bits = (sketch.bloom_build(a, n_bits=256)
                   .unionByName(sketch.bloom_build(b, n_bits=256)).distinct())
    assert ({r["bit"] for r in merged_bits.collect()}
            == {r["bit"] for r in bits.collect()})


def test_stratified_sample_partitioning_independent(spark):
    """r5: exactly min(k, group size) rows per group, and the SAME rows
    whatever the input partitioning (the md5-order window is
    content-deterministic)."""
    from elevation_service_spark.operators.sampling import stratified_sample
    rows = [(i, f"s{i % 3}") for i in range(40)] + [(100, "tiny")]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    a = {(r["doc_id"], r["source"])
         for r in stratified_sample(df, "source", "doc_id", 5).collect()}
    b = {(r["doc_id"], r["source"]) for r in stratified_sample(
        df.repartition(17), "source", "doc_id", 5).collect()}
    assert a == b
    per = {}
    for _, s in a:
        per[s] = per.get(s, 0) + 1
    assert per == {"s0": 5, "s1": 5, "s2": 5, "tiny": 1}


def test_stratified_sample_two_phase_equals_window_form(spark):
    """r6 (VERDICT r5 #6): the two-phase per-partition-top-k form must
    select EXACTLY the rows of the plain single-window form — phase 1
    keeps each input partition's (md5, key)-order top-k, a superset of
    every group's global top-k, so phase 2's re-rank lands on the same
    rows whatever the partitioning."""
    from pyspark.sql import Window
    from elevation_service_spark.operators.sampling import (_check_salt,
                                                            stratified_sample)
    rows = [(i, f"s{i % 4}", i * 3.5) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "payload"])
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_check_salt(""))))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    want = {(r["doc_id"], r["source"], r["payload"])
            for r in df.withColumn("_r", F.row_number().over(w))
                       .filter(F.col("_r") <= 7).drop("_r").collect()}
    for parts in (1, 13):
        got = {(r["doc_id"], r["source"], r["payload"])
               for r in stratified_sample(df.repartition(parts),
                                          "source", "doc_id", 7).collect()}
        assert got == want, f"two-phase diverged at {parts} partitions"


def test_stratified_sample_skewed_hot_group(spark):
    """One group holding ~90% of the corpus (the 100 TB straggler shape):
    the two-phase form must still return exactly k rows for it, chosen by
    global md5 order, with no single task ever seeing the whole group
    (structural guarantee: phase 1's window key includes the input
    partition id; here we assert the RESULT, partitioning-independence,
    and the reserved-name guard)."""
    import pytest
    from elevation_service_spark.operators.sampling import stratified_sample
    rows = ([(i, "hot") for i in range(9000)]
            + [(10_000 + i, f"cold{i % 5}") for i in range(1000)])
    df = spark.createDataFrame(rows, ["doc_id", "source"]).repartition(32)
    out = stratified_sample(df, "source", "doc_id", 11).collect()
    per = {}
    for r in out:
        per[r["source"]] = per.get(r["source"], 0) + 1
    assert per["hot"] == 11 and all(per[f"cold{i}"] == 11 for i in range(5))
    again = stratified_sample(df.repartition(7), "source", "doc_id", 11).collect()
    assert ({(r["doc_id"], r["source"]) for r in out}
            == {(r["doc_id"], r["source"]) for r in again})
    with pytest.raises(ValueError, match="_rn"):
        stratified_sample(df.withColumn("_rn", F.lit(1)),
                          "source", "doc_id", 3)


def test_kmv_distinct_accuracy_and_exact_degradation(spark):
    """r5 KMV: (a) fewer than k distinct values -> the EXACT count;
    (b) at n >> k the estimate lands within ~3/sqrt(k) of truth;
    (c) merging two shards' min-sets re-estimates identically to the
    whole (take k smallest of the union)."""
    from elevation_service_spark.operators.sketch import (KMV_K,
                                                          kmv_distinct)
    small = spark.range(0, 50).selectExpr("id AS k")
    r = kmv_distinct(small, "k").collect()[0]
    assert (r["n_mins"], r["est_distinct"]) == (50, 50)

    big = spark.range(0, 20_000).selectExpr("(id % 10000) AS k")
    r = kmv_distinct(big, "k").collect()[0]
    assert abs(r["est_distinct"] - 10_000) < 10_000 * 3 / (KMV_K ** 0.5)

    # mergeability: union of shard min-sets re-limited to k == whole
    import pyspark.sql.functions as SF
    h = (SF.conv(SF.substring(SF.md5(SF.col("k").cast("string")), 1, 13),
                 16, 10).cast("long"))
    def mins(df):
        return df.select(h.alias("h")).distinct().orderBy("h").limit(KMV_K)
    a = big.filter("k < 5000")
    b = big.filter("k >= 5000")
    merged_kth = (mins(a).unionByName(mins(b)).distinct()
                  .orderBy("h").limit(KMV_K)
                  .agg(SF.max("h")).collect()[0][0])
    assert merged_kth == r["kth_hash"]


def test_quantile_sketch_exact_degradation_accuracy_merge(spark):
    """r7 bottom-k rank sketch: (a) n < k -> EXACT type-1 quantiles;
    (b) at n >> k the rank error stays within the sampling bound;
    (c) merging two shards' bottom-k samples re-selects identically to
    the whole-corpus sketch (the KMV mergeability contract)."""
    import numpy as np
    import pyspark.sql.functions as SF

    from elevation_service_spark.operators.sketch import (QSK_K,
                                                          quantile_sketch)

    # (a) exact-degenerate: 100 rows < k=256 — type-1 selection over ALL
    small = spark.range(0, 100).selectExpr("id", "(id + 1) * 10 AS v")
    got = {r["q_milli"]: r for r in
           quantile_sketch(small, "v", "id").collect()}
    vals = np.arange(1, 101) * 10
    for q, r in got.items():
        assert r["sample_n"] == 100
        exact = int(vals[max(1, -(-100 * q // 1000)) - 1])
        assert r["est_value"] == exact, q

    # (b) accuracy at n >> k: uniform values 1..n — quantile q should
    # land within ~4/sqrt(k) rank error (binomial bound, generous)
    n = 50_000
    big = spark.range(0, n).selectExpr("id", "id + 1 AS v")
    est = {r["q_milli"]: r["est_value"] for r in
           quantile_sketch(big, "v", "id").collect()}
    for q, v in est.items():
        assert abs(v / n - q / 1000) < 4 / (QSK_K ** 0.5), (q, v)

    # (c) mergeability: bottom-k of the union of shard bottom-ks == whole
    h = (SF.conv(SF.substring(SF.md5(SF.col("id").cast("string")), 1, 13),
                 16, 10).cast("long"))

    def bottomk(df):
        return (df.select(h.alias("_h"), SF.col("v").cast("long").alias("v"))
                .orderBy("_h", "v").limit(QSK_K))

    a, b = big.filter("id < 25000"), big.filter("id >= 25000")
    merged = (bottomk(a).unionByName(bottomk(b)).orderBy("_h", "v")
              .limit(QSK_K).agg(SF.sort_array(SF.collect_list("v")))
              .collect()[0][0])
    whole = (bottomk(big).agg(SF.sort_array(SF.collect_list("v")))
             .collect()[0][0])
    assert merged == whole


def test_robots_filter_rep_semantics(spark):
    """REP verdict edges hand-pinned: longest match wins, Allow beats
    Disallow at EQUAL length, empty-value lines are no-ops (dropped, not
    zero-length bans), comments/UA lines ignored, rule-less host defaults
    to allowed with the (-1, '') sentinel."""
    from elevation_service_spark.operators.web import (
        parse_robots, robots_filter)

    robots = spark.createDataFrame([
        ("a.com", "User-agent: *\n# c\nDisallow: /x\nAllow: /x  # tie\n"
                  "Disallow: /x/deep\nDisallow:\nAllow:\n"),
        ("b.com", "Disallow: /\n"),
    ], ["host", "body"])
    rules = parse_robots(robots)
    got_rules = {(r["host"], r["is_allow"], r["prefix"])
                 for r in rules.collect()}
    assert got_rules == {("a.com", 0, "/x"), ("a.com", 1, "/x"),
                         ("a.com", 0, "/x/deep"), ("b.com", 0, "/")}

    urls = spark.createDataFrame([
        (1, "http://a.com/x/1", "a.com"),      # tie at len 2 -> Allow wins
        (2, "http://a.com/x/deeper", "a.com"),  # len 7 disallow wins
        (3, "http://a.com/y", "a.com"),         # no match -> allowed
        (4, "http://b.com/anything", "b.com"),  # blanket ban
        (5, "http://c.com/x", "c.com"),         # no robots at all
    ], ["id", "url_norm", "host"])
    got = {r["id"]: (r["allowed"], r["match_len"], r["match_prefix"])
           for r in robots_filter(urls, rules).collect()}
    assert got == {1: (True, 2, "/x"), 2: (False, 7, "/x/deep"),
                   3: (True, -1, ""), 4: (False, 1, "/"),
                   5: (True, -1, "")}


def test_paragraph_dedup_semantics(spark):
    """Keep-first across docs AND within a doc; original paragraph order
    preserved in the reassembly; fully-boilerplate doc collapses to ''."""
    from elevation_service_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame([
        (1, "banner\nalpha\nbanner\nfooter"),   # within-doc repeat of banner
        (2, "banner\nbeta\nfooter"),            # cross-doc boilerplate
        (3, "banner\nfooter"),                  # nothing unique
    ], ["doc_id", "text"])
    got = {r["id"]: r.asDict()
           for r in paragraph_dedup(docs).collect()}
    assert got[1] == {"id": 1, "n_pars": 4, "n_kept": 3,
                      "text_dedup": "banner\nalpha\nfooter"}
    assert got[2] == {"id": 2, "n_pars": 3, "n_kept": 1,
                      "text_dedup": "beta"}
    assert got[3] == {"id": 3, "n_pars": 2, "n_kept": 0,
                      "text_dedup": ""}


def test_bm25_topk_integer_formula(spark):
    """Spark scores equal a straight-line Python replay of the integer
    formula; tf saturation and rarity both order as BM25 should, ties
    break by id, and k truncates deterministically."""
    from elevation_service_spark.operators.text import bm25_topk

    rows = [
        (1, "spark spark spark spark common common"),  # high tf, long doc
        (2, "spark common"),                            # tf 1, short doc
        (3, "rare common common common"),               # rare term only
        (4, "common common"),                           # no query term
        (5, "spark common"),                            # tie with doc 2
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [(r["id"], r["score"])
           for r in bm25_topk(docs, ["spark", "rare"], k=3).collect()]

    texts = {i: t.split(" ") for i, t in rows}
    N = len(rows)
    T = sum(len(t) for t in texts.values())
    exp = {}
    for term in ("spark", "rare"):
        hits = {i: t.count(term) for i, t in texts.items() if term in t}
        dfc = len(hits)
        idf = (2 * N - 2 * dfc + 1) * 1000 // (2 * dfc + 1)
        for i, tf in hits.items():
            dl = len(texts[i])
            tfn = (44 * T * tf * 1000) // (20 * T * tf + 6 * T + 18 * dl * N)
            exp[i] = exp.get(i, 0) + idf * tfn
    order = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert got == order, (got, order)
    # the rare term (df=1) must outrank the tf-saturated common term
    assert got[0][0] == 3


def test_redact_pii_rules(spark):
    from elevation_service_spark.operators.text import redact_pii

    docs = spark.createDataFrame([
        (1, "mail a.b+c@x-y.co.uk now"),
        (2, "call +441234567 or +12025550100 x"),
        (3, "host 10.0.255.1 and 999.1.2.3 deep"),   # 999.. still matches the
                                                      # documented 1-3-digit rule
        (4, "clean text only"),
        (5, "a@b.io +1234567 1.2.3.4"),               # all three at once
    ], ["doc_id", "text"])
    got = {r["id"]: r.asDict() for r in redact_pii(docs).collect()}
    assert got[1]["text_redacted"] == "mail <EMAIL> now"
    assert (got[1]["n_email"], got[1]["n_phone"], got[1]["n_ip"]) == (1, 0, 0)
    assert got[2]["text_redacted"] == "call <PHONE> or <PHONE> x"
    assert got[2]["n_phone"] == 2
    assert got[3]["text_redacted"] == "host <IP> and <IP> deep"
    assert got[4] == {"id": 4, "text_redacted": "clean text only",
                      "n_email": 0, "n_phone": 0, "n_ip": 0}
    assert got[5]["text_redacted"] == "<EMAIL> <PHONE> <IP>"


def test_snapshot_diff_semantics(spark):
    import pytest
    from elevation_service_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame([
        (1, "same"), (2, "was this"), (3, "gone soon")], ["doc_id", "text"])
    new = spark.createDataFrame([
        (1, "same"), (2, "now this"), (4, "brand new")], ["doc_id", "text"])
    got = {r["id"]: r for r in snapshot_diff(old, new).collect()}
    # unchanged key 1 is absent: the output IS the CDC stream
    assert set(got) == {2, 3, 4}
    assert got[2]["change"] == "changed"
    assert got[2]["old_fp"] is not None and got[2]["new_fp"] is not None
    assert got[2]["old_fp"] != got[2]["new_fp"]
    assert got[3]["change"] == "removed" and got[3]["new_fp"] is None
    assert got[4]["change"] == "added" and got[4]["old_fp"] is None

    # reserved bookkeeping names refuse loudly (same contract as upsert)
    with pytest.raises(ValueError, match="_fp"):
        snapshot_diff(old.withColumnRenamed("text", "_fp"), new,
                      fingerprint_col="_fp")


def test_hll_registers_merge_and_estimate(spark):
    import hashlib
    from elevation_service_spark.operators.sketch import (
        HLL_HASH_BITS, HLL_P, hll_estimate, hll_registers)

    n = 5000
    df = spark.createDataFrame([(i * 7919,) for i in range(n)], ["k"])
    regs = hll_registers(df, "k")
    rows = {r["bucket"]: r["max_rank"] for r in regs.collect()}
    assert len(rows) <= 1 << HLL_P

    # bit-replay one register against a pure-python recompute
    m, w_bits = 1 << HLL_P, HLL_HASH_BITS - HLL_P
    py = {}
    for i in range(n):
        h = int(hashlib.md5(str(i * 7919).encode()).hexdigest()[:13], 16)
        w = h // m
        rank = (w_bits - w.bit_length() + 1) if w else w_bits + 1
        b = h % m
        py[b] = max(py.get(b, 0), rank)
    assert rows == py

    # mergeability: shard registers union + re-max == whole-corpus table
    a = hll_registers(df.filter(F.col("k") % 2 == 0), "k")
    b = hll_registers(df.filter(F.col("k") % 2 != 0), "k")
    merged = (a.unionByName(b).groupBy("bucket")
              .agg(F.max("max_rank").alias("max_rank")))
    assert {r["bucket"]: r["max_rank"] for r in merged.collect()} == rows

    # raw estimate lands within HLL's expected error band (~1.04/sqrt(64)
    # = 13% std err; deterministic data, so this is a fixed number)
    est = hll_estimate(regs).collect()[0]
    assert est["sum_pow"] == sum(
        1 << (w_bits + 1 - py.get(bkt, 0)) for bkt in range(m))
    assert abs(est["est_distinct"] - n) / n < 0.30, est["est_distinct"]


def test_perceptron_train_replays_exactly(spark):
    from elevation_service_spark.operators.train import perceptron_train

    # (y, x0..x4) hand-made examples; d=5, 3 epochs, lr=1
    ex = [(1, 1, 40, 9, 5, 1), (1, 1, 80, 8, 7, 1), (1, 1, 60, 7, 3, 1),
          (-1, 1, 3, 2, 0, 0), (-1, 1, 5, 1, 0, 0), (-1, 1, 90, 1, 0, 1)]
    cols = ["y", "x0", "x1", "x2", "x3", "x4"]
    feats = spark.createDataFrame(ex, cols)
    got = perceptron_train(feats, epochs=3).collect()[0].asDict()

    w = [0] * 5
    for _ in range(3):
        upd = [0] * 5
        for row in ex:
            y, x = row[0], row[1:]
            if y * sum(w[j] * x[j] for j in range(5)) <= 0:
                for j in range(5):
                    upd[j] += y * x[j]
        w = [w[j] + upd[j] for j in range(5)]
    conf = {"tp": 0, "fp": 0, "fn": 0, "tn": 0}
    for row in ex:
        y, x = row[0], row[1:]
        pos = sum(w[j] * x[j] for j in range(5)) > 0
        conf["tp" if y == 1 and pos else
             "fp" if y == -1 and pos else
             "fn" if y == 1 else "tn"] += 1
    assert [got[f"w{j}"] for j in range(5)] == w
    assert {k: got[k] for k in conf} == conf
    assert got["n"] == len(ex)


def test_triangle_count_k4_and_canonicalization(spark):
    from elevation_service_spark.operators.cluster import triangle_count

    # K4 on {0,1,2,3} (4 triangles, 12 wedges... check: oriented wedges),
    # plus a pendant node 4, a self-loop, a duplicate, and reversed edges
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(3, 4), (2, 2), (1, 0), (0, 1)]
    df = spark.createDataFrame(edges, ["a", "b"])
    got = triangle_count(df).collect()[0].asDict()
    assert got["n_nodes"] == 5
    assert got["n_edges"] == 7       # 6 K4 edges + pendant
    assert got["n_triangles"] == 4   # C(4,3)


def test_bpe_train_matches_python_reference(spark):
    """r6 BPE trainer vs an independent textbook implementation
    (Sennrich-style: count adjacent pairs weighted by word frequency,
    merge the winner greedily left-to-right, repeat) — including the
    overlap case (repeated symbols: 'aaa' + merge (a,a) -> [aa, a]) and
    the lexicographic tie rule."""
    from collections import Counter

    from elevation_service_spark.operators.bpe import bpe_train

    texts = ["low low low lower lower newest newest newest",
             "newest widest widest wide wide wide aaa aaab",
             "Low, NEWEST!  wide-open aaa aaa"]

    def reference(texts, n_merges):
        import re
        words = Counter(w for t in texts
                        for w in re.findall("[a-z]+", t.lower()))
        vocab = {w: list(w) for w in words}
        merges = []
        for r in range(1, n_merges + 1):
            pairs = Counter()
            for w, toks in vocab.items():
                for i in range(len(toks) - 1):
                    pairs[(toks[i], toks[i + 1])] += words[w]
            if not pairs:
                break
            # deterministic argmax: max count, then (a, b) ascending
            best = sorted(pairs.items(),
                          key=lambda kv: (-kv[1], kv[0]))[0][0]
            merges.append((r, best[0], best[1], pairs[best]))
            a, b = best
            for w, toks in vocab.items():
                out, i = [], 0
                while i < len(toks):  # greedy left-to-right non-overlap
                    if (i + 1 < len(toks) and toks[i] == a
                            and toks[i + 1] == b):
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                vocab[w] = out
        return merges

    def reference_pieces(texts, n_merges):
        import re
        from collections import Counter
        words = Counter(w for t in texts
                        for w in re.findall("[a-z]+", t.lower()))
        vocab = {w: list(w) for w in words}
        for r, a, b, _ in reference(texts, n_merges):
            for w, toks in vocab.items():
                out, i = [], 0
                while i < len(toks):
                    if (i + 1 < len(toks) and toks[i] == a
                            and toks[i + 1] == b):
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                vocab[w] = out
        return {d: (len(ws), sum(len(vocab[w]) for w in ws))
                for d, ws in ((i, re.findall("[a-z]+", t.lower()))
                              for i, t in enumerate(texts))}

    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 "doc_id long, text string")
    for n in (1, 4, 8):
        got = [(r["merge_rank"], r["a"], r["b"], r["n"])
               for r in bpe_train(docs, n_merges=n)
               .orderBy("merge_rank").collect()]
        assert got == reference(texts, n), n
    # the encode pass: per-doc piece counts under the learned vocab
    from elevation_service_spark.operators.bpe import bpe_piece_counts
    enc = {r["id"]: (r["n_words"], r["n_pieces"])
           for r in bpe_piece_counts(docs, n_merges=4).collect()}
    assert enc == reference_pieces(texts, 4)


def test_funnel_steps_semantics(spark):
    """r6 funnel: strict-after chaining (equal timestamps never advance a
    stage), min-qualifying per stage, out-of-order input, repeated
    cycles, and users with zero step events."""
    from elevation_service_spark.operators.web import funnel_steps

    rows = [
        # u1 full conversion, events arrive out of order
        (1, "purchase", 30), (1, "view", 10), (1, "click", 20),
        # u2: click at SAME ts as view -> blocked; later click chains
        (2, "view", 10), (2, "click", 10), (2, "click", 15),
        # u3: click BEFORE any view never counts, purchase without click
        (3, "click", 5), (3, "view", 10), (3, "purchase", 20),
        # u4: only non-step events
        (4, "error", 1), (4, "signup", 2),
        # u5: two full cycles -> earliest qualifying chain wins
        (5, "view", 1), (5, "click", 2), (5, "purchase", 3),
        (5, "view", 4), (5, "click", 5), (5, "purchase", 6),
    ]
    e = spark.createDataFrame(rows, "user_id long, event_type string, ts_us long")
    got = {r["user_id"]: (r["t1_us"], r["t2_us"], r["t3_us"],
                          r["steps_reached"])
           for r in funnel_steps(e, ("view", "click", "purchase")).collect()}
    assert got == {1: (10, 20, 30, 3),
                   2: (10, 15, None, 2),
                   3: (10, None, None, 1),
                   4: (None, None, None, 0),
                   5: (1, 2, 3, 3)}
    # plan: one Exchange, zero Python, zero Window
    plan = (funnel_steps(e, ("view", "click"))
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") <= 1
    assert "EvalPython" not in plan and "Window" not in plan


def test_collocations_semantics(spark):
    """r6 Dice collocations: a planted phrase ("new york") must outrank a
    frequent-but-promiscuous pair; min-count filters singletons; the
    integer Dice formula is hand-checked."""
    from elevation_service_spark.operators.text import collocations

    # "new york" always together (perfect collocation); "the cat"/"the
    # dog"/"the end" share the promiscuous left token "the"
    docs = [(i, "new york is the cat and the dog at the end") for i in range(6)]
    docs.append((99, "rare pair"))  # c2 = 1 < min_count -> filtered
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = collocations(df, min_count=2, k=100).collect()
    got = {(r["w1"], r["w2"]): r for r in rows}
    assert ("rare", "pair") not in got
    ny = got[("new", "york")]
    # c_left("new") = 6, c_right("york") = 6 -> dice = 2*6*1e6/12 = 1e6
    assert (ny["c2"], ny["c_left"], ny["c_right"]) == (6, 6, 6)
    assert ny["dice_micro"] == 1_000_000
    cat = got[("the", "cat")]
    # "the" as left context 18x, "cat" as continuation 6x -> 2*6e6/24
    assert cat["dice_micro"] == 500_000
    assert rows[0]["dice_micro"] == max(r["dice_micro"] for r in rows)
    assert ny["dice_micro"] >= cat["dice_micro"]


def test_weighted_systematic_sample_semantics(spark):
    """r6 weighted sampler vs a brute-force Python replay: exactly k
    picks, interval stabbing correct across bucket boundaries, a huge
    weight wins multiple picks with count in {floor, ceil} of w*k/W."""
    import hashlib

    from elevation_service_spark.operators.sampling import \
        weighted_systematic_sample

    rows = [(i, (i * 13) % 7 + 1) for i in range(200)]
    rows.append((500, 400))   # dominant weight -> multiplicity
    rows.append((501, 0))     # non-positive -> excluded
    rows.append((502, -3))
    df = spark.createDataFrame(rows, "doc_id long, wt long")

    def brute(k):
        live = [(i, w) for i, w in rows if w > 0]
        order = sorted(live, key=lambda t: (hashlib.md5(
            str(t[0]).encode()).hexdigest(), t[0]))
        total = sum(w for _, w in order)
        picks, s, j = [], 0, 0
        starts = []
        for i, w in order:
            starts.append((s, s + w, i, w))
            s += w
        for i in range(k):
            p = i * total // k
            for lo, hi, rid, w in starts:
                if lo <= p < hi:
                    picks.append((i, rid, w))
                    break
        return sorted(picks)

    for k in (7, 64):
        got = sorted((r["pick_idx"], r["id"], r["w"]) for r in
                     weighted_systematic_sample(df, "doc_id", "wt", k)
                     .collect())
        exp = brute(k)
        assert got == exp, k
        assert len(got) == k
    # dominant row's multiplicity is proportional (floor/ceil of w*k/W)
    W = sum(w for _, w in rows if w > 0)
    n500 = sum(1 for _, rid, _ in brute(64) if rid == 500)
    assert n500 in (400 * 64 // W, 400 * 64 // W + 1) and n500 >= 2


def test_containment_pairs_detects_inclusion(spark):
    """r6 containment: a short doc fully embedded in a long one scores
    cont=1000 for the short side while Jaccard stays small."""
    from elevation_service_spark.operators.dedup import (containment_pairs,
                                                         jaccard_pairs)

    short = "alpha beta gamma delta epsilon"
    long_ = short + " " + " ".join(f"w{i} x{i} y{i}" for i in range(20))
    docs = spark.createDataFrame([(1, short), (2, long_)],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "id1 long, id2 long")
    got = containment_pairs(docs, pairs=pairs).collect()[0]
    # all of short's shingles appear in long
    assert got["cont1_milli"] == 1000
    assert got["inter"] == got["n1"] == 3  # 5 tokens -> 3 trigram shingles
    assert got["cont2_milli"] < 100       # tiny fraction of the long doc
    j = jaccard_pairs(docs, pairs=pairs).collect()[0]
    assert j["inter"] * 1000 // j["uni"] < 100  # Jaccard misses it


def test_shard_plan_packing_invariants(spark):
    """r6 shard packing: every doc assigned once, shard sums reconstruct
    the corpus, each shard's span obeys the size cut (a shard's docs all
    START inside [shard*S, (shard+1)*S)), and assignment matches a
    brute-force md5-line replay."""
    import hashlib

    from elevation_service_spark.operators.sampling import shard_plan

    rows = [(i, (i * 13) % 7 + 1) for i in range(300)] + [(900, 50), (901, 0)]
    df = spark.createDataFrame(rows, "doc_id long, wt long")
    S = 40
    got = {r["shard"]: (r["n_docs"], r["w_sum"], r["w_min"], r["w_max"])
           for r in shard_plan(df, "doc_id", "wt", S).collect()}

    live = [(i, w) for i, w in rows if w > 0]
    order = sorted(live, key=lambda t: (hashlib.md5(
        str(t[0]).encode()).hexdigest(), t[0]))
    exp, s = {}, 0
    for i, w in order:
        sh = s // S
        n, tot, lo, hi = exp.get(sh, (0, 0, None, None))
        exp[sh] = (n + 1, tot + w,
                   w if lo is None else min(lo, w),
                   w if hi is None else max(hi, w))
        s += w
    assert got == exp
    assert sum(v[1] for v in got.values()) == sum(w for _, w in live)


def test_table_profile_semantics_and_type_guard(spark):
    """r7 table_profile: exact null/distinct counts per column in one
    pass; engine-unsafe column types (double) refuse loudly instead of
    risking formatting drift under the hash gate."""
    import pytest as _pytest

    from elevation_service_spark.operators.profile import table_profile

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "a", 2.5), (3, None, 3.5), (None, "b", 4.5)],
        "k int, s string, d double")
    got = {r["col_name"]: r.asDict() for r in
           table_profile(df, ["k", "s"]).collect()}
    assert got["k"] == {"col_name": "k", "n_rows": 4, "n_null": 1,
                        "n_distinct": 3, "min_str": "1", "max_str": "3"}
    assert got["s"] == {"col_name": "s", "n_rows": 4, "n_null": 1,
                        "n_distinct": 2, "min_str": "a", "max_str": "b"}
    with _pytest.raises(ValueError, match="double"):
        table_profile(df, ["d"])
